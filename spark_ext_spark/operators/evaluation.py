"""BinaryModelMetrics — binary-classification curves (ROC/PR/gains/
lift/F-measure) plus trapezoid AUCs, DataFrame-native.

Rebuild of the reference's ``org.apache.spark.mllib.evaluation.
BinaryModelMetrics`` (/root/reference/sparkext-mllib/src/main/scala/org/
apache/spark/mllib/evaluation/BinaryModelMetrics.scala:46-238 — Spark
1.5's BinaryClassificationMetrics plus gains & lift,
BinaryModelMetricComputer.scala:6-21).

Pipeline (reference :156-221, re-expressed declaratively):

1. compact to one row per DISTINCT SCORE with pos/neg counts
   (the reference's combineByKey — here a hash groupBy with map-side
   partial aggregation, so the shuffle carries distinct scores only);
2. optional down-sampling to ~numBins points: consecutive
   (score-descending) points grouped in chunks of
   ``floor(distinct/numBins)``, each bin keyed by its first (highest)
   score with summed counts (reference :167-196; we group over the
   GLOBAL order, which equals the reference's per-partition grouping at
   its tested 1-partition layout and is deterministic at any layout);
3. cumulative pos/neg over score-descending order. Below
   ``prefix_threshold`` distinct scores the running sums use one
   global window over the COMPACTED table (cardinality = distinct
   scores, further bounded by numBins) — one task, fine for discrete
   scores. Above it — continuous model scores, where distinct ≈ N and
   a global window is a single-task cliff — they switch to
   ``operators/prefix.py:partitioned_cumulative_sums``: range-partition
   on the score, cumsum within partitions, add per-partition offsets
   from a bounded (#partitions-row) collect. That is EXACTLY the
   reference's own technique (BinaryModelMetrics.scala:198-216:
   per-partition totals → driver scanLeft → offset add). The numBins
   down-sampling's global row_number goes through the same chooser;
4. per-threshold confusion matrix columns: TP=cumPos, FP=cumNeg,
   FN=totPos-cumPos, TN=totNeg-cumNeg. On the window path the totals
   are sums over an unbounded frame of the SAME score-descending
   window, so Catalyst evaluates them in the Window operator that
   yields TP/FP (the reference likewise builds cumulative counts and
   totals in one pass, :198-216). On the prefix-sum path they are
   joined in via a broadcast 1-row aggregate. Neither collects to the
   driver; the table stays lazy.

Metric definitions (Spark 1.5 binary package + reference computers):
precision = TP/(TP+FP) (1.0 when empty), recall/TPR = TP/P (0.0 when
P=0), FPR = FP/N (0.0 when N=0), Reach = (TP+FP)/total (1.0 when
total=0), Lift = Recall/Reach, F_beta standard (0.0 when P+R=0).
"""

from __future__ import annotations

from functools import cached_property

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


class BinaryModelMetrics:
    """Curves over a (score, label) DataFrame; label ∈ {0.0, 1.0}.

    Curve DataFrames are ordered by threshold descending (the
    reference's RDD order) and stay lazy until an action.
    """

    def __init__(self, score_and_labels: DataFrame, num_bins: int = 0,
                 score_col: str = "score", label_col: str = "label",
                 prefix_threshold: int | None = 1_000_000):
        if num_bins < 0:
            raise ValueError("numBins must be nonnegative")
        self.df = score_and_labels.select(
            F.col(score_col).cast("double").alias("score"),
            F.col(label_col).cast("double").alias("label"))
        self.num_bins = num_bins
        # Above this many distinct scores, running sums use the
        # distributed prefix-sum operator instead of one global window.
        # None = always use the window (skips the sizing count() —
        # only safe when scores are known-discrete).
        self.prefix_threshold = prefix_threshold
        self._n_cum: int | None = None
        self._persisted: DataFrame | None = None
        # range-partitioned intermediates persisted by the prefix-sum
        # path — released by unpersist() alongside the confusion cache
        self._prefix_persists: list[DataFrame] = []

    # -- core cumulative table --------------------------------------------

    def _with_running(self, df: DataFrame, values: dict) -> DataFrame:
        """Append exact running sums over score-descending order,
        choosing the scale-appropriate plan: global window when the
        table is known-small, range-partitioned prefix sums
        (operators/prefix.py — the reference's scanLeft-offsets
        technique, BinaryModelMetrics.scala:198-216) when distinct
        scores exceed ``prefix_threshold``. Both are exact (integer
        counts sum associatively), so the choice never changes
        results — asserted on 1e6 distinct scores in
        tests/test_evaluation.py."""
        if self._prefix_path():
            from spark_ext_spark.operators.prefix import (
                partitioned_cumulative_sums)
            return partitioned_cumulative_sums(
                df, [F.desc("score")], values,
                persisted_out=self._prefix_persists)
        w = (Window.orderBy(F.desc("score"))
             .rowsBetween(Window.unboundedPreceding, Window.currentRow))
        out = df
        for name, c in values.items():
            out = out.withColumn(name, F.sum(c).over(w))
        return out

    def _prefix_path(self) -> bool:
        return (self.prefix_threshold is not None and self._n_cum is not None
                and self._n_cum > self.prefix_threshold)

    def _sized(self, counts: DataFrame) -> DataFrame:
        """Persist the compacted table and take its distinct-score
        count — shared by the numBins chunk size and the cumsum
        strategy choice. Runs at most once. With num_bins == 0 (the
        default) thresholds() needs no running sums and therefore
        skips the count job entirely; with num_bins > 0 the binned
        re-group needs the count, so thresholds() does trigger it
        via _counts."""
        if self._n_cum is None:
            counts = counts.persist()
            self._persisted = counts
            self._n_cum = counts.count()
            return counts
        return self._persisted if self._persisted is not None else counts

    @cached_property
    def _counts(self) -> DataFrame:
        counts = (self.df
                  .groupBy("score")
                  .agg(F.sum("label").alias("pos"),
                       (F.count(F.lit(1)) - F.sum("label")).alias("neg")))
        if self.num_bins > 0:
            counts = self._sized(counts)
            grouping = self._n_cum // self.num_bins
            if grouping >= 2:
                counts = (self._with_running(counts, {"__rn": F.lit(1)})
                          .withColumn("__grp",
                                      F.floor((F.col("__rn") - 1)
                                              / grouping))
                          .groupBy("__grp")
                          .agg(F.max("score").alias("score"),
                               F.sum("pos").alias("pos"),
                               F.sum("neg").alias("neg"))
                          .drop("__grp"))
                # after down-sampling the table is ≤ numBins+1 rows —
                # the window path is the right cumsum plan from here on
                self._n_cum = self._n_cum // grouping + 1
        return counts

    @cached_property
    def confusions(self) -> DataFrame:
        """One row per threshold: score, tp, fp, fn, tn, plus the
        per-threshold increments pos/neg and totals tot_pos/tot_neg
        (the AUC aggregates reconstruct the previous curve point from
        the increments, so they ride along)."""
        counts = self._counts
        if self.prefix_threshold is not None and self._n_cum is None:
            counts = self._sized(counts)
        cum = self._with_running(counts, {"tp": F.col("pos"),
                                          "fp": F.col("neg")})
        totals = {"tot_pos": F.sum("pos"), "tot_neg": F.sum("neg")}
        if self._prefix_path():
            from spark_ext_spark.functions import attach_scalar_agg
            cum = attach_scalar_agg(cum, totals, source=counts)
        else:
            # whole-table frame over the running sums' own ordering:
            # same window spec, so the same Window operator — no second
            # aggregate, exchange or broadcast for the totals
            w_all = (Window.orderBy(F.desc("score"))
                     .rowsBetween(Window.unboundedPreceding,
                                  Window.unboundedFollowing))
            cum = cum.select("*", *[agg.over(w_all).alias(name)
                                    for name, agg in totals.items()])
        # Cached like the reference persists cumulativeCounts
        # (BinaryModelMetrics.scala:216): every curve/AUC reuses it.
        return (cum
                .select("score", "tp", "fp",
                        (F.col("tot_pos") - F.col("tp")).alias("fn"),
                        (F.col("tot_neg") - F.col("fp")).alias("tn"),
                        # per-threshold increments ride along so the
                        # AUC aggregates can reconstruct the previous
                        # curve point without a lag window
                        "pos", "neg",
                        "tot_pos", "tot_neg")
                .cache())

    # -- metric expressions -------------------------------------------------

    @staticmethod
    def _recall():
        return F.when(F.col("tot_pos") == 0, 0.0) \
                .otherwise(F.col("tp") / F.col("tot_pos"))

    @staticmethod
    def _precision():
        denom = F.col("tp") + F.col("fp")
        return F.when(denom == 0, 1.0).otherwise(F.col("tp") / denom)

    @staticmethod
    def _fpr():
        return F.when(F.col("tot_neg") == 0, 0.0) \
                .otherwise(F.col("fp") / F.col("tot_neg"))

    @staticmethod
    def _reach():
        total = F.col("tot_pos") + F.col("tot_neg")
        return F.when(total == 0, 1.0) \
                .otherwise((F.col("tp") + F.col("fp")) / total)

    # -- curves --------------------------------------------------------------

    def _curve(self, x, y, x_name: str, y_name: str) -> DataFrame:
        return (self.confusions
                .orderBy(F.desc("score"))
                .select(x.alias(x_name), y.alias(y_name)))

    def _with_endpoints(self, curve: DataFrame, first: tuple | None,
                        last: tuple | None) -> DataFrame:
        spark = curve.sparkSession
        cols = curve.columns

        # one-row JVM relation of double literals: no pickled Python
        # rows, no RDD scan
        def point(values):
            return spark.range(1, numPartitions=1).select(
                *[F.lit(float(v)).alias(c) for c, v in zip(cols, values)])

        out = curve
        if first is not None:
            out = point(first).unionAll(out)
        if last is not None:
            out = out.unionAll(point(last))
        return out

    def unpersist(self) -> None:
        """Release the cached confusion table (reference
        BinaryModelMetrics.scala:70), the persisted compacted counts
        backing the sizing count(), and any range-partitioned
        intermediates the prefix-sum path persisted — nothing this
        object cached outlives it."""
        if "confusions" in self.__dict__:
            self.confusions.unpersist()
        if self._persisted is not None:
            self._persisted.unpersist()
            self._persisted = None
        for df in self._prefix_persists:
            df.unpersist()
        self._prefix_persists.clear()

    def thresholds(self) -> DataFrame:
        # over the compacted counts table, NOT confusions: thresholds
        # need no cumulative columns or totals, so skip the window
        return (self._counts.orderBy(F.desc("score"))
                .select(F.col("score").alias("threshold")))

    def gains(self) -> DataFrame:
        """(reach, recall) with (0,0) prepended and (1,1) appended
        (BinaryModelMetrics.scala:79-85)."""
        curve = self._curve(self._reach(), self._recall(), "reach", "recall")
        return self._with_endpoints(curve, (0.0, 0.0), (1.0, 1.0))

    def lift(self) -> DataFrame:
        """(reach, lift) where lift = recall / reach
        (BinaryModelMetricComputer.scala:17-21)."""
        return self._curve(self._reach(), self._recall() / self._reach(),
                           "reach", "lift")

    def roc(self) -> DataFrame:
        """(fpr, tpr) with (0,0) prepended and (1,1) appended."""
        curve = self._curve(self._fpr(), self._recall(), "fpr", "tpr")
        return self._with_endpoints(curve, (0.0, 0.0), (1.0, 1.0))

    def pr(self) -> DataFrame:
        """(recall, precision) with (0,1) prepended."""
        curve = self._curve(self._recall(), self._precision(),
                            "recall", "precision")
        return self._with_endpoints(curve, (0.0, 1.0), None)

    def precision_by_threshold(self) -> DataFrame:
        return self._curve(F.col("score"), self._precision(),
                           "threshold", "precision")

    def recall_by_threshold(self) -> DataFrame:
        return self._curve(F.col("score"), self._recall(),
                           "threshold", "recall")

    def f_measure_by_threshold(self, beta: float = 1.0) -> DataFrame:
        b2 = beta * beta
        p, r = self._precision(), self._recall()
        f = F.when((p + r) == 0, 0.0) \
             .otherwise((1 + b2) * p * r / (b2 * p + r))
        return self._curve(F.col("score"), f, "threshold", "f_measure")

    # -- areas ----------------------------------------------------------------
    #
    # Trapezoid AUCs as plain AGGREGATES, no lag window: with
    # cumulative curves, the previous point of threshold s is fully
    # determined by that row's own columns (tp−pos, fp−neg), so each
    # row contributes its trapezoid term independently and the sum is
    # one partial-aggregated job over the cached confusion table —
    # scale-independent, unlike a Window.orderBy(curve) which would
    # funnel an unbinned continuous-score curve through one task.
    # Values are identical to the point-ordered trapezoid (same terms,
    # floating-point association noise only).

    @staticmethod
    def _div0(num, den):
        """num/den with the curve convention x/0 = 0 (matches _recall/
        _fpr's zero-total contract)."""
        return F.coalesce(F.try_divide(num, den), F.lit(0.0))

    def area_under_roc(self) -> float:
        c = self.confusions
        d = self._div0
        tpr_prev = d(F.col("tp") - F.col("pos"), F.col("tot_pos"))
        tpr_cur = d(F.col("tp"), F.col("tot_pos"))
        term = (d(F.col("neg"), F.col("tot_neg"))
                * (tpr_prev + tpr_cur) / 2.0)
        # closing segment to the appended (1, 1) endpoint: zero-width
        # when tot_neg > 0 (the min threshold already sits at fpr=1),
        # the degenerate all-positive curve's full strip otherwise
        x_last = d(F.col("tot_neg"), F.col("tot_neg"))
        y_last = d(F.col("tot_pos"), F.col("tot_pos"))
        end = F.max((1.0 - x_last) * (1.0 + y_last) / 2.0)
        # empty input: the curve is just the synthetic (0,0)-(1,1)
        # endpoints, whose trapezoid is 0.5 (the lag-window
        # implementation's value — F.max over zero rows is null)
        row = c.agg((F.coalesce(F.sum(term), F.lit(0.0))
                     + F.coalesce(end, F.lit(0.5))).alias("a")).first()
        return float(row["a"])

    def area_under_pr(self) -> float:
        c = self.confusions
        d = self._div0
        prev_den = (F.col("tp") - F.col("pos")) + (F.col("fp") - F.col("neg"))
        prec_prev = F.when(prev_den == 0, 1.0).otherwise(
            (F.col("tp") - F.col("pos")) / prev_den)
        cur_den = F.col("tp") + F.col("fp")
        prec_cur = F.when(cur_den == 0, 1.0).otherwise(
            F.col("tp") / cur_den)
        term = (d(F.col("pos"), F.col("tot_pos"))
                * (prec_prev + prec_cur) / 2.0)
        row = c.agg(F.coalesce(F.sum(term), F.lit(0.0)).alias("a")).first()
        return float(row["a"])
