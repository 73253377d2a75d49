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
3. cumulative pos/neg over score-descending order with
   ``operators/prefix.py:running_sums``. Up to ``PREFIX_MIN_SCORES``
   distinct scores it plans one global window over the COMPACTED
   table (cardinality = distinct scores, further bounded by numBins)
   — one task, fine for discrete scores. Above it — continuous model
   scores, where distinct ≈ N and a global window is a single-task
   cliff — it takes the range-partitioned arm: cumsum within range
   partitions, add per-partition offsets from a bounded
   (#partitions-row) collect. That is EXACTLY the reference's own
   technique (BinaryModelMetrics.scala:198-216: per-partition totals →
   driver scanLeft → offset add). The numBins down-sampling's global
   row number goes through the same switch;
4. per-threshold confusion matrix columns: TP=cumPos, FP=cumNeg,
   FN=totPos-cumPos, TN=totNeg-cumNeg. The totals come from the same
   ``running_sums`` call: an unbounded frame of the SAME window on the
   window arm (one Window operator, as the reference builds cumulative
   counts and totals in one pass, :198-216), plan literals off the
   offsets collect on the range arm. The table stays lazy.

Metric definitions (Spark 1.5 binary package + reference computers):
precision = TP/(TP+FP) (1.0 when empty), recall/TPR = TP/P (0.0 when
P=0), FPR = FP/N (0.0 when N=0), Reach = (TP+FP)/total (1.0 when
total=0), Lift = Recall/Reach, F_beta standard (0.0 when P+R=0).
"""

from __future__ import annotations

from functools import cached_property

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from spark_ext_spark.operators.prefix import running_sums


# Above this many distinct scores the running sums take running_sums'
# range-partitioned arm instead of one global window (crossover
# measured in SCALE.md, "Global prefix-sum crossover").
PREFIX_MIN_SCORES = 1_000_000


class BinaryModelMetrics:
    """Curves over a (score, label) DataFrame; label ∈ {0.0, 1.0}.

    Curve DataFrames are ordered by threshold descending (the
    reference's RDD order) and stay lazy until an action.
    """

    def __init__(self, score_and_labels: DataFrame, num_bins: int = 0,
                 score_col: str = "score", label_col: str = "label"):
        if num_bins < 0:
            raise ValueError("numBins must be nonnegative")
        self.df = score_and_labels.select(
            F.col(score_col).cast("double").alias("score"),
            F.col(label_col).cast("double").alias("label"))
        self.num_bins = num_bins
        self._n_cum: int | None = None
        self._persisted: DataFrame | None = None
        # range-partitioned intermediates persisted by running_sums —
        # released by unpersist() alongside the confusion cache
        self._prefix_persists: list[DataFrame] = []

    # -- core cumulative table --------------------------------------------

    def _running(self, df: DataFrame, values: dict,
                 totals: dict | None = None) -> DataFrame:
        """Exact running sums over score-descending order: the window
        arm up to PREFIX_MIN_SCORES distinct scores, the
        range-partitioned arm past it. Both are exact (integer counts
        sum associatively), so the switch never changes results —
        asserted on 1e6 distinct scores in tests/test_evaluation.py."""
        n = None
        if self._n_cum > PREFIX_MIN_SCORES:
            n = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
        return running_sums(df, [F.desc("score")], values, totals=totals,
                            num_partitions=n,
                            persisted_out=self._prefix_persists)

    def _sized(self, counts: DataFrame) -> DataFrame:
        """Persist the compacted table and take its distinct-score
        count — shared by the numBins chunk size and the running-sum
        arm choice. Runs once per object. With num_bins == 0 (the
        default) thresholds() needs no running sums and therefore
        skips the count job entirely; with num_bins > 0 the binned
        re-group needs the count, so thresholds() does trigger it
        via _counts."""
        counts = counts.persist()
        self._persisted = counts
        self._n_cum = counts.count()
        return counts

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
                counts = (self._running(counts, {"__rn": F.lit(1)})
                          .withColumn("__grp",
                                      F.floor((F.col("__rn") - 1)
                                              / grouping))
                          .groupBy("__grp")
                          .agg(F.max("score").alias("score"),
                               F.sum("pos").alias("pos"),
                               F.sum("neg").alias("neg"))
                          .drop("__grp"))
                # after down-sampling the table is ≤ numBins+1 rows —
                # the window arm is the right plan from here on
                self._n_cum = self._n_cum // grouping + 1
        return counts

    @cached_property
    def confusions(self) -> DataFrame:
        """One row per threshold: score, tp, fp, fn, tn, plus the
        per-threshold increments pos/neg and totals tot_pos/tot_neg
        (the AUC aggregates reconstruct the previous curve point from
        the increments, so they ride along)."""
        counts = self._counts
        if self._n_cum is None:  # num_bins == 0: not sized by _counts
            counts = self._sized(counts)
        cum = self._running(counts, {"tp": "pos", "fp": "neg"},
                            totals={"tot_pos": "pos", "tot_neg": "neg"})
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
