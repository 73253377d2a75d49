"""Ported from BinaryModelMetricsSpec.scala:13-50 (curve point counts
incl. the binned 1+ceil(7/(7/3))+1 formula) and
BinaryModelMetricComputerSpec.scala:9-41 (closed-form Reach/Lift),
plus parity checks against pyspark.ml's BinaryClassificationEvaluator."""

from __future__ import annotations

import pytest
from pyspark.ml.evaluation import BinaryClassificationEvaluator
from pyspark.ml.feature import VectorAssembler  # noqa: F401 (ml import smoke)

from spark_ext_spark.operators import evaluation as ev
from spark_ext_spark.operators.evaluation import BinaryModelMetrics

SCORE_AND_LABELS = [
    (0.8, 0.0), (0.7, 1.0), (0.3, 0.0), (0.9, 1.0), (0.6, 0.0),
    (0.6, 1.0), (0.6, 0.0), (0.8, 1.0), (0.2, 0.0), (0.5, 1.0),
]  # 10 rows, 7 distinct scores


@pytest.fixture(scope="module")
def sl(spark):
    return spark.createDataFrame(SCORE_AND_LABELS,
                                 "score double, label double").cache()


def test_gains_point_count(sl):
    m = BinaryModelMetrics(sl)
    assert m.gains().count() == 9  # 7 distinct + 2 endpoints


def test_gains_point_count_binned(sl):
    m = BinaryModelMetrics(sl, num_bins=3)
    # grouping = 7 // 3 = 2 -> ceil(7/2) = 4 bins -> 6 points
    assert m.gains().count() == 6


def test_gains_endpoints_and_monotonicity(sl):
    pts = [(r["reach"], r["recall"]) for r in
           BinaryModelMetrics(sl).gains().collect()]
    assert (0.0, 0.0) in (pts[0],) and pts[-1] == (1.0, 1.0)
    xs = sorted(p[0] for p in pts)
    assert xs == sorted(xs)


def test_reach_and_lift_closed_form(sl):
    # Fixture: 5 pos / 5 neg. At threshold 0.8: tp=2 (0.9,0.8 pos),
    # fp=1 (0.8 neg) -> reach=3/10, recall=2/5, lift=(2/5)/(3/10)=4/3.
    m = BinaryModelMetrics(sl)
    lift_pts = {round(r["reach"], 6): r["lift"] for r in m.lift().collect()}
    assert lift_pts[0.3] == pytest.approx((2 / 5) / (3 / 10))
    # At the loosest threshold reach=1 and lift=recall=1.
    assert lift_pts[1.0] == pytest.approx(1.0)


def test_roc_matches_builtin_evaluator(sl):
    m = BinaryModelMetrics(sl)
    ours = m.area_under_roc()
    df = sl.selectExpr("score AS rawPrediction", "label")
    ref = BinaryClassificationEvaluator(
        rawPredictionCol="rawPrediction",
        metricName="areaUnderROC").evaluate(df)
    assert ours == pytest.approx(ref, abs=1e-9)


def test_pr_matches_builtin_evaluator(sl):
    m = BinaryModelMetrics(sl)
    df = sl.selectExpr("score AS rawPrediction", "label")
    ref = BinaryClassificationEvaluator(
        rawPredictionCol="rawPrediction",
        metricName="areaUnderPR").evaluate(df)
    assert m.area_under_pr() == pytest.approx(ref, abs=1e-9)


def test_threshold_curves(sl):
    m = BinaryModelMetrics(sl)
    thresholds = [r["threshold"] for r in m.thresholds().collect()]
    assert thresholds == sorted(thresholds, reverse=True)
    assert len(thresholds) == 7
    prec = {r["threshold"]: r["precision"]
            for r in m.precision_by_threshold().collect()}
    # top threshold 0.9: tp=1, fp=0 -> precision 1.0
    assert prec[0.9] == 1.0
    rec = {r["threshold"]: r["recall"]
           for r in m.recall_by_threshold().collect()}
    assert rec[0.9] == pytest.approx(1 / 5)
    assert rec[0.2] == pytest.approx(1.0)
    f1 = {r["threshold"]: r["f_measure"]
          for r in m.f_measure_by_threshold().collect()}
    p, r_ = 1.0, 0.2
    assert f1[0.9] == pytest.approx(2 * p * r_ / (p + r_))


def test_num_bins_validation(sl):
    with pytest.raises(ValueError):
        BinaryModelMetrics(sl, num_bins=-1)


def _confusion_digest(df):
    """Order-independent exact digest of a confusion table."""
    from pyspark.sql import functions as F
    return df.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.hash("score", "tp", "fp", "fn", "tn")).alias("h"),
        F.sum("tp").alias("stp"), F.sum("fp").alias("sfp")).first()


def test_prefix_path_equals_window_on_1e6_distinct_scores(spark,
                                                          monkeypatch):
    """VERDICT r4 #1 done-criterion: with ≥1e6 DISTINCT scores (the
    continuous-score case where a global window is a single-task
    cliff), the range-partitioned running sums produce exactly the
    window arm's confusion table. Each arm is forced through the
    PREFIX_MIN_SCORES constant."""
    from pyspark.sql import functions as F
    n = 1_000_000
    sl = spark.range(n).select(
        (F.col("id") * 1e-6).alias("score"),
        (F.pmod(F.col("id"), F.lit(7)) < 3).cast("double").alias("label"))
    monkeypatch.setattr(ev, "PREFIX_MIN_SCORES", 1 << 60)
    m_win = BinaryModelMetrics(sl)
    d_win = _confusion_digest(m_win.confusions)
    monkeypatch.setattr(ev, "PREFIX_MIN_SCORES", 1000)
    m_pre = BinaryModelMetrics(sl)
    d_pre = _confusion_digest(m_pre.confusions)
    assert d_pre == d_win
    assert d_pre["n"] == n
    # spot-check the global last row: tp = total positives
    top = m_pre.confusions.orderBy(F.asc("score")).first()
    assert top["tp"] == top["tot_pos"] and top["fp"] == top["tot_neg"]
    m_win.unpersist()
    m_pre.unpersist()


def test_prefix_path_binned_equals_window(spark, monkeypatch):
    """The numBins down-sampling row-number goes through the same
    window/range switch — binned curves must match exactly too."""
    from pyspark.sql import functions as F
    sl = spark.range(50_000).select(
        (F.col("id") * 2e-5).alias("score"),
        (F.pmod(F.col("id") * 7919, F.lit(13)) < 5)
        .cast("double").alias("label"))
    monkeypatch.setattr(ev, "PREFIX_MIN_SCORES", 1 << 60)
    m_win = BinaryModelMetrics(sl, num_bins=25)
    d_win = _confusion_digest(m_win.confusions)
    auc_win = m_win.area_under_roc()
    monkeypatch.setattr(ev, "PREFIX_MIN_SCORES", 100)
    m_pre = BinaryModelMetrics(sl, num_bins=25)
    assert _confusion_digest(m_pre.confusions) == d_win
    assert m_pre.area_under_roc() == pytest.approx(auc_win, abs=1e-12)
    m_win.unpersist()
    m_pre.unpersist()


def test_default_threshold_keeps_window_path(sl):
    """At discrete-score scale the default threshold keeps the
    one-window plan (no range shuffle in the physical plan)."""
    m = BinaryModelMetrics(sl)
    plan = m.confusions._jdf.queryExecution().executedPlan().toString()
    assert "rangepartitioning" not in plan.lower()
    m.unpersist()


def test_empty_input_auc_is_half(spark):
    """With no scored rows the ROC curve is just its synthetic
    (0,0)-(1,1) endpoints — AUC 0.5 (the no-signal diagonal), matching
    the lag-window implementation this aggregate replaced. PR over the
    lone prepended (0,1) point has zero area."""
    empty = spark.createDataFrame([], "score double, label double")
    m = BinaryModelMetrics(empty)
    assert m.area_under_roc() == pytest.approx(0.5)
    assert m.area_under_pr() == pytest.approx(0.0)


def test_unpersist_releases_prefix_intermediates(spark, monkeypatch):
    """The range arm persists a range-partitioned intermediate per
    running_sums call; unpersist() must release those too (they used
    to leak one cached full-table copy per above-threshold confusions
    build for the session lifetime)."""
    from pyspark.sql import functions as F
    sl2 = spark.range(5000).select(
        (F.col("id") * 1e-3).alias("score"),
        (F.pmod(F.col("id"), F.lit(3)) < 1).cast("double").alias("label"))
    monkeypatch.setattr(ev, "PREFIX_MIN_SCORES", 10)
    m = BinaryModelMetrics(sl2)
    m.confusions.count()
    held = list(m._prefix_persists)
    assert held, "prefix path did not register its persisted frame"
    assert all(df.is_cached for df in held)
    m.unpersist()
    assert m._prefix_persists == []
    assert all(not df.is_cached for df in held)


def test_evaluation_job_floor(spark, count_jobs):
    """AUC + gains + lift on the 10 fixture rows run at most 9 Spark
    jobs: the totals come from the running-sum window (no second
    aggregate, exchange or broadcast) and curve endpoints are JVM
    literals. A fresh copy of the rows keeps earlier tests' cached
    confusion tables from hiding jobs."""
    src = spark.createDataFrame(SCORE_AND_LABELS,
                                "score double, label double").cache()
    src.count()
    m = BinaryModelMetrics(src)

    def evaluate():
        m.area_under_roc()
        m.gains().collect()
        m.lift().collect()

    assert count_jobs(evaluate) <= 9
    m.unpersist()
    src.unpersist()


def test_evaluation_auc_gains_jobs(spark, count_jobs):
    """area_under_roc + gains().collect() on the 10 fixture rows, plain
    and binned, is pinned at 8 Spark jobs: the sizing count, the
    cached confusion table and the two actions — no side job for the
    totals on the window arm."""
    for num_bins in (0, 3):
        src = spark.createDataFrame(SCORE_AND_LABELS,
                                    "score double, label double").cache()
        src.count()
        m = BinaryModelMetrics(src, num_bins=num_bins)

        def evaluate():
            m.area_under_roc()
            m.gains().collect()

        assert count_jobs(evaluate) == 8, num_bins
        m.unpersist()
        src.unpersist()


def test_curve_endpoints_scan_no_python_rows(spark):
    """gains/roc/pr endpoints are one-row JVM relations, never
    pickled Python rows (a ``Scan ExistingRDD``). The source is an
    inline VALUES table so only the endpoints could bring one in."""
    rows = ", ".join(f"({s!r}D, {lab!r}D)" for s, lab in SCORE_AND_LABELS)
    src = spark.sql(f"SELECT * FROM VALUES {rows} AS t(score, label)")
    m = BinaryModelMetrics(src)
    for curve in (m.gains(), m.roc(), m.pr()):
        curve.collect()
        plan = curve._jdf.queryExecution().executedPlan().toString()
        assert "ExistingRDD" not in plan
    assert m.pr().collect()[0] == (0.0, 1.0)
    m.unpersist()
