"""Cross-engine parity on adversarial inputs absent from the synthetic
testdata: negative ids (sign-preserving % vs pmod), huge ids (int64
overflow in multiplicative hashing), and malformed JSON props (DuckDB
json_extract throws where Spark's from_json nulls out). Each case here
is an input class that would silently (or loudly) split the engines on
a data refresh even though the sf0.01 sweep stays green.

The committed seeds are deterministic reproductions, not the whole
hunt: each round also re-runs every randomized sweep here at FRESH
seeds in a throwaway session before driver contact (round 9: seeds
101/202/303/404/505 across all nine families plus both as-of ts types
— 55 executions, 0 failures; round 10: seeds 113/227/331/443/557
across all TEN families incl. the new hostile-interval range-join
sweep — 73 executions incl. committed seeds, 0 failures — plus a
second wave at 613/719/823 on the round's FINAL code after the
non-finite/ragged-dim guard campaign, 53 executions, 0 failures). A
fresh-seed failure gets minimized, its seed committed, and the fix
landed before the driver ever sees the query. Since round 10 the
fresh seeds ride $SPARK_GRAFT_EXTRA_SEEDS (see conftest.fuzz_seeds)
instead of hand-edited parametrize lists. Round 11 rotated the sweep
to the least-recently-hammered surfaces (multimodal byte handling —
the new test_randomized_media_payload_parity family — alongside the
existing assembly family) and ran seeds 131/239/347 across ALL
ELEVEN randomized families: 59 executions incl. committed seeds, 0
failures — after the media family's first run caught and fixed two
real defects (element_at on negative doc_ids in media_sniff_formats;
duplicated-id join fanout in media_pipeline). A second wave at
149/251/359 on the round's FINAL code (post sidecar-collision guard
and raw-branch keep): 59 executions, 0 failures.

Round-10 one-off probes that came back CLEAN (no contract needed, so
no committed fixture — recorded so they aren't re-hunted): negative
zero (-0.0 vs 0.0 through grouping keys, 4dp serialization, min/max —
10 events-family pairs hash-match) and timestamp extremes
(year-0001/9999/pre-epoch rows through sessions, rollups, windows,
and space-filling keys — 9 pairs hash-match; the two gap-fill grid
guards raise by name as designed). Non-finite doubles did NOT come
back clean — that hunt became tools/nan_sweep.py and the
test_nonfinite_* contracts below."""

from __future__ import annotations

import datetime
import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from spark_ext_spark.plans import evaluation_queries as eq  # noqa: E402
from spark_ext_spark.plans import feature_queries as fq  # noqa: E402
from spark_ext_spark.plans import relational as rel  # noqa: E402
from tests.conftest import fuzz_seeds  # noqa: E402
from tests.oracle_utils import compare_to_oracle  # noqa: E402


@pytest.fixture(scope="module")
def hostile_sf(spark, tmp_path_factory):
    """A minimal events.parquet with negative user ids, an event_id
    past the Knuth-hash int64 overflow point, and one malformed-JSON
    props row."""
    d = str(tmp_path_factory.mktemp("hostile"))
    rows = [
        # (event_id, ts, user_id, event_type, value, props)
        (1, datetime.datetime(2024, 1, 1, 10, 30), -5, "click", 1.5,
         '{"k": 60}'),
        (2, datetime.datetime(2024, 1, 1, 11, 0), -65536, "view", 2.0,
         '{"k": 10}'),
        (3_474_514_434, datetime.datetime(2024, 1, 1, 12, 15), 7,
         "purchase", 3.0, '{k: 1'),          # malformed JSON
        (9_223_372_036_854, datetime.datetime(2024, 1, 2, 0, 45), 65535,
         "click", 4.0, None),
        (5, datetime.datetime(2024, 1, 2, 3, 59), 0, "view", 5.0,
         '{"k": 99}'),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp_ntz, user_id long, "
              "event_type string, value double, props string")
    df.coalesce(1).write.mode("overwrite").parquet(f"{d}/events.parquet")
    return d


@pytest.fixture(scope="module")
def hostile_duck(hostile_sf):
    con = duckdb.connect()
    # Spark writes a parquet DIRECTORY; the real testdata are single
    # files, so the glob only appears in this fixture
    con.execute(f"CREATE VIEW events AS "
                f"SELECT * FROM '{hostile_sf}/events.parquet/*.parquet'")
    yield con
    con.close()


@pytest.mark.parametrize("query,sql", [
    (rel.zorder_event_keys, rel.ZORDER_EVENT_KEYS_SQL),
    (rel.hilbert_event_keys, rel.HILBERT_EVENT_KEYS_SQL),
    (rel.stratified_sample_events, rel.STRATIFIED_SAMPLE_EVENTS_SQL),
    (rel.props_json_extract, rel.PROPS_JSON_EXTRACT_SQL),
    (rel.props_variant_extract, rel.PROPS_VARIANT_EXTRACT_SQL),
    (rel.value_statistics, rel.VALUE_STATISTICS_SQL),
], ids=["zorder_negative_ids", "hilbert_negative_ids",
        "stratified_huge_ids", "json_malformed_props",
        "variant_malformed_props", "stats_malformed_props"])
def test_hostile_inputs_stay_cross_engine_green(spark, hostile_sf,
                                                hostile_duck, query, sql):
    compare_to_oracle(query(spark, hostile_sf), hostile_duck, sql)


def _events_fixture(spark, tmp_path_factory, name: str, rows):
    d = str(tmp_path_factory.mktemp(name))
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp_ntz, user_id long, "
              "event_type string, value double, props string")
    df.coalesce(1).write.mode("overwrite").parquet(f"{d}/events.parquet")
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS "
                f"SELECT * FROM '{d}/events.parquet/*.parquet'")
    return d, con


_T = datetime.datetime(2024, 1, 1, 12, 0)


@pytest.fixture(scope="module")
def degenerate_sf(spark, tmp_path_factory):
    """Single-class events (zero purchases → tot_pos = 0 in every
    curve), one NULL event_type, and only 4 distinct scores (< 2·10,
    so numBins=10 binning must be skipped, not divided by zero)."""
    return _events_fixture(spark, tmp_path_factory, "degenerate", [
        (1, _T, 1, "click", 1.0, None),
        (2, _T, 2, "view", 2.0, None),
        (3, _T, 3, None, 3.0, None),
        (4, _T, 4, "click", 2.0, None),
        (5, _T, 5, "view", 4.0, None),
    ])


@pytest.fixture(scope="module")
def balanced_sf(spark, tmp_path_factory):
    """secondary:primary = 3:2 ≤ maxClassRatio 2.0 → the Downsampling
    fit returns a NO-OP model (fraction unset, every weight 1.0); the
    oracle must take the same branch, not reweight with (2p)/s."""
    return _events_fixture(spark, tmp_path_factory, "balanced", [
        (1, _T, 1, "purchase", 1.0, None),
        (2, _T, 2, "purchase", 2.0, None),
        (3, _T, 3, "view", 3.0, None),
        (4, _T, 4, "view", 4.0, None),
        (5, _T, 5, "click", 5.0, None),
    ])


@pytest.fixture(scope="module")
def signed_sf(spark, tmp_path_factory):
    """Sampling branch (4 secondaries : 1 primary > 2.0) with negative
    and past-overflow event_ids on the Knuth hash key: a naive
    (id·K) % 2^32 overflows DuckDB's BIGINT at id ≈ 3.47e9 and stays
    negative for negative ids — both engines must use the pmod
    split-multiply."""
    return _events_fixture(spark, tmp_path_factory, "signed", [
        (-7, _T, 1, "click", 1.0, None),
        (-4_294_967_299, _T, 2, "view", 2.0, None),
        (3_474_514_434, _T, 3, "view", 3.0, None),
        (9_223_372_036_854, _T, 4, "click", 4.0, None),
        (42, _T, 5, "purchase", 5.0, None),
    ])


@pytest.mark.parametrize("query,sql", [
    (eq.gains_curve, eq.GAINS_CURVE_SQL),
    (eq.roc_curve, eq.ROC_CURVE_SQL),
    (eq.lift_curve, eq.LIFT_CURVE_SQL),
    (eq.auc_metrics, eq.AUC_METRICS_SQL),
    (eq.roc_curve_binned, eq.ROC_CURVE_BINNED_SQL),
    (eq.precision_by_threshold, eq.PRECISION_BY_THRESHOLD_SQL),
    (eq.recall_by_threshold, eq.RECALL_BY_THRESHOLD_SQL),
    (eq.f_measure_by_threshold, eq.F_MEASURE_BY_THRESHOLD_SQL),
    (fq.string_indexer, fq.STRING_INDEXER_SQL),
], ids=["gains_single_class", "roc_single_class", "lift_single_class",
        "auc_single_class", "roc_binned_low_cardinality",
        "precision_single_class", "recall_single_class",
        "f_measure_single_class", "indexer_null_label"])
def test_degenerate_events_stay_cross_engine_green(spark, degenerate_sf,
                                                   query, sql):
    """Zero-denominator curve conventions (recall/fpr = 0.0 when a
    class is absent), skip-binning below 2·numBins distinct scores,
    and handleInvalid='skip' on a NULL label — each would split the
    engines on a refresh even though the sf0.01 sweep is green."""
    d, con = degenerate_sf
    compare_to_oracle(query(spark, d), con, sql)


@pytest.mark.parametrize("fixture", ["balanced_sf", "signed_sf"],
                         ids=["noop_branch", "hostile_hash_keys"])
def test_downsampling_hash_branches_cross_engine(spark, fixture, request):
    d, con = request.getfixturevalue(fixture)
    compare_to_oracle(fq.downsampling_hash(spark, d), con,
                      fq.DOWNSAMPLING_HASH_SQL)


def test_zorder_keys_nonnegative_for_negative_ids(spark, hostile_sf):
    """pmod keeps the interleave inputs in [0, 65536) — a
    sign-preserving mod would emit garbage (negative-bit) keys."""
    keys = {r["event_id"]: r["zkey"] for r in
            rel.zorder_event_keys(spark, hostile_sf).collect()}
    assert all(k >= 0 for k in keys.values())


@pytest.fixture(scope="module")
def hostile_docs_sf(spark, tmp_path_factory):
    """documents.parquet with the text classes absent from the
    synthetic corpus: empty text, NULL text, whitespace-only,
    emoji/astral-plane codepoints, CJK (no spaces/punctuation), and a
    single 10k-char token. Each of these split the engines at least
    once (NULL-text bag_fingerprint, DuckDB null-skipping
    least/greatest in quality, array_to_string([]) = NULL)."""
    d = str(tmp_path_factory.mktemp("hostile_docs"))
    rows = [
        (1, "web", "Hello world! This is fine.", "2024-01-01"),
        (2, "web", "", "2024-01-02"),
        (3, "forum", None, "2024-01-03"),
        (4, "forum", "\U0001f600\U0001f389\U0001f680 emoji only "
                     "\U0001f600\U0001f600", "2024-01-04"),
        (5, "wiki", "中文文本没有空格标点符号也很少", "2024-01-05"),
        (6, "wiki", "a" * 10000, "2024-01-06"),
        (7, "web", "  \t\n  ", "2024-01-07"),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, source string, text string, date string")
    df.coalesce(1).write.mode("overwrite").parquet(f"{d}/documents.parquet")
    return d


@pytest.fixture(scope="module")
def hostile_docs_duck(hostile_docs_sf):
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM "
                f"'{hostile_docs_sf}/documents.parquet/*.parquet'")
    yield con
    con.close()


def _lq():
    from spark_ext_spark.plans import llm_queries
    return llm_queries


@pytest.mark.parametrize("qname,sqlname", [
    ("doc_text_stats", "DOC_TEXT_STATS_SQL"),
    ("token_counts", "TOKEN_COUNTS_SQL"),
    ("doc_language_id", "DOC_LANGUAGE_ID_SQL"),
    ("doc_fingerprints", "DOC_FINGERPRINTS_SQL"),
    ("doc_quality", "DOC_QUALITY_SQL"),
    ("exact_dedup", "EXACT_DEDUP_SQL"),
    ("doc_repetition", "DOC_REPETITION_SQL"),
    ("pii_redaction", "PII_REDACTION_SQL"),
    ("ngram_jaccard", "NGRAM_JACCARD_SQL"),
    ("minhash_lsh", "MINHASH_LSH_SQL"),
    ("simhash_pairs", "SIMHASH_PAIRS_SQL"),
    ("winnow_pairs", "WINNOW_PAIRS_SQL"),
    ("ngram_containment", "NGRAM_CONTAINMENT_SQL"),
    ("doc_chunks", "DOC_CHUNKS_SQL"),
    ("doc_lm_scores", "DOC_LM_SCORES_SQL"),
    ("doc_gopher_rules", "GOPHER_RULES_SQL"),
    ("benchmark_contamination", "BENCHMARK_CONTAMINATION_SQL"),
    ("repeated_ngrams", "REPEATED_NGRAMS_SQL"),
    ("media_sniff_formats", "MEDIA_SNIFF_FORMATS_SQL"),
    ("media_byte_stats", "MEDIA_BYTE_STATS_SQL"),
    ("media_pipeline", "MEDIA_PIPELINE_SQL"),
], ids=["stats", "tokens", "langid", "fingerprints", "quality",
        "dedup", "repetition", "pii", "jaccard", "minhash", "simhash",
        "winnow", "containment", "chunks", "lm", "gopher",
        "contamination", "repngrams", "sniff", "bytestats",
        "mediapipe"])
def test_hostile_documents_stay_cross_engine_green(spark, hostile_docs_sf,
                                                   hostile_docs_duck,
                                                   qname, sqlname):
    lq = _lq()
    compare_to_oracle(getattr(lq, qname)(spark, hostile_docs_sf),
                      hostile_docs_duck, getattr(lq, sqlname))


@pytest.fixture(scope="module")
def hostile_emb_sf(spark, tmp_path_factory):
    """embeddings.parquet with the vector classes absent from the
    synthetic table: a NULL embedding (one bad row must not kill a
    GEMM task — previously an inhomogeneous-numpy crash), an all-zero
    vector (cos undefined: operator contract 0.0, DuckDB's
    list_cosine_similarity says -1.0), and an exact duplicate. 64-dim
    to match the declared LSH/IVF oracles' plane/centroid constants;
    >=16 non-null rows so the IVF fit's n_centroids=16 seeds exist."""
    import numpy as np
    d = str(tmp_path_factory.mktemp("hostile_emb"))
    rng = np.random.default_rng(11)
    rows = [(i, rng.standard_normal(64).tolist(), f"s{i % 3}")
            for i in range(1, 21)]
    rows += [(21, [0.0] * 64, "s0"), (22, None, "s1"),
             (23, rows[0][1], "s2")]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, source string")
    df.coalesce(1).write.mode("overwrite").parquet(f"{d}/embeddings.parquet")
    return d


@pytest.fixture(scope="module")
def hostile_emb_duck(hostile_emb_sf):
    con = duckdb.connect()
    con.execute(f"CREATE VIEW embeddings AS SELECT * FROM "
                f"'{hostile_emb_sf}/embeddings.parquet/*.parquet'")
    yield con
    con.close()


@pytest.mark.parametrize("qname,sqlname", [
    ("cosine_topk_bruteforce", "COSINE_TOPK_SQL"),
    ("ann_lsh_topk", "ANN_LSH_TOPK_SQL"),
    ("ann_ivf_topk", "ANN_IVF_TOPK_SQL"),
    ("embedding_near_dup_pairs", "EMBEDDING_NEAR_DUPS_SQL"),
    ("embedding_quantize", "EMBEDDING_QUANTIZE_SQL"),
    ("embedding_norms", "EMBEDDING_NORMS_SQL"),
    ("semantic_clusters", "SEMANTIC_CLUSTERS_SQL"),
], ids=["cosine", "lsh", "ivf", "neardups", "quantize", "norms",
        "semclusters"])
def test_hostile_embeddings_stay_cross_engine_green(spark, hostile_emb_sf,
                                                    hostile_emb_duck,
                                                    qname, sqlname):
    lq = _lq()
    compare_to_oracle(getattr(lq, qname)(spark, hostile_emb_sf),
                      hostile_emb_duck, getattr(lq, sqlname))


@pytest.mark.parametrize("seed", fuzz_seeds(3, 31),
                         ids=lambda s: f"seed{s}")
def test_randomized_tied_embeddings_parity(spark, tmp_path_factory, seed):
    """Seeded embeddings drawn from only 6 base directions with random
    positive/negative scales — scaled copies have IDENTICAL cosine, so
    nearly every ranking decision is a tie broken by neighbor_id, and
    negated copies pin the sim = -1 extreme. Plus zero vectors and
    NULLs. The hand fixture has one duplicate pair; this makes the
    tie-break contract (sim desc, neighbor_id asc, post-rounding) the
    dominant code path on both engines."""
    import numpy as np
    rng = np.random.default_rng(seed)
    bases = [rng.standard_normal(64) for _ in range(6)]
    rows = []
    for i in range(1, 31):
        r = rng.random()
        if r < 0.08:
            v = None
        elif r < 0.14:
            v = [0.0] * 64
        else:
            b = bases[rng.integers(6)]
            scale = (float(rng.uniform(0.5, 3.0))
                     * (1 if rng.random() < 0.8 else -1))
            v = (scale * b).tolist()
        rows.append((i, v, f"s{i % 3}"))
    d = str(tmp_path_factory.mktemp(f"tiedemb{seed}"))
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, source string")
    df.coalesce(1).write.mode("overwrite").parquet(f"{d}/embeddings.parquet")
    con = duckdb.connect()
    con.execute(f"CREATE VIEW embeddings AS SELECT * FROM "
                f"'{d}/embeddings.parquet/*.parquet'")
    lq = _lq()
    try:
        for qname, sqlname in [
            ("cosine_topk_bruteforce", "COSINE_TOPK_SQL"),
            ("ann_lsh_topk", "ANN_LSH_TOPK_SQL"),
            ("ann_ivf_topk", "ANN_IVF_TOPK_SQL"),
            ("embedding_near_dup_pairs", "EMBEDDING_NEAR_DUPS_SQL"),
            ("semantic_clusters", "SEMANTIC_CLUSTERS_SQL"),
        ]:
            compare_to_oracle(getattr(lq, qname)(spark, d), con,
                              getattr(lq, sqlname))
    finally:
        con.close()


def test_duplicate_embedding_ids_raise_named_error(spark):
    """A duplicated vec_id (upstream join fanout) makes every id-keyed
    step — self-exclusion, tie-break, shard-merge dedup — silently
    engine-dependent, so the GEMM names the defect instead. Shards
    hash on the id, so duplicates always co-locate in one pandas group
    and the local check is globally complete for the exact paths."""
    from spark_ext_spark.llm.similarity import cosine_topk
    df = spark.createDataFrame(
        [(1, [1.0, 2.0]), (2, [0.5, 0.1]), (2, [3.0, 1.0]),
         (3, [0.2, 0.9])],
        "vec_id long, embedding array<double>")
    with pytest.raises(Exception, match="duplicate embedding id"):
        cosine_topk(df, df, k=2).collect()


def test_duplicate_ids_raise_on_approximate_paths(spark):
    """r8 advice: the in-group GEMM duplicate check is best-effort for
    LSH/IVF — same-id rows with DIFFERENT vectors can land in disjoint
    buckets and never share a pandas group, silently corrupting
    self-exclusion and the shard-merge dedup. The approximate entry
    points now assert global id uniqueness upfront (one scalar agg over
    the materialized artifact), so every path fails by name. The two
    duplicate vectors here are near-opposite, maximizing the odds of
    disjoint buckets — the exact case the local check misses."""
    from spark_ext_spark.llm.similarity import (embedding_near_dups,
                                                ivf_topk_deterministic,
                                                lsh_topk)
    df = spark.createDataFrame(
        [(1, [1.0, 2.0]), (2, [0.5, 0.1]), (2, [-0.5, -0.1]),
         (3, [0.2, 0.9])],
        "vec_id long, embedding array<double>")
    for attempt in (
        lambda: lsh_topk(df, k=2),
        lambda: ivf_topk_deterministic(
            df, k=2, centroids=[[1_000_000, 0], [-1_000_000, 0]]),
        lambda: embedding_near_dups(df, threshold=0.5, method="lsh"),
    ):
        with pytest.raises(Exception, match="unique and non-null"):
            attempt()


def test_null_ids_raise_on_approximate_paths(spark):
    """A NULL vec_id defeats id-keyed self-exclusion and merging just
    like a duplicate — same upfront named failure."""
    from spark_ext_spark.llm.similarity import lsh_topk
    df = spark.createDataFrame(
        [(1, [1.0, 2.0]), (None, [0.5, 0.1]), (3, [0.2, 0.9])],
        "vec_id long, embedding array<double>")
    with pytest.raises(Exception, match="unique and non-null"):
        lsh_topk(df, k=2)


def test_mixed_dim_embeddings_raise_named_error(spark):
    """Ragged dimensionality is a pipeline defect: the GEMM names it
    (with the dims seen) instead of dying in numpy's opaque
    inhomogeneous-shape ValueError."""
    from spark_ext_spark.llm.similarity import cosine_topk
    df = spark.createDataFrame(
        [(1, [1.0, 2.0]), (2, [1.0, 2.0, 3.0]), (3, [0.5, 0.1])],
        "vec_id long, embedding array<double>")
    with pytest.raises(Exception, match="mixed dimensionality"):
        cosine_topk(df, df, k=1).collect()


@pytest.fixture(scope="module")
def nullish_sf(spark, tmp_path_factory):
    """events with NULL ts / user_id / event_type / value and an
    exact-tie timestamp — the classes that exposed three contract
    splits: window ORDER BY ts (Spark: nulls first; DuckDB: nulls
    last → oracle says NULLS FIRST), max_by/min_by with a NULL
    ordering value (Spark struct compare ranks it first ascending,
    DuckDB last → both sides now exclude unrankable rows), and the
    NULL user_id group detaching from a plain-equality join."""
    return _events_fixture(spark, tmp_path_factory, "nullish", [
        (1, _T, 1, "click", 1.5, None),
        (2, None, 1, "view", 2.0, None),
        (3, datetime.datetime(2024, 1, 1, 13, 0), None, "click", 3.0,
         None),
        (4, datetime.datetime(2024, 1, 1, 14, 0), 2, None, None, None),
        (5, datetime.datetime(2024, 1, 1, 14, 0), 2, "view", 4.0, None),
        (6, datetime.datetime(2024, 1, 1, 15, 0), 1, "purchase", 5.0,
         None),
        (7, None, None, None, None, None),
    ])


@pytest.mark.parametrize("query,sql", [
    (rel.user_event_types, rel.USER_EVENT_TYPES_SQL),
    (rel.event_sessions, rel.EVENT_SESSIONS_SQL),
    (rel.moving_avg_7d, rel.MOVING_AVG_7D_SQL),
    (rel.kmv_user_stats, rel.KMV_USER_STATS_SQL),
    (rel.theta_user_rollup, rel.THETA_USER_ROLLUP_SQL),
    (rel.hourly_rollup, rel.HOURLY_ROLLUP_SQL),
    (rel.hourly_gapfill, rel.HOURLY_GAPFILL_SQL),
    (rel.hourly_zscores, rel.HOURLY_ZSCORES_SQL),
    (rel.cumulative_user_value, rel.CUMULATIVE_USER_VALUE_SQL),
    (rel.top_event_per_user, rel.TOP_EVENT_PER_USER_SQL),
    (rel.salted_user_totals, rel.SALTED_USER_TOTALS_SQL),
    (rel.user_value_deltas, rel.USER_VALUE_DELTAS_SQL),
    (rel.daily_active_users, rel.DAILY_ACTIVE_USERS_SQL),
    (rel.hilbert_event_keys, rel.HILBERT_EVENT_KEYS_SQL),
    (fq.gather_encoder_top, fq.GATHER_ENCODER_TOP_SQL),
    (fq.gather_encoder_top_allother, fq.GATHER_ENCODER_TOP_ALLOTHER_SQL),
    (fq.gather_encoder_index, fq.GATHER_ENCODER_INDEX_SQL),
    (fq.gather_encoder_distfit, fq.GATHER_ENCODER_TOP_SQL),
], ids=["collect", "sessions", "movavg", "kmv", "theta", "hourly",
        "gapfill", "zscores", "cumsum", "topevent", "salted", "deltas",
        "dau", "hilbert_null_coords", "encoder_top_null_key",
        "encoder_allother_null_key", "encoder_index_null_key",
        "encoder_distfit_null_key"])
def test_nullish_events_stay_cross_engine_green(spark, nullish_sf,
                                                query, sql):
    d, con = nullish_sf
    compare_to_oracle(query(spark, d), con, sql)


@pytest.mark.parametrize("seed", fuzz_seeds(11, 29, 202),
                         ids=lambda s: f"seed{s}")
def test_randomized_nullish_events_parity(spark, tmp_path_factory, seed):
    """Generalizes the hand-built nullish fixture: a seeded random
    events table where EVERY column is null with probability ~1/6 and
    timestamps collide heavily, swept against the window/argmax/
    sessionize/sketch battery. Catches null-interaction classes no
    hand-picked fixture thought of (deterministic seeds — failures
    reproduce). Seed 202 is the regression seed for the unpinned NULL
    event_id window TIE-BREAK: the oracles pinned ts NULLS FIRST but
    left event_id on DuckDB's NULLS LAST default, so a null event_id
    tying on (user_id, ts) reordered the cumulative sum and lag/lead
    series."""
    import random
    rng = random.Random(seed)
    rows = []
    for i in range(120):
        def n(v):
            return None if rng.random() < 1 / 6 else v
        ts = n(datetime.datetime(2024, 1, 1 + rng.randrange(3),
                                 rng.randrange(24), 15 * rng.randrange(4)))
        rows.append((n(i) if rng.random() < 0.05 else i, ts,
                     n(rng.randrange(6)),
                     n(rng.choice(["click", "view", "purchase"])),
                     n(round(rng.uniform(-5, 5), 2)),
                     n('{"k": %d}' % rng.randrange(100))))
    d, con = _events_fixture(spark, tmp_path_factory,
                             f"randnull{seed}", rows)
    from spark_ext_spark.plans import gather_queries as gq
    for query, sql in [
        (rel.user_event_types, rel.USER_EVENT_TYPES_SQL),
        (rel.user_distinct_event_types,
         rel.USER_DISTINCT_EVENT_TYPES_SQL),
        (rel.event_sessions, rel.EVENT_SESSIONS_SQL),
        (rel.cumulative_user_value, rel.CUMULATIVE_USER_VALUE_SQL),
        (rel.top_event_per_user, rel.TOP_EVENT_PER_USER_SQL),
        (rel.user_value_deltas, rel.USER_VALUE_DELTAS_SQL),
        (rel.kmv_user_stats, rel.KMV_USER_STATS_SQL),
        (rel.hourly_zscores, rel.HOURLY_ZSCORES_SQL),
        (rel.hilbert_event_keys, rel.HILBERT_EVENT_KEYS_SQL),
        (fq.gather_encoder_top_allother,
         fq.GATHER_ENCODER_TOP_ALLOTHER_SQL),
        (fq.string_indexer, fq.STRING_INDEXER_SQL),
        # gap batch (first sweep caught gather's key:null encoding
        # split and value_statistics' half-grid covariance rounding)
        (gq.gather_user_events, gq.GATHER_USER_EVENTS_SQL),
        (gq.gather_user_events_flat, gq.GATHER_USER_EVENTS_FLAT_SQL),
        (gq.gather_user_event_counts, gq.GATHER_USER_EVENT_COUNTS_SQL),
        (rel.value_statistics, rel.VALUE_STATISTICS_SQL),
        (rel.value_robust_stats, rel.VALUE_ROBUST_STATS_SQL),
        (rel.global_agg, rel.GLOBAL_AGG_SQL),
        (rel.top_users_by_value, rel.TOP_USERS_BY_VALUE_SQL),
        (rel.distinct_user_event_pairs,
         rel.DISTINCT_USER_EVENT_PAIRS_SQL),
        (rel.stratified_sample_events,
         rel.STRATIFIED_SAMPLE_EVENTS_SQL),
        (rel.zorder_event_keys, rel.ZORDER_EVENT_KEYS_SQL),
        (rel.events_in_order_windows, rel.EVENTS_IN_ORDER_WINDOWS_SQL),
        (rel.moving_avg_7d, rel.MOVING_AVG_7D_SQL),
        (rel.hourly_rollup, rel.HOURLY_ROLLUP_SQL),
        (rel.hourly_gapfill, rel.HOURLY_GAPFILL_SQL),
        (rel.hourly_interpolate, rel.HOURLY_INTERPOLATE_SQL),
        (rel.props_json_extract, rel.PROPS_JSON_EXTRACT_SQL),
        (rel.props_variant_extract, rel.PROPS_VARIANT_EXTRACT_SQL),
    ]:
        compare_to_oracle(query(spark, d), con, sql)


@pytest.mark.parametrize("seed", fuzz_seeds(7, 23),
                         ids=lambda s: f"seed{s}")
def test_randomized_unicode_docs_parity(spark, tmp_path_factory, seed):
    """Seeded random documents assembled from hostile pieces (emoji,
    CJK, combining accents, Cyrillic, 300-char tokens, abbreviation
    periods, bare punctuation, tabs, empty/NULL) swept against the
    text/dedup battery. Caught two real defects on first run: the
    trim-before-collapse phantom '' token desyncing the Python
    (str.split) tokenizers from normalize_text, and quality_score's
    0.3·4dp products landing on the .00005 round() half-grid. The
    U+00A0 and U+001C pieces pin the one word definition: Python's
    str.split() and DuckDB's one-argument trim() treat them as
    whitespace, Java's ``\\s`` and Spark's trim do not."""
    import random
    rng = random.Random(seed)
    pieces = ["hello", "world", "the", "é", "漢字", "😀", "a" * 300, "",
              " ", "\t", "Mr. X", "3.14", "http://a.b", "word,",
              "dogs!", "ñó", "тест", "a\u00a0b", "\u00a0", "x\u001cy"]
    rows = []
    for i in range(80):
        if rng.random() < 0.1:
            text = None
        else:
            text = " ".join(rng.choice(pieces)
                            for _ in range(rng.randrange(0, 30)))
        rows.append((i, text,
                     None if rng.random() < 0.15
                     else rng.choice(["en", "de", "fr"]),
                     None if rng.random() < 0.1
                     else rng.choice(["web", "forum", "wiki"]),
                     None if text is None else len(text)))
    d = str(tmp_path_factory.mktemp(f"randdocs{seed}"))
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, "
              "n_chars long")
    df.coalesce(1).write.mode("overwrite").parquet(f"{d}/documents.parquet")
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM "
                f"'{d}/documents.parquet/*.parquet'")
    lq = _lq()
    for qname, sqlname in [
        ("doc_text_stats", "DOC_TEXT_STATS_SQL"),
        ("doc_fingerprints", "DOC_FINGERPRINTS_SQL"),
        ("doc_quality", "DOC_QUALITY_SQL"),
        ("doc_repetition", "DOC_REPETITION_SQL"),
        ("ngram_jaccard", "NGRAM_JACCARD_SQL"),
        ("minhash_lsh", "MINHASH_LSH_SQL"),
        ("simhash_pairs", "SIMHASH_PAIRS_SQL"),
        ("doc_chunks", "DOC_CHUNKS_SQL"),
        ("repeated_ngrams", "REPEATED_NGRAMS_SQL"),
        ("exact_dedup", "EXACT_DEDUP_SQL"),
        ("winnow_pairs", "WINNOW_PAIRS_SQL"),
        ("corpus_dedup_stats", "CORPUS_DEDUP_STATS_SQL"),
        # report/cluster gap batch (null lang/source mixtures, CC over
        # hostile-doc dup pairs) — all green on first sweep
        ("mixture_report", "MIXTURE_REPORT_SQL"),
        ("language_mix_report", "LANGUAGE_MIX_REPORT_SQL"),
        ("tfidf_top_terms", "TFIDF_TOP_TERMS_SQL"),
        ("dup_clusters", "DUP_CLUSTERS_SQL"),
        ("dedup_reduction_report", "DEDUP_REDUCTION_REPORT_SQL"),
    ]:
        compare_to_oracle(getattr(lq, qname)(spark, d), con,
                          getattr(lq, sqlname))
    compare_to_oracle(rel.doc_sentences(spark, d), con,
                      rel.DOC_SENTENCES_SQL)


def _hostile_tpch_fixture(tmp_path_factory, seed: int) -> str:
    """Seeded hostile variants of the REAL sf0.001 join tables: null
    join keys on both fact and dim sides, null VALUE and DIMENSION
    columns (balances, prices, quantities, discounts, priorities,
    statuses, flags, part attributes — the classes that expose
    null-ordering and CASE/filter contract splits), duplicated primary
    keys (orders/lineitem rows repeated verbatim), a whole ship-year
    dropped from lineitem (empty groups downstream), and lineitem
    written as a multi-file directory containing one ZERO-ROW part
    file (a genuinely empty scan partition on both engines). Physical
    types are preserved via pyarrow, so the fixture reads exactly like
    the driver's testdata."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    rng = __import__("random").Random(seed)
    src = "/root/testdata/sf0.001"
    d = str(tmp_path_factory.mktemp(f"hostile_tpch{seed}"))

    def mutate(table: str, null_cols: dict[str, float],
               dup_rate: float = 0.0, drop_pred=None):
        t = pq.read_table(f"{src}/{table}.parquet")
        rows = t.to_pylist()
        out = []
        for r in rows:
            if drop_pred is not None and drop_pred(r):
                continue
            r = dict(r)
            for col, p in null_cols.items():
                if rng.random() < p:
                    r[col] = None
            out.append(r)
            if dup_rate and rng.random() < dup_rate:
                out.append(dict(r))  # duplicated primary key
        return pa.Table.from_pylist(out, schema=t.schema), t.schema

    cust, _ = mutate("customer", {"c_nationkey": 0.05, "c_custkey": 0.02,
                                  "c_acctbal": 0.08, "c_mktsegment": 0.05})
    pq.write_table(cust, f"{d}/customer.parquet")
    orders, _ = mutate("orders", {"o_custkey": 0.05, "o_orderdate": 0.02,
                                  "o_orderpriority": 0.06,
                                  "o_orderstatus": 0.06,
                                  "o_totalprice": 0.05},
                       dup_rate=0.04)
    pq.write_table(orders, f"{d}/orders.parquet")
    supp, _ = mutate("supplier", {"s_nationkey": 0.2, "s_acctbal": 0.1})
    pq.write_table(supp, f"{d}/supplier.parquet")
    # drop one whole ship-year with probability 1/2 per seed: entire
    # per-year groups vanish and some join branches go empty
    drop_year = rng.choice([None, 1995])
    li, li_schema = mutate(
        "lineitem",
        {"l_suppkey": 0.03, "l_orderkey": 0.02, "l_partkey": 0.03,
         "l_returnflag": 0.04, "l_linestatus": 0.04, "l_quantity": 0.03,
         "l_extendedprice": 0.03, "l_discount": 0.03, "l_shipdate": 0.03},
        dup_rate=0.03,
        drop_pred=(None if drop_year is None else
                   (lambda r: r["l_shipdate"] is not None
                    and r["l_shipdate"].year == drop_year)))
    os.makedirs(f"{d}/lineitem.parquet")
    pq.write_table(li, f"{d}/lineitem.parquet/part-0.parquet")
    pq.write_table(pa.Table.from_pylist([], schema=li_schema),
                   f"{d}/lineitem.parquet/part-1.parquet")  # empty split
    part, _ = mutate("part", {"p_type": 0.05, "p_brand": 0.05,
                              "p_size": 0.05, "p_retailprice": 0.05})
    pq.write_table(part, f"{d}/part.parquet")
    for t in ("nation", "region"):
        pq.write_table(pq.read_table(f"{src}/{t}.parquet"),
                       f"{d}/{t}.parquet")
    return d


@pytest.mark.parametrize("seed", fuzz_seeds(13, 37),
                         ids=lambda s: f"seed{s}")
def test_randomized_hostile_tpch_join_parity(spark, tmp_path_factory,
                                             seed):
    """The join-heavy TPC-H family swept over seeded hostile inputs —
    the fixed-parquet fixtures never exercise null join keys,
    duplicated order keys, or empty scan partitions through these
    join-densest shapes (q5 q7 q8 q9 q21, plus the round-8 window's
    q13 q17 q18 q20 — outer-join histogram, correlated avg, HAVING
    over a join, and nested-EXISTS pruning respectively).
    Deterministic seeds: a failure reproduces exactly."""
    from spark_ext_spark.plans import tpch
    d = _hostile_tpch_fixture(tmp_path_factory, seed)
    con = duckdb.connect()
    for t in ("customer", "orders", "supplier", "nation", "region",
              "part"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{d}/{t}.parquet'")
    con.execute(f"CREATE VIEW lineitem AS SELECT * FROM "
                f"'{d}/lineitem.parquet/*.parquet'")
    try:
        for query, sql in [
            (tpch.local_supplier_volume, tpch.LOCAL_SUPPLIER_VOLUME_SQL),
            (tpch.volume_shipping, tpch.VOLUME_SHIPPING_SQL),
            (tpch.market_share, tpch.MARKET_SHARE_SQL),
            (tpch.product_type_profit, tpch.PRODUCT_TYPE_PROFIT_SQL),
            (tpch.waiting_suppliers, tpch.WAITING_SUPPLIERS_SQL),
            (tpch.customer_order_histogram,
             tpch.CUSTOMER_ORDER_HISTOGRAM_SQL),
            (tpch.small_quantity_revenue,
             tpch.SMALL_QUANTITY_REVENUE_SQL),
            (tpch.large_volume_orders, tpch.LARGE_VOLUME_ORDERS_SQL),
            (tpch.promotion_suppliers, tpch.PROMOTION_SUPPLIERS_SQL),
            # the round-9 rotation's shapes, swept BEFORE their first
            # driver contact (this sweep found the q16 NOT IN split)
            (tpch.min_cost_supplier, tpch.MIN_COST_SUPPLIER_SQL),
            (tpch.late_order_priority, tpch.LATE_ORDER_PRIORITY_SQL),
            (tpch.returned_item_customers,
             tpch.RETURNED_ITEM_CUSTOMERS_SQL),
            (tpch.important_parts, tpch.IMPORTANT_PARTS_SQL),
            (tpch.linestatus_priority_counts,
             tpch.LINESTATUS_PRIORITY_COUNTS_SQL),
            (tpch.promo_revenue_share, tpch.PROMO_REVENUE_SHARE_SQL),
            (tpch.top_supplier, tpch.TOP_SUPPLIER_SQL),
            (tpch.parts_supplier_counts,
             tpch.PARTS_SUPPLIER_COUNTS_SQL),
            (tpch.discounted_revenue, tpch.DISCOUNTED_REVENUE_SQL),
            (tpch.idle_rich_customers, tpch.IDLE_RICH_CUSTOMERS_SQL),
            (tpch.forecast_revenue_change,
             tpch.FORECAST_REVENUE_CHANGE_SQL),
        ]:
            compare_to_oracle(query(spark, d), con, sql)
    finally:
        con.close()


@pytest.mark.parametrize("seed", fuzz_seeds(5, 43),
                         ids=lambda s: f"seed{s}")
def test_randomized_hostile_olap_parity(spark, tmp_path_factory, seed):
    """The relational OLAP family (set ops, rollup/cube/pivot, window
    ranks, deciles, min-per-group, stats/profile reports) over the
    same seeded hostile TPC-H tables — these queries had only ever
    seen the clean fixed parquet. First run caught acctbal_deciles
    ranking NULL balances: Spark ASC sorts them FIRST, DuckDB LAST, so
    every decile boundary silently shifted (now both engines exclude
    unknown balances from the ranking)."""
    d = _hostile_tpch_fixture(tmp_path_factory, seed)
    con = duckdb.connect()
    for t in ("customer", "orders", "supplier", "nation", "region",
              "part"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{d}/{t}.parquet'")
    con.execute(f"CREATE VIEW lineitem AS SELECT * FROM "
                f"'{d}/lineitem.parquet/*.parquet'")
    try:
        for query, sql in [
            (rel.pricing_summary, rel.PRICING_SUMMARY_SQL),
            (rel.revenue_by_nation, rel.REVENUE_BY_NATION_SQL),
            (rel.left_join_order_counts, rel.LEFT_JOIN_ORDER_COUNTS_SQL),
            (rel.semi_join_active_customers,
             rel.SEMI_JOIN_ACTIVE_CUSTOMERS_SQL),
            (rel.anti_join_inactive_customers,
             rel.ANTI_JOIN_INACTIVE_CUSTOMERS_SQL),
            (rel.rollup_order_revenue, rel.ROLLUP_ORDER_REVENUE_SQL),
            (rel.cube_order_stats, rel.CUBE_ORDER_STATS_SQL),
            (rel.price_percentiles, rel.PRICE_PERCENTILES_SQL),
            (rel.shipping_priority, rel.SHIPPING_PRIORITY_SQL),
            (rel.intersect_high_value_buyers,
             rel.INTERSECT_HIGH_VALUE_BUYERS_SQL),
            (rel.except_low_priority_only,
             rel.EXCEPT_LOW_PRIORITY_ONLY_SQL),
            (rel.union_all_keys, rel.UNION_ALL_KEYS_SQL),
            (rel.priority_pivot, rel.PRIORITY_PIVOT_SQL),
            (rel.top_orders_per_customer,
             rel.TOP_ORDERS_PER_CUSTOMER_SQL),
            (rel.acctbal_deciles, rel.ACCTBAL_DECILES_SQL),
            (rel.above_class_average_orders,
             rel.ABOVE_CLASS_AVERAGE_ORDERS_SQL),
            (rel.cheapest_order_per_customer,
             rel.CHEAPEST_ORDER_PER_CUSTOMER_SQL),
            (rel.sql_grouping_sets, rel.SQL_GROUPING_SETS_SQL),
            (rel.table_profile, rel.TABLE_PROFILE_SQL),
            (rel.lineitem_expectations, rel.LINEITEM_EXPECTATIONS_SQL),
            (rel.lineitem_measure_stats,
             rel.LINEITEM_MEASURE_STATS_SQL),
        ]:
            compare_to_oracle(query(spark, d), con, sql)
    finally:
        con.close()


def test_null_suppkey_not_in_contract(spark, tmp_path_factory):
    """Minimal deterministic repro of the q16 LEFT ANTI vs NOT IN
    split the randomized sweep can miss (it needs a part class whose
    EVERY line has a null supplier): part X's only line is
    unattributable. Before the pinned contract, Spark emitted a
    phantom ('Brand#2','X',5, cnt=0) group that DuckDB's NOT IN (NULL
    comparison → not true) filtered out. Both engines must now drop
    unattributable lines."""
    from spark_ext_spark.plans import tpch
    d = str(tmp_path_factory.mktemp("q16null"))
    li = spark.createDataFrame(
        [(1, None, 1), (2, 10, 2), (2, None, 3)],
        "l_partkey long, l_suppkey long, l_orderkey long")
    pt = spark.createDataFrame(
        [(1, "Brand#2", "X", 5), (2, "Brand#2", "Y", 5)],
        "p_partkey long, p_brand string, p_type string, p_size int")
    sup = spark.createDataFrame(
        [(99, -5.0), (None, -7.0)],     # null exclusion key: one NULL
        "s_suppkey long, s_acctbal double")  # empties a naive NOT IN
    for name, df in [("lineitem", li), ("part", pt), ("supplier", sup)]:
        df.coalesce(1).write.parquet(f"{d}/{name}.parquet")
    con = duckdb.connect()
    for t in ("lineitem", "part", "supplier"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{d}/{t}.parquet/*.parquet'")
    try:
        compare_to_oracle(tpch.parts_supplier_counts(spark, d), con,
                          tpch.PARTS_SUPPLIER_COUNTS_SQL)
        rows = {tuple(r) for r in
                tpch.parts_supplier_counts(spark, d).collect()}
        assert rows == {("Brand#2", "Y", 5, 1)}
    finally:
        con.close()


@pytest.mark.parametrize("seed,ts_type", [(7, "long"),
                                          (23, "timestamp_ntz")],
                         ids=["seed7_long_ts", "seed23_timestamp_ts"])
def test_randomized_asof_parity_both_strategies(spark, tmp_path_factory,
                                                seed, ts_type):
    """Seeded random tick/quote tables — null keys and timestamps on
    BOTH sides, heavy (key, ts) ties, duplicated right rows, keys with
    only one side populated — swept through both as-of strategies
    against an ANSI correlated-subquery oracle that spells out the
    operator's contract directly (latest right row with rts <= ts per
    EQUAL non-null key; greatest price breaks (key, ts) ties; NULL
    key/ts left rows get NULL). Unlike the fixed differential
    fixtures, every seed exercises a fresh random chunk layout through
    the value-deterministic chunked carry, on both the numeric and the
    temporal quantile-boundary paths."""
    import random

    from spark_ext_spark.operators.asof import asof_join
    rng = random.Random(seed)

    def ts_of(i):
        if ts_type == "long":
            return i
        return datetime.datetime(2024, 1, 1) + datetime.timedelta(
            minutes=17 * i)

    def n(v, p=0.08):
        return None if rng.random() < p else v

    left_rows, right_rows = [], []
    for i in range(300):
        k = n(rng.randrange(8))
        t = n(ts_of(rng.randrange(60)))          # heavy ties
        left_rows.append((i, k, t))
    for i in range(300):
        k = n(rng.choice([0, 1, 2, 3, 4, 9]))    # 9: right-only key
        t = n(ts_of(rng.randrange(60)))
        price = n(float(rng.randrange(50)))      # duplicates + null values
        right_rows.append((k, t, price))
        if rng.random() < 0.1:
            right_rows.append((k, t, price))     # verbatim duplicate row

    d = str(tmp_path_factory.mktemp(f"asof{seed}"))
    ldf = spark.createDataFrame(left_rows, f"lid long, k long, ts {ts_type}")
    rdf = spark.createDataFrame(
        right_rows, f"k long, rts {ts_type}, price double")
    ldf.coalesce(2).write.parquet(f"{d}/lt.parquet")
    rdf.coalesce(3).write.parquet(f"{d}/rt.parquet")
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW lt AS SELECT * FROM '{d}/lt.parquet/*.parquet'")
    con.execute(
        f"CREATE VIEW rt AS SELECT * FROM '{d}/rt.parquet/*.parquet'")
    oracle = """
        SELECT l.lid, l.k, l.ts,
               (SELECT r.price FROM rt r
                WHERE r.k = l.k AND r.rts <= l.ts
                ORDER BY r.rts DESC, r.price DESC NULLS LAST
                LIMIT 1) AS price_asof
        FROM lt l
    """
    lt = spark.read.parquet(f"{d}/lt.parquet")
    rt = spark.read.parquet(f"{d}/rt.parquet")
    kw = dict(on="k", left_ts="ts", right_ts="rts", value_cols=["price"])
    try:
        compare_to_oracle(asof_join(lt, rt, **kw), con, oracle)
        for n_parts in (3, 11):
            held: list = []
            chk = asof_join(lt, rt, strategy="chunked",
                            num_partitions=n_parts,
                            persisted_out=held, **kw)
            compare_to_oracle(chk, con, oracle)
            for fr in held:
                fr.unpersist()
    finally:
        con.close()


@pytest.mark.parametrize("seed", fuzz_seeds(17, 41),
                         ids=lambda s: f"seed{s}")
def test_randomized_scores_evaluation_parity(spark, tmp_path_factory,
                                             seed):
    """The evaluation-curve family's hostile fixtures are hand-built
    (single-class, low-cardinality); this seeded sweep adds volume:
    NULL scores, NULL labels, negative scores, heavy score ties
    (one-decimal grid), and non-finite scores (NaN sorts above +inf on
    BOTH engines; each forms its own distinct-score group) through the
    full curve battery. Curve math is cumulative — one mis-ordered
    null or tie-group split diverges every later point, so the whole
    curve is the assertion."""
    import random
    rng = random.Random(seed)
    rows = []
    for i in range(150):
        r = rng.random()
        if r < 0.1:
            value = None
        elif r < 0.16:
            value = rng.choice([float("nan"), float("inf"),
                                float("-inf")])
        else:
            value = round(rng.uniform(-3, 3), 1)      # heavy ties
        etype = (None if rng.random() < 0.1
                 else rng.choice(["click", "view", "purchase"]))
        rows.append((i, _T, rng.randrange(10), etype, value, None))
    d, con = _events_fixture(spark, tmp_path_factory,
                             f"randscores{seed}", rows)
    try:
        for query, sql in [
            (eq.gains_curve, eq.GAINS_CURVE_SQL),
            (eq.roc_curve, eq.ROC_CURVE_SQL),
            (eq.lift_curve, eq.LIFT_CURVE_SQL),
            (eq.auc_metrics, eq.AUC_METRICS_SQL),
            (eq.roc_curve_binned, eq.ROC_CURVE_BINNED_SQL),
            (eq.precision_by_threshold, eq.PRECISION_BY_THRESHOLD_SQL),
            (eq.recall_by_threshold, eq.RECALL_BY_THRESHOLD_SQL),
            (eq.f_measure_by_threshold, eq.F_MEASURE_BY_THRESHOLD_SQL),
        ]:
            compare_to_oracle(query(spark, d), con, sql)
    finally:
        con.close()


_EXTREME_EVENTS = {
    # every ts null: the whole time axis is unknown
    "all_null_ts": [(i, None, i % 3, "click", float(i), None)
                    for i in range(10)],
    # one row, everything null but the id: every group is degenerate
    # (caught gather's ''-vs-NULL all-null-key serialization AND the
    # encoder's empty-dictionary schema-inference crash)
    "one_row_nulls": [(1, None, None, None, None, None)],
    # every user exactly one event, all at the same instant
    "tied_ts": [(i, _T, i, "view", 1.0, None) for i in range(8)],
}


@pytest.mark.parametrize("fixture", sorted(_EXTREME_EVENTS),
                         ids=sorted(_EXTREME_EVENTS))
def test_extreme_degenerate_events_stay_cross_engine_green(
        spark, tmp_path_factory, fixture):
    """Degeneracy extremes the ~1/6-null randomized sweep essentially
    never reaches: whole columns null at once. First run caught two
    defects — a user whose every gathered element has a NULL key
    serialized to '' on Spark (array_join skips nulls) but NULL on
    DuckDB (array_to_string of an all-NULL list), and GatherEncoder's
    exploded transform crashed on an EMPTY fitted dictionary
    (schema-inference on zero rows) instead of encoding the all-other
    slot."""
    d, con = _events_fixture(spark, tmp_path_factory,
                             f"extreme_{fixture}",
                             _EXTREME_EVENTS[fixture])
    from spark_ext_spark.plans import gather_queries as gq
    try:
        for query, sql in [
            (rel.user_event_types, rel.USER_EVENT_TYPES_SQL),
            (rel.event_sessions, rel.EVENT_SESSIONS_SQL),
            (rel.cumulative_user_value, rel.CUMULATIVE_USER_VALUE_SQL),
            (rel.top_event_per_user, rel.TOP_EVENT_PER_USER_SQL),
            (rel.user_value_deltas, rel.USER_VALUE_DELTAS_SQL),
            (rel.hourly_zscores, rel.HOURLY_ZSCORES_SQL),
            (rel.hourly_gapfill, rel.HOURLY_GAPFILL_SQL),
            (rel.hourly_interpolate, rel.HOURLY_INTERPOLATE_SQL),
            (rel.moving_avg_7d, rel.MOVING_AVG_7D_SQL),
            (gq.gather_user_events, gq.GATHER_USER_EVENTS_SQL),
            (rel.value_statistics, rel.VALUE_STATISTICS_SQL),
            (rel.daily_active_users, rel.DAILY_ACTIVE_USERS_SQL),
            (fq.gather_encoder_top, fq.GATHER_ENCODER_TOP_SQL),
            (rel.stratified_sample_events,
             rel.STRATIFIED_SAMPLE_EVENTS_SQL),
        ]:
            compare_to_oracle(query(spark, d), con, sql)
    finally:
        con.close()


def test_zero_row_tables_stay_cross_engine_green(spark,
                                                 tmp_path_factory):
    """Empty inputs are routine at scale (an empty date partition, a
    filtered-out slice) — every family must produce the same empty or
    scalar-degenerate result on both engines, not crash. Exercises the
    scalar-aggregate attaches (global averages over zero rows), the
    gapfill grid, curve endpoints, encoder fit, dedup pair producers,
    and similarity search over an empty corpus."""
    from spark_ext_spark.plans import evaluation_queries as eq2
    from spark_ext_spark.plans import gather_queries as gq
    lq = _lq()
    d = str(tmp_path_factory.mktemp("zerorow"))
    for name, ddl in [
        ("events", "event_id long, ts timestamp_ntz, user_id long, "
                   "event_type string, value double, props string"),
        ("documents", "doc_id long, text string, lang string, "
                      "source string, n_chars long"),
        ("embeddings", "vec_id long, embedding array<double>, "
                       "source string"),
    ]:
        spark.createDataFrame([], ddl).coalesce(1) \
             .write.parquet(f"{d}/{name}.parquet")
    con = duckdb.connect()
    for t in ("events", "documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{d}/{t}.parquet/*.parquet'")
    try:
        for query, sql in [
            (rel.user_event_types, rel.USER_EVENT_TYPES_SQL),
            (rel.event_sessions, rel.EVENT_SESSIONS_SQL),
            (rel.hourly_gapfill, rel.HOURLY_GAPFILL_SQL),
            (rel.hourly_interpolate, rel.HOURLY_INTERPOLATE_SQL),
            (rel.hourly_zscores, rel.HOURLY_ZSCORES_SQL),
            (gq.gather_user_events, gq.GATHER_USER_EVENTS_SQL),
            (rel.value_statistics, rel.VALUE_STATISTICS_SQL),
            (rel.value_robust_stats, rel.VALUE_ROBUST_STATS_SQL),
            (rel.global_agg, rel.GLOBAL_AGG_SQL),
            (rel.kmv_user_stats, rel.KMV_USER_STATS_SQL),
            (fq.gather_encoder_top, fq.GATHER_ENCODER_TOP_SQL),
            (eq2.gains_curve, eq2.GAINS_CURVE_SQL),
            (eq2.auc_metrics, eq2.AUC_METRICS_SQL),
            (eq2.roc_curve_binned, eq2.ROC_CURVE_BINNED_SQL),
            (lq.doc_text_stats, lq.DOC_TEXT_STATS_SQL),
            (lq.exact_dedup, lq.EXACT_DEDUP_SQL),
            (lq.minhash_lsh, lq.MINHASH_LSH_SQL),
            (lq.dup_clusters, lq.DUP_CLUSTERS_SQL),
            (lq.mixture_report, lq.MIXTURE_REPORT_SQL),
            (lq.language_mix_report, lq.LANGUAGE_MIX_REPORT_SQL),
            (lq.sequence_packing, lq.SEQUENCE_PACKING_SQL),
            (lq.train_test_split, lq.TRAIN_TEST_SPLIT_SQL),
            (lq.cosine_topk_bruteforce, lq.COSINE_TOPK_SQL),
            (lq.embedding_quantize, lq.EMBEDDING_QUANTIZE_SQL),
            (lq.embedding_norms, lq.EMBEDDING_NORMS_SQL),
        ]:
            compare_to_oracle(query(spark, d), con, sql)
    finally:
        con.close()


def test_argmax_null_id_tie_break_contract(spark, tmp_path_factory):
    """Deterministic repro of the argmax/argmin tie-break null order:
    on a VALUE tie, Spark's struct(value, event_id) comparison ranks a
    NULL event_id field FIRST ascending — so min_by prefers the
    null-id row and max_by the non-null one. The oracle pins the
    matching ASC NULLS FIRST / DESC NULLS LAST explicitly (DuckDB
    defaults NULLS LAST for both directions)."""
    d = str(tmp_path_factory.mktemp("minbytie"))
    rows = [
        (None, None, 1, "a", -2.0, None),
        (5,    None, 1, "b", -2.0, None),   # min tie: null id wins
        (None, None, 1, "c",  9.0, None),
        (7,    None, 1, "d",  9.0, None),   # max tie: non-null id wins
        (8,    None, 1, "e",  3.0, None),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp_ntz, user_id long, "
              "event_type string, value double, props string")
    df.coalesce(1).write.parquet(f"{d}/events.parquet")
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM "
                f"'{d}/events.parquet/*.parquet'")
    try:
        compare_to_oracle(rel.top_event_per_user(spark, d), con,
                          rel.TOP_EVENT_PER_USER_SQL)
        row = rel.top_event_per_user(spark, d).collect()[0]
        assert (row["top_type"], row["bottom_type"]) == ("d", "a")
    finally:
        con.close()


@pytest.mark.parametrize("rows", [
    [(1, _T, 1, "click", None, None),
     (2, _T, 2, "purchase", None, None)],
    [(1, _T, 1, "purchase", 3.0, None)],
], ids=["all_null_scores", "single_row"])
def test_degenerate_score_tables_stay_cross_engine_green(
        spark, tmp_path_factory, rows):
    """Two curve-collapse extremes the seeded sweep can't reliably hit:
    every score NULL (the compacted table is one NULL-keyed group —
    the curve is that single point plus synthetic endpoints) and a
    single positive row (tot_neg = 0 exercises every x/0 convention at
    once). Both engines must agree on the whole battery, including the
    AUC trapezoids over near-empty curves."""
    d, con = _events_fixture(spark, tmp_path_factory, "degen_scores",
                             rows)
    try:
        for query, sql in [
            (eq.gains_curve, eq.GAINS_CURVE_SQL),
            (eq.roc_curve, eq.ROC_CURVE_SQL),
            (eq.lift_curve, eq.LIFT_CURVE_SQL),
            (eq.auc_metrics, eq.AUC_METRICS_SQL),
            (eq.roc_curve_binned, eq.ROC_CURVE_BINNED_SQL),
            (eq.precision_by_threshold, eq.PRECISION_BY_THRESHOLD_SQL),
            (eq.recall_by_threshold, eq.RECALL_BY_THRESHOLD_SQL),
            (eq.f_measure_by_threshold, eq.F_MEASURE_BY_THRESHOLD_SQL),
            (eq.score_thresholds, eq.SCORE_THRESHOLDS_SQL),
        ]:
            compare_to_oracle(query(spark, d), con, sql)
    finally:
        con.close()


@pytest.mark.parametrize("seed", fuzz_seeds(19, 53),
                         ids=lambda s: f"seed{s}")
def test_randomized_docs_assembly_parity(spark, tmp_path_factory, seed):
    """The corpus-assembly family (hash splits, sequence packing,
    source caps/temperature, top-fraction, per-source sampling, length
    batches) over seeded hostile documents: NULL text/lang/source,
    empty and 300-char-token texts, duplicated doc_ids, and one
    single-doc source. The family's math is deterministic hashing and
    prefix sums — exactly the kind that desyncs cross-engine on an
    input class nobody hand-picked."""
    import random
    rng = random.Random(seed)
    pieces = ["hello", "world", "the", "é", "漢字", "😀", "a" * 300, "",
              "Mr. X", "3.14", "dogs!"]
    rows = []
    for i in range(90):
        text = (None if rng.random() < 0.12 else
                " ".join(rng.choice(pieces)
                         for _ in range(rng.randrange(0, 25))))
        src = (None if rng.random() < 0.1
               else rng.choice(["web", "forum", "wiki"]))
        lang = (None if rng.random() < 0.15
                else rng.choice(["en", "de", "fr"]))
        rows.append((i, text, lang, src,
                     None if text is None else len(text)))
        if rng.random() < 0.05:
            rows.append(rows[-1])                 # duplicated doc_id
    rows.append((9001, "lonely source", "en", "gopher", 13))
    d = str(tmp_path_factory.mktemp(f"randasm{seed}"))
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, "
              "n_chars long")
    df.coalesce(1).write.mode("overwrite").parquet(f"{d}/documents.parquet")
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM "
                f"'{d}/documents.parquet/*.parquet'")
    lq = _lq()
    try:
        for qname, sqlname in [
            ("train_test_split", "TRAIN_TEST_SPLIT_SQL"),
            ("sequence_packing", "SEQUENCE_PACKING_SQL"),
            ("source_capped_corpus", "SOURCE_CAPPED_CORPUS_SQL"),
            ("source_temperature_mix", "SOURCE_TEMPERATURE_MIX_SQL"),
            ("quality_top_fraction", "QUALITY_TOP_FRACTION_SQL"),
            ("doc_sample_k", "DOC_SAMPLE_K_SQL"),
            ("length_batches", "LENGTH_BATCHES_SQL"),
        ]:
            compare_to_oracle(getattr(lq, qname)(spark, d), con,
                              getattr(lq, sqlname))
    finally:
        con.close()


@pytest.mark.parametrize("seed", fuzz_seeds(61, 73),
                         ids=lambda s: f"seed{s}")
def test_randomized_media_payload_parity(spark, tmp_path_factory, seed):
    """The multimodal byte-handling family (attach→sniff, byte stats,
    the full attach→decode→resize→frame-sample pipeline) over seeded
    hostile documents: NULL/empty texts, texts whose PLAIN ASCII
    happens to start with a container magic (GIF8/RIFF/ID3/fLaC — the
    sniff must classify a bare payload from its bytes, wherever they
    came from), astral emoji and combining marks (UTF-8 multibyte
    prefixes through substring/hex), 10k-char payloads, duplicated
    doc_ids, NULL sources, and NEGATIVE + int64-extreme doc_ids (the
    r11 find: element_at(arr, doc_id % 5 + 1) counts from the END for
    Spark's sign-preserving negative remainders while the oracle CASE
    falls through to the bare class — pmod on both engines now)."""
    import random
    rng = random.Random(seed)
    magic_texts = ["GIF89a not an image", "RIFF$WAVEfmt", "ID3v2 tag",
                   "fLaC stream", "\x89PNG looks binary but is text"]
    pieces = ["hello", "é", "漢字", "😀🎉", "á̂", "x" * 10000,
              "Mr. X", "", "\t\n"]
    rows = []
    ids = list(range(-40, 0)) + list(range(1, 41)) + [
        2**62, 2**62 + 3, -(2**61)]
    rng.shuffle(ids)
    for i in ids:
        r = rng.random()
        if r < 0.08:
            text = None
        elif r < 0.16:
            text = ""
        elif r < 0.30:
            text = rng.choice(magic_texts)
        else:
            text = " ".join(rng.choice(pieces)
                            for _ in range(rng.randrange(0, 8)))
        src = None if rng.random() < 0.1 else rng.choice(
            ["web", "wiki", "forum"])
        rows.append((i, text, "en", src,
                     None if text is None else len(text)))
        if rng.random() < 0.05:
            rows.append(rows[-1])                 # duplicated doc_id
    d = str(tmp_path_factory.mktemp(f"randmedia{seed}"))
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, "
              "n_chars long")
    df.coalesce(1).write.mode("overwrite").parquet(f"{d}/documents.parquet")
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM "
                f"'{d}/documents.parquet/*.parquet'")
    lq = _lq()
    try:
        for qname, sqlname in [
            ("media_byte_stats", "MEDIA_BYTE_STATS_SQL"),
            ("media_sniff_formats", "MEDIA_SNIFF_FORMATS_SQL"),
            ("media_pipeline", "MEDIA_PIPELINE_SQL"),
        ]:
            compare_to_oracle(getattr(lq, qname)(spark, d), con,
                              getattr(lq, sqlname))
    finally:
        con.close()


@pytest.fixture(scope="module")
def constant_value_sf(spark, tmp_path_factory):
    """r8 advice scenario: a constant value of 2999.999999 (vq =
    2999999999, inside the documented |value| ≤ ~3e3 lattice domain)
    repeated 25× makes the cancellation form svv − sv²/n land at
    −32768.0 in doubles — Spark sqrt(neg) returns NaN while DuckDB
    sqrt(neg) RAISES, so an unclamped oracle hard-crashes where the
    engine silently emits NaN."""
    return _events_fixture(
        spark, tmp_path_factory, "constval",
        [(i, _T, i, "click", 2999.999999, '{"k": %d}' % (i % 3))
         for i in range(1, 26)])


def test_constant_value_sd_zero_cross_engine(spark, constant_value_sf):
    """greatest(var, 0) before the sqrt on BOTH engines pins the
    zero-variance group to sd=0.0/var=0.0 instead of NaN-vs-crash."""
    d, con = constant_value_sf
    try:
        compare_to_oracle(rel.value_statistics(spark, d), con,
                          rel.VALUE_STATISTICS_SQL)
        row = rel.value_statistics(spark, d).collect()[0]
        assert row["sd_value"] == 0.0
        assert row["var_value"] == 0.0
        assert row["corr_vk"] is None  # vden ≤ 0 pins corr to NULL
    finally:
        con.close()


def test_lattice_domain_overflow_raises_named_error(spark,
                                                    tmp_path_factory):
    """|value| past ~3037.0005 would wrap the per-row vq*vq LONG
    multiply under non-ANSI Spark (DuckDB computes exactly in HUGEINT
    — a silent cross-engine divergence). The max-abs guard riding the
    moment aggregate must fail loudly on every Spark config instead."""
    d, con = _events_fixture(
        spark, tmp_path_factory, "hugeval",
        [(1, _T, 1, "click", 5000.0, None),
         (2, _T, 2, "click", 5.0, None)])
    con.close()
    # ANSI sessions (the Spark 4 default) fail at the multiply itself —
    # also loud, either error is acceptable there
    with pytest.raises(Exception,
                       match="lattice domain|ARITHMETIC_OVERFLOW"):
        rel.value_statistics(spark, d).collect()
    # non-ANSI (the Spark 3.x default) silently WRAPS the multiply —
    # there the riding max-abs guard is the ONLY loud path
    prev = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try:
        with pytest.raises(Exception, match="lattice domain"):
            rel.value_statistics(spark, d).collect()
    finally:
        spark.conf.set("spark.sql.ansi.enabled", prev)


@pytest.mark.parametrize("seed", fuzz_seeds(17, 29),
                         ids=lambda s: f"seed{s}")
def test_randomized_unicode_event_keys_parity(spark, tmp_path_factory,
                                              seed):
    """Seeded events whose EVENT_TYPE keys are hostile strings — CJK,
    emoji, combining accents, 300-char tokens, empty/whitespace, and
    keys containing the gather oracle's own serialization delimiters
    ('|' joins the array, ':' splits key from value) — plus NULL keys,
    exact-duplicate and 1µs-apart timestamps, and NULL values. The
    unicode-docs sweep covers text CONTENT; this covers GROUPING KEYS,
    where the cross-engine contracts are different: array_sort vs
    list_sort byte order on multi-byte strings, '%.4f' serialization
    around delimiter-bearing keys, indexer dictionaries over
     300-char labels, and tie-breaks at microsecond resolution."""
    import random
    rng = random.Random(seed)
    # "purchase" stays in the pool: it is the downsampling fit's
    # primary class (absent → the fit raises by contract, which is
    # covered elsewhere — this sweep wants the unicode-secondary path)
    types = ["click", "Click", "", " ", "é", "漢字", "😀",
             "type|pipe", "type:colon", "a" * 300, "тест", "purchase",
             None]
    rows = []
    base = datetime.datetime(2024, 3, 1, 0, 0, 0)
    for i in range(120):
        ts = base + datetime.timedelta(
            hours=rng.randrange(0, 200),
            microseconds=rng.choice([0, 0, 1, 2]))
        if rng.random() < 0.06:
            ts = None
        rows.append((
            i, ts,
            None if rng.random() < 0.08 else rng.randrange(0, 12),
            rng.choice(types),
            None if rng.random() < 0.1
            else round(rng.uniform(-50, 50), 4),
            None if rng.random() < 0.5 else '{"k": %d}' % i))
        if rng.random() < 0.08:
            rows.append(rows[-1])   # exact-duplicate row (ts tie)
    d = str(tmp_path_factory.mktemp(f"uniev{seed}"))
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp_ntz, user_id long, "
              "event_type string, value double, props string")
    df.coalesce(1).write.mode("overwrite").parquet(f"{d}/events.parquet")
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM "
                f"'{d}/events.parquet/*.parquet'")
    from spark_ext_spark.plans import gather_queries as gq
    try:
        for query, sql in [
            (gq.gather_user_events, gq.GATHER_USER_EVENTS_SQL),
            (gq.gather_user_events_flat, gq.GATHER_USER_EVENTS_FLAT_SQL),
            (gq.gather_user_event_counts,
             gq.GATHER_USER_EVENT_COUNTS_SQL),
            (rel.user_event_types, rel.USER_EVENT_TYPES_SQL),
            (rel.user_distinct_event_types,
             rel.USER_DISTINCT_EVENT_TYPES_SQL),
            (fq.gather_encoder_top, fq.GATHER_ENCODER_TOP_SQL),
            (fq.gather_encoder_index, fq.GATHER_ENCODER_INDEX_SQL),
            (fq.string_indexer, fq.STRING_INDEXER_SQL),
            (fq.downsampling_hash, fq.DOWNSAMPLING_HASH_SQL),
            (rel.event_sessions, rel.EVENT_SESSIONS_SQL),
            (rel.top_event_per_user, rel.TOP_EVENT_PER_USER_SQL),
            (rel.daily_active_users, rel.DAILY_ACTIVE_USERS_SQL),
            (rel.hourly_rollup, rel.HOURLY_ROLLUP_SQL),
            (rel.moving_avg_7d, rel.MOVING_AVG_7D_SQL),
            (rel.kmv_user_stats, rel.KMV_USER_STATS_SQL),
            (rel.theta_user_rollup, rel.THETA_USER_ROLLUP_SQL),
            (rel.stratified_sample_events,
             rel.STRATIFIED_SAMPLE_EVENTS_SQL),
            (rel.distinct_user_event_pairs,
             rel.DISTINCT_USER_EVENT_PAIRS_SQL),
            (rel.value_statistics, rel.VALUE_STATISTICS_SQL),
        ]:
            compare_to_oracle(query(spark, d), con, sql)
    finally:
        con.close()


def test_hourly_grid_explosion_raises_named_error(spark,
                                                  tmp_path_factory):
    """One corrupt far-future timestamp must not silently hand the
    gap-fill family a multi-decade dense grid (70M synthetic rows per
    window partition from a single year-9999 row at 100 TB) — the
    shared grid builder checks the span on its single bounds row and
    fails by name. In-domain spans and empty inputs are untouched
    (the zero-row sweep pins the empty contract)."""
    d, con = _events_fixture(
        spark, tmp_path_factory, "farfuture",
        [(1, _T, 1, "click", 1.0, None),
         (2, datetime.datetime(2299, 12, 31, 23, 0), 2, "view", 2.0,
          None)])
    con.close()
    for q in (rel.hourly_gapfill, rel.hourly_interpolate):
        with pytest.raises(Exception, match="hourly grid would span"):
            q(spark, d).collect()


def test_lattice_domain_guard_boundary(spark, tmp_path_factory):
    """Exact threshold pin: vq = 3037000498 (value 3037.000498) is the
    last admitted lattice point — the query runs; one lattice step up
    (vq = 3037000499 = floor(sqrt(2^63)), whose square still fits but
    which the guard conservatively rejects by one value) raises under
    non-ANSI, where the guard is the only loud path."""
    d_ok, con = _events_fixture(
        spark, tmp_path_factory, "latticeok",
        [(1, _T, 1, "ok", 3037.000498, None),
         (2, _T, 2, "ok", 1.0, None)])
    con.close()
    d_hot, con = _events_fixture(
        spark, tmp_path_factory, "latticehot",
        [(3, _T, 3, "hot", 3037.000499, None),
         (4, _T, 4, "hot", 1.0, None)])
    con.close()
    prev = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try:
        rows = rel.value_statistics(spark, d_ok).collect()  # admitted
        assert rows[0]["sd_value"] is not None
        with pytest.raises(Exception, match="lattice domain"):
            rel.value_statistics(spark, d_hot).collect()
    finally:
        spark.conf.set("spark.sql.ansi.enabled", prev)


def test_nonfinite_value_contracts_cross_engine(spark,
                                                tmp_path_factory):
    """NaN/±Infinity event values (the NaN-probe findings, round 10):

    - gather serialization pins Java's non-finite tokens (NaN,
      Infinity, -Infinity) on both engines — DuckDB printf's
      'nan'/'inf' silently hash-split the string encoding;
    - value_robust_stats treats NaN as MISSING on both engines —
      Spark's median orders NaN largest while DuckDB's median/mad
      PROPAGATE it (silent value divergence);
    - moving_avg_7d fails loudly on BOTH engines — non-ANSI Spark
      casts NaN→0 and clamps ±Inf into the integer lattice silently
      where DuckDB raises on the same cast."""
    rows = []
    for i in range(60):
        v = float(i % 30) / 3.0
        if i % 11 == 0:
            v = float("nan")
        if i % 17 == 0:
            v = float("inf") if i % 2 else float("-inf")
        rows.append((i, _T + datetime.timedelta(hours=i % 20), i % 5,
                     ["click", "view", "purchase"][i % 3], v,
                     '{"k": %d}' % i))
    d, con = _events_fixture(spark, tmp_path_factory, "nonfinite", rows)
    from spark_ext_spark.plans import gather_queries as gq
    try:
        compare_to_oracle(gq.gather_user_events(spark, d), con,
                          gq.GATHER_USER_EVENTS_SQL)
        compare_to_oracle(gq.gather_user_events_flat(spark, d), con,
                          gq.GATHER_USER_EVENTS_FLAT_SQL)
        compare_to_oracle(rel.value_robust_stats(spark, d), con,
                          rel.VALUE_ROBUST_STATS_SQL)
        with pytest.raises(Exception, match="NaN or .value."):
            rel.moving_avg_7d(spark, d).collect()
        with pytest.raises(Exception):
            con.execute(rel.MOVING_AVG_7D_SQL).fetchall()
    finally:
        con.close()


def test_nonfinite_embeddings_fail_by_name(spark, tmp_path_factory):
    """One NaN/Inf embedding component silently poisons similarity
    scores, LSH sign buckets, IVF cells, and quantization scales —
    and NaN ordering differs across engines, so the corruption is a
    silent cross-engine divergence (round-10 NaN sweep). Every search
    entry point must fail by the _finite_vec name instead, on exact
    AND approximate paths."""
    import numpy as np
    from spark_ext_spark.llm import similarity as sim
    rng = np.random.default_rng(7)
    rows = [(i, rng.standard_normal(8).tolist()) for i in range(1, 20)]
    bad = rng.standard_normal(8).tolist()
    bad[3] = float("nan")
    rows.append((20, bad))
    inf_v = rng.standard_normal(8).tolist()
    inf_v[0] = float("inf")
    rows.append((21, inf_v))
    null_el = rng.standard_normal(8).tolist()
    null_el[5] = None   # NULL ELEMENT: three-valued exists would have
    rows.append((22, null_el))  # let it through to become GEMM NaN
    df = spark.createDataFrame(rows,
                               "vec_id long, embedding array<double>")
    for entry in (
        lambda: sim.cosine_topk(df, df, k=2).collect(),
        lambda: sim.lsh_topk(df, k=2).collect(),
        lambda: sim.ivf_topk_deterministic(
            df, k=2, n_centroids=4).collect(),
        lambda: sim.embedding_near_dups(df, method="exact").collect(),
        lambda: sim.quantize_embeddings(df).collect(),
        lambda: sim.quantize_embeddings(df, method="expr").collect(),
    ):
        with pytest.raises(Exception,
                           match="non-finite or NULL embedding"):
            entry()


def test_ragged_dim_embeddings_fail_by_name(spark):
    """A wrong-length vector NULL-pads the zip_with folds, so LSH sign
    bits and IVF cell distances come out as valid-looking WRONG
    answers (silently, unless the ragged rows happen to share a GEMM
    group — where _role_split_gemm already named the defect). Every entry point with a dim literal (or an
    inferrable one) must reject per-row by name instead."""
    import numpy as np
    from spark_ext_spark.llm import similarity as sim
    rng = np.random.default_rng(5)
    rows = [(i, rng.standard_normal(64).tolist()) for i in range(1, 20)]
    rows.append((20, rng.standard_normal(32).tolist()))
    df = spark.createDataFrame(rows,
                               "vec_id long, embedding array<double>")
    for entry in (
        lambda: sim.lsh_topk(df, k=2).collect(),
        lambda: sim.ivf_topk_deterministic(
            df, k=2, n_centroids=4).collect(),
        lambda: sim.embedding_near_dups(df, method="lsh").collect(),
    ):
        with pytest.raises(Exception,
                           match="dimensionality differs"):
            entry()
    # the GEMM paths name the same defect via the in-group check
    for entry in (
        lambda: sim.cosine_topk(df, df, k=2).collect(),
        lambda: sim.embedding_near_dups(df, method="exact").collect(),
    ):
        with pytest.raises(Exception, match="mixed dimensionality"):
            entry()
    # an EMPTY (or all-null-embedding) corpus has no dim and nothing
    # to mis-rank: the result is empty, not a plan-build error
    from pyspark.sql import functions as F
    empty = df.filter(F.col("vec_id") < 0)
    ok = df.filter(F.col("vec_id") <= 5)
    assert sim.cosine_topk(ok, empty, k=2).count() == 0


def test_nonfinite_tpch_value_contracts_cross_engine(spark,
                                                     tmp_path_factory):
    """NaN/±Inf in the lineitem/customer money columns (round-10 NaN
    sweep): the lattice-average family (pricing_summary,
    acctbal_deciles, tpch_q22) fails by name on Spark where the DuckDB
    oracle raises on the same cast — loud on both engines — while
    binning (NaN = outside every bin → NULL), price_percentiles
    (NaN = missing), table_profile and lineitem_expectations (Java
    non-finite tokens pinned in the oracle) stay hash-green."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    src = "/root/testdata/sf0.001"
    d = str(tmp_path_factory.mktemp("nonfinite_tpch"))

    def inject(table, cols):
        t = pq.read_table(f"{src}/{table}.parquet")
        rows = t.to_pylist()
        for i, r in enumerate(rows):
            for c in cols:
                if i % 13 == 0:
                    r[c] = float("nan")
                elif i % 29 == 0:
                    r[c] = float("inf")
                elif i % 31 == 0:
                    r[c] = float("-inf")
                elif i % 37 == 0:
                    r[c] = None   # NULL alongside non-finite: pins the
                    # binning oracle's NULL-input branch (Spark's
                    # when-chain yields a NULL bin, a bare ELSE would
                    # sweep NULL into the top bin)
        pq.write_table(pa.Table.from_pylist(rows, schema=t.schema),
                       f"{d}/{table}.parquet")

    inject("lineitem", ["l_quantity", "l_extendedprice", "l_discount"])
    inject("customer", ["c_acctbal"])
    for t in ("orders", "nation", "region", "supplier", "part"):
        pq.write_table(pq.read_table(f"{src}/{t}.parquet"),
                       f"{d}/{t}.parquet")
    con = duckdb.connect()
    for t in ("lineitem", "customer", "orders", "nation", "region",
              "supplier", "part"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{d}/{t}.parquet'")
    from spark_ext_spark.plans import feature_queries as fq
    from spark_ext_spark.plans import tpch
    try:
        for query, sql in [
            (fq.binning_quantity, fq.BINNING_QUANTITY_SQL),
            (rel.price_percentiles, rel.PRICE_PERCENTILES_SQL),
            (rel.table_profile, rel.TABLE_PROFILE_SQL),
            (rel.lineitem_expectations, rel.LINEITEM_EXPECTATIONS_SQL),
        ]:
            compare_to_oracle(query(spark, d), con, sql)
        for query, sql, pat in [
            (rel.pricing_summary, rel.PRICING_SUMMARY_SQL,
             "lattice average"),
            (rel.acctbal_deciles, rel.ACCTBAL_DECILES_SQL,
             "lattice average"),
            (tpch.idle_rich_customers, tpch.IDLE_RICH_CUSTOMERS_SQL,
             "NaN or .c_acctbal."),
        ]:
            with pytest.raises(Exception, match=pat):
                query(spark, d).collect()
            with pytest.raises(Exception):
                con.execute(sql).fetchall()
    finally:
        con.close()


def test_lattice_guard_catches_nonfinite_values(spark,
                                                tmp_path_factory):
    """A NaN value casts to 0 under the non-ANSI double→long cast —
    invisible to the min/max witnesses — while the DuckDB oracle
    raises on CAST(nan AS BIGINT): one NaN row would silently fold
    into Spark's moments as a zero where the oracle errors. The NaN
    witness must fail loudly on every config; ±Infinity clamps to
    Long.Min/Max and the clamp witnesses catch it."""
    for tag, val in (("nanval", float("nan")),
                     ("posinf", float("inf")),
                     ("neginf", float("-inf"))):
        d, con = _events_fixture(
            spark, tmp_path_factory, tag,
            [(1, _T, 1, "click", val, '{"k": 1}'),
             (2, _T, 2, "click", 5.0, '{"k": 2}')])
        # the oracle is loud on non-finite input too — the pair can
        # never silently diverge
        with pytest.raises(Exception):
            con.execute(rel.VALUE_STATISTICS_SQL).fetchall()
        con.close()
        # ANSI sessions may fail at the cast itself — also loud
        with pytest.raises(Exception,
                           match="lattice domain|CAST_INVALID_INPUT|"
                                 "ARITHMETIC|cast"):
            rel.value_statistics(spark, d).collect()
        # non-ANSI silently folds NaN to 0 / clamps Infinity — the
        # witnesses are the only loud path there
        prev = spark.conf.get("spark.sql.ansi.enabled")
        spark.conf.set("spark.sql.ansi.enabled", "false")
        try:
            with pytest.raises(Exception, match="lattice domain"):
                rel.value_statistics(spark, d).collect()
        finally:
            spark.conf.set("spark.sql.ansi.enabled", prev)


def test_lattice_guard_survives_long_clamp_extreme(spark,
                                                   tmp_path_factory):
    """r9 advice: under non-ANSI Spark a value like -1e19 clamps the
    double→long cast to Long.MinValue, whose abs() WRAPS NEGATIVE — a
    max(abs) witness would slip under the >= LIM check and the query
    silently returned sd_value=0.0 while the DuckDB oracle raised on
    the out-of-range cast. The max/min witnesses cannot wrap: both
    clamp directions must fail by name."""
    for tag, extreme in (("negclamp", -1e19), ("posclamp", 1e19)):
        d, con = _events_fixture(
            spark, tmp_path_factory, tag,
            [(1, _T, 1, "click", extreme, None),
             (2, _T, 2, "click", 5.0, None)])
        con.close()
        prev = spark.conf.get("spark.sql.ansi.enabled")
        spark.conf.set("spark.sql.ansi.enabled", "false")
        try:
            with pytest.raises(Exception, match="lattice domain"):
                rel.value_statistics(spark, d).collect()
        finally:
            spark.conf.set("spark.sql.ansi.enabled", prev)


def test_lattice_guard_rides_every_stat_column(spark,
                                               tmp_path_factory):
    """r9 advice: the raise_error branch used to ride only sd_value, so
    a downstream projection pruning sd_value dropped the overflow check
    and returned wrapped values for the surviving columns. Each stat
    column now carries the guard: a subset projection must still fail
    by name on out-of-domain input."""
    d, con = _events_fixture(
        spark, tmp_path_factory, "prunedguard",
        [(1, _T, 1, "click", 5000.0, '{"k": 1}'),
         (2, _T, 2, "click", 5.0, '{"k": 2}')])
    con.close()
    prev = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try:
        for col in ("var_value", "corr_vk", "covar_vk"):
            pruned = rel.value_statistics(spark, d).select(
                "event_type", col)
            with pytest.raises(Exception, match="lattice domain"):
                pruned.collect()
    finally:
        spark.conf.set("spark.sql.ansi.enabled", prev)


def test_range_join_bucket_cap_boundary(spark):
    """Exact threshold pin for the fan-out guard: an interval of
    max_buckets_per_interval-1 buckets is admitted, one more raises."""
    from spark_ext_spark.operators.range_join import range_join
    from pyspark.sql import functions as F
    left = spark.createDataFrame(
        [(1, "2024-01-01 00:00:00")],
        "event_id long, ets string").withColumn(
        "ets", F.to_timestamp("ets"))

    def right_spanning(n_buckets, width=3600):
        return spark.createDataFrame(
            [(10, "2024-01-01 00:00:00")],
            "win_id long, ws string") \
            .withColumn("ws", F.to_timestamp("ws")) \
            .withColumn("we", F.expr(
                f"ws + INTERVAL {n_buckets * width} SECONDS"))

    ok = range_join(left, right_spanning(9), "ets", "ws", "we",
                    bucket_width_seconds=3600,
                    max_buckets_per_interval=10)
    assert ok.count() == 1          # 9 buckets < cap 10: admitted
    with pytest.raises(Exception,
                       match="max_buckets_per_interval .10. or more"):
        range_join(left, right_spanning(10), "ets", "ws", "we",
                   bucket_width_seconds=3600,
                   max_buckets_per_interval=10).collect()


# --- round-12 sweep rotation: deterministic sketches + validation ----

HOSTILE_SKETCH_KEYS = [
    "", " ", "\t", "0", "-0", "00", "null", "NULL", "None",
    "naïve", "Ünïcode", "ß", "ẞ", "é", "é",
    "￿", "", "\U0001F600", "\U0001F680rocket",
    "\U0001D56Cstral", "\U0010FFFF",
    "a" * 5000, "'; DROP TABLE x; --", 'he said "hi"',
    "back\\slash", "tab\tsep", "line\nbreak", "\U0001F600￿ mix",
]
HOSTILE_SKETCH_GROUPS = ["g1", "", "naïve", "\U0001F600", None]


def _sketch_fixture(spark, tmp_path_factory, seed, n=300):
    import random
    rng = random.Random(seed)
    rows = [(i, rng.choice(HOSTILE_SKETCH_GROUPS),
             rng.choice(HOSTILE_SKETCH_KEYS + [None] * 5))
            for i in range(n)]
    d = str(tmp_path_factory.mktemp(f"sketch{seed}"))
    df = spark.createDataFrame(rows, "id long, grp string, key string")
    df.coalesce(2).write.mode("overwrite").parquet(f"{d}/t.parquet")
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW t AS SELECT * FROM '{d}/t.parquet/*.parquet'")
    return spark.read.parquet(f"{d}/t.parquet"), con


def _kmv_oracle(k, grouped):
    grp_sel = "grp, " if grouped else ""
    grp_by = "GROUP BY grp" if grouped else ""
    part = "PARTITION BY grp" if grouped else ""
    two60 = float(1 << 60)
    return f"""
WITH d AS (
  SELECT DISTINCT {grp_sel}
         ('0x' || substring(md5(key || 's'), 1, 15))::BIGINT AS h
  FROM t WHERE key IS NOT NULL
), r AS (
  SELECT {grp_sel} h,
         row_number() OVER ({part} ORDER BY h) AS rn FROM d
)
SELECT {grp_sel} CAST(count(*) AS BIGINT) AS k_eff, max(h) AS kth_hash,
       round(CASE WHEN count(*) < {k} THEN CAST(count(*) AS DOUBLE)
                  ELSE {float(k - 1)} * {two60}
                       / CAST(max(h) AS DOUBLE) END, 4) AS distinct_est
FROM r WHERE rn <= {k} {grp_by}
"""


def _theta_oracle(p, th, grouped):
    if grouped:
        return f"""
WITH nn AS (SELECT grp, key FROM t WHERE key IS NOT NULL),
kept AS (
  SELECT DISTINCT grp,
         ('0x' || substring(md5(key || 's'), 1, 15))::BIGINT AS h
  FROM nn
  WHERE ('0x' || substring(md5(key || 's'), 1, 15))::BIGINT < {th}
), agg AS (
  SELECT grp, CAST(count(*) AS BIGINT) AS n_kept FROM kept GROUP BY grp
), groups AS (SELECT DISTINCT grp FROM nn)
SELECT g.grp, COALESCE(a.n_kept, 0) AS n_kept,
       round(CAST(COALESCE(a.n_kept, 0) AS DOUBLE) / {p!r}, 4)
           AS distinct_est
FROM groups g LEFT JOIN agg a ON g.grp IS NOT DISTINCT FROM a.grp
"""
    return f"""
WITH kept AS (
  SELECT DISTINCT
         ('0x' || substring(md5(key || 's'), 1, 15))::BIGINT AS h
  FROM t WHERE key IS NOT NULL
    AND ('0x' || substring(md5(key || 's'), 1, 15))::BIGINT < {th}
)
SELECT CAST(count(*) AS BIGINT) AS n_kept,
       round(CAST(count(*) AS DOUBLE) / {p!r}, 4) AS distinct_est
FROM kept
"""


@pytest.mark.parametrize("seed", fuzz_seeds(4242, 577),
                         ids=lambda s: f"seed{s}")
def test_randomized_sketch_hostile_keys_parity(spark, tmp_path_factory,
                                               seed):
    """KMV and fixed-threshold theta over seeded hostile string keys:
    empty/whitespace keys, composed-vs-decomposed unicode, astral and
    noncharacter code points, 5k-char keys, quote/backslash injection
    shapes, NULL keys, NULL and unicode GROUPS — at boundary sketch
    parameters (k=2 minimum, k=64; p=1.0 keeps everything, p=2^-20
    keeps almost nothing, so empty kept sets per group are exercised).
    The family's first run caught theta_distinct's group join-back
    dropping the NULL group's kept count (null-unsafe equi-join) —
    fixed with eqNullSafe keys; the oracle replays with IS NOT
    DISTINCT FROM."""
    from spark_ext_spark.operators.sketches import (kmv_distinct,
                                                    theta_distinct,
                                                    theta_threshold)
    t, con = _sketch_fixture(spark, tmp_path_factory, seed)
    try:
        for k in (2, 64):
            compare_to_oracle(
                kmv_distinct(t, "key", ["grp"], k=k, salt="s"),
                con, _kmv_oracle(k, True))
            compare_to_oracle(
                kmv_distinct(t, "key", None, k=k, salt="s"),
                con, _kmv_oracle(k, False))
        for p in (1.0, 2.0 ** -20):
            th = theta_threshold(p)
            compare_to_oracle(
                theta_distinct(t, "key", ["grp"], p=p, salt="s"),
                con, _theta_oracle(p, th, True))
            compare_to_oracle(
                theta_distinct(t, "key", None, p=p, salt="s"),
                con, _theta_oracle(p, th, False))
    finally:
        con.close()


def test_theta_null_group_keeps_its_kept_set(spark):
    """Minimal repro of the r12 sweep find: a NULL group's kept
    hashes live in the aggregate, but the join-back from the distinct
    group list used null-UNSAFE equality, so the NULL group reported
    n_kept=0 / est 0.0 while non-null groups were correct. At p=1.0
    every distinct key is kept, so the NULL group must report its
    exact distinct count."""
    from spark_ext_spark.operators.sketches import theta_distinct
    df = spark.createDataFrame(
        [(None, "a"), (None, "b"), (None, "b"), ("g", "c")],
        "grp string, key string")
    out = {r["grp"]: (r["n_kept"], r["distinct_est"])
           for r in theta_distinct(df, "key", ["grp"], p=1.0).collect()}
    assert out[None] == (2, 2.0)
    assert out["g"] == (1, 1.0)


# Doubles whose Java-17 rendering (Spark CAST AS STRING) this sweep
# pins cross-engine. Java's adjacent-distinguishing digits equal the
# shortest round-trip digits for every value here; the known
# non-shortest tail (e.g. 2e23 -> '1.9999999999999998E23', subnormal
# 5e-324 -> '4.9E-324') is EXCLUDED and recorded as engine-specific.
RENDER_VALS = [0.0, 1.5, 2.5e9, 1e7, 9999999.0, 1e16, 1.23e-7,
               9.99e-4, 123456.789012, -2.5e9,
               1.7976931348623157e308, 1.0e-4, 9007199254740992.0]


def _java_double_str(v: float) -> str:
    """Java-17 Double.toString for the RENDER_VALS subset: shortest
    repr digits reformatted under Java's plain-vs-scientific rule
    (plain iff 1e-3 <= |v| < 1e7, i.e. decimal exponent in [-3, 6])."""
    import math as _m
    from decimal import Decimal
    if _m.isnan(v):
        return "NaN"
    if _m.isinf(v):
        return "Infinity" if v > 0 else "-Infinity"
    if v == 0.0:
        return "-0.0" if _m.copysign(1.0, v) < 0 else "0.0"
    neg = v < 0
    d = Decimal(repr(abs(v)))
    _, digs, dexp = d.as_tuple()
    digs = list(digs)
    while len(digs) > 1 and digs[-1] == 0:
        digs.pop()
        dexp += 1
    e10 = dexp + len(digs) - 1
    ds = "".join(map(str, digs))
    if -3 <= e10 <= 6:
        if e10 >= 0:
            intp = ds[:e10 + 1].ljust(e10 + 1, "0")
            frac = ds[e10 + 1:] or "0"
        else:
            intp = "0"
            frac = "0" * (-e10 - 1) + ds
        s = f"{intp}.{frac}"
    else:
        s = ds[0] + "." + (ds[1:] or "0") + f"E{e10}"
    return ("-" if neg else "") + s


def _java_render_case(col: str) -> str:
    """DuckDB CASE replaying Spark's Java double rendering for every
    RENDER_VALS member (the fixture draws only from that pool)."""
    arms = "".join(
        f" WHEN {col} = {v!r} THEN '{_java_double_str(v)}'"
        for v in RENDER_VALS)
    return f"CASE{arms} ELSE NULL END"


@pytest.mark.parametrize("seed", fuzz_seeds(4243, 587),
                         ids=lambda s: f"seed{s}")
def test_randomized_profile_expectations_parity(spark, tmp_path_factory,
                                                seed):
    """profile_columns + check_expectations over hostile strings and
    SCIENTIFIC-RANGE doubles. Pins two contracts the clean testdata
    never touches: (1) string min/max under astral+BMP unicode mixes
    — Spark's UTF8String binary ordering equals DuckDB memcmp, so the
    stringified bounds agree byte-for-byte (probed clean r12); (2)
    stringified DOUBLE bounds DIVERGE between Java ('2.5E9') and
    DuckDB ('2500000000.0') outside the plain-notation range
    [1e-3, 1e7) — the oracle must replay Java's rendering (here via a
    CASE over the fixture's value pool; the committed driver profiles
    only stay green because their columns sit inside the plain
    range)."""
    import random
    rng = random.Random(seed)
    rows = [(i,
             rng.choice(HOSTILE_SKETCH_GROUPS),
             rng.choice(HOSTILE_SKETCH_KEYS + [None] * 5),
             rng.choice(RENDER_VALS + [None] * 2))
            for i in range(300)]
    d = str(tmp_path_factory.mktemp(f"prof{seed}"))
    df = spark.createDataFrame(
        rows, "id long, grp string, key string, val double")
    df.coalesce(2).write.mode("overwrite").parquet(f"{d}/t.parquet")
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW t AS SELECT * FROM '{d}/t.parquet/*.parquet'")
    t = spark.read.parquet(f"{d}/t.parquet")
    from spark_ext_spark.operators.validation import (check_expectations,
                                                      profile_columns)
    mn_case = _java_render_case("mn")
    mx_case = _java_render_case("mx")
    prof_sql = f"""
WITH one AS (
  SELECT count(*) AS n,
         CAST(sum(CASE WHEN key IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS null_a,
         count(DISTINCT key) AS dist_a,
         min(key) AS min_a, max(key) AS max_a,
         CAST(sum(CASE WHEN val IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS null_b,
         count(DISTINCT val) AS dist_b,
         min(val) AS mn, max(val) AS mx
  FROM t
)
SELECT 'key' AS column, n AS n_rows, null_a AS n_null,
       round(CAST(null_a AS DOUBLE) / n, 6) AS null_rate,
       dist_a AS n_distinct, min_a AS min_value, max_a AS max_value
FROM one
UNION ALL
SELECT 'val', n, null_b, round(CAST(null_b AS DOUBLE) / n, 6),
       dist_b, {mn_case}, {mx_case} FROM one
"""
    exp_sql = f"""
WITH one AS (
  SELECT sum(CASE WHEN id IS NULL THEN 1 ELSE 0 END) AS nn,
         count(DISTINCT id) AS du, count(id) AS cu,
         min(val) AS mn, max(val) AS mx,
         sum(CASE WHEN grp NOT IN ('g1', '', 'naïve', '\U0001F600')
                   AND grp IS NOT NULL THEN 1 ELSE 0 END) AS os
  FROM t
)
SELECT 'id' AS column, 'not_null' AS rule, nn = 0 AS ok,
       CAST(nn AS VARCHAR) AS observed FROM one
UNION ALL
SELECT 'id', 'unique', du = cu, CAST(cu - du AS VARCHAR) FROM one
UNION ALL
SELECT 'val', 'min', COALESCE(mn >= -1.8e308, FALSE), {mn_case}
FROM one
UNION ALL
SELECT 'val', 'max', COALESCE(mx <= 1.8e308, FALSE), {mx_case}
FROM one
UNION ALL
SELECT 'grp', 'in_set[g1||naïve|\U0001F600]', os = 0,
       CAST(os AS VARCHAR) FROM one
"""
    try:
        compare_to_oracle(
            profile_columns(t, ["key", "val"], exact_distinct=True),
            con, prof_sql)
        compare_to_oracle(
            check_expectations(t, {
                "id": {"not_null": True, "unique": True},
                "val": {"min": -1.8e308, "max": 1.8e308},
                "grp": {"in_set": ["g1", "", "naïve", "\U0001F600"]},
            }),
            con, exp_sql)
    finally:
        con.close()
