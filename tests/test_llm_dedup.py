"""Dedup-family behavior tests: exact groups, Jaccard pairs, MinHash
LSH recall on engineered near-duplicates, SimHash Hamming blocking."""

from __future__ import annotations

import pytest

from spark_ext_spark.llm.dedup import (exact_duplicates,
                                       jaccard_similar_pairs,
                                       minhash_lsh_pairs,
                                       minhash_signatures, simhash,
                                       simhash_near_pairs, word_shingles)

BASE = ("the quick brown fox jumps over the lazy dog while the cat "
        "watches from the warm windowsill every single afternoon")
NEAR = BASE.replace("warm", "cold")  # one-word change
FAR = ("completely different content about distributed query engines "
       "processing petabytes of shuffle data with vectorized readers")

DOCS = [
    (1, BASE),
    (2, "  The   QUICK brown fox jumps over the lazy dog while the cat "
        "watches from the warm windowsill every single afternoon  "),  # exact after normalize
    (3, NEAR),
    (4, FAR),
    (5, BASE),  # exact dup of 1
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string").cache()


def test_exact_duplicates_groups(docs):
    groups = {r["canonical_id"]: r for r in
              exact_duplicates(docs, "doc_id", "text").collect()}
    assert groups[1]["n_members"] == 3
    assert groups[1]["member_ids"] == [1, 2, 5]
    assert groups[3]["n_members"] == 1
    assert groups[4]["n_members"] == 1


def test_word_shingles(spark):
    """One row per distinct shingle of the normalized words, each the
    xxhash64 of its word triple."""
    from pyspark.sql import functions as F
    df = spark.createDataFrame([(1, "A  b c\td a b c")],
                               "doc_id long, text string")
    got = sorted(r["shingle"]
                 for r in word_shingles(df, "doc_id", "text", 3).collect())
    triples = ["abc", "bcd", "cda", "dab"]
    want = spark.range(1).select(
        *[F.xxhash64(*map(F.lit, t)) for t in triples]).first()
    assert got == sorted(want)
    short = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
    assert word_shingles(short, "doc_id", "text", 3).count() == 0


def test_jaccard_pairs_find_near_dups(docs):
    pairs = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in
             jaccard_similar_pairs(docs, "doc_id", "text",
                                   threshold=0.3).collect()}
    assert pairs[(1, 2)] == 1.0 and pairs[(1, 5)] == 1.0  # exact dups
    assert 0.5 <= pairs[(1, 3)] < 1.0                      # near dup
    assert (1, 4) not in pairs and (3, 4) not in pairs     # unrelated


def test_minhash_signature_properties(docs):
    sigs = {r["doc"]: r["signature"] for r in
            minhash_signatures(docs, "doc_id", "text").collect()}
    assert sigs[1] == sigs[2] == sigs[5]   # identical shingle sets
    assert sigs[1] != sigs[4]
    agree = sum(a == b for a, b in zip(sigs[1], sigs[3])) / len(sigs[1])
    assert agree > 0.5                      # near dup mostly agrees


def test_minhash_lsh_finds_near_dups(docs):
    pairs = {(r["doc_a"], r["doc_b"]): r["jaccard_est"] for r in
             minhash_lsh_pairs(docs, "doc_id", "text",
                               threshold=0.5).collect()}
    assert pairs[(1, 2)] == 1.0 and pairs[(1, 5)] == 1.0
    assert (1, 3) in pairs                 # near dup above S-curve
    assert all(b != 4 and a != 4 for a, b in pairs)


def test_simhash_hamming(docs):
    hashes = {r["doc"]: r["simhash"] for r in
              simhash(docs, "doc_id", "text").collect()}
    assert hashes[1] == hashes[2] == hashes[5]
    ham_near = bin((hashes[1] ^ hashes[3]) & ((1 << 64) - 1)).count("1")
    ham_far = bin((hashes[1] ^ hashes[4]) & ((1 << 64) - 1)).count("1")
    assert ham_near < ham_far


def test_simhash_near_pairs(docs):
    pairs = {(r["doc_a"], r["doc_b"]): r["hamming"] for r in
             simhash_near_pairs(docs, "doc_id", "text",
                                max_hamming=8).collect()}
    assert pairs[(1, 2)] == 0 and pairs[(1, 5)] == 0 and pairs[(2, 5)] == 0
    assert all(4 not in p for p in pairs)


def test_short_and_empty_docs_never_pair(spark):
    """Docs below the shingle size (or empty) share no text evidence:
    the old all-zero MinHash sentinel made every short doc a 'perfect'
    LSH match of every other, and the 0 SimHash sentinel paired every
    empty doc at hamming 0."""
    rows = [(1, "red cat"), (2, "blue dog"), (3, ""), (4, None),
            (5, BASE), (6, BASE)]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    sigs = {r["doc"]: r["signature"] for r in
            minhash_signatures(df, "doc_id", "text", n=3).collect()}
    assert sigs[1] is None and sigs[3] is None and sigs[4] is None
    assert sigs[5] == sigs[6] and sigs[5] is not None

    mh = {(r["doc_a"], r["doc_b"]) for r in
          minhash_lsh_pairs(df, "doc_id", "text", n=3,
                            threshold=0.5).collect()}
    assert mh == {(5, 6)}

    sh = {r["doc"]: r["simhash"] for r in
          simhash(df, "doc_id", "text").collect()}
    assert sh[3] is None and sh[4] is None and sh[1] is not None

    sp = {(r["doc_a"], r["doc_b"]) for r in
          simhash_near_pairs(df, "doc_id", "text",
                             max_hamming=3).collect()}
    assert (3, 4) not in sp and (5, 6) in sp


def test_dedup_job_pins(spark, docs, count_jobs):
    """Spark jobs for plan build + collect() of the MinHash, SimHash
    and Jaccard pair producers on the 5-doc fixture — the latency
    floor of a small dedup. The pins equal the counts from before the
    UDFs read normalize_text. MinHash and SimHash cache their
    signature table with no handle to release it, so every count
    starts from a cleared cache."""
    runs = {
        "minhash_lsh_pairs": lambda: minhash_lsh_pairs(
            docs, "doc_id", "text").collect(),
        "simhash_near_pairs": lambda: simhash_near_pairs(
            docs, "doc_id", "text").collect(),
        "jaccard_similar_pairs": lambda: jaccard_similar_pairs(
            docs, "doc_id", "text").collect(),
    }

    def jobs(fn):
        spark.catalog.clearCache()
        docs.cache().count()   # materialized outside the count
        return count_jobs(fn)

    assert {name: jobs(fn) for name, fn in runs.items()} == {
        "minhash_lsh_pairs": 9, "simhash_near_pairs": 5,
        "jaccard_similar_pairs": 8}


def test_simhash_bands_full_recall_past_hamming_3(spark):
    """Engineered pair differing by 4 bits, one per 16-bit quarter:
    the fixed 4×16 banding shared NO band and silently dropped it;
    max_hamming+1 banding must recover it. Also pin the band spec
    invariants and the parameter validation."""
    from spark_ext_spark.llm.dedup import simhash_bands

    for mh in (0, 3, 8, 63):
        spec = simhash_bands(mh)
        assert len(spec) == mh + 1
        assert sum(w for _, w in spec) == 64
        offs = [s for s, _ in spec]
        assert offs == sorted(offs) and offs[0] == 0
    with pytest.raises(ValueError):
        simhash_bands(64)
    with pytest.raises(ValueError):
        simhash_bands(-1)

    # recall must equal brute force: near-dup variants of one base doc
    # produce pairs across the whole 0..~16 hamming range, so any band
    # spec that loses radius coverage shows up as a missing pair
    import itertools
    rng_words = BASE.split()
    rows = [(100 + i,
             " ".join(w if (j % 7) != (i % 7) or j // 7 != i // 3
                      else f"sub{i}_{j}" for j, w in enumerate(rng_words)))
            for i in range(24)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    hashes = {r["doc"]: r["simhash"] for r in
              simhash(df, "doc_id", "text").collect()}
    for mh in (5, 8):
        want = {}
        for a, b in itertools.combinations(sorted(hashes), 2):
            d = bin((hashes[a] ^ hashes[b]) & ((1 << 64) - 1)).count("1")
            if d <= mh:
                want[(a, b)] = d
        got = {(r["doc_a"], r["doc_b"]): r["hamming"] for r in
               simhash_near_pairs(df, "doc_id", "text",
                                  max_hamming=mh).collect()}
        assert got == want
        # the corpus must actually exercise radii past the old 4×16
        # guarantee for the mh=8 case to prove anything
        if mh == 8:
            assert any(d > 3 for d in want.values())


def test_containment_catches_subset_docs_jaccard_misses(spark):
    """A short doc fully quoted inside a much longer one: containment
    ~1.0, Jaccard tiny — the asymmetric case the op exists for."""
    from spark_ext_spark.llm.dedup import (containment_pairs,
                                           jaccard_similar_pairs)
    quote = "the quick brown fox jumps over the lazy dog again today"
    filler = " ".join(f"w{i} x{i} y{i}" for i in range(60))
    rows = [(1, quote), (2, quote + " " + filler), (3, filler[:50])]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    cont = {(r["doc_a"], r["doc_b"]): r["containment"]
            for r in containment_pairs(df, "doc_id", "text",
                                       threshold=0.9).collect()}
    assert cont.get((1, 2)) == 1.0  # every shingle of 1 is inside 2
    jac = {(r["doc_a"], r["doc_b"]): r["jaccard"]
           for r in jaccard_similar_pairs(df, "doc_id", "text",
                                          threshold=0.5).collect()}
    assert (1, 2) not in jac  # union dominated by the long doc


def test_reduction_from_labels_matches_standalone(spark):
    """Pipeline shape (VERDICT r4 #6): compute cluster labels ONCE and
    feed both the cluster table and the reduction report — must equal
    the standalone query that re-derives labels internally."""
    from spark_ext_spark.llm.clusters import duplicate_clusters
    from spark_ext_spark.llm.dedup import jaccard_similar_pairs
    from spark_ext_spark.plans.llm_queries import (
        dedup_reduction_from_labels, dedup_reduction_report, load)
    sf = "/root/testdata/sf0.001"
    docs = load(spark, sf, "documents")
    pairs = jaccard_similar_pairs(docs, "doc_id", "text", n=3,
                                  threshold=0.12, max_shingle_df=500)
    labels = duplicate_clusters(docs, "doc_id", pairs).cache()
    try:
        shared = {r["source"]: (r["n_docs"], r["n_kept"], r["kept_chars"],
                                r["reduction"])
                  for r in dedup_reduction_from_labels(docs,
                                                       labels).collect()}
        standalone = {r["source"]: (r["n_docs"], r["n_kept"],
                                    r["kept_chars"], r["reduction"])
                      for r in dedup_reduction_report(spark, sf).collect()}
        assert shared == standalone
        # the labels frame is reusable for the cluster table too
        assert labels.filter("is_canonical").count() \
            == sum(v[1] for v in shared.values())
    finally:
        labels.unpersist()


def test_blocked_pair_counts_core(spark):
    """Both overlap measures derive from the one shared candidate
    core: (shared, n_a, n_b) must reproduce each measure exactly."""
    from spark_ext_spark.llm.dedup import (blocked_pair_counts,
                                           containment_pairs,
                                           jaccard_similar_pairs)
    docs = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog"),
         (2, "the quick brown fox jumps over the lazy cat"),
         (3, "the quick brown fox"),
         (4, "completely different text with other words entirely")],
        "doc_id long, text string")
    pc = {(r["doc_a"], r["doc_b"]): (r["shared"], r["n_a"], r["n_b"])
          for r in blocked_pair_counts(docs, "doc_id", "text",
                                       n=3).collect()}
    jac = {(r["doc_a"], r["doc_b"]): r["jaccard"]
           for r in jaccard_similar_pairs(docs, "doc_id", "text", n=3,
                                          threshold=0.0).collect()}
    con = {(r["doc_a"], r["doc_b"]): r["containment"]
           for r in containment_pairs(docs, "doc_id", "text", n=3,
                                      threshold=0.0).collect()}
    assert set(jac) == set(pc) and set(con) == set(pc)
    for key, (s, na, nb) in pc.items():
        assert jac[key] == round(s / (na + nb - s), 4)
        assert con[key] == round(s / min(na, nb), 4)
    # doc 3 is a strict subset of 1 and 2: containment 1.0, jaccard low
    assert con[(1, 3)] == 1.0 and jac[(1, 3)] < 0.5


def test_blocked_pair_counts_single_join_plan(spark):
    """The candidate core's join surface (r12+r13 optimizations): the
    per-doc sizes are a count() window riding the doc exchange, the df
    cap is a map-side-combined groupBy → broadcast LEFT ANTI join of
    the tiny hot-shingle list (r13 skew-proofing — a window partition
    cannot be AQE-split, a hot stop-shingle can be arbitrarily large),
    and there is no cache materialization. Joins: exactly the shingle
    self-join plus exactly one broadcast anti-join for the cap.

    NOTE: this is a PLAN-PINNING regression test tied to current
    Spark-4.x physical-operator names and this session's defaults
    (exchange reuse on). A Spark upgrade or a conf like
    ``spark.sql.exchange.reuse=false`` can fail it without any real
    regression — if it fires alone (values/oracles green), re-pin the
    expected shape rather than reverting the operator."""
    from spark_ext_spark.llm.dedup import blocked_pair_counts
    docs = spark.createDataFrame(
        [(1, "a b c d e f"), (2, "a b c d e g"), (3, "x y z w v u")],
        "doc_id long, text string")
    import re
    plan = blocked_pair_counts(docs, "doc_id", "text", n=3) \
        ._jdf.queryExecution().executedPlan().toString()
    # per-doc sizes stay a window (the static pre-AQE plan duplicates
    # it per self-join side; runtime exchange reuse collapses that)
    assert plan.count("Window") >= 1
    # the shingle self-join + the broadcast anti-join of the hot list
    joins = re.findall(r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin"
                       r"|BroadcastNestedLoopJoin|CartesianProduct)", plan)
    anti = re.findall(r"(\w+Join) \[[^\n]*?\bLeftAnti\b", plan)
    assert anti and all(j == "BroadcastHashJoin" for j in anti), anti
    # static plan may duplicate the anti-join per self-join side
    # (collapsed by reuse at runtime): 1 self-join + 1-2 anti-joins
    assert 2 <= len(joins) <= 3, joins
    assert "InMemoryTableScan" not in plan


def test_blocked_pair_counts_null_ids_dropped(spark):
    """NULL document ids never reach the pair table — the explicit
    isNotNull filter reproduces the old sizes equi-join's null
    semantics BEFORE the self-join (a NULL id must not fan out
    against every doc sharing a shingle)."""
    from spark_ext_spark.llm.dedup import blocked_pair_counts
    docs = spark.createDataFrame(
        [(1, "a b c d e f"), (2, "a b c d e g"), (None, "a b c d e h")],
        "doc_id long, text string")
    rows = blocked_pair_counts(docs, "doc_id", "text", n=3).collect()
    assert {(r["doc_a"], r["doc_b"]) for r in rows} == {(1, 2)}
    assert all(r["doc_a"] is not None and r["doc_b"] is not None
               for r in rows)


def test_null_id_docs_do_not_count_toward_df_cap(spark):
    """Boundary semantics pin (r13, ADVICE note): NULL-id docs are
    dropped BEFORE the df cap, so they do NOT count toward shingle
    document frequency. Here the shared shingle has df=3 counting the
    NULL-id doc but df=2 without it; with max_shingle_df=2 the r12+
    semantics KEEP it (the pair survives). Under the pre-r12 plan —
    NULL ids dropped only at the sizes equi-join, after the cap — the
    shingle would have been capped away and no pair emitted. A NULL id
    names no retrievable document, so it carries no dedup evidence;
    this is the deliberately chosen (and here pinned) behavior, not an
    equivalence with the old plan."""
    from spark_ext_spark.llm.dedup import blocked_pair_counts
    docs = spark.createDataFrame(
        [(1, "s1 s2 s3"), (2, "s1 s2 s3 x"), (None, "s1 s2 s3 y")],
        "doc_id long, text string")
    rows = blocked_pair_counts(docs, "doc_id", "text", n=3,
                               max_shingle_df=2).collect()
    assert [(r["doc_a"], r["doc_b"], r["shared"], r["n_a"], r["n_b"])
            for r in rows] == [(1, 2, 1, 1, 2)]
