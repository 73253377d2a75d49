"""Similarity-search tests: exact brute-force top-k vs numpy oracle,
LSH recall against the exact result."""

from __future__ import annotations

import numpy as np
import pytest

from spark_ext_spark.llm.similarity import (cosine_topk,
                                            embedding_near_dups,
                                            lsh_buckets, lsh_topk)

N, DIM = 60, 8


@pytest.fixture(scope="module")
def vecs_np():
    rng = np.random.default_rng(7)
    # 3 clusters so top-k is meaningful
    centers = rng.standard_normal((3, DIM)) * 3
    v = np.vstack([centers[i % 3] + rng.standard_normal(DIM) * 0.5
                   for i in range(N)])
    return v


@pytest.fixture(scope="module")
def vecs(spark, vecs_np):
    rows = [(i, vecs_np[i].tolist()) for i in range(N)]
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<double>").cache()


def _numpy_topk(v, k):
    sims = (v @ v.T) / (np.linalg.norm(v, axis=1)[:, None]
                        * np.linalg.norm(v, axis=1)[None, :])
    out = {}
    for i in range(len(v)):
        order = sorted((j for j in range(len(v)) if j != i),
                       key=lambda j: (-sims[i, j], j))
        out[i] = [(j, sims[i, j]) for j in order[:k]]
    return out


def test_cosine_topk_matches_numpy(vecs, vecs_np):
    got = {}
    for r in cosine_topk(vecs, vecs, k=5).collect():
        got.setdefault(r["query_id"], []).append(
            (r["rank"], r["neighbor_id"], r["sim"]))
    expected = _numpy_topk(vecs_np, 5)
    for q in range(N):
        mine = sorted(got[q])
        for (rank, nid, sim), (enid, esim) in zip(mine, expected[q]):
            assert nid == enid
            assert sim == pytest.approx(esim, abs=1e-9)


def test_lsh_buckets_deterministic(vecs):
    b1 = {r["vec_id"]: r["bucket"] for r in lsh_buckets(vecs).collect()}
    b2 = {r["vec_id"]: r["bucket"] for r in lsh_buckets(vecs).collect()}
    assert b1 == b2
    assert all(0 <= v < 256 for v in b1.values())  # 8 planes


def test_embedding_near_dups_exact_vs_numpy(vecs, vecs_np):
    got = {(r["id_a"], r["id_b"]) for r in
           embedding_near_dups(vecs, threshold=0.9, method="exact").collect()}
    v = vecs_np / np.linalg.norm(vecs_np, axis=1, keepdims=True)
    sims = np.round(v @ v.T, 4)
    want = {(i, j) for i in range(N) for j in range(i + 1, N)
            if sims[i, j] >= 0.9}
    assert got == want and len(want) > 0


def test_embedding_near_dups_lsh_recall(vecs, vecs_np):
    exact = {(r["id_a"], r["id_b"]) for r in
             embedding_near_dups(vecs, threshold=0.9, method="exact").collect()}
    lsh = {(r["id_a"], r["id_b"]) for r in
           embedding_near_dups(vecs, threshold=0.9, method="lsh",
                               n_planes=6).collect()}
    assert lsh <= exact                      # no false positives
    assert len(lsh & exact) / len(exact) >= 0.5


def test_lsh_topk_recall_against_exact(vecs, vecs_np):
    exact = _numpy_topk(vecs_np, 3)
    approx = {}
    for r in lsh_topk(vecs, k=3, n_planes=6).collect():
        approx.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    hits = total = 0
    for q in range(N):
        want = {j for j, _ in exact[q]}
        got = approx.get(q, set())
        hits += len(want & got)
        total += len(want)
    recall = hits / total
    assert recall >= 0.6, f"LSH recall too low: {recall:.2f}"


def test_ivf_topk_recall_against_exact(vecs, vecs_np):
    from spark_ext_spark.llm.similarity import ivf_topk_deterministic
    exact = _numpy_topk(vecs_np, 3)
    approx = {}
    for r in ivf_topk_deterministic(vecs, k=3, n_centroids=8, n_probes=3,
                                    round_to=None).collect():
        approx.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    hits = total = 0
    for q in range(N):
        want = {j for j, _ in exact[q]}
        got = approx.get(q, set())
        hits += len(want & got)
        total += len(want)
    recall = hits / total
    assert recall >= 0.7, f"IVF recall too low: {recall:.2f}"
    # trained cells + 3 probes should beat 1-probe blind hyperplanes
    # at a comparable bucket count (8 cells vs 2^6 buckets): sanity
    # only, not asserted against lsh directly (different budgets).


def test_ivf_probe_count_trades_recall(vecs, vecs_np):
    from spark_ext_spark.llm.similarity import ivf_topk_deterministic
    exact = _numpy_topk(vecs_np, 3)

    def recall(n_probes):
        approx = {}
        for r in ivf_topk_deterministic(vecs, k=3, n_centroids=8,
                                        n_probes=n_probes,
                                        round_to=None).collect():
            approx.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        hits = total = 0
        for q in range(N):
            want = {j for j, _ in exact[q]}
            hits += len(want & approx.get(q, set()))
            total += len(want)
        return hits / total

    assert recall(4) >= recall(1)


# --- hot-bucket sub-sharding (block-grid decomposition) --------------------

def _topk_rows(rows):
    return sorted((r["query_id"], r["rank"], r["neighbor_id"],
                   round(r["sim"], 9)) for r in rows)


def _with_shard_rows(monkeypatch, shard_rows, build):
    """Collect ``build()`` with ``similarity.SHARD_ROWS`` patched — 8
    forces the block grid onto every group, 10**9 leaves one block."""
    from spark_ext_spark.llm import similarity
    monkeypatch.setattr(similarity, "SHARD_ROWS", shard_rows)
    return build().collect()


def test_hot_bucket_lsh_blocking_preserves_results(spark, monkeypatch):
    """Engineered hot bucket: every vector on the same side of every
    hyperplane (strictly positive coordinates) → ONE LSH bucket holds
    the whole corpus. A tiny SHARD_ROWS must sub-shard it without
    changing a single (query, rank, neighbor, sim) row."""
    rng = np.random.default_rng(11)
    v = np.abs(rng.standard_normal((40, DIM))) + 0.1
    df = spark.createDataFrame(
        [(i, v[i].tolist()) for i in range(40)],
        "vec_id long, embedding array<double>")

    def run(sr):
        return _with_shard_rows(monkeypatch, sr, lambda: lsh_topk(
            df, k=4, round_to=6))
    base = run(10**9)
    blocked = run(8)
    assert _topk_rows(blocked) == _topk_rows(base)


def test_hot_cell_ivf_blocking_preserves_results(vecs, monkeypatch):
    from spark_ext_spark.llm.similarity import ivf_topk_deterministic
    # n_centroids=2 over clustered data → big hot cells vs SHARD_ROWS=8

    def run(sr):
        return _with_shard_rows(monkeypatch, sr, lambda: (
            ivf_topk_deterministic(vecs, k=4, n_centroids=2, n_probes=2)))
    base = run(10**9)
    blocked = run(8)
    assert _topk_rows(blocked) == _topk_rows(base)


def test_near_dups_exact_blocking_preserves_pairs(vecs, monkeypatch):
    def pairs(sr):
        return sorted((r["id_a"], r["id_b"], round(r["sim"], 9))
                      for r in _with_shard_rows(
                          monkeypatch, sr, lambda: embedding_near_dups(
                              vecs, threshold=0.6)))
    assert pairs(8) == pairs(10**9)


def test_cosine_topk_blocking_preserves_results(vecs, monkeypatch):
    """8 shards of the 60-vector corpus, each cut by the block grid,
    give the same rows as one unblocked self-search group."""
    def run(sr):
        return _with_shard_rows(monkeypatch, sr, lambda: cosine_topk(
            vecs, vecs, k=5, round_to=6))
    assert _topk_rows(run(8)) == _topk_rows(run(10**9))


def test_gemm_search_job_pins(spark, vecs, count_jobs, monkeypatch):
    """Spark jobs for plan build + collect() of every GEMM search entry
    point on the 60-vector fixture, unblocked and with SHARD_ROWS=8
    (only the exact paths change: LSH/IVF are always gridded) — the
    latency floor of a small search. The pins equal the counts from
    before the searches shared one GEMM kernel. Artifacts are released
    after each run so every count starts from the same cache state."""
    from spark_ext_spark.llm import similarity
    # a cache hit on an artifact an earlier test left behind saves a job
    spark.catalog.clearCache()
    vecs.cache().count()   # materialized outside the counts
    held: list = []
    runs = {
        "cosine_topk": lambda: cosine_topk(vecs, vecs, k=5).collect(),
        "near_dups_exact": lambda: embedding_near_dups(
            vecs, threshold=0.9).collect(),
        "near_dups_lsh": lambda: embedding_near_dups(
            vecs, threshold=0.9, method="lsh",
            persisted_out=held).collect(),
        "lsh_topk": lambda: lsh_topk(vecs, k=3,
                                     persisted_out=held).collect(),
        "ivf_topk": lambda: similarity.ivf_topk_deterministic(
            vecs, k=3, n_centroids=8, persisted_out=held).collect(),
    }

    def jobs(fn):
        n = count_jobs(fn)
        for df in held:
            df.unpersist()
        held.clear()
        return n

    pins = {"cosine_topk": 6, "near_dups_exact": 4, "near_dups_lsh": 8,
            "lsh_topk": 11, "ivf_topk": 18}
    assert {name: jobs(fn) for name, fn in runs.items()} == pins
    monkeypatch.setattr(similarity, "SHARD_ROWS", 8)
    pins.update(cosine_topk=8, near_dups_exact=6)
    assert {name: jobs(fn) for name, fn in runs.items()} == pins


def test_block_grid_caps_group_sizes(spark):
    """Direct check of the decomposition: one group with 60 members +
    60 probes, cap 8 → no (group, cs, qs) block anywhere near the
    unblocked 120 rows, and both roles present in blocks."""
    from pyspark.sql import functions as F
    from spark_ext_spark.llm.similarity import _block_grid
    rows = [(i, [1.0, float(i)], "c", 0) for i in range(60)] + \
           [(100 + i, [1.0, float(i)], "q", 0) for i in range(60)]
    both = spark.createDataFrame(
        rows, "vec_id long, vec array<double>, role string, grp int")
    blocked = _block_grid(both, "grp", 8)
    sizes = (blocked.groupBy("grp", "__cs", "__qs")
             .agg(F.count(F.lit(1)).alias("n"),
                  F.sum((F.col("role") == "c").cast("int")).alias("nc"))
             .collect())
    assert max(r["n"] for r in sizes) <= 4 * 8  # ~2·cap + hash slack
    # every (q, c) combination met exactly once across blocks
    met = (blocked.filter(F.col("role") == "q")
           .select(F.col("vec_id").alias("q"), "__cs", "__qs")
           .join(blocked.filter(F.col("role") == "c")
                 .select(F.col("vec_id").alias("c"), "__cs", "__qs"),
                 ["__cs", "__qs"])
           .groupBy("q", "c").count().collect())
    assert len(met) == 60 * 60
    assert all(r["count"] == 1 for r in met)


def test_block_grid_subshards_decorrelated_from_shard_hash(spark):
    """The exact path's groups are pmod(xxhash64(id), n_shards); the
    sub-shard hash must be salted, or whenever __nc divides n_shards
    every member of a shard lands in ONE sub-shard (hash ≡ s mod
    n_shards ⇒ hash mod __nc constant) and the size cap stops
    capping. Engineered: 60 members whose xxhash64 is even, cap 30 →
    __nc = 2; unsalted, all 60 would take block __cs=0."""
    from pyspark.sql import functions as F
    from spark_ext_spark.llm.similarity import _block_grid
    ids = [r["id"] for r in
           spark.range(2000)
           .filter(F.pmod(F.xxhash64("id"), F.lit(2)) == 0)
           .limit(60).collect()]
    assert len(ids) == 60
    rows = [(i, [1.0, 0.0], "c", 0) for i in ids] + \
           [(10**9, [1.0, 0.0], "q", 0)]
    both = spark.createDataFrame(
        rows, "vec_id long, vec array<double>, role string, grp int")
    blocked = _block_grid(both, "grp", 30)
    by_cs = {r["__cs"]: r["n"] for r in
             (blocked.filter(F.col("role") == "c")
              .groupBy("__cs").agg(F.count(F.lit(1)).alias("n"))
              .collect())}
    assert len(by_cs) == 2, by_cs          # both sub-shards used
    assert max(by_cs.values()) < 60        # no sub-shard took the lot


def test_string_ids_supported_on_gemm_paths(spark, vecs_np):
    """The default gemm/exact paths must accept non-long id columns —
    their applyInPandas schemas used to hardcode bigint and die at
    Arrow serialization while the expr/lsh variants worked."""
    rows = [(f"doc{i:03d}", vecs_np[i].tolist()) for i in range(N)]
    sdf = spark.createDataFrame(
        rows, "vec_id string, embedding array<double>").cache()

    got = {}
    for r in cosine_topk(sdf, sdf, k=3).collect():
        got.setdefault(r["query_id"], []).append(
            (r["rank"], r["neighbor_id"]))
    expected = _numpy_topk(vecs_np, 3)
    assert len(got) == N
    for q in range(N):
        mine = [nid for _, nid in sorted(got[f"doc{q:03d}"])]
        assert mine == [f"doc{j:03d}" for j, _ in expected[q]]

    # exact near-dups: same pair set as the long-id frame
    long_df = spark.createDataFrame(
        [(i, vecs_np[i].tolist()) for i in range(N)],
        "vec_id long, embedding array<double>")
    want = {(r["id_a"], r["id_b"]) for r in
            embedding_near_dups(long_df, threshold=0.9).collect()}
    got_pairs = {(r["id_a"], r["id_b"]) for r in
                 embedding_near_dups(sdf, threshold=0.9).collect()}
    assert got_pairs == {(f"doc{a:03d}", f"doc{b:03d}") for a, b in want}
    sdf.unpersist()


def test_lsh_buckets_null_first_embedding_infers_dim(spark, vecs_np):
    """dim inference must skip null embeddings — reading F.size of a
    null first row produced dim=None and a TypeError deep in numpy."""
    rows = [(999, None)] + [(i, vecs_np[i].tolist()) for i in range(10)]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>")
    buckets = lsh_buckets(df.orderBy("vec_id"), n_planes=4)
    # 999 sorts last so the null row is NOT first here; force it first:
    first_null = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>").coalesce(1)
    got = lsh_buckets(first_null, n_planes=4)
    assert got.filter("vec_id = 0").count() == 1
    assert buckets.filter("vec_id = 0").count() == 1

    all_null = spark.createDataFrame(
        [(1, None)], "vec_id long, embedding array<double>")
    with pytest.raises(ValueError, match="no non-null embeddings"):
        lsh_buckets(all_null)


def test_zero_norm_vectors_do_not_poison_gemm(spark):
    """A zero embedding has undefined cosine; it must yield sim 0 in
    the GEMM paths, not NaN rows that corrupt every pair in its
    block."""
    rng = np.random.default_rng(3)
    rows = [(0, [0.0] * DIM)] + \
        [(i, rng.standard_normal(DIM).tolist()) for i in range(1, 12)]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>")
    out = cosine_topk(df, df, k=3).collect()
    assert all(not np.isnan(r["sim"]) for r in out)
    # the zero vector still gets ranked neighbors (sim 0 everywhere)
    zq = [r for r in out if r["query_id"] == 0]
    assert len(zq) == 3 and all(r["sim"] == 0.0 for r in zq)


def test_artifact_cache_mode_exposes_release_handle(spark, vecs):
    """The cached bucket frame is handed to persisted_out so callers
    release it deterministically instead of leaning on
    clearCache()/eviction."""
    held: list = []
    out = lsh_topk(vecs, k=3, persisted_out=held)
    out.count()
    assert len(held) == 1 and held[0].is_cached
    held[0].unpersist()
    assert not held[0].is_cached


def test_near_dups_exact_rejects_artifact_args(vecs):
    """The persisted_out handle belongs to the LSH bucket frame; the
    exact path caches nothing, so a caller expecting an artifact to
    release gets an error instead of an empty handle."""
    with pytest.raises(ValueError, match="method='lsh'"):
        embedding_near_dups(vecs, method="exact", persisted_out=[])


def test_lsh_topk_explicit_dim_matches_probe(vecs):
    """``dim=`` pins the plane dimensionality without the _infer_dim
    first() probe job (r13: the declared ANN queries pass their known
    corpus dim so candidate generation is fully lazy). Results must be
    identical to the probed path, and a WRONG dim must fail loudly at
    the _finite_vec guard instead of mis-projecting."""
    probed = {(r["query_id"], r["rank"]): (r["neighbor_id"], r["sim"])
              for r in lsh_topk(vecs, k=3, n_planes=6).collect()}
    pinned = {(r["query_id"], r["rank"]): (r["neighbor_id"], r["sim"])
              for r in lsh_topk(vecs, k=3, n_planes=6, dim=DIM).collect()}
    assert probed == pinned
    with pytest.raises(Exception, match="lsh_buckets"):
        lsh_topk(vecs, k=3, n_planes=6, dim=DIM + 1).collect()
