"""Similarity search over embedding columns (``array<float>``).

Every GEMM search here is one partition-local search followed by a
global merge: (query, member) candidate rows are grouped — by hash
shard, LSH bucket or IVF cell — and :func:`_gemm_groups` runs ONE numpy
GEMM per group, sub-blocked to ≤ ``SHARD_ROWS`` vectors a side, that
emits either per-query top-k (merged losslessly into the global top-k)
or threshold pairs.

- ``cosine_topk``: exact brute-force top-k — the corpus is hash-sharded
  and each (shard) co-group runs one numpy GEMM; shard-local winners
  merge losslessly into the global top-k. Nothing is broadcast or
  collected, so it scales with the corpus.
- ``lsh_topk``: random-hyperplane LSH variant — the 100 TB path:
  vectors hash to sign-pattern buckets (seeded projection matrix,
  shipped as literal arrays so the whole plan stays declarative);
  candidates come from a bucket equi-join (optionally multiprobe over
  1-bit-flipped buckets), then exact cosine re-rank within candidates.
- ``fit_ivf_centroids_quantized`` + ``ivf_topk_deterministic``: IVF
  ANN with a TRAINED coarse quantizer — a deterministic integer-lattice
  Lloyd fit (fit once per corpus, pass ``centroids=`` to reuse it),
  then each query probes its ``n_probes`` nearest cells with an exact
  GEMM re-rank inside. Every stage before the final cosine is integer
  arithmetic, so a SQL oracle replays fit and search bit-for-bit.
- ``embedding_near_dups``: cosine near-duplicate pairs (exact sharded
  GEMM, or LSH blocking with an in-JVM pair join);
  ``quantize_embeddings``: int8 quantization with its
  reconstruction-error profile.

The approximate paths (LSH and IVF) cache their bucket/cell frame once
per call, hand it back through ``persisted_out`` for explicit release,
and check on every call that embedding ids are unique and non-null.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

__all__ = ["cosine_topk", "lsh_buckets", "lsh_topk",
           "fit_ivf_centroids_quantized", "ivf_topk_deterministic",
           "embedding_near_dups"]

# Max vectors per side of one GEMM group: exact shards hold ≤ SHARD_ROWS
# corpus rows and _block_grid splits hot shards/buckets/cells down to
# it. Read at call time, so tests patch it to force blocking.
SHARD_ROWS = 16384


def _materialize_artifact(df: DataFrame, entry: str,
                          persisted_out: list | None) -> DataFrame:
    """Cache an ANN intermediate that is read more than once per action
    (LSH bucket frames, IVF cell assignments), hand it to
    ``persisted_out`` (if given) so callers can ``.unpersist()`` it
    explicitly instead of waiting for eviction, and run the upfront
    unique-id check over it (:func:`_assert_unique_ids`)."""
    df = df.cache()
    if persisted_out is not None:
        persisted_out.append(df)
    _assert_unique_ids(df, entry)
    return df


def _assert_unique_ids(artifact: DataFrame, entry: str) -> None:
    """Upfront unique-non-null-id assertion for the APPROXIMATE paths
    (r8 advice): `_role_split_gemm`'s in-group duplicate check is
    globally complete for the exact sharded GEMMs (duplicates co-locate
    by id hash) but best-effort under LSH/IVF, where same-id rows with
    different vectors can land in disjoint buckets and silently corrupt
    self-exclusion, tie-break, and shard-merge dedup without ever
    sharing a pandas group. One scalar aggregate over the cached
    bucket/cell artifact (the scan doubles as the cache warm-up, so the
    per-row vector guards fire here first, under their own names) gives
    those paths the same named failure on every call. Nulls count as
    violations too: a null id defeats the id-keyed self-exclusion and
    merge on every engine."""
    row = artifact.agg(
        F.count(F.lit(1)).alias("n"),
        F.count_distinct("vec_id").alias("d")).first()
    if row["n"] != row["d"]:
        raise ValueError(
            f"{entry}: embedding ids must be unique and non-null "
            f"({row['n']} rows, {row['d']} distinct non-null ids); "
            "approximate search keys self-exclusion and candidate "
            "merging on the id — dedupe the corpus upstream")


def _finite_vec(vec: Column, entry: str,
                dim: int | None = None) -> Column:
    """Per-row non-finite guard for an ``array<double>`` vector column
    (round-10 NaN sweep): a single NaN/Inf component silently poisons
    every similarity score, LSH sign bucket, IVF cell distance, and
    quantization scale it touches — and since NaN comparisons and
    orderings differ subtly across engines, the corruption is a SILENT
    cross-engine divergence, not an error. Same contract as the
    duplicate-id scan: invalid corpus → NAMED error; but as an in-plan
    codegen branch it costs nothing and needs no opt-out. NULL vectors
    pass through (excluded by the callers' isNotNull contract); a NULL
    ELEMENT is rejected like NaN — three-valued logic would otherwise
    let it slip through the exists predicate and become NaN inside the
    GEMM (self-review finding, round 10)."""
    bad = F.exists(vec, lambda x: x.isNull() | F.isnan(x)
                   | (F.abs(x) == F.lit(float("inf"))))
    out = (F.when(bad, F.raise_error(F.lit(
               f"{entry}: non-finite or NULL embedding component "
               "(NaN, ±Infinity, or NULL element) — similarity "
               "scores, LSH buckets, and IVF cells would silently "
               "diverge on it; repair or filter the corpus "
               "upstream")).cast("array<double>"))
           .otherwise(vec))
    if dim is not None:
        # ragged-dim probe (round 10): a wrong-length vector NULL-pads
        # the zip_with folds, so LSH sign bits and IVF cell distances
        # come out as valid-looking wrong answers (the GEMM paths name
        # the defect only when the ragged rows happen to co-group).
        # Where a dim literal exists, reject per-row — cosine between
        # different-dim vectors is undefined.
        out = (F.when(F.size(vec) != F.lit(dim), F.raise_error(F.lit(
                   f"{entry}: embedding dimensionality differs from "
                   f"the corpus dimension ({dim}) — cosine between "
                   "different-dim vectors is undefined and bucket/"
                   "cell assignment would silently mis-place the row; "
                   "repair or split the corpus")).cast("array<double>"))
               .otherwise(out))
    return out


def _nn_vectors(df: DataFrame, id_col: str, vec_col: str, entry: str,
                dim: int | None = None) -> DataFrame:
    """The one invariant every search entry point shares: null
    embeddings are excluded (they can match nothing, and a single null
    row reaching a GEMM group turns the batch ragged and kills the
    task — at 100 TB, one bad row fails the job), and non-finite
    components — or, given ``dim``, wrong-length vectors — fail by
    name under ``entry`` (_finite_vec). Returns the normalized
    (vec_id, vec) frame; the isNotNull predicate pushes down to the
    parquet scan."""
    return (df.filter(F.col(vec_col).isNotNull())
            .select(F.col(id_col).alias("vec_id"),
                    _finite_vec(F.col(vec_col).cast("array<double>"),
                                entry, dim=dim).alias("vec")))


def cosine_topk(queries: DataFrame, corpus: DataFrame, k: int,
                id_col: str = "vec_id", vec_col: str = "embedding",
                round_to: int | None = None) -> DataFrame:
    """Exact top-k neighbors per query (excluding self-matches).
    Deterministic rank order: similarity desc, neighbor id asc.

    Distributed block-nested-loop: the corpus is hash-sharded into
    groups of ≤ ``SHARD_ROWS`` vectors, every query probes every shard
    (explode over shard ids), and each (shard) co-group does ONE numpy
    GEMM emitting per-shard top-k; a final groupBy(query_id) merges
    shard-local winners into the exact global top-k (a candidate
    dropped at shard rank >k is beaten by k shard-mates that also beat
    it globally, so the merge is lossless). NOTHING materializes on
    the driver — the only driver-side job is a count() to size the
    shard grid, so the plan survives corpora that would OOM a
    broadcast. Query replication is S× (S = #shards): inherent to
    exact search; use lsh_topk/ivf_topk_deterministic when S gets
    large.
    """
    both, blocked = _exact_roles(queries, corpus, id_col, vec_col,
                                 "cosine_topk")
    return _grouped_candidate_topk(both, "shard", k, round_to=round_to,
                                   blocked=blocked)


def _exact_roles(queries: DataFrame, corpus: DataFrame, id_col: str,
                 vec_col: str, entry: str) -> tuple[DataFrame, bool]:
    """(vec_id, vec, shard, role) rows of the exact paths, and whether
    they need the block grid. Corpus rows ('c') land in shard
    pmod(xxhash64(id), S), S sized so shards hold ≤ SHARD_ROWS vectors;
    every query row ('q') probes all S shards. The count() is the only
    driver-side job of the exact paths — a scalar aggregate, not a
    materialization, so it is scale-safe. A one-shard self-search
    provably fits one GEMM group (q side = corpus ≤ SHARD_ROWS), so it
    skips the grid's sizing pass; otherwise the probe side replicates
    every query into every shard and the grid bounds the groups."""
    c = _nn_vectors(corpus, id_col, vec_col, entry)
    n_shards = max(1, math.ceil(c.count() / SHARD_ROWS))
    c = (c.withColumn("shard", F.pmod(F.xxhash64(F.col("vec_id")),
                                      F.lit(n_shards)).cast("int"))
         .withColumn("role", F.lit("c")))
    q = (_nn_vectors(queries, id_col, vec_col, entry)
         .withColumn("shard",
                     F.explode(F.sequence(F.lit(0), F.lit(n_shards - 1))))
         .withColumn("role", F.lit("q")))
    return q.unionByName(c), not (queries is corpus and n_shards == 1)


def _id_type(df: DataFrame, col: str) -> str:
    """DDL type of an id column, for applyInPandas output schemas —
    hardcoding ``long`` would crash the GEMM paths at Arrow
    serialization for string/UUID ids."""
    return df.schema[col].dataType.simpleString()


def _role_split_gemm(pdf: pd.DataFrame, round_to: int | None):
    """Shared per-group GEMM preamble for the bucketed/sharded paths:
    split rows by role, L2-normalize, one queries × members matmul.
    Returns (qs, cs, sims) or None when either side is empty.
    Zero-norm vectors are guarded (norm 1 ⇒ sim 0 everywhere) instead
    of poisoning their row/column with NaN.

    Ids must be UNIQUE within each search side: self-exclusion, the
    rank tie-break, and the shard-merge dedup all key on the id, so a
    duplicated id (usually an upstream join fanout) silently corrupts
    rankings instead of erroring. Shards and sub-shards hash on the
    id, so duplicates always co-locate in one pandas group — this
    local check is globally complete for the exact GEMM paths; the
    LSH/IVF entry points (where same-id rows with different vectors
    can land in disjoint buckets) additionally assert global id
    uniqueness upfront via _assert_unique_ids. Named here, like the
    mixed-dimensionality check below, instead of surfacing as a
    row-count-dependent wrong answer."""
    qs = pdf[pdf["role"] == "q"]
    cs = pdf[pdf["role"] == "c"]
    if qs.empty or cs.empty:
        return None
    for side in (qs, cs):
        dup = side["vec_id"].duplicated()
        if dup.any():
            raise ValueError(
                f"duplicate embedding id {side['vec_id'][dup].iloc[0]!r} "
                "within one search side; similarity search requires "
                "unique ids per side — dedupe the corpus upstream")
    try:
        qm = np.array(qs["vec"].tolist(), dtype=np.float64)
        cm = np.array(cs["vec"].tolist(), dtype=np.float64)
    except ValueError as e:
        # ragged input: nulls are filtered at every entry point, so
        # this is mixed dimensionality — name the defect instead of
        # numpy's opaque inhomogeneous-shape error
        dims = sorted({len(v) for v in list(qs["vec"]) + list(cs["vec"])
                       if v is not None})
        raise ValueError(
            f"embeddings have mixed dimensionality {dims}; similarity "
            "search requires one fixed dim — repair or split the "
            "corpus") from e
    if qm.shape[1] != cm.shape[1]:
        # each side homogeneous but query dim != corpus dim: without
        # this check the defect escapes to numpy's raw matmul
        # core-dimension error
        raise ValueError(
            f"embeddings have mixed dimensionality "
            f"{sorted({qm.shape[1], cm.shape[1]})}; similarity search "
            "requires one fixed dim — repair or split the corpus")
    qn = np.linalg.norm(qm, axis=1, keepdims=True)
    cn = np.linalg.norm(cm, axis=1, keepdims=True)
    qn[qn == 0] = 1.0
    cn[cn == 0] = 1.0
    sims = (qm / qn) @ (cm / cn).T
    if round_to is not None:
        sims = np.round(sims, round_to)
    return qs, cs, sims


def embedding_near_dups(df: DataFrame, threshold: float = 0.95,
                        id_col: str = "vec_id", vec_col: str = "embedding",
                        method: str = "exact",
                        n_planes: int = 8, seed: int = 42,
                        round_to: int | None = 4,
                        persisted_out: list | None = None) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (id_a < id_b, sim ≥ τ).

    method="exact": all-pairs via the sharded co-group GEMM — the
    corpus is hash-sharded (≤ SHARD_ROWS vectors per shard), every row
    probes every shard, and each shard group runs one numpy GEMM
    emitting pairs with q_id < c_id (each unordered pair surfaces in
    exactly one shard — the one owning its larger id — so no dedup
    pass; the block grid keeps that true, as every (q, c) pair meets in
    exactly one block). No driver materialization; quadratic probe
    replication is inherent to exactness, so prefer method="lsh" at
    large N.
    method="lsh": hyperplane-bucket blocking then exact cosine within
    buckets (+1-bit multiprobe) — the 100 TB path; recall follows the
    LSH S-curve, candidates come from equi-joins only.

    ``persisted_out`` receives the cached LSH bucket frame; the exact
    path caches no artifact, so passing it with method="exact" raises
    instead of silently handing back nothing."""
    if method != "lsh" and persisted_out is not None:
        raise ValueError(
            "persisted_out applies to method='lsh' only — the exact "
            "path has no cached artifact to release")
    if method == "lsh":
        # cached because BOTH sides of the bucket self-join below read
        # it (a join, unlike the q/c unions elsewhere, genuinely needs
        # two inputs)
        b = _materialize_artifact(
            lsh_buckets(df, n_planes, seed, id_col, vec_col),
            "embedding_near_dups[lsh]", persisted_out)
        # The pair cosine stays a JVM join rather than the GEMM kernel:
        # on the 600-vector bench corpus (local[4]) a kernel variant
        # returned the same 60 pairs at a median 2.54 s vs 1.80 s.
        # Norms are per-vector, so they are computed on the two join
        # inputs, not per candidate pair (OPTIMIZATION_r12.md).
        nrm = F.sqrt(F.aggregate(
            F.transform(F.col("vec"), lambda x: x * x),
            F.lit(0.0), lambda acc, v: acc + v))
        a = (b.select(F.col("vec_id").alias("id_a"),
                      F.col("vec").alias("va"), nrm.alias("__na"),
                      F.explode(_bucket_probes(n_planes))
                      .alias("bucket")))
        c = b.select(F.col("vec_id").alias("id_b"),
                     F.col("vec").alias("vb"), nrm.alias("__nb"),
                     "bucket")
        dot = F.aggregate(
            F.zip_with(F.col("va"), F.col("vb"), lambda x, y: x * y),
            F.lit(0.0), lambda acc, v: acc + v)
        sim = (F.when((F.col("__na") == 0.0) | (F.col("__nb") == 0.0),
                      F.lit(0.0))
               .otherwise(dot / (F.col("__na") * F.col("__nb"))))
        if round_to is not None:
            sim = F.round(sim, round_to)
        return (a.join(c, "bucket")
                .filter(F.col("id_a") < F.col("id_b"))
                .select("id_a", "id_b", sim.alias("sim"))
                .groupBy("id_a", "id_b").agg(F.max("sim").alias("sim"))
                .filter(F.col("sim") >= threshold))

    def group_pairs(qs: pd.DataFrame, cs: pd.DataFrame,
                    sims: np.ndarray) -> pd.DataFrame:
        c_ids = cs["vec_id"].to_numpy()
        out_a, out_b, out_s = [], [], []
        for i, qid in enumerate(qs["vec_id"].to_numpy()):
            mask = (c_ids > qid) & (sims[i] >= threshold)
            out_a.extend([qid] * int(mask.sum()))
            out_b.extend(c_ids[mask].tolist())
            out_s.extend(sims[i][mask].tolist())
        return pd.DataFrame({"id_a": out_a, "id_b": out_b, "sim": out_s})

    both, blocked = _exact_roles(df, df, id_col, vec_col,
                                 "embedding_near_dups")
    idt = _id_type(df, id_col)
    return _gemm_groups(both, "shard", group_pairs,
                        f"id_a {idt}, id_b {idt}, sim double", round_to,
                        blocked=blocked)


def _infer_dim(df: DataFrame, vec_col: str) -> int:
    """Embedding dimensionality from the first NON-NULL vector — the
    bare ``first()`` probe returned a NULL size when the first row's
    embedding happened to be null, which then crashed far away inside
    numpy with an opaque TypeError."""
    first = (df.filter(F.col(vec_col).isNotNull())
             .select(F.size(vec_col)).first())
    if first is None or first[0] is None:
        raise ValueError("no non-null embeddings and no dim given")
    return int(first[0])


def _projections(dim: int, n_planes: int, seed: int) -> np.ndarray:
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, dim))


def _bucket_probes(n_flips: int) -> Column:
    """A vector's own LSH bucket followed by the ``n_flips`` buckets one
    sign bit away (multiprobe) — own bucket first, as _explode_roles
    requires."""
    return F.array(F.col("bucket"),
                   *[F.col("bucket").bitwiseXOR(F.lit(1 << p))
                     for p in range(n_flips)])


def _explode_roles(df: DataFrame, probe_groups: Column,
                   group_name: str) -> DataFrame:
    """(vec_id, vec, <group_name>, role) rows: each input row emits
    every ``probe_groups`` element tagged 'q' plus its own group —
    the array's FIRST element by contract — tagged 'c', all from ONE
    explode. Replaces the q/c union pattern, which read the input
    frame twice per action and therefore needed a .cache() that — in
    a lazy API with no action boundary — nothing could ever
    unpersist. ``probe_groups`` is referenced exactly once, which is
    load-bearing: CollapseProject inlines the (interpreted, per-
    centroid) distance fold into every reference, so a second
    reference re-evaluates the whole fold per row (measured 3× slower
    on the IVF query)."""
    pairs = F.flatten(F.transform(
        probe_groups,
        lambda g, i: F.when(
            i == F.lit(0),
            F.array(F.struct(g.alias("g"), F.lit("q").alias("role")),
                    F.struct(g.alias("g"), F.lit("c").alias("role"))))
        .otherwise(
            F.array(F.struct(g.alias("g"), F.lit("q").alias("role"))))))
    return (df.select("vec_id", "vec", F.explode(pairs).alias("__p"))
            .select("vec_id", "vec",
                    F.col("__p.g").alias(group_name),
                    F.col("__p.role").alias("role")))


def lsh_buckets(df: DataFrame, n_planes: int = 8, seed: int = 42,
                id_col: str = "vec_id", vec_col: str = "embedding",
                dim: int | None = None) -> DataFrame:
    """(id, vec, bucket) — bucket = sign-pattern integer of the vector
    against n_planes seeded random hyperplanes. The projection matrix
    ships as literal arrays inside the plan (no closure/broadcast
    state), so Catalyst sees one deterministic expression."""
    if dim is None:
        dim = _infer_dim(df, vec_col)
    planes = _projections(dim, n_planes, seed)
    # the sign fold reads the guarded vec, so a projection that prunes
    # vec (e.g. one keeping only the bucket) still runs the check
    bucket = F.lit(0)
    for p in range(n_planes):
        row = F.lit([float(x) for x in planes[p]])
        dot = F.aggregate(F.zip_with(F.col("vec"), row, lambda x, y: x * y),
                          F.lit(0.0), lambda acc, z: acc + z)
        bucket = bucket + F.when(dot >= 0, F.lit(1 << p)).otherwise(F.lit(0))
    return (_nn_vectors(df, id_col, vec_col, "lsh_buckets", dim=dim)
            .withColumn("bucket", bucket))


def lsh_topk(df: DataFrame, k: int, n_planes: int = 8, seed: int = 42,
             id_col: str = "vec_id", vec_col: str = "embedding",
             multiprobe: bool = True,
             round_to: int | None = None,
             persisted_out: list | None = None,
             dim: int | None = None) -> DataFrame:
    """Approximate top-k within LSH buckets; multiprobe also searches
    the n_planes 1-bit-adjacent buckets (recall boost without widening
    the join fan-out asymptotically).

    IVF-style execution: bucket members ('c' rows) plus probing
    queries ('q' rows) co-group per bucket for :func:`_gemm_groups`;
    bucket-local top-k merge into the global top-k.

    ``dim`` pins the embedding dimensionality up front (the planes are
    dim-sized plan literals). When omitted it is probed with a one-row
    ``first()`` job per invocation — callers that know their corpus
    (every declared bench query: the embeddings table is dim-64 at all
    SFs, the same constant already baked into the DuckDB oracles)
    should pass it so candidate generation is fully lazy. Results are
    identical either way; a wrong ``dim`` fails loudly at the
    per-row _finite_vec guard instead of mis-projecting."""
    # cached: the candidate explode and the block grid's bucket-sizing
    # aggregate both read the bucket projection
    b = _materialize_artifact(
        lsh_buckets(df, n_planes, seed, id_col, vec_col, dim=dim),
        "lsh_topk", persisted_out)
    probes = _bucket_probes(n_planes if multiprobe else 0)
    both = _explode_roles(b, probes, "bucket")  # own bucket = probes[0]
    return _grouped_candidate_topk(both, "bucket", k, round_to=round_to)


def _block_grid(both: DataFrame, group_col: str,
                shard_rows: int) -> DataFrame:
    """Bound pandas-group sizes for the per-bucket GEMMs: within each
    group, members ('c' rows) hash-split into ceil(nc/shard_rows)
    sub-shards and queries ('q' rows) into ceil(nq/shard_rows); each
    row replicates across the OTHER role's axis, so every (q, c)
    combination meets in exactly one (group, __cs, __qs) block of
    ≈ ≤ 2·shard_rows rows — the block decomposition of the bucket
    GEMM. Without this, one hot LSH bucket / IVF cell (or the
    all-probes query side of an exact shard) lands an unbounded row
    count in a single pandas group → executor OOM at 100 TB. The
    per-group sizing table is one row per bucket (broadcast join), and
    its aggregation reads only (group, role) — Catalyst prunes the
    vector column out of the sizing pass, so the extra pass carries
    narrow rows, not embeddings. Results are unchanged because the
    downstream per-query merge is lossless over any partition of the
    candidate set."""
    sizes = (both.groupBy(group_col).agg(
        F.greatest(F.lit(1), F.ceil(
            F.sum(F.when(F.col("role") == "c", 1).otherwise(0))
            / F.lit(shard_rows))).cast("int").alias("__nc"),
        F.greatest(F.lit(1), F.ceil(
            F.sum(F.when(F.col("role") == "q", 1).otherwise(0))
            / F.lit(shard_rows))).cast("int").alias("__nq")))
    # Salted with a second hash input: the exact path's groups are
    # themselves pmod(xxhash64(vec_id), n_shards), so an UNsalted
    # sub-shard hash is fully correlated with the group whenever __nc
    # divides n_shards (every member of shard s has hash ≡ s, making
    # hash mod __nc a constant — one block takes the whole shard and
    # the size cap silently stops capping). Any distinct second column
    # decorrelates; results are unchanged (the merge is lossless over
    # any partition of the candidates).
    salt = F.lit(1)
    own_c = F.pmod(F.xxhash64(F.col("vec_id"), salt),
                   F.col("__nc")).cast("int")
    own_q = F.pmod(F.xxhash64(F.col("vec_id"), salt),
                   F.col("__nq")).cast("int")
    blocks = (F.when(F.col("role") == "c",
                     F.transform(F.sequence(F.lit(0), F.col("__nq") - 1),
                                 lambda q: F.struct(
                                     own_c.alias("cs"),
                                     q.cast("int").alias("qs"))))
              .otherwise(
                  F.transform(F.sequence(F.lit(0), F.col("__nc") - 1),
                              lambda c: F.struct(
                                  c.cast("int").alias("cs"),
                                  own_q.alias("qs")))))
    return (both.join(F.broadcast(sizes), group_col)
            .withColumn("__blk", F.explode(blocks))
            .select(group_col, "vec_id", "vec", "role",
                    F.col("__blk.cs").alias("__cs"),
                    F.col("__blk.qs").alias("__qs")))


def _gemm_groups(both: DataFrame, group_col: str, emit, schema: str,
                 round_to: int | None, blocked: bool = True) -> DataFrame:
    """The module's one partition-local search: per ``group_col`` group
    — cut into :func:`_block_grid` blocks of ≤ SHARD_ROWS vectors a side
    unless ``blocked=False`` — ONE numpy GEMM of probing queries ('q'
    rows) × group members ('c' rows) (:func:`_role_split_gemm`), whose
    (qs, cs, sims) ``emit`` turns into rows of ``schema``. A group
    missing either role emits nothing. Vectors materialize once per
    probe, never per pair."""
    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        split = _role_split_gemm(pdf, round_to)
        return pd.DataFrame() if split is None else emit(*split)

    keys = [group_col]
    if blocked:
        both = _block_grid(both, group_col, SHARD_ROWS)
        keys += ["__cs", "__qs"]
    return both.groupBy(*keys).applyInPandas(run, schema=schema)


def _grouped_candidate_topk(both: DataFrame, group_col: str, k: int,
                            round_to: int | None = None,
                            blocked: bool = True) -> DataFrame:
    """Per-query top-k over grouped candidates: each :func:`_gemm_groups`
    block emits its per-query local top-k; a global groupBy then merges
    multi-probe hits and re-ranks. round_to pins similarity decimals
    BEFORE ranking so tie-breaks are reproducible across engines. The
    per-block top-k → global merge is lossless: a candidate dropped at
    block rank > k is beaten by k block-mates that also beat it
    globally."""
    def group_topk(qs: pd.DataFrame, cs: pd.DataFrame,
                   sims: np.ndarray) -> pd.DataFrame:
        c_ids = cs["vec_id"].to_numpy()
        out_q, out_n, out_s = [], [], []
        for i, qid in enumerate(qs["vec_id"].to_numpy()):
            s = sims[i]
            valid = c_ids != qid
            order = np.lexsort((c_ids[valid], -s[valid]))[:k]
            out_q.extend([qid] * len(order))
            out_n.extend(c_ids[valid][order].tolist())
            out_s.extend(s[valid][order].tolist())
        return pd.DataFrame({"query_id": out_q, "neighbor_id": out_n,
                             "sim": out_s})

    idt = _id_type(both, "vec_id")
    local = _gemm_groups(
        both, group_col, group_topk,
        f"query_id {idt}, neighbor_id {idt}, sim double", round_to,
        blocked=blocked)
    merged = (local.groupBy("query_id", "neighbor_id")
              .agg(F.max("sim").alias("sim")))  # dedup multiprobe hits
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"),
                                               F.asc("neighbor_id"))
    return (merged.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "sim", "rank"))


IVF_QUANT_SCALE = 1_000_000


def _ivf_quantize_expr(vec: Column) -> Column:
    """floor(x * 1e6) as array<long> — the integer-lattice projection
    that makes Lloyd's algorithm bit-exact across engines (integer
    sums are associative; double sums are not). ``vec`` must be the
    _nn_vectors-guarded column, so a NaN corpus fails by name instead
    of an opaque ARITHMETIC_OVERFLOW three expressions later (or a
    silent Long-clamp under non-ANSI)."""
    return F.transform(
        vec, lambda x: F.floor(x * F.lit(float(IVF_QUANT_SCALE))).cast("long"))


def _ivf_cells_by_dist(cents: list[list[int]], qv_col: str = "qv") -> Column:
    """array of (squared-L2-distance, cell) structs sorted asc — all
    integer arithmetic over the quantized vector against literal
    centroids, so argmin and probe order are deterministic (ties break
    to the smaller cell id via struct comparison)."""
    structs = []
    for j, c in enumerate(cents):
        row = F.lit([int(x) for x in c])
        d2 = F.aggregate(
            F.zip_with(qv_col, row, lambda x, y: (x - y) * (x - y)),
            F.lit(0).cast("long"), lambda acc, z: acc + z)
        structs.append(F.struct(d2.alias("d"),
                                F.lit(j).cast("int").alias("cell")))
    return F.array_sort(F.array(*structs))


def fit_ivf_centroids_quantized(df: DataFrame, n_centroids: int = 16,
                                n_iter: int = 3, id_col: str = "vec_id",
                                vec_col: str = "embedding",
                                dim: int | None = None) -> list[list[int]]:
    """Deterministic distributed Lloyd on integer-quantized vectors —
    the IVF coarse quantizer. It is cross-engine replayable: vectors
    land on an integer lattice (floor(x*1e6)), initial centroids are
    the ``n_centroids`` smallest ids, and each Lloyd step is (integer
    argmin assignment, exact integer per-dim sums, floor-mean). Integer
    sums are order-independent, so Spark's partial aggregation and any
    SQL engine produce identical centroids — see ANN_IVF_TOPK_SQL,
    which re-derives them via unrolled CTEs.

    Scale shape: each iteration is ONE distributed aggregation
    (groupBy(cell) with dim+1 exact integer sums); the only driver
    artifact is the n_centroids × dim centroid matrix (integers on the
    ``IVF_QUANT_SCALE`` lattice). Fit ONCE per corpus and pass the
    result as ``centroids=`` to :func:`ivf_topk_deterministic`: at
    scale the quantizer is a stored model, not a per-query job.
    """
    if dim is None:
        dim = _infer_dim(df, vec_col)
    # null embeddings excluded (same contract as every search entry
    # point) — a null row among the n_centroids smallest ids would
    # otherwise seed a null centroid and crash the fit
    q = (_nn_vectors(df, id_col, vec_col, "ivf quantizer", dim=dim)
         .select("vec_id", _ivf_quantize_expr(F.col("vec")).alias("qv"))
         .cache())
    init = q.orderBy("vec_id").limit(n_centroids).collect()
    cents = [[int(x) for x in r["qv"]] for r in init]
    if len(cents) < n_centroids:
        # fail loudly: silently clamping would desync the SQL oracle's
        # unrolled n_centroids CTEs from the fitted quantizer
        raise ValueError(
            f"fit_ivf_centroids_quantized: corpus has only "
            f"{len(cents)} row(s) but n_centroids={n_centroids}; "
            f"lower n_centroids to at most the corpus size")
    for _ in range(n_iter):
        cell = _ivf_cells_by_dist(cents)[0]["cell"]
        stats = (q.withColumn("cell", cell)
                 .groupBy("cell")
                 .agg(F.count(F.lit(1)).alias("n"),
                      *[F.sum(F.col("qv")[i]).alias(f"s{i}")
                        for i in range(dim)])
                 .collect())
        # floor(sum/n) in DOUBLE division — sums stay < 2^53 (1e6-scale
        # values), so the division is exact-operand IEEE and matches
        # the oracle's floor(CAST(sum AS DOUBLE) / n) bit-for-bit
        new = {r["cell"]: [math.floor(r[f"s{i}"] / r["n"])
                           for i in range(dim)] for r in stats}
        cents = [new.get(j, cents[j]) for j in range(n_centroids)]
    q.unpersist()
    return cents


def ivf_topk_deterministic(df: DataFrame, k: int, n_centroids: int = 16,
                           n_probes: int = 3, n_iter: int = 3,
                           id_col: str = "vec_id",
                           vec_col: str = "embedding",
                           round_to: int = 4,
                           centroids: list[list[int]] | None = None,
                           persisted_out: list | None = None) -> DataFrame:
    """IVF ANN over the quantized-Lloyd coarse quantizer (vs
    lsh_topk's data-oblivious hyperplanes): the corpus becomes inverted
    lists (one cell per vector), and each query probes its
    ``n_probes`` nearest cells with an exact GEMM re-rank inside.
    Cells follow the data distribution, so recall per candidate beats
    random hyperplanes on clustered embeddings; ``n_probes`` trades
    recall for candidate count.

    Every stage up to the final cosine is integer arithmetic, so a SQL
    oracle can replay assignment, probe selection, and the candidate
    set exactly. Similarities are rounded to ``round_to`` decimals
    BEFORE ranking (both engines) to pin tie-breaks; ``round_to=None``
    keeps them unrounded. The centroid matrix (from
    :func:`fit_ivf_centroids_quantized`, fitted here when
    ``centroids`` is omitted) re-enters the plan as literal arrays, so
    cell assignment and probe selection are pure JVM expressions and
    candidate generation is an equi-join on cell id."""
    if centroids is None:
        centroids = fit_ivf_centroids_quantized(
            df, n_centroids, n_iter, id_col, vec_col)
    # cached: the explode branch and the block grid's sizing aggregate
    # both read the interpreted n_centroids × dim distance fold, and
    # uncached each reader re-evaluates it (measured 2-3× slower)
    emb = _materialize_artifact(
        _nn_vectors(df, id_col, vec_col, "ivf_topk_deterministic",
                    dim=len(centroids[0]))
        .withColumn("qv", _ivf_quantize_expr(F.col("vec")))
        .withColumn("__cbd", _ivf_cells_by_dist(centroids)).drop("qv"),
        "ivf_topk_deterministic", persisted_out)
    probes = F.transform(F.slice("__cbd", 1, n_probes), lambda s: s["cell"])
    both = _explode_roles(emb, probes, "cell")  # member cell = probes[0]
    return _grouped_candidate_topk(both, "cell", k, round_to=round_to)


def quantize_embeddings(df: DataFrame, id_col: str = "vec_id",
                        vec_col: str = "embedding",
                        round_to: int = 4,
                        method: str = "arrow") -> DataFrame:
    """Symmetric int8 quantization per vector: scale = max|x|/127,
    q_i = round(x_i / scale) ∈ [-127, 127] — the 4× storage cut that
    makes a 100 TB embedding table a 25 TB one. No shuffle either way;
    returns (id, scale, max_abs_err, mean_abs_err) so callers can gate
    on reconstruction error before swapping the quantized column in.

    ``method="arrow"`` (default) does the per-element math in an
    Arrow-batched pandas_udf — measured 7× faster than the pure-JVM
    variant at sf0.1 (0.26 s vs 1.8 s) because Spark evaluates
    higher-order array lambdas interpreted, not codegen.
    ``method="expr"`` keeps the all-expression plan (zero Python) for
    callers who need the op to fuse into a larger codegen stage.

    The two methods are bit-identical to each other: the arrow path
    replicates ``F.round``'s JVM rule (HALF_UP on the SHORTEST-decimal
    repr, BigDecimal.valueOf) — vectorized binary rounding with an
    exact Decimal fixup for the rare elements within 1e-9 of a .5
    boundary, where binary +0.5 and shortest-repr rounding disagree
    (e.g. 0.49999999999999994 → 0, not 1). SQL oracles (DuckDB
    ``round`` = binary-value HALF_UP) agree everywhere EXCEPT exactly
    those boundary doubles, which real-valued embeddings don't
    produce.
    """
    if method == "expr":
        v = _finite_vec(F.col(vec_col).cast("array<double>"),
                        "quantize_embeddings")
        max_abs = F.aggregate(v, F.lit(0.0),
                              lambda acc, x: F.greatest(acc, F.abs(x)))
        scale = max_abs / F.lit(127.0)
        # zero vector → scale 0; divide by 1 instead so q=0/err=0
        # rather than a null-poisoned row (engines disagree on 0/0)
        safe = F.when(scale == 0, F.lit(1.0)).otherwise(scale)
        q = F.transform(v, lambda x: F.round(x / safe).cast("int"))
        err = F.zip_with(v, q, lambda x, qi: F.abs(x - qi * scale))
        n = F.size(v)
        return df.select(
            F.col(id_col),
            F.round(scale, 6).alias("scale"),
            F.round(F.aggregate(err, F.lit(0.0),
                                lambda acc, e: F.greatest(acc, e)),
                    round_to).alias("max_abs_err"),
            # try_divide: empty vector → NULL mean (a plain divide is a
            # DIVIDE_BY_ZERO error under ANSI mode), matching the arrow
            # path's pinned null/empty contract
            F.round(F.try_divide(
                F.aggregate(err, F.lit(0.0), lambda acc, e: acc + e), n),
                round_to).alias("mean_abs_err"))
    if method != "arrow":
        raise ValueError(f"unknown method: {method!r}")

    @F.pandas_udf("struct<scale:double,max_abs_err:double,"
                  "mean_abs_err:double>")
    def qstats(vs: pd.Series) -> pd.DataFrame:
        out = []
        for vec in vs:
            # null/empty contract pinned to the expr path's outputs
            # (test-asserted): null vector → all-null row; empty vector
            # → scale 0, max 0, mean null (0/0 is NULL in Spark SQL)
            if vec is None:
                out.append((None, None, None))
                continue
            x = np.asarray(vec, dtype=np.float64)
            if x.size == 0:
                out.append((0.0, 0.0, None))
                continue
            s = float(np.abs(x).max()) / 127.0
            safe = s if s > 0 else 1.0
            # half-away-from-zero to match F.round / SQL round()
            # (np.round is half-even)
            r = x / safe
            q = np.trunc(r + np.copysign(0.5, x))
            # F.round rounds the SHORTEST-decimal repr (BigDecimal.
            # valueOf), not the binary value: 0.49999999999999994 + 0.5
            # is 1.0 in binary but reads "0.4999..." decimal → 0.
            # Vectorized binary rounding above, exact Decimal fixup for
            # the (measure-zero) elements near a .5 boundary.
            sus = np.abs(np.abs(r - np.trunc(r)) - 0.5) < 1e-9
            if sus.any():
                from decimal import ROUND_HALF_UP, Decimal
                for bi in np.nonzero(sus)[0]:
                    q[bi] = float(Decimal(repr(float(r[bi]))).quantize(
                        Decimal(1), rounding=ROUND_HALF_UP))
            err = np.abs(x - q * s)
            # sequential sum matches the expr path / SQL list_reduce
            out.append((s, float(err.max(initial=0.0)),
                        float(sum(err.tolist())) / x.size))
        return pd.DataFrame(out, columns=["scale", "max_abs_err",
                                          "mean_abs_err"])

    return (df.select(F.col(id_col),
                      qstats(_finite_vec(
                          F.col(vec_col).cast("array<double>"),
                          "quantize_embeddings"))
                      .alias("__q"))
            .select(id_col,
                    F.round(F.col("__q.scale"), 6).alias("scale"),
                    F.round(F.col("__q.max_abs_err"), round_to)
                    .alias("max_abs_err"),
                    F.round(F.col("__q.mean_abs_err"), round_to)
                    .alias("mean_abs_err")))
