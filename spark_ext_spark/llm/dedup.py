"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash.

All four read words from one tokenizer, :func:`normalize_text` split on
its single space (the Arrow UDFs receive the normalized text, so they
never re-derive it); all return DataFrames and keep every step
distributed:

- exact: hash groupBy on a normalized-text digest — one shuffle on the
  digest, map-side combined.
- n-gram Jaccard: shingle-blocked self-join (pairs only materialize for
  docs sharing ≥1 shingle) with a document-frequency cap on shingles so
  stop-shingles can't create quadratic buckets.
- MinHash+LSH: k permutation minima via an Arrow-batched pandas_udf
  (md5-derived 64-bit base hash, k affine permutations), banded into
  LSH buckets; candidate pairs come from a bucket equi-join and are
  verified with the signature-estimated Jaccard.
- SimHash: 64-bit weighted-token fingerprint; near pairs blocked on
  max_hamming+1 bit bands (pigeonhole: ≤ max_hamming differing bits ⇒
  at least one band equal), so recall is exact at any radius.
"""

from __future__ import annotations

import hashlib
import struct

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = [
    "normalize_text", "text_digest", "exact_duplicates", "word_shingles",
    "blocked_pair_counts", "jaccard_similar_pairs", "containment_pairs",
    "minhash_signatures", "minhash_lsh_pairs",
    "simhash", "simhash_near_pairs",
]

_MERSENNE61 = (1 << 61) - 1


def normalize_text(col: Column | str) -> Column:
    """The definition of a word for every text dedup operator: the
    words of a document are this column split on ``" "``. Lowercase,
    collapse each run of Java regex ``\\s`` (space, tab, newline,
    VT, FF, CR) to one space, then trim spaces. Any other character,
    Unicode whitespace such as U+00A0 included, stays inside its word.
    Pure JVM expression; the DuckDB oracles replay it as
    ``trim(regexp_replace(lower(text), '\\s+', ' ', 'g'), ' ')``.

    Collapse-before-trim matters: trim removes only spaces, so trimming
    first would leave a leading/trailing tab or newline that the
    collapse turns into a stray ' ', a phantom '' word after split."""
    c = F.col(col) if isinstance(col, str) else col
    return F.trim(F.regexp_replace(F.lower(c), r"\s+", " "))


def text_digest(col: Column | str) -> Column:
    """Exact-dedup key: sha256 of the normalized text, so collisions
    stay negligible at any corpus size."""
    return F.sha2(normalize_text(col), 256)


def exact_duplicates(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Exact dedup groups: one row per distinct normalized text with
    the canonical (minimum) id, member count, and sorted member ids.
    Single digest-keyed shuffle."""
    return (df
            .select(F.col(id_col).alias("member_id"),
                    text_digest(text_col).alias("digest"))
            .groupBy("digest")
            .agg(F.min("member_id").alias("canonical_id"),
                 F.count(F.lit(1)).alias("n_members"),
                 F.sort_array(F.collect_list("member_id")).alias("member_ids")))


def shingle_array(words: Column, n: int, hashed: bool = False) -> Column:
    """Array of n-word shingles from an already-materialized words
    array (duplicates kept, document order). ``words`` MUST be a
    projected column, not the split expression itself: a lambda
    referencing an unmaterialized expression re-evaluates it per
    element access (measured in OPTIMIZATION_r12.md).

    ``hashed=True`` maps each shingle to a 64-bit xxhash64 of its word
    tuple, folded directly over the n words, so no shingle string is
    built and downstream shuffles carry an 8-byte long (A/B in
    OPTIMIZATION_r12.md). Words contain no spaces, so the word tuple
    and the space-joined string name the same shingle."""
    # sequence(0, negative) would DESCEND in Spark — guard short texts
    # to an explicitly empty index array instead.
    idx = F.when(F.size(words) >= n,
                 F.sequence(F.lit(0), F.size(words) - F.lit(n))
                 ).otherwise(F.array().cast("array<int>"))
    if hashed:
        return F.transform(
            idx, lambda i: F.xxhash64(
                *[F.element_at(words, i + j + 1) for j in range(n)]))
    return F.transform(
        idx, lambda i: F.concat_ws(
            " ", *[F.element_at(words, i + j + 1) for j in range(n)]))


def word_shingles(df: DataFrame, id_col: str, text_col: str,
                  n: int = 3) -> DataFrame:
    """(doc, shingle) rows: each document's distinct n-word shingles as
    xxhash64 longs (:func:`shingle_array`), built with JVM array
    expressions (split → sequence → transform) — no Python.

    Assumes one row per id: the within-row array_distinct then already
    makes the pairs distinct, so no dedup shuffle runs over the
    exploded table."""
    from spark_ext_spark.sources.io import ensure_fanout
    wdf = ensure_fanout(
        df.select(F.col(id_col).alias("doc"),
                  F.split(normalize_text(text_col), " ").alias("__words")),
        "doc")
    shingle = shingle_array(F.col("__words"), n, hashed=True)
    return wdf.select("doc",
                      F.explode(F.array_distinct(shingle)).alias("shingle"))


def blocked_pair_counts(df: DataFrame, id_col: str, text_col: str,
                        n: int = 3,
                        max_shingle_df: int | None = 1000) -> DataFrame:
    """The shared candidate core of n-gram set-overlap dedup:
    (doc_a, doc_b, shared, n_a, n_b) for every document pair sharing
    ≥1 shingle — Jaccard, containment, overlap coefficient etc. are
    one expression over these columns (both pair producers below
    derive from it, and a caller wanting several measures gets them
    from ONE pass).

    Blocking: docs pair only if they share a shingle (equi-join on the
    shingle), so cost is Σ_s df(s)² over shared shingles — bounded by
    dropping shingles with document frequency > max_shingle_df (a
    shingle that common carries no dedup signal but would create a
    quadratic bucket at scale).

    Shingles are :func:`word_shingles`' xxhash64 longs, so the cap and
    the self-join shuffle 8-byte keys; counts are exact barring a
    64-bit collision (P ≈ d²/2⁶⁵ — negligible below ~10¹² distinct
    shingles). Ids must be unique, as :func:`word_shingles` assumes.
    """
    from pyspark.sql.window import Window

    sh = word_shingles(df, id_col, text_col, n)
    # NULL-id docs name no retrievable document: dropped BEFORE the df
    # cap, so they never ride the self-join nor count toward shingle df
    # (a semantics choice, pinned by
    # test_null_id_docs_do_not_count_toward_df_cap; OPTIMIZATION_r13.md)
    sh = sh.filter(F.col("doc").isNotNull())
    # df cap as map-side-combined counts → tiny broadcast hot list →
    # LEFT ANTI join: AQE can split a skewed join but never a window
    # partition (measured, sizing argument: OPTIMIZATION_r13.md)
    if max_shingle_df is not None:
        hot = (sh.groupBy("shingle").count()
               .filter(F.col("count") > max_shingle_df)
               .select("shingle"))
        sh = sh.join(F.broadcast(hot), "shingle", "left_anti")

    # each doc's shingle count rides its shingle rows through the
    # self-join instead of joining a sizes table onto the larger pair
    # table twice (OPTIMIZATION_r12.md); min() is exact — n_a/n_b are
    # constant within a (doc_a, doc_b) group
    shn = sh.withColumn("n_shingles", F.count(F.lit(1))
                        .over(Window.partitionBy("doc")))
    a = shn.select(F.col("doc").alias("doc_a"), "shingle",
                   F.col("n_shingles").alias("n_a"))
    b = shn.select(F.col("doc").alias("doc_b"), "shingle",
                   F.col("n_shingles").alias("n_b"))
    return (a.join(b, "shingle")
            .filter(F.col("doc_a") < F.col("doc_b"))
            .groupBy("doc_a", "doc_b")
            .agg(F.count(F.lit(1)).alias("shared"),
                 F.min("n_a").alias("n_a"),
                 F.min("n_b").alias("n_b")))


def jaccard_similar_pairs(df: DataFrame, id_col: str, text_col: str,
                          n: int = 3, threshold: float = 0.5,
                          max_shingle_df: int | None = 1000) -> DataFrame:
    """Near-duplicate pairs by exact n-gram Jaccard ≥ threshold, over
    :func:`blocked_pair_counts`' capped shingle-equi-join candidates
    (never all-pairs)."""
    pc = blocked_pair_counts(df, id_col, text_col, n, max_shingle_df)
    return (pc.withColumn("jaccard",
                          F.col("shared")
                          / (F.col("n_a") + F.col("n_b")
                             - F.col("shared")))
            .filter(F.col("jaccard") >= threshold)
            .select("doc_a", "doc_b",
                    F.round("jaccard", 4).alias("jaccard")))


def containment_pairs(df: DataFrame, id_col: str, text_col: str,
                      n: int = 3, threshold: float = 0.5,
                      max_shingle_df: int | None = 1000) -> DataFrame:
    """Subset/quote/boilerplate detection: pairs whose n-gram
    CONTAINMENT ``shared / min(|A|, |B|)`` ≥ threshold. Catches the
    asymmetric near-dups Jaccard misses — a short document fully
    quoted inside a long one has tiny Jaccard (union is dominated by
    the long doc) but containment ≈ 1. Same blocked candidate core as
    :func:`jaccard_similar_pairs` (:func:`blocked_pair_counts`)."""
    pc = blocked_pair_counts(df, id_col, text_col, n, max_shingle_df)
    return (pc.withColumn("containment",
                          F.col("shared") / F.least("n_a", "n_b"))
            .filter(F.col("containment") >= threshold)
            .select("doc_a", "doc_b",
                    F.round("containment", 4).alias("containment")))


def _hash64(token: str) -> int:
    """Deterministic 64-bit token hash (md5 low 8 bytes)."""
    return struct.unpack("<Q", hashlib.md5(token.encode()).digest()[:8])[0]


def _minhash_params(num_hashes: int, seed: int) -> tuple[np.ndarray, np.ndarray]:
    rng = np.random.default_rng(seed)
    a = rng.integers(1, _MERSENNE61, num_hashes, dtype=np.int64)
    b = rng.integers(0, _MERSENNE61, num_hashes, dtype=np.int64)
    return a, b


def minhash_signatures(df: DataFrame, id_col: str, text_col: str,
                       n: int = 3, num_hashes: int = 64,
                       seed: int = 42) -> DataFrame:
    """(id, signature array<long>) — k-permutation MinHash over the
    n-word shingles of :func:`normalize_text`. One Arrow batch per
    partition chunk; the k affine permutations (a·h + b mod 2^61-1)
    run as a vectorized numpy outer product per document.

    Documents with fewer than ``n`` words have an EMPTY shingle set and
    get a NULL signature — a shared sentinel (e.g. all-zeros) would make
    every short document a perfect LSH match of every other one."""
    a_params, b_params = _minhash_params(num_hashes, seed)

    @F.pandas_udf("array<long>")
    def sig(texts: pd.Series) -> pd.Series:
        out = []
        a = a_params.astype(object)  # python ints: exact mod-2^61 math
        b = b_params.astype(object)
        for t in texts:
            words = (t or "").split(" ")
            shingles = {" ".join(words[i:i + n])
                        for i in range(max(0, len(words) - n + 1))}
            if not shingles:
                out.append(None)
                continue
            hs = np.array([_hash64(s) for s in shingles], dtype=object)
            mins = np.min((hs[:, None] * a + b) % _MERSENNE61, axis=0)
            out.append([int(m) for m in mins])
        return pd.Series(out)

    from spark_ext_spark.sources.io import ensure_fanout
    return ensure_fanout(df, id_col).select(
        F.col(id_col).alias("doc"),
        sig(normalize_text(text_col)).alias("signature"))


def minhash_lsh_pairs(df: DataFrame, id_col: str, text_col: str,
                      n: int = 3, num_hashes: int = 64, bands: int = 16,
                      threshold: float = 0.5, seed: int = 42) -> DataFrame:
    """Near-dup pairs via banded MinHash-LSH candidates, verified with
    the signature-estimated Jaccard ≥ threshold.

    bands=16 × rows=4 at num_hashes=64 targets the classic S-curve
    crossover around jaccard ≈ (1/16)^(1/4) ≈ 0.5. Everything after
    the signature UDF is joins/aggregations on (band, band_hash)."""
    if num_hashes % bands != 0:
        raise ValueError("num_hashes must be divisible by bands")
    rows = num_hashes // bands
    # NULL signatures (docs shorter than n words — no shingles) carry
    # no similarity evidence; drop them so they can never pair
    sigs = (minhash_signatures(df, id_col, text_col, n, num_hashes, seed)
            .filter(F.col("signature").isNotNull()).cache())

    band_idx = F.explode(F.sequence(F.lit(0), F.lit(bands - 1))).alias("band")
    banded = (sigs.select("doc", "signature", band_idx)
              .select("doc", "band",
                      # xxhash64 over the band's signature slice: one
                      # cheap JVM hash per band, no string building
                      F.xxhash64(F.slice("signature",
                                         F.col("band") * rows + 1, rows))
                      .alias("band_hash")))
    a = banded.select(F.col("doc").alias("doc_a"), "band", "band_hash")
    b = banded.select(F.col("doc").alias("doc_b"), "band", "band_hash")
    cand = (a.join(b, ["band", "band_hash"])
            .filter(F.col("doc_a") < F.col("doc_b"))
            .select("doc_a", "doc_b").distinct())

    sa = sigs.select(F.col("doc").alias("doc_a"),
                     F.col("signature").alias("sig_a"))
    sb = sigs.select(F.col("doc").alias("doc_b"),
                     F.col("signature").alias("sig_b"))
    est = F.aggregate(
        F.zip_with("sig_a", "sig_b",
                   lambda x, y: F.when(x == y, 1).otherwise(0)),
        F.lit(0), lambda acc, v: acc + v) / F.lit(num_hashes)
    return (cand.join(sa, "doc_a").join(sb, "doc_b")
            .withColumn("jaccard_est", est)
            .filter(F.col("jaccard_est") >= threshold)
            .select("doc_a", "doc_b",
                    F.round("jaccard_est", 4).alias("jaccard_est")))


def simhash(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, 64-bit SimHash as long) — word-frequency-weighted majority
    vote per bit over the words of :func:`normalize_text`;
    near-identical texts land within a few bits."""

    @F.pandas_udf("long")
    def sh(texts: pd.Series) -> pd.Series:
        from collections import Counter

        shifts = np.arange(64, dtype=np.uint64)
        powers = np.uint64(1) << shifts
        memo: dict[str, int] = {}  # vocab is Zipf-small vs token count
        out = []
        for t in texts:
            words = (t or "").split(" ")
            if words == [""]:
                # empty docs carry no evidence: NULL, not a shared 0
                # sentinel that would pair every empty doc at hamming 0
                out.append(None)
                continue
            cnt = Counter(words)
            hvals = []
            for w in cnt:
                h = memo.get(w)
                if h is None:
                    h = _hash64(w)
                    memo[w] = h
                hvals.append(h)
            hs = np.array(hvals, dtype=np.uint64)
            weights = np.fromiter(cnt.values(), dtype=np.int64,
                                  count=len(cnt))
            # (n_distinct, 64) sign matrix in one shot — same
            # weight-majority vote as the per-word loop it replaces
            bits = ((hs[:, None] >> shifts[None, :])
                    & np.uint64(1)).astype(np.int64)
            acc = ((2 * bits - 1) * weights[:, None]).sum(axis=0)
            val = int(powers[acc > 0].sum())
            # to signed 64-bit
            out.append(val - (1 << 64) if val >= (1 << 63) else val)
        return pd.Series(out)

    from spark_ext_spark.sources.io import ensure_fanout
    return ensure_fanout(df, id_col).select(
        F.col(id_col).alias("doc"),
        sh(normalize_text(text_col)).alias("simhash"))


def simhash_bands(max_hamming: int) -> list[tuple[int, int]]:
    """(shift, width) for max_hamming+1 contiguous bit bands covering
    64 bits as evenly as possible. Pigeonhole: ≤ max_hamming differing
    bits over max_hamming+1 bands ⇒ at least one band is bit-identical,
    so the band equi-join has FULL recall at the requested radius (the
    old fixed 4×16 banding silently lost pairs past hamming 3).

    Shared with the DuckDB oracle generator so both engines block on
    byte-identical band boundaries."""
    if not 0 <= max_hamming < 64:
        raise ValueError("max_hamming must be in [0, 63]")
    nb = max_hamming + 1
    base, rem = divmod(64, nb)
    out, shift = [], 0
    for i in range(nb):
        w = base + (1 if i < rem else 0)
        out.append((shift, w))
        shift += w
    return out


def simhash_near_pairs(df: DataFrame, id_col: str, text_col: str,
                       max_hamming: int = 3) -> DataFrame:
    """Pairs with Hamming(simhash) ≤ max_hamming, blocked on
    max_hamming+1 bit bands (see :func:`simhash_bands`), so candidates
    come from an equi-join, not a cross join. NULL simhashes (empty
    docs) never pair."""
    spec = simhash_bands(max_hamming)
    hashes = (simhash(df, id_col, text_col)
              .filter(F.col("simhash").isNotNull()).cache())

    def band_key(shift: int, width: int):
        col = F.shiftrightunsigned("simhash", shift)
        if width < 64:
            col = col.bitwiseAND(F.lit((1 << width) - 1))
        return col

    banded = hashes.select(
        "doc", "simhash",
        F.explode(F.array(*[
            F.struct(F.lit(i).alias("band"),
                     band_key(sh_, w).alias("key"))
            for i, (sh_, w) in enumerate(spec)])).alias("bk")
    ).select("doc", "simhash", F.col("bk.band").alias("band"),
             F.col("bk.key").alias("key"))

    a = banded.select(F.col("doc").alias("doc_a"),
                      F.col("simhash").alias("h_a"), "band", "key")
    b = banded.select(F.col("doc").alias("doc_b"),
                      F.col("simhash").alias("h_b"), "band", "key")
    hamming = F.bit_count(F.col("h_a").bitwiseXOR(F.col("h_b")))
    return (a.join(b, ["band", "key"])
            .filter(F.col("doc_a") < F.col("doc_b"))
            .select("doc_a", "doc_b", "h_a", "h_b").distinct()
            .withColumn("hamming", hamming)
            .filter(F.col("hamming") <= max_hamming)
            .select("doc_a", "doc_b", "hamming"))
