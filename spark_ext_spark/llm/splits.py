"""Dataset-assembly operators for training pipelines: deterministic
hash splits and sequence packing.

- ``hash_split``: train/val/test assignment that is a pure function of
  the row key (md5-derived uniform in [0,1)) — reproducible across
  engines, runs, and cluster sizes, unlike ``randomSplit`` whose
  assignment depends on partitioning. No shuffle at all: the split
  column is one scalar expression fused into the scan.
- ``pack_sequences``: assign documents to fixed-token-budget training
  sequences by exclusive running token count over a total order (the
  streaming-concatenation packing used to build LM batches). Uses the
  range-partitioned running sums (operators/prefix.py) so the global
  ordering never funnels through one task at scale; each sequence holds
  consecutive docs with ≈budget tokens (overflow ≤ one document).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from spark_ext_spark.llm.text import tokens
from spark_ext_spark.operators.prefix import running_sums

__all__ = ["hash60", "hash_unit_interval", "hash_split", "pack_sequences",
           "score_top_fraction",
           "temperature_mix_sample", "length_bucketed_batches",
           "source_cap_sample", "hash_sample_k"]


def hash60(key: Column | str, salt: str = "") -> Column:
    """Deterministic 60-bit integer hash of a key: the first 15 hex
    chars of md5(key||salt) as a BIGINT. md5 (not xxhash64) so external
    systems — DuckDB, Python, SQL engines — reproduce the value
    bit-for-bit; 60 bits so it is exactly representable in both int64
    and float64. The shared primitive behind hash_unit_interval and
    the KMV/theta distinct sketches (operators/sketches.py)."""
    c = F.col(key) if isinstance(key, str) else key
    return F.conv(F.substring(F.md5(F.concat(c.cast("string"),
                                             F.lit(salt))),
                              1, 15), 16, 10).cast("long")


def hash_unit_interval(key: Column | str, salt: str = "") -> Column:
    """Deterministic uniform [0,1) from a key: hash60(key||salt) / 2^60."""
    return hash60(key, salt) / F.lit(float(1 << 60))


def hash_split(df: DataFrame, key_col: str,
               weights: dict[str, float] | None = None,
               salt: str = "", split_col: str = "split") -> DataFrame:
    """Append a split label ('train'/'val'/'test' by default) chosen by
    the key's hash position against cumulative weight boundaries.
    Weights are normalized; iteration order defines the boundaries.

    A NULL key has no hash position, so its label is NULL — the
    when-chain would otherwise fall through and silently dump every
    null-key row into the LAST split (the eval bucket, with default
    weights)."""
    weights = weights or {"train": 0.8, "val": 0.1, "test": 0.1}
    total = sum(weights.values())
    u = hash_unit_interval(key_col, salt)
    expr = F.when(F.col(key_col).isNull(), F.lit(None).cast("string"))
    cum = 0.0
    items = list(weights.items())
    for name, w in items[:-1]:
        cum += w / total
        expr = expr.when(u < cum, name)
    expr = expr.otherwise(items[-1][0])
    return df.withColumn(split_col, expr)


def pack_sequences(df: DataFrame, id_col: str, text_col: str,
                   budget: int = 2048,
                   num_partitions: int = 8,
                   persisted_out: list | None = None) -> DataFrame:
    """(id, n_tokens, seq_id): documents ordered by id are concatenated
    into sequences of ≈``budget`` tokens; seq_id = exclusive running
    token count DIV budget. A document straddling a boundary belongs to
    the sequence where it starts (overflow ≤ its own length — the
    standard streaming-packing contract). Distributed: running_sums'
    range-partitioned arm, never a single-task window.
    ``persisted_out`` receives that arm's persisted intermediate for
    explicit release once the packing is materialized."""
    toks = df.select(F.col(id_col).alias("doc"),
                     F.size(tokens(text_col)).alias("n_tokens"))
    cum = running_sums(
        toks, [F.asc("doc")], {"cum_excl": "n_tokens"}, inclusive=False,
        num_partitions=num_partitions, persisted_out=persisted_out)
    return cum.select(
        F.col("doc").alias(id_col), "n_tokens",
        F.floor(F.col("cum_excl") / F.lit(budget)).alias("seq_id"))


def source_cap_sample(df: DataFrame, group_col: str, id_col: str,
                      cap: int, salt: str = "") -> DataFrame:
    """Cap rows per group (domain/source/language) at ``cap``,
    selecting by deterministic hash rank — the corpus-curation
    'max N documents per domain' rule. Unlike fraction sampling the
    budget is a CARDINALITY, and the hash ranking makes the kept set a
    pure function of (key, salt): stable across runs, partitionings,
    and incremental re-crawls. One window shuffle on the group key;
    per-group partitions are bounded by group sizes (cap the biggest
    groups, which is exactly where the window does its work)."""
    from pyspark.sql.window import Window

    u = hash_unit_interval(id_col, salt)
    w = Window.partitionBy(group_col).orderBy(u.asc(),
                                              F.col(id_col).asc())
    return (df.withColumn("__rk", F.row_number().over(w))
            .filter(F.col("__rk") <= cap).drop("__rk"))


def score_top_fraction(df: DataFrame, group_col: str, id_col: str,
                       score_col: str, fraction: float) -> DataFrame:
    """Keep the top ``fraction`` of each group by score — the 'top X%
    per domain by quality/LM score' curation rule. Deterministic
    ordering (score desc, id asc); per-group budget =
    ``ceil(fraction * group_size)`` so every non-empty group keeps at
    least one row. One window shuffle on the group key; emits
    (original columns + ``rk``) for auditability."""
    from pyspark.sql.window import Window

    w = Window.partitionBy(group_col)
    wo = w.orderBy(F.col(score_col).desc(), F.col(id_col).asc())
    return (df.withColumn("rk", F.row_number().over(wo))
            .withColumn("__n", F.count(F.lit(1)).over(w))
            .filter(F.col("rk") <= F.ceil(F.lit(fraction) * F.col("__n")))
            .drop("__n"))


def hash_sample_k(df: DataFrame, id_col: str, k: int,
                  salt: str = "") -> DataFrame:
    """Exactly-k uniform sample, deterministically: order by the key's
    md5 hash position and take k. Unlike ``df.sample`` (fraction-based,
    count varies) or ``df.limit`` (partition-order-dependent), the
    selected set is a pure function of (keys, salt) and the plan is
    TakeOrderedAndProject — per-partition top-k then a k-row merge, no
    global sort, no driver materialization beyond k rows."""
    u = hash_unit_interval(id_col, salt)
    return (df.withColumn("__u", u)
            .orderBy(F.col("__u").asc(), F.col(id_col).asc())
            .limit(k).drop("__u"))


def temperature_mix_sample(df: DataFrame, group_col: str, id_col: str,
                           alpha: float = 0.7, budget: int = 1000,
                           salt: str = "mix") -> DataFrame:
    """Temperature-based source mixing — the size^alpha re-weighting
    used to balance heterogeneous corpora (small sources upsampled
    relative to their share when alpha < 1): expected take per group
    m_g = budget · n_g^α / Σ_h n_h^α, capped at n_g, realised as a
    deterministic per-row filter u(id) < m_g/n_g with the md5 uniform
    from hash_unit_interval — reproducible across engines, runs and
    cluster sizes, and stable under task retries (unlike Bernoulli
    ``sample``).

    Plan: one group-count agg, a two-row broadcast chain (per-group
    rates via a single-row normalizer cross join), then a scan-fused
    filter — the corpus itself never shuffles."""
    from spark_ext_spark.functions import attach_scalar_agg
    counts = df.groupBy(group_col).agg(F.count(F.lit(1)).alias("__n"))
    rates = (attach_scalar_agg(
        counts, {"__z": F.sum(F.pow("__n", F.lit(alpha)))})
             .select(group_col,
                     F.least(
                         F.lit(1.0),
                         F.lit(float(budget)) * F.pow("__n", F.lit(alpha))
                         / F.col("__z") / F.col("__n")).alias("__rate")))
    u = hash_unit_interval(id_col, salt)
    # null-safe join: a NULL group is a group like any other (the
    # counts agg already treats it as one); a bare equi-join would
    # silently drop every null-group row from the mix
    rates = rates.withColumnRenamed(group_col, "__g")
    return (df.join(F.broadcast(rates),
                    F.col(group_col).eqNullSafe(F.col("__g")))
            .filter(u < F.col("__rate"))
            .drop("__g", "__rate"))


def length_bucketed_batches(df: DataFrame, id_col: str, text_col: str,
                            bucket_tokens: int = 64,
                            batch_size: int = 32) -> DataFrame:
    """Padding-minimizing batch assignment: documents grouped into
    token-length buckets (floor(n_tokens / bucket_tokens)), then
    batched ``batch_size`` at a time within each bucket in id order —
    the dynamic-batching primitive that keeps same-batch sequences
    near-equal length so padding waste stays O(bucket_tokens), not
    O(max_len).

    Plan: one tokenize pass, a per-bucket row_number window (bucket
    count is bounded by max_len / bucket_tokens, and rows per bucket
    by the corpus — partition-parallel across buckets; for a corpus
    with billions of docs per bucket swap the window for the
    range-partitioned running sums as pack_sequences does). Deterministic:
    ordering is (doc id), a total order."""
    toks = df.select(F.col(id_col).alias("doc"),
                     F.size(tokens(text_col)).alias("n_tokens"))
    bucket = F.floor(F.col("n_tokens") / F.lit(bucket_tokens))
    from pyspark.sql.window import Window
    w = Window.partitionBy("bucket").orderBy("doc")
    return (toks.withColumn("bucket", bucket.cast("long"))
            .withColumn("batch_idx",
                        F.floor((F.row_number().over(w) - 1)
                                / F.lit(batch_size)).cast("long"))
            .select(F.col("doc").alias(id_col), "n_tokens", "bucket",
                    "batch_idx"))
