"""Streaming operator builders (see package docstring)."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from spark_ext_spark.llm.dedup import text_digest
from spark_ext_spark.operators.gather import Gather


def streaming_event_counts(events: DataFrame, ts_col: str = "ts",
                           key_col: str = "event_type",
                           value_col: str = "value",
                           window: str = "10 minutes",
                           slide: str | None = None,
                           watermark: str = "20 minutes") -> DataFrame:
    """Watermarked (sliding) window rollup: count + sum per key per
    window. Late rows beyond the watermark are dropped; state is
    bounded by (windows in watermark horizon × keys)."""
    win = (F.window(ts_col, window, slide) if slide
           else F.window(ts_col, window))
    return (events
            .withWatermark(ts_col, watermark)
            .groupBy(win.alias("win"), F.col(key_col))
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.sum(value_col).alias("total_value"))
            .select(F.col("win.start").alias("window_start"),
                    F.col("win.end").alias("window_end"),
                    key_col, "n_events", "total_value"))


def streaming_gather(events: DataFrame, ts_col: str = "ts",
                     pk_col: str = "user_id", key_col: str = "event_type",
                     value_col: str = "value", window: str = "10 minutes",
                     watermark: str = "20 minutes") -> DataFrame:
    """Windowed Gather: batch ``Gather`` keyed on (event-time window,
    pk). Its two groupBys become two chained stateful aggregations,
    legal in Spark 4 append mode because the watermarked window
    column is carried through both."""
    windowed = (events.withWatermark(ts_col, watermark)
                .withColumn("win", F.window(ts_col, window)))
    gather = Gather(primaryKeyCols=["win", pk_col], keyCol=key_col,
                    valueCol=value_col, outputCol="gathered")
    return (gather.transform(windowed)
            .select(F.col("win.start").alias("window_start"),
                    pk_col, "gathered"))


def streaming_dedup_exact(docs: DataFrame, ts_col: str, id_col: str,
                          text_col: str,
                          watermark: str = "1 hour") -> DataFrame:
    """Exact streaming dedup: keep the first document per
    ``text_digest`` (the ``exact_duplicates`` key) within the
    watermark horizon; state size is bounded by the horizon
    (dropDuplicatesWithinWatermark)."""
    digested = (docs
                .withColumn("digest", text_digest(text_col))
                .withWatermark(ts_col, watermark))
    return digested.dropDuplicatesWithinWatermark(["digest"])


def streaming_distinct_estimate(events: DataFrame, ts_col: str = "ts",
                                key_col: str = "user_id",
                                window: str = "10 minutes",
                                watermark: str = "20 minutes",
                                p: float = 0.25,
                                salt: str = "") -> DataFrame:
    """Approximate distinct-count per event-time window with bounded,
    tunable state — the streaming twin of the fixed-theta sketch
    (operators/sketches.theta_distinct, same md5-60 hash space, same
    estimate math).

    Streaming aggregation supports neither ``count(DISTINCT)`` nor
    sketch aggregates, and the exact alternative (dropDuplicates on
    the raw key) holds one state row per distinct key. Keeping only
    keys that hash below p·2^60 — a deterministic p-fraction sample
    of the KEY space, so duplicate arrivals can never bias it — cuts
    dedup state to p·D rows and makes the estimate ``n_kept / p``.
    Deterministic: micro-batch boundaries, retries, and replays
    cannot change which keys are kept, unlike arrival-order-fed
    sketches. Two chained stateful operators (dedup → windowed agg),
    legal in Spark 4 append mode; state for closed windows is evicted
    by the watermark.

    A window whose keys all hash above theta still emits a row
    (n_kept=0, distinct_est=0.0) — unsampled must stay
    distinguishable from no-traffic. Rows above the threshold map to
    a single sentinel hash (-1) before the dedup, which keeps such
    windows alive at a cost of at most ONE state row per window."""
    from spark_ext_spark.llm.splits import hash60
    from spark_ext_spark.operators.sketches import (theta_estimate,
                                                    theta_threshold)
    theta = theta_threshold(p)
    h = hash60(key_col, salt)
    kept = (events
            .withWatermark(ts_col, watermark)
            .where(F.col(key_col).isNotNull())
            .select(F.window(ts_col, window).alias("win"),
                    F.when(h < theta, h).otherwise(F.lit(-1))
                    .alias("__h"))
            .dropDuplicates(["win", "__h"]))
    n = F.count(F.when(F.col("__h") >= 0, F.lit(1)))
    return (kept.groupBy("win")
            .agg(n.alias("n_kept"),
                 theta_estimate(n, p).alias("distinct_est"))
            .select(F.col("win.start").alias("window_start"),
                    "n_kept", "distinct_est"))


def foreach_batch_upsert(key_cols: list[str], order_col: str, path: str):
    """Build a foreachBatch sink that upserts each micro-batch into a
    parquet key-value store: union existing + batch, keep the latest
    row per key (greatest ``order_col``, batch wins ties). The classic
    streaming→serving merge when no ACID table format is available —
    the whole store rewrites per batch, so at scale prefer partitioning
    the store and rewriting only partitions the batch touches (or a
    format with MERGE support); the per-key window logic is identical.

    Returns a function suitable for ``.writeStream.foreachBatch(...)``.
    """
    from pyspark.sql.window import Window

    def upsert(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        new = batch.withColumn("__src", F.lit(1))
        # Only a genuinely ABSENT store may fall back to batch-only —
        # checked explicitly, not with a bare except around the read: a
        # transient read failure or a schema mismatch in the union must
        # fail the batch (the stream retries it) rather than silently
        # overwriting the whole store with this one micro-batch.
        sc = spark.sparkContext
        jpath = sc._jvm.org.apache.hadoop.fs.Path(path)
        fs = jpath.getFileSystem(sc._jsc.hadoopConfiguration())
        if fs.exists(jpath):
            try:
                cur = spark.read.parquet(path).withColumn("__src",
                                                          F.lit(0))
            except Exception as e:
                # an existing-but-unreadable store (half-written
                # overwrite, pre-created empty dir) must surface as an
                # actionable error — NOT fall back to batch-only,
                # which would replace the whole store with one
                # micro-batch of data
                raise RuntimeError(
                    f"upsert store at {path} exists but is not "
                    f"readable parquet ({type(e).__name__}); restore "
                    f"or delete it before resuming the stream") from e
            merged = cur.unionByName(new)
        else:
            merged = new
        w = Window.partitionBy(*key_cols).orderBy(
            F.desc(order_col), F.desc("__src"))
        latest = (merged.withColumn("__rn", F.row_number().over(w))
                  .filter(F.col("__rn") == 1).drop("__rn", "__src"))
        # rewrite must not lazily read the path it overwrites
        latest.localCheckpoint().write.mode("overwrite").parquet(path)

    return upsert


def streaming_interval_join(left: DataFrame, right: DataFrame, on: str,
                            left_ts: str, right_ts: str,
                            upper: str = "10 minutes",
                            watermark: str = "30 minutes",
                            how: str = "inner") -> DataFrame:
    """Stream-STREAM interval join: right-side rows match a left row
    with the same key whose timestamp falls in [left_ts, left_ts +
    upper]. Both sides are buffered in state; the watermarks plus the
    time-bound condition are what let Spark evict — without the
    interval bound the state would grow forever, so the bound is
    mandatory, not a tuning choice. State per key ≈ rows inside
    (watermark + upper) horizon.

    Column names must be disjoint apart from ``on`` (both sides are
    aliased; the join key is exposed once)."""
    l = left.withWatermark(left_ts, watermark).alias("l")
    r = right.withWatermark(right_ts, watermark).alias("r")
    cond = ((F.col(f"l.{on}") == F.col(f"r.{on}"))
            & (F.col(f"r.{right_ts}") >= F.col(f"l.{left_ts}"))
            & (F.col(f"r.{right_ts}")
               <= F.col(f"l.{left_ts}") + F.expr(f"INTERVAL {upper}")))
    return l.join(r, cond, how).drop(F.col(f"r.{on}"))
