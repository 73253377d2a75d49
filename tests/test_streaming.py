"""Structured Streaming operator tests: drive each builder with a
file/memory stream and check the materialized results against the
equivalent batch computation."""

from __future__ import annotations

import time
from datetime import timedelta

import pytest
from pyspark.sql import functions as F

from spark_ext_spark.llm.dedup import exact_duplicates
from spark_ext_spark.llm.text import text_stats
from spark_ext_spark.operators.gather import Gather
from spark_ext_spark.streaming import (streaming_dedup_exact,
                                       streaming_event_counts,
                                       streaming_gather)

ROWS = [
    ("2024-01-01 00:01:00", 1, "view", 1.0),
    ("2024-01-01 00:02:00", 1, "view", 2.0),
    ("2024-01-01 00:03:00", 2, "click", 3.0),
    ("2024-01-01 00:11:00", 1, "view", 4.0),
    ("2024-01-01 00:12:00", 2, "click", 5.0),
    # Late "flush" row: advances the watermark past the windows above
    # so append-mode emits their final results.
    ("2024-01-01 02:00:00", 99, "flush", 0.0),
]


@pytest.fixture(scope="module")
def event_stream_dir(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("events_stream")
    df = spark.createDataFrame(ROWS, "ts string, user_id long, "
                                     "event_type string, value double") \
        .withColumn("ts", F.to_timestamp("ts"))
    df.coalesce(1).write.mode("overwrite").parquet(str(d / "in"))
    return str(d / "in"), df


def _run_to_memory(stream_df, name, mode="append", timeout=60):
    q = (stream_df.writeStream.format("memory").queryName(name)
         .outputMode(mode).trigger(availableNow=True).start())
    q.awaitTermination(timeout)
    assert not q.isActive
    return q


def test_streaming_event_counts(spark, event_stream_dir):
    path, batch_df = event_stream_dir
    stream = (spark.readStream.schema(batch_df.schema).parquet(path))
    out = streaming_event_counts(stream, window="10 minutes",
                                 watermark="30 minutes")
    _run_to_memory(out, "ev_counts")
    got = {(str(r["window_start"]), r["event_type"]):
           (r["n_events"], r["total_value"])
           for r in spark.sql("SELECT * FROM ev_counts").collect()}
    assert got[("2024-01-01 00:00:00", "view")] == (2, 3.0)
    assert got[("2024-01-01 00:00:00", "click")] == (1, 3.0)
    assert got[("2024-01-01 00:10:00", "view")] == (1, 4.0)
    assert got[("2024-01-01 00:10:00", "click")] == (1, 5.0)
    # the flush row's own window never finalizes
    assert not any(k[1] == "flush" for k in got)


def test_streaming_gather(spark, event_stream_dir):
    """The stream op is batch Gather keyed on (window, pk): on every
    window the flush row closes, its rows equal Gather over the batch
    frame."""
    path, batch_df = event_stream_dir
    stream = spark.readStream.schema(batch_df.schema).parquet(path)
    out = streaming_gather(stream, window="10 minutes",
                           watermark="30 minutes")
    _run_to_memory(out, "gathered_stream")
    rows = spark.sql("SELECT * FROM gathered_stream").collect()
    got = {(str(r["window_start"]), r["user_id"]):
           sorted((kv["event_type"], kv["value"]) for kv in r["gathered"])
           for r in rows}
    assert got[("2024-01-01 00:00:00", 1)] == [("view", 3.0)]
    assert got[("2024-01-01 00:00:00", 2)] == [("click", 3.0)]
    assert got[("2024-01-01 00:10:00", 1)] == [("view", 4.0)]

    # closed = window end at or below the watermark the flush row sets
    watermark = batch_df.agg(F.max("ts")).first()[0] - timedelta(minutes=30)
    windowed = batch_df.withColumn("win", F.window("ts", "10 minutes"))
    batch = (Gather(primaryKeyCols=["win", "user_id"], keyCol="event_type",
                    valueCol="value", outputCol="gathered")
             .transform(windowed)
             .where(F.col("win.end") <= F.lit(watermark))
             .collect())
    assert got == {(str(r["win"]["start"]), r["user_id"]):
                   sorted(tuple(kv) for kv in r["gathered"])
                   for r in batch}


def test_streaming_dedup_exact(spark, tmp_path_factory):
    """Keeps one document per ``exact_duplicates`` group of the same
    files: the kept digests are the batch digest set, and each kept
    doc_id is a member of its group."""
    d = tmp_path_factory.mktemp("docs_stream")
    docs = spark.createDataFrame(
        [("2024-01-01 00:00:01", 1, "hello world"),
         ("2024-01-01 00:00:02", 2, "HELLO   world"),   # dup after norm
         ("2024-01-01 00:00:03", 3, "something else")],
        "ts string, doc_id long, text string") \
        .withColumn("ts", F.to_timestamp("ts"))
    docs.coalesce(1).write.mode("overwrite").parquet(str(d / "in"))
    stream = spark.readStream.schema(docs.schema).parquet(str(d / "in"))
    out = streaming_dedup_exact(stream, "ts", "doc_id", "text")
    _run_to_memory(out, "dedup_stream")
    rows = spark.sql("SELECT digest, doc_id FROM dedup_stream").collect()
    kept = {r["doc_id"] for r in rows}
    assert len(kept) == 2 and 3 in kept
    assert len(kept & {1, 2}) == 1  # exactly one of the dups survives

    groups = {r["digest"]: r["member_ids"] for r in
              exact_duplicates(docs, "doc_id", "text").collect()}
    assert sorted(r["digest"] for r in rows) == sorted(groups)
    assert all(r["doc_id"] in groups[r["digest"]] for r in rows)


def test_text_stats_on_stream_matches_batch(spark, tmp_path_factory):
    """``text_stats`` is a pure per-row select, so it runs on a stream
    as it is and returns the batch rows."""
    d = tmp_path_factory.mktemp("docs_q")
    docs = spark.createDataFrame(
        [(1, "The cat sat on the mat"), (2, "123 456 789"),
         (3, "Hello,  WORLD!\tagain"), (4, "")],
        "doc_id long, text string")
    docs.coalesce(1).write.mode("overwrite").parquet(str(d / "in"))
    stream = spark.readStream.schema(docs.schema).parquet(str(d / "in"))
    _run_to_memory(text_stats(stream, "doc_id", "text"), "stats_stream")
    got = {r["doc_id"]: r for r in
           spark.sql("SELECT * FROM stats_stream").collect()}
    assert got == {r["doc_id"]: r for r in
                   text_stats(docs, "doc_id", "text").collect()}
    assert got[1]["n_tokens"] == 6
    assert got[2]["digit_ratio"] > 0.7


def test_foreach_batch_upsert(spark, tmp_path):
    from spark_ext_spark.streaming import foreach_batch_upsert
    store = str(tmp_path / "store")
    src = str(tmp_path / "updates")
    batch1 = spark.createDataFrame(
        [(1, 10, 100.0), (2, 10, 200.0)], "k long, v long, ord double")
    batch1.coalesce(1).write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(batch1.schema).parquet(src)
    sink = foreach_batch_upsert(["k"], "ord", store)
    q = (stream.writeStream.foreachBatch(sink)
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(60)
    # second wave: update k=1 (newer ord), stale k=2 (older ord), new k=3
    spark.createDataFrame(
        [(1, 99, 150.0), (2, 99, 50.0), (3, 30, 300.0)],
        "k long, v long, ord double").coalesce(1) \
        .write.mode("append").parquet(src)
    q = (stream.writeStream.foreachBatch(sink)
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True).start())
    q.awaitTermination(60)
    got = {r["k"]: (r["v"], r["ord"]) for r in
           spark.read.parquet(store).collect()}
    assert got == {1: (99, 150.0), 2: (10, 200.0), 3: (30, 300.0)}


def test_streaming_interval_join(spark, tmp_path):
    from spark_ext_spark.streaming import streaming_interval_join
    d = str(tmp_path / "iv")
    rows_v = [("2024-01-01 00:01:00", 1, "a"),
              ("2024-01-01 00:20:00", 1, "b"),
              ("2024-01-01 00:01:00", 2, "c")]
    rows_p = [("2024-01-01 00:05:00", 1, 10.0),   # joins view a (4 min)
              ("2024-01-01 00:25:00", 1, 20.0),   # joins view b (5 min)
              ("2024-01-01 00:45:00", 2, 30.0)]   # 44 min after c: no
    views = spark.createDataFrame(rows_v, "vts string, user_id long, tag string") \
        .withColumn("vts", F.to_timestamp("vts"))
    buys = spark.createDataFrame(rows_p, "bts string, user_id long, amount double") \
        .withColumn("bts", F.to_timestamp("bts"))
    views.coalesce(1).write.mode("overwrite").parquet(d + "/v")
    buys.coalesce(1).write.mode("overwrite").parquet(d + "/b")
    sv = spark.readStream.schema(views.schema).parquet(d + "/v")
    sb = spark.readStream.schema(buys.schema).parquet(d + "/b")
    out = streaming_interval_join(sv, sb, on="user_id",
                                  left_ts="vts", right_ts="bts")
    _run_to_memory(out, "iv_join")
    got = sorted((r["user_id"], r["tag"], r["amount"])
                 for r in spark.sql("SELECT * FROM iv_join").collect())
    assert got == [(1, "a", 10.0), (1, "b", 20.0)]


def test_foreach_batch_upsert_never_wipes_store_on_bad_batch(spark, tmp_path):
    """A batch whose union with the existing store fails (schema
    drift here; a transient read error behaves the same) must raise —
    NOT silently overwrite the whole store with that one batch."""
    import pytest
    from spark_ext_spark.streaming import foreach_batch_upsert
    store = str(tmp_path / "store")
    good = spark.createDataFrame([(1, 10, 100.0)],
                                 "k long, v long, ord double")
    sink = foreach_batch_upsert(["k"], "ord", store)
    sink(good, 0)                                  # seeds the store
    bad = spark.createDataFrame([(2, 5.0)], "k long, ord double")
    with pytest.raises(Exception):
        sink(bad, 1)                               # missing column v
    got = {r["k"] for r in spark.read.parquet(store).collect()}
    assert got == {1}                              # store intact


def test_foreach_batch_upsert_unreadable_store_errors_clearly(
        spark, tmp_path):
    """An existing-but-unreadable store path (pre-created empty dir,
    half-written overwrite) must raise an actionable error naming the
    path — neither a raw schema-inference crash nor a silent
    batch-only fallback that would replace the store."""
    import pytest
    from spark_ext_spark.streaming import foreach_batch_upsert
    store = tmp_path / "store"
    store.mkdir()                                  # exists, no parquet
    sink = foreach_batch_upsert(["k"], "ord", str(store))
    batch = spark.createDataFrame([(1, 100.0)], "k long, ord double")
    with pytest.raises(RuntimeError, match="exists but is not readable"):
        sink(batch, 0)


def test_streaming_distinct_estimate(spark, tmp_path_factory):
    """Theta-sketch streaming distinct: p=1 degenerates to exact
    per-window distinct counts; p=0.5 must equal the Python replay of
    the same md5-60 hash-space sample (determinism, not luck)."""
    import hashlib

    from spark_ext_spark.streaming import streaming_distinct_estimate

    d = tmp_path_factory.mktemp("distinct_stream")
    rows = []
    # window [00:00,00:10): users 0..19, each twice; one NULL key
    for u in range(20):
        rows += [(f"2024-01-01 00:0{u % 10}:00", u)] * 2
    rows.append(("2024-01-01 00:05:00", None))
    # window [00:10,00:20): users 0..9, each twice
    for u in range(10):
        rows += [(f"2024-01-01 00:1{u}:00", u)] * 2
    # window [00:20,00:30): only users hashing ABOVE the p=0.5
    # threshold (salt 'st') — must emit (0, 0.0), not vanish
    for u in (100, 110, 116):
        rows.append(("2024-01-01 00:25:00", u))
    rows.append(("2024-01-01 02:00:00", 99))  # watermark flush
    df = spark.createDataFrame(rows, "ts string, user_id long") \
        .withColumn("ts", F.to_timestamp("ts"))
    df.coalesce(1).write.mode("overwrite").parquet(str(d / "in"))

    def run(name, p):
        stream = spark.readStream.schema(df.schema).parquet(str(d / "in"))
        out = streaming_distinct_estimate(
            stream, "ts", "user_id", window="10 minutes",
            watermark="20 minutes", p=p, salt="st")
        _run_to_memory(out, name)
        return {str(r["window_start"]): (r["n_kept"], r["distinct_est"])
                for r in spark.sql(f"SELECT * FROM {name}").collect()}

    exact = run("theta_p1", 1.0)
    assert exact["2024-01-01 00:00:00"] == (20, 20.0)  # NULL excluded
    assert exact["2024-01-01 00:10:00"] == (10, 10.0)
    assert exact["2024-01-01 00:20:00"] == (3, 3.0)

    def kept(users, p):
        theta = int(p * (1 << 60))
        return sum(1 for u in users if int(hashlib.md5(
            f"{u}st".encode()).hexdigest()[:15], 16) < theta)

    half = run("theta_p05", 0.5)
    k0, k1 = kept(range(20), 0.5), kept(range(10), 0.5)
    assert half["2024-01-01 00:00:00"] == (k0, round(k0 / 0.5, 4))
    assert half["2024-01-01 00:10:00"] == (k1, round(k1 / 0.5, 4))
    # the all-above-threshold window: a zero row, not a gap
    assert half["2024-01-01 00:20:00"] == (0, 0.0)

    with pytest.raises(ValueError):
        streaming_distinct_estimate(df, p=0.0)
