"""applyInPandasWithState running totals: state accumulates across
micro-batches within a run AND across a query restart (checkpoint),
and the final per-key totals equal a batch groupBy."""

from __future__ import annotations

from pyspark.sql import functions as F

from spark_ext_spark.streaming import streaming_running_totals

SCHEMA = "user_id long, value double"


def _write_file(spark, d, rows, name, schema=SCHEMA):
    spark.createDataFrame(rows, schema).coalesce(1) \
        .write.mode("overwrite").parquet(f"{d}/in/{name}")


def _run(spark, d, qname, checkpoint, schema=SCHEMA):
    # foreachBatch sink: the memory sink refuses checkpoint RECOVERY
    # ("does not support recovering from checkpoint location"), and
    # the restart half of these tests exists to prove state restore
    out_dir = f"{d}/out/{qname}"
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(f"{d}/in/*"))
    out = streaming_running_totals(stream, "user_id", "value")
    q = (out.writeStream.foreachBatch(
            lambda df, epoch: df.write.mode("append").parquet(out_dir))
         .outputMode("update").option("checkpointLocation", checkpoint)
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    assert not q.isActive
    spark.read.parquet(out_dir).createOrReplaceTempView(qname)
    # latest row per key = the one with the highest n_events (Spark
    # SQL has no QUALIFY; windowed subquery instead)
    return {r["user_id"]: (r["n_events"], r["total_value"])
            for r in spark.sql(
                f"SELECT user_id, n_events, total_value FROM ("
                f"  SELECT *, row_number() OVER (PARTITION BY user_id "
                f"  ORDER BY n_events DESC) AS rn FROM {qname}) "
                f"WHERE rn = 1").collect()}


def test_running_totals_across_batches_and_restart(spark, tmp_path):
    """Cross-micro-batch accumulation and checkpoint-restart state
    restore."""
    d = str(tmp_path)
    ckpt = f"{d}/ckpt"
    _write_file(spark, d, [(1, 1.0), (1, 2.0), (2, 10.0)], "f1")
    _write_file(spark, d, [(1, 4.0), (3, 7.0)], "f2")
    got = _run(spark, d, "rt_1", ckpt)
    # maxFilesPerTrigger=1 → two micro-batches in one run; user 1's
    # state carries from batch 1 into batch 2
    assert got[1] == (3, 7.0)
    assert got[2] == (1, 10.0)
    assert got[3] == (1, 7.0)

    # restart with the same checkpoint + a new file: state restores
    _write_file(spark, d, [(1, 100.0), (2, 0.5)], "f3")
    got2 = _run(spark, d, "rt_2", ckpt)
    assert got2[1] == (4, 107.0)
    assert got2[2] == (2, 10.5)


def test_running_totals_matches_batch_ground_truth(spark, tmp_path):
    """Final per-key totals equal a plain batch groupBy over the same
    files — the streaming statefulness changes WHEN rows are emitted,
    never the lifetime aggregate."""
    d = str(tmp_path)
    rows1 = [(i % 7, float(i)) for i in range(40)]
    rows2 = [(i % 5, float(2 * i + 1)) for i in range(25)]
    _write_file(spark, d, rows1, "g1")
    _write_file(spark, d, rows2, "g2")
    got = _run(spark, d, "rt_gt", f"{d}/ckpt_gt")
    truth = {r["user_id"]: (r["n"], r["t"]) for r in
             spark.read.parquet(f"{d}/in/*")
             .groupBy("user_id")
             .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("t"))
             .collect()}
    assert got == truth


def test_running_totals_string_key_keeps_its_type(spark, tmp_path):
    """The output schema carries the key column's OWN type: string ids
    are neither coerced to bigint in the plan nor rejected by Arrow
    when the first batch is emitted."""
    d = str(tmp_path)
    schema = "user_id string, value double"
    _write_file(spark, d, [("a", 1.0), ("b", 2.0), ("a", 3.0)], "s1",
                schema)
    stream = spark.readStream.schema(schema).parquet(f"{d}/in/*")
    out = streaming_running_totals(stream, "user_id", "value")
    assert out.schema["user_id"].dataType.simpleString() == "string"
    assert _run(spark, d, "rt_str", f"{d}/ckpt_str", schema) == \
        {"a": (2, 4.0), "b": (1, 2.0)}
