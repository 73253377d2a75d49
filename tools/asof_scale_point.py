"""One-decade-up as-of join scale point (round 9, VERDICT item 5).

SCALE.md's window/chunked crossover (6-23M hot rows) interpolated from
one measurement family; this adds a ~100M-hot-row point so that
crossover interpolates instead of extrapolating.
Same skew construction as tools/skew_bench.py's as-of arms (sf0.1
events amplified ×SKEW_AMPLIFY, 90% of rows re-keyed to one user) —
but at this decade the instrument necessarily changes in two ways,
both recorded in SCALE.md:

- **Input lives on disk, not in executor cache.** The ≤25.6M-row
  rounds persisted the amplified frame in memory; 102M deserialized
  rows exceed the whole default 8 GB heap, so a cached input starves
  execution memory and both arms die in UNABLE_TO_ACQUIRE_MEMORY
  before measuring anything (observed). The amplified table is
  written ONCE to parquet and both arms scan it — which is also the
  honest 100 TB shape (a real input arrives from storage).
- **Arms run in separate processes** (SKEW_ARMS=windowed /
  SKEW_ARMS=chunked): the windowed arm funnels every hot-key row
  through ONE sort task and can OOM the whole local-mode JVM — run it
  last or alone, or it takes the chunked measurement down with it.

    python tools/asof_scale_point.py --build        # write input once
    SKEW_ARMS=chunked  python tools/asof_scale_point.py
    SKEW_ARMS=windowed python tools/asof_scale_point.py

Heap is whatever spark_ext_spark.session defaults give
(SPARK_GRAFT_DRIVER_MEM to override) — record it next to the numbers.
Prints one JSON line {"rows": N, "hot": H, "sec": {...}}.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from tools.measure import (  # noqa: E402
    SF_DIR, best_of, force, release, session)

AMPLIFY = int(os.environ.get("SKEW_AMPLIFY", "1024"))
RUNS = int(os.environ.get("SKEW_RUNS", "2"))
ARMS = os.environ.get("SKEW_ARMS", "chunked,windowed").split(",")
INPUT = os.environ.get("SKEW_INPUT",
                       f"/tmp/asof_scale_input_x{AMPLIFY}.parquet")


def build(spark) -> None:
    from spark_ext_spark.plans.relational import load
    ev = load(spark, SF_DIR, "events").select(
        "event_id", "user_id", "ts", "value")
    amp = ev.withColumn("__rep", F.explode(
        F.sequence(F.lit(1), F.lit(AMPLIFY)))).withColumn(
        "event_id", F.xxhash64("event_id", "__rep")).drop("__rep")
    coin = F.pmod(F.xxhash64("event_id", F.lit(1)), F.lit(10))
    skewed = amp.withColumn(
        "user_id", F.when(coin < 9, F.lit(0)).otherwise(F.col("user_id")))
    skewed.write.mode("overwrite").parquet(INPUT)


def main() -> None:
    spark = session("asof-scale-point")
    from spark_ext_spark.operators.asof import asof_join

    if "--build" in sys.argv or not os.path.exists(INPUT):
        build(spark)
        if "--build" in sys.argv:
            n = spark.read.parquet(INPUT).count()
            print(json.dumps({"built": INPUT, "rows": n}))
            spark.stop()
            return

    skewed = spark.read.parquet(INPUT)
    n = skewed.count()
    hot = skewed.filter(F.col("user_id") == 0).count()

    right = skewed.select("user_id", F.col("ts").alias("rts"),
                          F.col("value").alias("price"))
    left = skewed.select("user_id", "ts", "event_id")
    kw = dict(on="user_id", left_ts="ts", right_ts="rts",
              value_cols=["price"])
    results: dict[str, float] = {}

    if "chunked" in ARMS:
        held: list = []
        results["asof_chunked_skewed"] = best_of(
            lambda: force(asof_join(left, right, strategy="chunked",
                                    persisted_out=held, **kw)),
            RUNS, lambda: release(held))

    if "windowed" in ARMS:
        results["asof_windowed_skewed"] = best_of(
            lambda: force(asof_join(left, right, **kw)), RUNS)

    print(json.dumps({"rows": n, "hot": hot, "amplify": AMPLIFY,
                      "driver_mem": os.environ.get(
                          "SPARK_GRAFT_DRIVER_MEM", "8g (default)"),
                      "sec": results}))
    spark.stop()


if __name__ == "__main__":
    main()
