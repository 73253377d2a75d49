"""Engineered-skew A/B bench: measure what a 90%-one-key events table
does to the gather / aggregation / window / as-of families, and which
mitigation actually pays.

SCALE.md argues skew safety from plan shape (partial aggregation
absorbs hot grouping keys; keyed windows do not). This script turns
that argument into numbers once per round:

1. ``gather`` on skewed vs uniform keys — expected ≈flat (both hash-agg
   levels partial-combine map-side, so the hot pk reaches the reducer
   as one partial row per map task).
2. naive ``groupBy.sum/count`` vs the two-phase ``salted_aggregate`` on
   the skewed table — expected ≈parity for ALGEBRAIC aggregates (same
   partial-aggregation argument; salting is the cure for holistic or
   fallback cases, not a free win for sums).
3. per-key cumulative window on skewed vs uniform keys — expected
   degradation: a keyed window gives the hot key to ONE task.
4. as-of join, windowed vs chunked strategy, on the skewed table —
   expected: chunked wins exactly where (3) hurts, because it
   range-partitions the hot key across tasks (operators/asof.py).

Writes one JSON line; paste the numbers into SCALE.md's
"Engineered-skew A/B" section. Input: $SPARK_GRAFT_SF_DIR (default
sf0.1) events, amplified ×$SKEW_AMPLIFY (default 8) and re-keyed so
~90% of rows share user_id 0 (deterministic xxhash64 coin, no rand()).
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from tools.measure import (  # noqa: E402
    SF_DIR, best_of, force, release, session)

AMPLIFY = int(os.environ.get("SKEW_AMPLIFY", "8"))


def main() -> None:
    spark = session("skew-bench")
    from spark_ext_spark.plans.relational import load

    ev = load(spark, SF_DIR, "events").select(
        "event_id", "user_id", "event_type", "ts", "value")
    amp = ev.withColumn("__rep", F.explode(
        F.sequence(F.lit(1), F.lit(AMPLIFY)))).withColumn(
        "event_id", F.xxhash64("event_id", "__rep")).drop("__rep")
    coin = F.pmod(F.xxhash64("event_id", F.lit(1)), F.lit(10))
    skewed = amp.withColumn(
        "user_id", F.when(coin < 9, F.lit(0)).otherwise(F.col("user_id"))
    ).persist()
    # fair control: SAME key cardinality as the original table, evenly
    # spread — re-keying to xxhash64 raw (one key per row) would
    # confound "no skew" with a 1000× group-count change
    n_users = ev.select("user_id").distinct().count()
    uniform = amp.withColumn(
        "user_id", F.pmod(F.xxhash64("event_id", F.lit(2)),
                          F.lit(n_users))).persist()
    n = skewed.count()
    uniform.count()
    hot = skewed.filter(F.col("user_id") == 0).count()

    results: dict[str, float] = {}

    def gather_q(df):
        return (df.groupBy("user_id", "event_type")
                .agg(F.sum("value").alias("value"))
                .groupBy("user_id")
                .agg(F.collect_list(F.struct("event_type", "value"))
                     .alias("gathered")))

    results["gather_skewed"] = best_of(lambda: force(gather_q(skewed)))
    results["gather_uniform"] = best_of(lambda: force(gather_q(uniform)))

    def naive_totals(df):
        return df.groupBy("user_id").agg(
            F.sum("value").alias("total_value"),
            F.count(F.lit(1)).alias("n_events"))

    def salted_totals(df):
        from spark_ext_spark.plans.skew import salted_aggregate
        return salted_aggregate(
            df, ["user_id"],
            {"total_value": (F.sum("value"), F.sum("total_value")),
             "n_events": (F.count(F.lit(1)), F.sum("n_events"))},
            n_salts=16)

    results["agg_naive_skewed"] = best_of(lambda: force(naive_totals(skewed)))
    results["agg_salted_skewed"] = best_of(
        lambda: force(salted_totals(skewed)))

    from pyspark.sql.window import Window
    w = (Window.partitionBy("user_id").orderBy("ts", "event_id")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))

    def cumsum_q(df):
        return df.select("user_id", "event_id",
                         F.sum("value").over(w).alias("cum_value"))

    results["window_skewed"] = best_of(lambda: force(cumsum_q(skewed)))
    results["window_uniform"] = best_of(lambda: force(cumsum_q(uniform)))

    from spark_ext_spark.operators.asof import asof_join
    right = skewed.select("user_id", F.col("ts").alias("rts"),
                          F.col("value").alias("price"))
    left = skewed.select("user_id", "ts", "event_id")
    kw = dict(on="user_id", left_ts="ts", right_ts="rts",
              value_cols=["price"])

    results["asof_windowed_skewed"] = best_of(
        lambda: force(asof_join(left, right, **kw)), runs=2)

    # unpersist happens OUTSIDE the timed region — the windowed arm has
    # no analogous teardown, so timing it would bias the A/B
    held: list = []
    results["asof_chunked_skewed"] = best_of(
        lambda: force(asof_join(left, right, strategy="chunked",
                                persisted_out=held, **kw)),
        runs=2, after=lambda: release(held))

    # 5. global-ordering cumulative sums: the two arms of
    # operators/prefix.py:running_sums — one global window (every row
    # through ONE task) vs range-partitioned — at the distinct-score
    # cardinalities around BinaryModelMetrics' PREFIX_MIN_SCORES (1e6),
    # where the curve operators switch arms.
    from spark_ext_spark.operators.prefix import running_sums
    parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    for rows in (int(float(x)) for x in
                 os.environ.get("PREFIX_ROWS", "1e6,1e7").split(",")):
        base = (spark.range(rows)
                .select(F.col("id").alias("score"),
                        (F.xxhash64("id") % 1000).alias("v")))
        tag = f"{rows:.0e}".replace("+0", "").replace("+", "")
        results[f"prefix_global_window_{tag}"] = best_of(
            lambda: force(running_sums(base, ["score"], {"cum": "v"})),
            runs=2)
        # unpersist happens OUTSIDE the timed region (same rule as the
        # as-of A/B above: the window arm has no analogous teardown)
        results[f"prefix_partitioned_{tag}"] = best_of(
            lambda: force(running_sums(base, ["score"], {"cum": "v"},
                                       num_partitions=parts,
                                       persisted_out=held)),
            runs=2, after=lambda: release(held))

    print(json.dumps({"sf_dir": SF_DIR, "rows": n, "hot_key_rows": hot,
                      "amplify": AMPLIFY, "sec": results}))
    spark.stop()


if __name__ == "__main__":
    main()
