"""Subset bench for same-session code A/Bs: time the NAMED queries
exactly like bench.py (noop sink, 3 runs, median + best, caches
cleared between queries, pricing_summary probe before/after) and print
one JSON line. Run it alternately from two checkouts (e.g. a HEAD
worktree vs the working tree) to A/B a diff under the same box
conditions:

    python tools/ab_bench.py semantic_clusters dup_clusters
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

RUNS = 3


def main() -> None:
    names = [a for a in sys.argv[1:] if not a.startswith("-")]
    if not names:
        print("usage: ab_bench.py QUERY [QUERY ...]", file=sys.stderr)
        raise SystemExit(2)
    import __spark_entry__ as entrymod
    from spark_ext_spark.session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS",
                          str(len(os.sched_getaffinity(0))))
    spark = get_spark("spark_ext_spark-ab", master=f"local[{cpus}]")
    spark.sparkContext.setLogLevel("ERROR")
    queries = entrymod.queries()

    def force(df):
        df.write.format("noop").mode("overwrite").save()

    for t in ("region", "nation", "customer", "supplier", "part",
              "orders", "lineitem", "events", "documents", "embeddings"):
        try:
            spark.read.parquet(f"{sf_dir}/{t}.parquet").limit(1).count()
        except Exception:  # noqa: BLE001
            pass

    def probe() -> float:
        fn = queries["pricing_summary"]
        force(fn(spark, sf_dir))  # untimed warm
        s = []
        for _ in range(RUNS):
            t0 = time.monotonic()
            force(fn(spark, sf_dir))
            s.append(time.monotonic() - t0)
        spark.catalog.clearCache()
        return round(statistics.median(s), 4)

    pre = probe()
    med, best = {}, {}
    for name in names:
        fn = queries[name]
        s = []
        for _ in range(RUNS):
            t0 = time.monotonic()
            force(fn(spark, sf_dir))
            s.append(time.monotonic() - t0)
        med[name] = round(statistics.median(s), 4)
        best[name] = round(min(s), 4)
        spark.catalog.clearCache()
    post = probe()
    print(json.dumps({"probe": [pre, post], "median": med, "best": best}))
    spark.stop()


if __name__ == "__main__":
    main()
