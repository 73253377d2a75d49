"""Per-query job/stage/task profile: how many Spark JOBS (sequential
driver actions), stages and tasks each declared query costs, and the
wall split between plan-build time (Python/driver, before the action)
and execution time. The job count is the latency floor on any box —
a query that runs 9 sequential jobs cannot beat 9 × job-overhead no
matter the data size — so it ranks where fixed overhead, not data,
dominates at bench scale.

    python tools/job_profile.py [query ...]     # default: all

Uses the status tracker's job-group API (public) — no listener jars.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    import __spark_entry__ as em
    from spark_ext_spark.session import get_spark

    cpus = len(os.sched_getaffinity(0))
    spark = get_spark("job-profile", master=f"local[{cpus}]")
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext
    tracker = sc.statusTracker()

    queries = em.queries()
    names = sys.argv[1:] or sorted(queries)

    # warmup (same as bench.py): JVM/codegen spin-up must not land on
    # the first profiled query
    for t in ("region", "nation", "customer", "supplier", "part",
              "orders", "lineitem", "events", "documents", "embeddings"):
        try:
            spark.read.parquet(f"{SF_DIR}/{t}.parquet").limit(1).count()
        except Exception:  # noqa: BLE001
            pass

    print(f"{'query':34s} {'jobs':>4s} {'stages':>6s} {'tasks':>6s} "
          f"{'build_s':>7s} {'exec_s':>7s}")
    for name in names:
        fn = queries[name]
        group = f"profile-{name}"
        sc.setJobGroup(group, name)
        t0 = time.monotonic()
        try:
            df = fn(spark, SF_DIR)
            t1 = time.monotonic()
            df.write.format("noop").mode("overwrite").save()
            t2 = time.monotonic()
        except Exception as exc:  # noqa: BLE001
            print(f"{name:34s} ERROR {type(exc).__name__}: {exc}")
            continue
        finally:
            sc.setJobGroup(None, None)
        job_ids = tracker.getJobIdsForGroup(group)
        stages = tasks = 0
        for jid in job_ids:
            ji = tracker.getJobInfo(jid)
            if ji is None:
                continue
            for sid in ji.stageIds:
                si = tracker.getStageInfo(sid)
                if si is not None and si.numTasks > 0:
                    stages += 1
                    tasks += si.numTasks
        print(f"{name:34s} {len(job_ids):>4d} {stages:>6d} {tasks:>6d} "
              f"{t1 - t0:>7.3f} {t2 - t1:>7.3f}", flush=True)
        spark.catalog.clearCache()
    spark.stop()


if __name__ == "__main__":
    main()
