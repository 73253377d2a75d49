"""Quiet-box interleaved A/B for adjudicating per-query bench deltas
(first used to close the round-10 r→s bench-block anomaly: an
alphabetically CONTIGUOUS block of queries 2.0-2.8× slower on
untouched code — a mid-sweep load spike in the driver's run, not
code; round 12 reuses it for the theta_user_rollup/token_counts
readings).

Protocol (BASELINE.md calibration section + the repo's drift rule:
only same-session interleaved A/Bs are trustworthy): one session,
rounds of [probe, q1, probe, q2, ...] so every target timing has an
adjacent probe reading; report raw medians/bests AND probe-normalized
values against the r7 quiet-box probe reference (0.33 s warm).

Usage: python tools/quietbox_ab.py [query ...]
(default targets = the r10 r→s block; sf0.1, local[$SPARK_GRAFT_CPUS]
defaulting to the usable cores, one JSON line)
"""
from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as em
from spark_ext_spark.session import get_spark

TARGETS = ["roc_curve", "roc_curve_binned", "rollup_revenue", "s2_cells"]
PROBE = "pricing_summary"
ROUNDS = 5
QUIET_PROBE_REF = 0.33  # r7 quiet-box warm probe (BASELINE.md)


def force(df):
    df.write.format("noop").mode("overwrite").save()


def loadavg():
    return round(os.getloadavg()[0], 2)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS",
                          str(len(os.sched_getaffinity(0))))
    spark = get_spark("quietbox-ab", master=f"local[{cpus}]")
    spark.sparkContext.setLogLevel("ERROR")
    qs = em.queries()
    global TARGETS
    if len(sys.argv) > 1:
        unknown = [a for a in sys.argv[1:] if a not in qs]
        if unknown:
            raise SystemExit(f"unknown queries: {unknown}")
        TARGETS = sys.argv[1:]

    # warmup: parquet footers + codegen for every plan in the A/B
    for name in [PROBE] + TARGETS:
        force(qs[name](spark, sf_dir))
        spark.catalog.clearCache()

    load_pre = loadavg()
    probe_samples: list[float] = []
    target_samples: dict[str, list[float]] = {t: [] for t in TARGETS}
    for _ in range(ROUNDS):
        for name in TARGETS:
            t0 = time.monotonic()
            force(qs[PROBE](spark, sf_dir))
            probe_samples.append(time.monotonic() - t0)
            spark.catalog.clearCache()
            t0 = time.monotonic()
            force(qs[name](spark, sf_dir))
            target_samples[name].append(time.monotonic() - t0)
            spark.catalog.clearCache()
    load_post = loadavg()

    probe_med = statistics.median(probe_samples)
    L = probe_med / QUIET_PROBE_REF
    out = {
        "probe": {"median": round(probe_med, 4),
                  "best": round(min(probe_samples), 4),
                  "n": len(probe_samples),
                  "load_factor_vs_r7_quiet": round(L, 3)},
        "loadavg": [load_pre, load_post],
        "targets": {
            t: {"median": round(statistics.median(v), 4),
                "best": round(min(v), 4),
                "normalized_median": round(statistics.median(v) / L, 4)}
            for t, v in target_samples.items()},
        "sf_dir": sf_dir, "rounds": ROUNDS,
    }
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
