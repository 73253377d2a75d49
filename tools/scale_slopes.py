"""3-point scale slopes for the heaviest queries (VERDICT r10 item 4).

The heavy non-TPC-H queries' 100×-safety case rested on plan shape
plus a single sf0.1 timing; a 3-point sf0.001/0.01/0.1 series exposes
super-linear candidate growth (e.g. LSH bucket skew inflating the
pair table in `semantic_clusters`) that no single point can show.

Model: rows scale ∝ sf, so with t(sf) = a + b·sf^p the diagnostic is

    growth10 = (t(0.1) - t(0.01)) / (t(0.01) - t(0.001))

— the marginal-cost ratio across the last decade vs the one before.
Linear data-bound work gives growth10 ≈ 10; fixed-overhead-dominated
queries give ≈ 1-3 (the deltas are noise around a constant); anything
WELL past 10 (say >20 after noise) means the marginal cost per row is
itself growing — the quadratic-candidate signature. Also reported:
per-decade ratios t(0.01)/t(0.001), t(0.1)/t(0.01) and the implied
log-log slope p̂ = log10(t(0.1)/t(0.01)) for the data-dominated
decade (p̂ ≤ 1 linear, > 1 super-linear, ≈ 0 overhead-bound).

One session, per-sf interleaved round-robin (memory: only same-session
interleaved readings are trustworthy on this box), median of 3.

Usage: python tools/scale_slopes.py [query ...]  → one JSON line
"""
from __future__ import annotations

import json
import math
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as em
from spark_ext_spark.session import get_spark

DEFAULT = ["semantic_clusters", "table_profile",
           "dedup_reduction_report", "dup_clusters",
           "tpch_q2_min_cost_supplier"]
SFS = ["/root/testdata/sf0.001", "/root/testdata/sf0.01",
       "/root/testdata/sf0.1"]
RUNS = 3


def force(df):
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    names = sys.argv[1:] or DEFAULT
    qs = em.queries()
    unknown = [n for n in names if n not in qs]
    if unknown:
        raise SystemExit(f"unknown queries: {unknown}")
    cpus = os.environ.get("SPARK_GRAFT_CPUS",
                          str(len(os.sched_getaffinity(0))))
    spark = get_spark("scale-slopes", master=f"local[{cpus}]")
    spark.sparkContext.setLogLevel("ERROR")

    # warmup every (query, sf) cell once — footer reads + codegen
    for n in names:
        for sf in SFS:
            force(qs[n](spark, sf))
            spark.catalog.clearCache()

    samples: dict[str, dict[str, list[float]]] = {
        n: {sf: [] for sf in SFS} for n in names}
    for _ in range(RUNS):
        for n in names:
            for sf in SFS:
                t0 = time.monotonic()
                force(qs[n](spark, sf))
                samples[n][sf].append(time.monotonic() - t0)
                spark.catalog.clearCache()

    out = {}
    for n in names:
        med = [statistics.median(samples[n][sf]) for sf in SFS]
        d1, d2 = med[1] - med[0], med[2] - med[1]
        # growth10 needs a non-noise denominator: a first-decade delta
        # at timer-noise level (≲50 ms on this box) makes the ratio
        # arbitrary (asof_chunked read "17.9" off a 40 ms delta while
        # t moved 1.5→2.3 s across 100× — overhead-bound, not
        # quadratic). Report null and lean on the log-log slope there.
        growth10 = round(d2 / d1, 2) if d1 > 0.05 else None
        p_hat = (round(math.log10(med[2] / med[1]), 3)
                 if med[1] > 0 else None)
        out[n] = {"t_sf0.001": round(med[0], 3),
                  "t_sf0.01": round(med[1], 3),
                  "t_sf0.1": round(med[2], 3),
                  "growth10": growth10,
                  "loglog_slope_last_decade": p_hat}
    print(json.dumps({"queries": out, "runs": RUNS,
                      "loadavg": round(os.getloadavg()[0], 2)}))
    spark.stop()


if __name__ == "__main__":
    main()
