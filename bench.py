"""Benchmark harness: run every declared query at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS], print ONE
JSON line {"metric", "value", "unit", "queries", "sf"}.

Each query is forced end-to-end with a noop-format write (full
execution, no driver collect cost), timed over 3 runs, median taken.
Caches are cleared BETWEEN queries, not between runs, so the median is
a warm-cache number (run 1 pays any fit/cache cost, runs 2-3 reuse
it). That is deliberate and has been the methodology since round 1 —
keep it, or every round-over-round comparison breaks.

Fault tolerance: a query that raises is recorded as an "errors" entry
and skipped from the headline sum — one bad query must never zero the
whole bench. The per-query map prints BEFORE the headline value so a
tail-capture of the output always keeps the headline intact.

Instrument calibration (round 7): wall-clock on this box drifts ±30%
with background load, which can swamp a real regression. Three
load-normalization aids are recorded alongside the medians:
- a fixed CALIBRATION query (pricing_summary — scan+agg, plan
  unchanged since round 1) is timed before AND after the sweep; its
  two numbers estimate box load during the run, and their ratio to a
  quiet-box reference (BASELINE.md) normalizes cross-round sums;
- per-query BEST-of-3 is reported next to the median — best-of is
  far less load-sensitive (a quiet scheduling window usually occurs
  in 3 tries), so compare best-of across rounds when calibration
  shows drift;
- 1-minute load averages before/after the sweep, for the record.
The headline metric stays the round-1 median methodology so the
historical series remains comparable.
"""

from __future__ import annotations

import json
import os
import re
import statistics
import sys
import traceback

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as entrymod  # noqa: E402
from tools.measure import (  # noqa: E402
    PROBE as CALIBRATION_QUERY, RUNS, SF_DIR, force, loadavg, probe,
    session, timed, warm_footers)


def _calibrate(spark, queries, sf_dir) -> float | None:
    """The fixed calibration query's load probe (`tools/measure.py`
    `probe`: 1 untimed + median of 3, measured 2.9 s cold vs 0.53 s
    warm on a 4-core host) — its own sweep timing is separate."""
    try:
        return probe(spark, queries, sf_dir)
    except Exception:  # noqa: BLE001 — calibration must never fail the bench
        return None


def _detail_path() -> str:
    """Where the full per-query detail JSON lands. Default is
    BENCH_local.json next to this file — which the DRIVER's per-round
    run overwrites (it invokes bench.py with no args), so local
    iteration runs should pass ``--out <file>`` to keep the committed
    driver artifact intact, or ``git checkout BENCH_local.json``
    afterwards (memory/bench-local-overwrite). The headline stdout
    line is unaffected either way."""
    argv = sys.argv[1:]
    if "--out" in argv:
        i = argv.index("--out")
        if i + 1 >= len(argv):
            print("usage: bench.py [--out DETAIL_JSON_PATH]",
                  file=sys.stderr)
            raise SystemExit(2)
        return os.path.abspath(argv[i + 1])
    return os.path.join(os.path.dirname(os.path.abspath(__file__)),
                        "BENCH_local.json")


def main() -> None:
    detail_path = _detail_path()
    # tolerate any directory name: 'sf' not followed by a number (e.g.
    # /data/transfer) must not crash the bench at startup
    m = re.search(r"sf([0-9.]+)/?$", SF_DIR)
    try:
        sf = float(m.group(1)) if m else -1.0
    except ValueError:
        sf = -1.0
    spark = session("spark_ext_spark-bench")

    queries = entrymod.queries()

    warm_footers(spark, SF_DIR)

    load_pre = loadavg()
    calib_pre = _calibrate(spark, queries, SF_DIR)

    timings: dict[str, float] = {}
    best: dict[str, float] = {}
    errors: dict[str, str] = {}
    # Execution order pinned ALPHABETICALLY (round 10): queries() dict
    # order is the driver-window rotation, which reorders every round —
    # running in dict order confounded the per-query cross-round series
    # with execution position (JVM warm-up, GC pressure from preceding
    # heavy queries; the r9 4-5x "regressions" on untouched queries).
    # The headline sum is order-independent, so the round-1 methodology
    # is unchanged; only the per-query series becomes comparable.
    for name in sorted(queries):
        fn = queries[name]
        try:
            samples = timed(lambda: force(fn(spark, SF_DIR)))
            timings[name] = round(statistics.median(samples), 4)
            best[name] = round(min(samples), 4)
        except Exception as exc:  # noqa: BLE001 — bench must survive any query
            errors[name] = f"{type(exc).__name__}: {exc}"[:500]
            traceback.print_exc(file=sys.stderr)
        finally:
            # queries cache intermediates; drop them between queries so
            # copies don't accumulate across the whole bench
            try:
                spark.catalog.clearCache()
            except Exception:  # noqa: BLE001
                pass

    calib_post = _calibrate(spark, queries, SF_DIR)
    load_post = loadavg()

    total = round(sum(timings.values()), 4)
    total_best = round(sum(best.values()), 4)
    # Per-query detail first (may be long), compact headline line LAST:
    # the driver tail-captures stdout, so a long final line loses its
    # head (r1: parsed=null). Keep the last line short and parseable.
    print(json.dumps({"queries": timings, "errors": errors}))
    # The driver's 2000-char tail capture truncates the per-query map;
    # persist the full detail so round-over-round per-query regression
    # diffing never needs a bench re-run.
    detail = {"sf": sf, "runs": RUNS, "total_sec": total,
              "total_best_sec": total_best,
              "calibration": {"query": CALIBRATION_QUERY,
                              "pre_sec": calib_pre, "post_sec": calib_post,
                              "loadavg_1m_pre": load_pre,
                              "loadavg_1m_post": load_post},
              "queries": timings, "best": best, "errors": errors}
    try:
        with open(detail_path, "w") as fh:
            json.dump(detail, fh, indent=1, sort_keys=True)
            fh.write("\n")
    except OSError:
        pass  # a read-only checkout must not break the bench
    print(json.dumps({
        "metric": "sum of per-query median wall-clock (3 runs) over "
                  f"{len(timings)} ok queries ({len(errors)} errored)",
        "value": total,
        "unit": "sec",
        "sf": sf,
        # load-drift instrumentation: best-of-3 sum (load-insensitive
        # comparator) and the fixed calibration probe before/after the
        # sweep — normalize cross-round sums by calib vs the quiet-box
        # reference in BASELINE.md before calling a delta a regression
        "best": total_best,
        "calib": [calib_pre, calib_post],
    }))
    spark.stop()


if __name__ == "__main__":
    main()
