"""One measurement loop for `bench.py` and the timing tools.

The helpers own the protocol every timing in this repo shares: the
session (`local[$SPARK_GRAFT_CPUS]`, defaulting to the usable cores,
log level ERROR), the parquet-footer warm-up, the noop-sink `force`,
the timed-runs loop, the `pricing_summary` load probe, and job-group
job/stage/task counting through the status tracker.

Three subcommands use them, each printing what the script it replaced
printed (sf from $SPARK_GRAFT_SF_DIR, default sf0.1, except `slopes`):

    python tools/measure.py ab [query ...]      # interleaved-probe A/B
    python tools/measure.py jobs [query ...]    # job/stage/task profile
    python tools/measure.py slopes [query ...]  # 3-point scale slopes

A code A/B is `measure.py ab` run alternately from the two checkouts.
"""

from __future__ import annotations

import json
import math
import os
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import __spark_entry__ as em  # noqa: E402
from spark_ext_spark.session import get_spark  # noqa: E402

TESTDATA = os.path.dirname(em.SF0001)
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", f"{TESTDATA}/sf0.1")
TABLES = ("region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings")
RUNS = 3
PROBE = "pricing_summary"


def session(app_name: str):
    """The shared session: ``local[$SPARK_GRAFT_CPUS]``, defaulting to
    the cores this process may run on (as `perfbench/run.py` does).
    Python workers import the library from the checkout root, so a
    tool run from any working directory can execute Python UDFs."""
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in [os.environ.get("PYTHONPATH")] if p])
    cpus = os.environ.get("SPARK_GRAFT_CPUS",
                          str(len(os.sched_getaffinity(0))))
    spark = get_spark(app_name, master=f"local[{cpus}]")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def warm_footers(spark, sf_dir: str) -> None:
    """Untimed warm-up: JVM JIT, codegen compilation, and parquet footer
    reads otherwise land entirely on the FIRST timed query (observed
    as ±1 s run-to-run noise on whichever query happens to be first)."""
    for t in TABLES:
        try:
            spark.read.parquet(f"{sf_dir}/{t}.parquet").limit(1).count()
        except Exception:  # noqa: BLE001 — warmup must never fail a run
            pass


def force(df) -> None:
    """Execute ``df`` end to end with no driver collect cost."""
    df.write.format("noop").mode("overwrite").save()


def timed(run, runs: int = RUNS, after=None) -> list[float]:
    """Wall seconds of ``runs`` calls of ``run()``. ``after()`` (cache
    release, teardown) follows each call OUTSIDE the timed region."""
    samples = []
    for _ in range(runs):
        t0 = time.monotonic()
        run()
        samples.append(time.monotonic() - t0)
        if after is not None:
            after()
    return samples


def best_of(run, runs: int = RUNS, after=None) -> float:
    """Best of ``timed(run, runs, after)``, to the millisecond."""
    return round(min(timed(run, runs, after)), 3)


def probe(spark, queries, sf_dir: str) -> float:
    """Median of 3 forced runs of the fixed probe query — a box load
    probe, not a benchmark row. One UNTIMED run first: the probe must
    measure box load, and the first execution otherwise pays one-time
    JVM codegen/shuffle spin-up (measured 2.9 s vs 0.53 s warm on a
    4-core host — pure cold-start, which would make every pre/post
    pair look like drift)."""
    fn = queries[PROBE]
    force(fn(spark, sf_dir))
    samples = timed(lambda: force(fn(spark, sf_dir)))
    spark.catalog.clearCache()
    return round(statistics.median(samples), 4)


def release(frames: list) -> None:
    """Unpersist the frames an operator cached into ``persisted_out``
    and empty the list — teardown kept outside the timed region."""
    for fr in frames:
        fr.unpersist()
    frames.clear()


def loadavg() -> float | None:
    try:
        return round(os.getloadavg()[0], 2)
    except OSError:
        return None


def job_counts(spark, group: str) -> tuple[int, int, int]:
    """(jobs, stages, tasks) launched under job group ``group``; stages
    that ran no task (skipped by a shuffle reuse) are not counted."""
    tracker = spark.sparkContext.statusTracker()
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
    return len(job_ids), stages, tasks


def _names(args: list[str], queries, default) -> list[str]:
    names = args or list(default)
    unknown = [n for n in names if n not in queries]
    if unknown:
        raise SystemExit(f"unknown queries: {unknown}")
    return names


# -- ab ---------------------------------------------------------------

AB_TARGETS = ["roc_curve", "roc_curve_binned", "rollup_revenue", "s2_cells"]
AB_ROUNDS = 5
# warm probe median on an idle 4-core host (BASELINE.md calibration)
QUIET_PROBE_REF = 0.53


def ab(args: list[str]) -> None:
    """Quiet-box interleaved A/B for adjudicating per-query bench deltas
    (first used to close the r→s bench-block anomaly in BASELINE.md: an
    alphabetically CONTIGUOUS block of queries 2.0-2.8× slower on
    untouched code — a mid-sweep load spike in that bench run, not
    code). Default targets are that block.

    Protocol (BASELINE.md calibration section + the repo's drift rule:
    only same-session interleaved A/Bs are trustworthy): one session,
    rounds of [probe, q1, probe, q2, ...] so every target timing has an
    adjacent probe reading; report raw medians/bests AND probe-normalized
    values against the quiet-box probe reference. One JSON line."""
    spark = session("quietbox-ab")
    qs = em.queries()
    targets = _names(args, qs, AB_TARGETS)

    clear = spark.catalog.clearCache

    # warmup: parquet footers + codegen for every plan in the A/B
    for name in [PROBE] + targets:
        force(qs[name](spark, SF_DIR))
        clear()

    load_pre = loadavg()
    probe_samples: list[float] = []
    target_samples: dict[str, list[float]] = {t: [] for t in targets}
    for _ in range(AB_ROUNDS):
        for name in targets:
            probe_samples += timed(
                lambda: force(qs[PROBE](spark, SF_DIR)), 1, clear)
            target_samples[name] += timed(
                lambda: force(qs[name](spark, SF_DIR)), 1, clear)
    load_post = loadavg()

    probe_med = statistics.median(probe_samples)
    L = probe_med / QUIET_PROBE_REF
    print(json.dumps({
        "probe": {"median": round(probe_med, 4),
                  "best": round(min(probe_samples), 4),
                  "n": len(probe_samples),
                  "load_factor_vs_quiet": round(L, 3)},
        "loadavg": [load_pre, load_post],
        "targets": {
            t: {"median": round(statistics.median(v), 4),
                "best": round(min(v), 4),
                "normalized_median": round(statistics.median(v) / L, 4)}
            for t, v in target_samples.items()},
        "sf_dir": SF_DIR, "rounds": AB_ROUNDS,
    }))
    spark.stop()


# -- jobs -------------------------------------------------------------

def jobs(args: list[str]) -> None:
    """Per-query job/stage/task profile: how many Spark JOBS (sequential
    driver actions), stages and tasks each declared query costs, and the
    wall split between plan-build time (Python/driver, before the action)
    and execution time. The job count is the latency floor on any box —
    a query that runs 9 sequential jobs cannot beat 9 × job-overhead no
    matter the data size — so it ranks where fixed overhead, not data,
    dominates at bench scale. Default: every query, one table row each."""
    spark = session("job-profile")
    sc = spark.sparkContext
    queries = em.queries()
    names = _names(args, queries, sorted(queries))
    warm_footers(spark, SF_DIR)

    print(f"{'query':34s} {'jobs':>4s} {'stages':>6s} {'tasks':>6s} "
          f"{'build_s':>7s} {'exec_s':>7s}")
    for name in names:
        group = f"profile-{name}"
        sc.setJobGroup(group, name)
        t0 = time.monotonic()
        try:
            df = queries[name](spark, SF_DIR)
            t1 = time.monotonic()
            force(df)
            t2 = time.monotonic()
        except Exception as exc:  # noqa: BLE001
            print(f"{name:34s} ERROR {type(exc).__name__}: {exc}")
            continue
        finally:
            sc.setJobGroup(None, None)
        n_jobs, stages, tasks = job_counts(spark, group)
        print(f"{name:34s} {n_jobs:>4d} {stages:>6d} {tasks:>6d} "
              f"{t1 - t0:>7.3f} {t2 - t1:>7.3f}", flush=True)
        spark.catalog.clearCache()
    spark.stop()


# -- slopes -----------------------------------------------------------

SLOPES_DEFAULT = ["semantic_clusters", "table_profile",
                  "dedup_reduction_report", "dup_clusters",
                  "tpch_q2_min_cost_supplier"]
SLOPES_SFS = [f"{TESTDATA}/sf{sf}" for sf in ("0.001", "0.01", "0.1")]


def slopes(args: list[str]) -> None:
    """3-point scale slopes for the heaviest queries (SCALE.md).

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

    One session, per-sf interleaved round-robin (only same-session
    interleaved readings are trustworthy on a shared box), median of 3.
    One JSON line."""
    qs = em.queries()
    names = _names(args, qs, SLOPES_DEFAULT)
    spark = session("scale-slopes")

    clear = spark.catalog.clearCache

    # warmup every (query, sf) cell once — footer reads + codegen
    for n in names:
        for sf in SLOPES_SFS:
            force(qs[n](spark, sf))
            clear()

    samples: dict[str, dict[str, list[float]]] = {
        n: {sf: [] for sf in SLOPES_SFS} for n in names}
    for _ in range(RUNS):
        for n in names:
            for sf in SLOPES_SFS:
                samples[n][sf] += timed(
                    lambda: force(qs[n](spark, sf)), 1, clear)

    out = {}
    for n in names:
        med = [statistics.median(samples[n][sf]) for sf in SLOPES_SFS]
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
                      "loadavg": loadavg()}))
    spark.stop()


COMMANDS = {"ab": ab, "jobs": jobs, "slopes": slopes}


def main() -> None:
    if len(sys.argv) < 2 or sys.argv[1] not in COMMANDS:
        raise SystemExit("usage: measure.py {ab|jobs|slopes} [query ...]")
    COMMANDS[sys.argv[1]](sys.argv[2:])


if __name__ == "__main__":
    main()
