"""Benchmark of spark_ext_spark's user pipelines.

    python3 perfbench/run.py --workload audience_model --seed 1 \
        --seconds 10 --trace 0

One driver process runs one workload closed-loop: a single client, one
operation at a time, on ``local[<cpus>]`` with as many shuffle
partitions as cpus. Set-up starts the session, registers the sources
and generates the seeded inputs the library makes (``audience_gen``);
it runs ``SETUPS`` times (the session restarts in the same JVM) and its
median is ``setup_s``. Inputs the benchmark derives itself are written
before each set-up, outside its timing. One untimed
warm-up pass follows, so JIT compilation and code generation are done
before timing. Timed passes then run until ``--seconds`` of pass time
have elapsed (at least one), with Spark's cache cleared and both heaps
collected between passes. Every pass's outputs are checked; a wrong
output counts as a failed operation.

``--trace 0`` prints the end-to-end metrics, with tracing off.
``--trace 1`` sets up once with Spark's event log on, alternates passes
without and with a job group per span, and prints the per-layer
metrics read back from the log.

The last line of standard output is the result JSON; the line before it
records the host (cpus, PySpark version, load average) and input sizes.
All files go to a work directory under this one, removed on exit.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUPS = 3
WARMUP_PASS = -2
CPUS = len(os.sched_getaffinity(0))


def _bench_conf(work: str, event_log: bool) -> dict[str, str]:
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.memory": "2g",
        "spark.sql.shuffle.partitions": str(CPUS),
        "spark.local.dir": f"{work}/spark-local",
        "spark.sql.warehouse.dir": f"{work}/warehouse",
        # a heap fixed at its maximum does not grow or shrink with GC
        # timing, so peak RSS follows the work instead
        "spark.driver.extraJavaOptions":
            f"-Xms2g -Djava.io.tmpdir={work}/tmp -XX:-UsePerfData",
    }
    if event_log:
        os.makedirs(f"{work}/eventlog", exist_ok=True)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": f"file://{work}/eventlog",
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.rolling.enabled": "false"})
    return conf


def _vm_hwm_mb(pid) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def _jvm_proc():
    from pyspark import SparkContext
    gw = SparkContext._gateway
    return getattr(gw, "proc", None) if gw is not None else None


def _stop_jvm() -> None:
    """Stop the gateway JVM (and with it the Python workers) and wait
    for it to exit."""
    from pyspark import SparkContext
    proc = _jvm_proc()
    if proc is None:
        return
    SparkContext._gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc.stdin:
        proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:  # the JVM must not outlive us
        proc.kill()
        proc.wait()


class Run:
    """One benchmark run: a workload, its work directory and tracers."""

    def __init__(self, args, work: str):
        self.args, self.work = args, work
        self.failed = 0
        self.attempted = 0

    def set_up(self, tracer, event_log: bool):
        """Session start, source registration and the seeded inputs the
        library generates; returns (spark, workload, seconds taken).
        Inputs the benchmark derives itself are written before timing
        starts, so set-up time is the library's."""
        from spark_ext_spark.session import get_spark
        from workloads import WORKLOADS

        data = f"{self.work}/data"
        os.makedirs(data, exist_ok=True)
        wl = WORKLOADS[self.args.workload](data, self.args.seed)
        t0 = time.perf_counter()
        with tracer.span("session.start"):
            spark = get_spark("perfbench", master=f"local[{CPUS}]",
                              extra_conf=_bench_conf(self.work, event_log))
            spark.sparkContext.setLogLevel("ERROR")
        if event_log:
            tracer.sc = spark.sparkContext
        wl.setup(spark, tracer)
        return spark, wl, time.perf_counter() - t0

    @staticmethod
    def warm_up(spark, wl, tracer) -> float:
        """One untimed pass, so JIT and code generation are done before
        timing; returns its wall time."""
        tracer.pass_idx = WARMUP_PASS
        t0 = time.perf_counter()
        wl.run_pass(spark, tracer)
        spark.catalog.clearCache()
        return time.perf_counter() - t0

    def measure(self, spark, wl, tracers, seconds: float) -> list[dict]:
        """Timed passes until ``seconds`` of pass time, taking the
        tracers in turn and each at least once; returns one record per
        completed pass, with the position of its tracer."""
        passes, spent, idx = [], 0.0, 0
        while spent < seconds or idx < len(tracers):
            # start every pass from a collected heap on both sides
            gc.collect()
            spark.sparkContext._jvm.System.gc()
            tracer = tracers[idx % len(tracers)]
            tracer.pass_idx = idx
            started = tracer.started
            t0 = time.perf_counter()
            try:
                out = wl.run_pass(spark, tracer)
            except Exception:  # noqa: BLE001 - count it, keep measuring
                traceback.print_exc()
                out = None
            wall = time.perf_counter() - t0
            self.attempted += tracer.started - started
            spent += wall
            if out is None:
                self.failed += 1
            else:
                bad = wl.check(out)
                for msg in bad:
                    print(f"[{wl.name} pass {idx}] WRONG: {msg}",
                          file=sys.stderr)
                self.failed += len(bad)
                walls = [w for n, p, w in tracer.records if p == idx]
                passes.append({
                    "idx": idx, "tracer": idx % len(tracers),
                    "wall": wall, "ops": walls,
                    "fit": sum(w for n, p, w in tracer.records
                               if p == idx and n in wl.fit_spans),
                    "score": out.get("score_rows_per_s", 0.0),
                })
            spark.catalog.clearCache()
            idx += 1
            if self.failed and not passes and idx >= len(tracers):
                break
        return passes

    def untraced(self) -> dict:
        from spans import Tracer
        setups = []
        for i in range(SETUPS):
            if i:
                spark.stop()
            tracer = Tracer()
            spark, wl, took = self.set_up(tracer, event_log=False)
            setups.append(took)
        self.warm_up(spark, wl, tracer)
        passes = self.measure(spark, wl, [tracer], self.args.seconds)
        rss = _vm_hwm_mb("self") + _vm_hwm_mb(_jvm_proc().pid)
        input_rows = wl.count_inputs(spark)
        spark.stop()
        if not passes:
            return {}
        pass_s = statistics.median(p["wall"] for p in passes)
        ops = [w for p in passes for w in p["ops"]]
        self.info = {"passes": len(passes), "op_samples": len(ops),
                     "input_rows": input_rows}
        return {
            "setup_s": (statistics.median(setups), "s"),
            "pass_s": (pass_s, "s"),
            "op_p50_s": (statistics.median(ops), "s"),
            "rows_per_s": (input_rows / pass_s, "rows/s"),
            "peak_rss_mb": (rss, "MB"),
        }

    def traced(self) -> dict:
        """One set-up with the event log on, the warm-up pass, then
        passes alternately without and with job groups, so JIT and cache
        warming favour neither side of ``trace_overhead_ratio``."""
        from spans import Tracer, layer_metrics, read_event_log
        tracer = Tracer()
        spark, wl, _ = self.set_up(tracer, event_log=True)
        plain_tracer = Tracer()
        warm = self.warm_up(spark, wl, plain_tracer)
        passes = self.measure(spark, wl, [plain_tracer, tracer],
                              self.args.seconds)
        plain = [p for p in passes if p["tracer"] == 0]
        traced = [p for p in passes if p["tracer"] == 1]
        verified = wl.verified_ratio(spark)
        spark.stop()
        if not plain or not traced:
            return {}
        log_dir = f"{self.work}/eventlog"
        lines = []
        for f in sorted(os.listdir(log_dir)):
            with open(os.path.join(log_dir, f)) as fh:
                lines.extend(fh)
        totals = read_event_log(lines)
        idxs = [p["idx"] for p in traced]
        out = {k: (v, "s" if k.endswith("_s") else
                   "B" if k.endswith("_bytes") else "count")
               for k, v in layer_metrics(tracer.span_walls(), totals,
                                         idxs).items()}
        traced_pass = statistics.median(p["wall"] for p in traced)
        out["trace_overhead_ratio"] = (
            traced_pass / statistics.median(p["wall"] for p in plain), "ratio")
        out["span_coverage_ratio"] = (statistics.median(
            sum(p["ops"]) / p["wall"] for p in traced), "ratio")
        out["warmup_pass_s"] = (warm, "s")
        out["fit_s"] = (statistics.median(p["fit"] for p in traced), "s")
        out["score_rows_per_s"] = (
            statistics.median(p["score"] for p in traced), "rows/s")
        out["llm.dedup.verified_ratio"] = (verified, "ratio")
        out["failed_ops_ratio"] = (self.failed / max(self.attempted, 1),
                                   "ratio")
        self.info = {"passes": len(traced), "untraced_passes": len(plain)}
        return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["audience_model", "curation_sql"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    work = os.path.join(HERE, ".work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(f"{work}/tmp", exist_ok=True)
    # Python workers import the library from the checkout root, and
    # every temporary file stays inside the work directory.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in [os.environ.get("PYTHONPATH")] if p])
    os.environ["TMPDIR"] = tempfile.tempdir = f"{work}/tmp"
    os.environ["SPARK_LOCAL_DIRS"] = f"{work}/spark-local"
    os.environ.pop("SPARK_GRAFT_EXTRA_CONF", None)
    # tests/ holds the oracle comparison the SQL check reuses
    sys.path[:0] = [ROOT, HERE, os.path.join(ROOT, "tests")]
    try:
        import pyspark

        import spark_ext_spark  # noqa: F401 - fail fast without the library
        run = Run(args, work)
        metrics = run.traced() if args.trace else run.untraced()
    finally:
        _stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:  # another run's work directory is still there
            pass
    if not metrics:
        print("no pass completed", file=sys.stderr)
        return 1
    print(json.dumps({"cpus": CPUS, "pyspark": pyspark.__version__,
                      "loadavg_1m": round(os.getloadavg()[0], 2),
                      "workload": args.workload, "seed": args.seed,
                      **run.info}))
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
