#!/usr/bin/env python3
"""goose-spark benchmark: one workload, one seed, one result line.

Run from the root of a goose-spark checkout:

    python3 perfbench/run.py --workload fresh_articles --seed 1 \\
        --seconds 10 --trace 0

The run starts one Spark session on local[nproc], finishes an untimed
warm-up batch (that is ``setup_s``), generates the workload's inputs from
the seed, then submits one timed call at a time until ``--seconds`` are
spent (a closed loop: one Spark driver process, no other client thread
than the memory sampler). Every call's output is checked against goldens
or oracles.

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the per-layer
metrics from a separate traced pass (see README.md). The last line of
standard output is the JSON result; the lines before it describe the box
and each call. Scratch files go to ``.perfbench/`` in the checkout.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import signal
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
MIN_CALLS = 2
DEADLINE_S = 160  # a run that hangs is stopped, cleaned up and fails

END_TO_END = {
    "setup_s": "s", "job_s": "s", "docs_per_s": "1/s", "mb_per_s": "MB/s",
    "cpu_ms_per_doc": "ms", "peak_rss_mb": "MB",
}


def _per_layer_units() -> dict[str, str]:
    from tracing import STAGES
    from workloads import NEARDUP_QUERIES

    units = {}
    for m in STAGES:
        units[m] = "ms"
        units[m.removesuffix("_ms") + "_share"] = "fraction"
    units.update({
        "gooselite.pipeline.extract_one_ms.p50": "ms",
        "gooselite.pipeline.extract_one_ms.p99": "ms",
        "gooselite.pipeline.docs_per_s_1core": "1/s",
        "goose_spark.udf.batches": "count",
        "goose_spark.udf.batch_overhead_ms": "ms",
    })
    for p in ("scan", "prepare", "extract", "commit"):
        units[f"goose_spark.job.{p}_s"] = "s"
    for c in ("rows_scanned", "rows_after_dedupe", "rows_after_resume",
              "rows_committed", "files_written"):
        units[f"goose_spark.job.{c}"] = "count"
    units["goose_spark.job.bytes_written"] = "bytes"
    units["goose_spark.job.checkpoint_bytes"] = "bytes"
    units["goose_spark.job.parallel_efficiency"] = "fraction"
    units.update({
        "spark.udf_stage.tasks": "count", "spark.udf_stage.task_s.p50": "s",
        "spark.udf_stage.task_s.max": "s", "spark.shuffle_write_mb": "MB",
        "spark.shuffle_read_mb": "MB", "spark.spill_mb": "MB",
        "spark.jvm_gc_s": "s",
    })
    for q, (module, _) in NEARDUP_QUERIES.items():
        units[f"{module}.{q}_s"] = "s"
        units[f"{module}.{q}.pairs_out"] = "count"
    units.update({"trace.job_s": "s", "trace.overhead_s": "s",
                  "trace.stage_coverage": "fraction"})
    return units


def process_age_s() -> float:
    """Seconds since this process started (from /proc)."""
    with open("/proc/self/stat") as f:
        raw = f.read()
    start = int(raw[raw.rindex(")") + 2:].split()[19]) / os.sysconf("SC_CLK_TCK")
    with open("/proc/uptime") as f:
        return float(f.read().split()[0]) - start


class Session:
    """The Spark session, sized to the box, and every process it starts."""

    def __init__(self, nproc: int, work: str):
        import procs

        self.nproc = nproc
        self.work = work
        total_mb = procs.meminfo_mb()["MemTotal"]
        self.driver_mb = min(8192, max(1024, total_mb // 8))
        self.spark = None

    def start(self, event_log_dir: str | None = None):
        from pyspark.sql import SparkSession

        from goose_spark.job import apply_malloc_env

        apply_malloc_env()  # before the JVM starts, to reach the workers
        b = (SparkSession.builder.master(f"local[{self.nproc}]")
             .appName("perfbench")
             .config("spark.driver.memory", f"{self.driver_mb}m")
             .config("spark.sql.shuffle.partitions", str(2 * self.nproc))
             .config("spark.sql.session.timeZone", "UTC")
             .config("spark.ui.enabled", "false")
             .config("spark.ui.showConsoleProgress", "false")
             .config("spark.local.dir", os.path.join(self.work, "spark-local"))
             .config("spark.sql.warehouse.dir",
                     os.path.join(self.work, "warehouse"))
             .config("spark.driver.extraJavaOptions",
                     f"-Djava.io.tmpdir={tempfile.gettempdir()}")
             .config("spark.eventLog.enabled", str(bool(event_log_dir)).lower()))
        if event_log_dir:
            os.makedirs(event_log_dir, exist_ok=True)
            b = (b.config("spark.eventLog.dir", "file://" + event_log_dir)
                 .config("spark.eventLog.compress", "false")
                 .config("spark.eventLog.rolling.enabled", "false"))
        self.spark = b.getOrCreate()
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def shutdown(self) -> None:
        """Stop Spark, end the JVM and wait until every descendant is gone."""
        import procs

        try:
            self.stop()
        finally:
            from pyspark import SparkContext

            gw = SparkContext._gateway
            if gw is not None:
                try:
                    gw.shutdown()
                except Exception:  # the JVM may already be gone
                    pass
                proc = getattr(gw, "proc", None)
                if proc is not None:
                    proc.stdin.close()
                    try:
                        proc.wait(timeout=20)
                    except Exception:
                        proc.kill()
                        proc.wait()
                SparkContext._gateway = None
                SparkContext._jvm = None
            deadline = time.time() + 20
            while True:
                left = [p for p in procs.tree_pids() if p != os.getpid()]
                if not left:
                    break
                sig = signal.SIGTERM if time.time() < deadline else signal.SIGKILL
                for pid in left:
                    try:
                        os.kill(pid, sig)
                    except ProcessLookupError:
                        pass
                    try:
                        os.waitpid(pid, os.WNOHANG)
                    except ChildProcessError:
                        pass
                time.sleep(0.2)


def _emit(line: dict) -> None:
    print(json.dumps(line), flush=True)


def measure(wl, spark, seconds: float) -> list:
    """Closed loop: one call at a time until `seconds` are spent, checks
    included (at least MIN_CALLS calls). Returns [(Call, Timer)]."""
    import procs

    done = []
    t0 = time.perf_counter()
    while True:
        tm = procs.Timer()
        call = wl.call(spark, tm)
        _cleanup(call)
        done.append((call, tm))
        _emit({"call": len(done), "wall_s": tm.wall_s, "cpu_s": tm.cpu_s,
               "peak_rss_mb": tm.peak_mb, "attempted": call.attempted,
               "failed": call.failed,
               "query_s": {q: d["s"] for q, d in call.queries.items()}})
        if len(done) >= MIN_CALLS and time.perf_counter() - t0 >= seconds:
            return done


def end_to_end(done, setup_s: float) -> dict:
    med = statistics.median
    return {
        "setup_s": setup_s,
        "job_s": med(t.wall_s for _, t in done),
        "docs_per_s": med(c.docs / t.wall_s for c, t in done),
        "mb_per_s": med(c.mb / t.wall_s for c, t in done),
        "cpu_ms_per_doc": med(t.cpu_s * 1000.0 / c.docs for c, t in done),
        "peak_rss_mb": med(t.peak_mb for _, t in done),
    }


def run_traced(wl, session: Session, spark, work: str, nproc: int,
               seed: int) -> tuple[dict, int, int]:
    """One untraced call, then a session with Spark's event log on: the
    traced call and the layer passes."""
    import procs
    import tracing

    untraced = procs.Timer()
    first = wl.call(spark, untraced)
    _cleanup(first)
    session.stop()
    events = os.path.join(work, "eventlog")
    shutil.rmtree(events, ignore_errors=True)
    spark = session.start(event_log_dir=events)
    wl.warmup(spark, wl.cache)
    tracer = tracing.Tracer(f"{wl.name}-{seed}")
    sc = spark.sparkContext
    sc.setJobGroup("perfbench-traced", "traced call")
    traced = procs.Timer()
    call = wl.call(spark, traced, tracer)
    sc.setJobGroup("perfbench-layers", "layer passes")
    m = {name: 0 for name in _per_layer_units()}  # layers off this path: 0
    m["trace.job_s"] = traced.wall_s
    m["trace.overhead_s"] = traced.wall_s - untraced.wall_s
    m.update(wl.layers(spark, tracer, call, traced, untraced, nproc))
    _cleanup(call)
    session.stop()
    (log,) = glob.glob(os.path.join(events, "*"))
    m.update(tracing.event_log_metrics(log, "perfbench-traced"))
    tracer.write(os.path.join(work, f"spans-{tracer.run_id}.jsonl"))
    attempted = first.attempted + call.attempted
    return m, attempted, first.failed + call.failed


def _cleanup(call) -> None:
    if call.out:
        shutil.rmtree(call.out, ignore_errors=True)


def _on_deadline(signum, frame):
    raise TimeoutError(f"run exceeded {DEADLINE_S} s")


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    for pkg in ("goose_spark", "gooselite"):
        if not os.path.isfile(os.path.join(root, pkg, "__init__.py")):
            print(f"perfbench: no {pkg} package in {root}; run from the "
                  "root of a goose-spark checkout", file=sys.stderr)
            return 2
    sys.path[:0] = [HERE, root]
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p)
    work = os.path.join(root, ".perfbench")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp

    import procs
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    wl_cls = workloads.WORKLOADS[args.workload]
    nproc = len(os.sched_getaffinity(0))
    signal.signal(signal.SIGALRM, _on_deadline)
    signal.alarm(DEADLINE_S)
    session = Session(nproc, work)
    try:
        spark = session.start()
        wl_cls.warmup(spark, work)
        setup_s = process_age_s()
        wl = wl_cls(work, args.seed)
        wl.prepare(spark)
        cal = workloads.calibration_pages(work)
        workloads.calibrate(cal, passes=1)  # untimed: imports and caches
        import pandas as pd
        import pyarrow as pa
        import pyspark

        header = {
            "workload": args.workload, "seed": args.seed, "trace": args.trace,
            "nproc": nproc, "mem_total_mb": procs.meminfo_mb()["MemTotal"],
            "driver_memory_mb": session.driver_mb,
            "shuffle_partitions": 2 * nproc, "loadavg": procs.loadavg(),
            "python": sys.version.split()[0], "pyspark": pyspark.__version__,
            "java": spark.sparkContext._jvm.System.getProperty("java.version"),
            "pandas": pd.__version__, "pyarrow": pa.__version__,
            "calibration_docs_per_s_before": workloads.calibrate(cal),
        }
        _emit({"header": header})
        if args.trace:
            metrics, attempted, failed = run_traced(
                wl, session, spark, work, nproc, args.seed)
            units = _per_layer_units()
        else:
            done = measure(wl, spark, args.seconds)
            metrics = end_to_end(done, setup_s)
            attempted = sum(c.attempted for c, _ in done)
            failed = sum(c.failed for c, _ in done)
            units = END_TO_END
        _emit({"calibration_docs_per_s_after": workloads.calibrate(cal),
               "loadavg": procs.loadavg(),
               "failed_frac": failed / max(1, attempted)})
    finally:
        signal.alarm(0)
        session.shutdown()
    result = {
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": u}
                    for k, u in units.items()},
    }
    _emit(result)
    return 0


if __name__ == "__main__":
    sys.exit(main())
