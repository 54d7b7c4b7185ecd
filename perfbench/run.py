#!/usr/bin/env python3
"""Run one benchmark workload in this process and print its metrics.

    python3 perfbench/run.py --workload pipeline_daily --seed 1 --seconds 10 --trace 0

Run it from the repository root.  Workloads (see workloads.py):
``pipeline_daily`` and ``query_python``; the query workload reads the
sf0.01 tables under ``perfbench/data``.

Every run gets a fresh run directory under ``.perfbench_runs/`` holding
its ``TMPDIR``, Spark scratch, JVM temp dir, pipeline base dir and event
log; it is deleted at the end.  Spark runs ``local[cores-1]`` with as
many shuffle partitions, leaving one core to the driver's Python, GC and
the OS.

Set-up (session, worker imports, probes, output checks, untimed pipeline
days) is followed by the timed phase, then by final checks and the
closing probes.  The last stdout line is the result:
``{"correct", "attempted", "failed", "metrics"}``; the line before it,
and a file under ``.perfbench_out/``, hold the full record: configuration,
probes, CPU steal and iowait, failures and the tail percentile used.
With ``--trace 1`` the metrics are the per-layer ones (tracing.py) and
the record adds the tracing overhead against this checkout's untraced
runs of the same workload.
"""

from __future__ import annotations

import argparse
import contextlib
import gc
import glob
import json
import os
import shutil
import sys
import tempfile
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(1, ROOT)

import box  # noqa: E402
import metrics  # noqa: E402
import workloads  # noqa: E402

SF_DIR = os.path.join(HERE, "data", "sf0.01")
OUT_DIR = os.path.join(ROOT, ".perfbench_out")


class Run:
    """State of one workload run, shared by the runner and the workload."""

    def __init__(self, args, dirs: dict[str, str]):
        self.workload = args.workload
        self.seed = args.seed
        self.dirs = dirs
        self.sf_dir = SF_DIR
        self.spark = None
        self.tracer = None
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.record: dict = {}
        self.op_log: list = []
        self.lanes = max(1, box.usable_cores() - 1)
        self._lock = threading.Lock()

    def span(self, name: str, **attrs):
        if self.tracer:
            return self.tracer.span(name, **attrs)
        return contextlib.nullcontext(dict(attrs))

    def set_phase(self, phase: str) -> None:
        if self.tracer:
            self.tracer.phase = phase

    def attempt(self, op_id: str, pass_no: int, fn) -> float:
        """Run one operation; an exception or a wrong output counts as a
        failed operation and the run goes on.  Returns its latency.  Safe
        to call from several threads when no tracer is installed."""
        ctx = self.tracer.op(op_id, pass_no) if self.tracer else contextlib.nullcontext({})
        failure = None
        t0 = time.perf_counter()
        try:
            with ctx as rec:
                fn(rec)
        except Exception as exc:  # noqa: BLE001 - counted, reported, run continues
            failure = f"{op_id}: {type(exc).__name__}: {str(exc)[:400]}"
            traceback.print_exc(file=sys.stderr)
        latency = time.perf_counter() - t0
        with self._lock:
            self.attempted += 1
            self.op_log.append((op_id, round(latency, 4)))
            if failure:
                self.failed += 1
                self.failures.append(failure)
        return latency


def _session(run: Run, trace: bool):
    from clv_data_pipeline_spark import registry, session

    cores = max(1, box.usable_cores() - 1)
    conf = {
        "spark.ui.enabled": "false",
        "spark.local.dir": run.dirs["spark_local"],
        "spark.sql.warehouse.dir": run.dirs["warehouse"],
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + run.dirs["eventlog"],
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = session.get_spark(
        app_name=f"perfbench-{run.workload}",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf=conf,
    )
    spark.sparkContext.setLogLevel("ERROR")
    registry.ensure_worker_imports(spark)
    return spark


def _children(pid: int) -> list[int]:
    out = []
    for task in glob.glob(f"/proc/{pid}/task/*/children"):
        with contextlib.suppress(OSError), open(task) as f:
            out += [int(c) for c in f.read().split()]
    return out


def _stop(spark) -> None:
    """Stop Spark and wait until the JVM and its Python workers are gone."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    jvm_pid = int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())
    workers = _children(jvm_pid)
    spark.stop()
    with contextlib.suppress(Exception):
        gateway.shutdown()
    if proc is not None:
        with contextlib.suppress(OSError):
            proc.stdin.close()
        proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    for pid in [jvm_pid, *workers]:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.05)


def _entries(path: str) -> set[str]:
    return set(os.listdir(path)) if os.path.isdir(path) else set()


def measure(run: Run, seconds: int, trace: bool) -> dict:
    cpu_start = box.cpu_times()
    marks = {"start": box.process_age_s()}
    run.spark = spark = _session(run, trace)
    marks["session"] = box.process_age_s()
    jvm_pid = int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())
    rec = run.record
    rec["config"] = box.config(spark, run.workload, run.seed, run.sf_dir)
    wl = workloads.make(run)
    wl.setup()
    marks["workload_setup"] = box.process_age_s()
    rec["probes_start"] = box.probes(spark)
    # every timed phase starts from a collected heap on both sides
    spark.sparkContext._jvm.System.gc()
    gc.collect()
    if trace:
        # spans cover the timed phase and the final checks; set-up jobs
        # carry no description and the event log parser skips them
        import tracing

        run.tracer = tracing.Tracer(spark.sparkContext)
        run.tracer.install(spark)
        run.set_phase("timed")
    passes = workloads.timed_passes(run.workload, seconds)
    tmp = run.dirs["tmp"]
    artifacts = os.path.join(tmp, "clv_artifacts")
    tmp_before, art_before = _entries(tmp), _entries(artifacts)

    setup_s = marks["setup"] = box.process_age_s()
    cpu_timed = box.cpu_times()
    latencies = []
    t0 = time.perf_counter()
    for p in range(1, passes + 1):
        for op_id, fn in wl.pass_ops(p):
            latencies.append(run.attempt(op_id, p, fn))
    wall_s = time.perf_counter() - t0
    rec["cpu_timed"] = box.cpu_shares(cpu_timed, box.cpu_times())
    run.set_phase("check")

    tmp_left_mb = box.tree_mb(tmp)
    stored_mb = box.tree_mb(run.dirs["base"], artifacts, *wl.inputs())
    peak_rss_mb = box.vm_hwm_mb() + box.vm_hwm_mb(jvm_pid)
    extra = {
        "artifact_builds": len(_entries(artifacts) - art_before),
        "temp_dirs_left": len(_entries(tmp) - tmp_before - {"clv_artifacts"}),
        "wall_s": wall_s,
        **wl.extra(),
    }
    marks["timed"] = box.process_age_s()
    wl.finish()
    marks["finish"] = box.process_age_s()
    rec["probes_end"] = box.probes(spark)
    marks["probes_end"] = box.process_age_s()
    if run.tracer:
        run.tracer.uninstall()
    _stop(spark)
    run.spark = None
    marks["stop"] = box.process_age_s()
    rec["marks_s"] = {k: round(v, 3) for k, v in marks.items()}
    rec["cpu_run"] = box.cpu_shares(cpu_start, box.cpu_times())

    tail_s, tail_pct, n_ops = metrics.tail(latencies)
    rec["timed"] = {
        "seconds": seconds, "passes": passes, "ops": n_ops, "tail_percentile": round(tail_pct, 2),
    }
    rec["layers_extra"] = extra
    end_to_end = {
        "setup_s": setup_s,
        "wall_s": wall_s,
        "op_p50_s": metrics.median(latencies),
        "op_tail_s": tail_s,
        "ok_share": (run.attempted - run.failed) / run.attempted,
        "peak_rss_mb": peak_rss_mb,
        "tmp_left_mb": tmp_left_mb,
        "stored_mb": stored_mb,
    }
    rec["end_to_end"] = end_to_end
    if not run.tracer:
        return {k: metrics.metric(v, metrics.END_TO_END[k]) for k, v in end_to_end.items()}

    import tracing

    jobs = tracing.parse_event_log(tracing.find_event_log(run.dirs["eventlog"]))
    layers = tracing.per_layer(run.tracer.spans, jobs, extra)
    rec["trace_overhead"] = _overhead(run.workload, passes, wall_s)
    rec["spans_file"] = _save(f"spans-{run.workload}-{run.seed}-{os.getpid()}.json",
                              run.tracer.spans)
    return {k: metrics.metric(layers[k], metrics.PER_LAYER[k]) for k in metrics.PER_LAYER}


def _save(name: str, obj) -> str:
    os.makedirs(OUT_DIR, exist_ok=True)
    path = os.path.join(OUT_DIR, name)
    with open(path, "w") as f:
        json.dump(obj, f)
    return os.path.relpath(path, ROOT)


def _overhead(workload: str, passes: int, traced_wall_s: float) -> dict:
    """Traced wall_s minus the median untraced wall_s of this workload's
    earlier runs with as many passes in this checkout (none: unknown)."""
    walls = []
    for path in glob.glob(os.path.join(OUT_DIR, f"run-{workload}-*-trace0-*.json")):
        with open(path) as f:
            rec = json.load(f)
        if rec.get("timed", {}).get("passes") == passes:
            walls.append(rec["end_to_end"]["wall_s"])
    if not walls:
        return {"traced_wall_s": traced_wall_s, "untraced_runs": 0}
    base = metrics.median(walls)
    return {
        "traced_wall_s": traced_wall_s,
        "untraced_wall_s": base,
        "untraced_runs": len(walls),
        "overhead_s": traced_wall_s - base,
        "overhead_share": (traced_wall_s - base) / base,
    }


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["pipeline_daily", "query_python"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    run_dir = os.path.join(
        ROOT, ".perfbench_runs", f"{args.workload}-{args.seed}-{os.getpid()}"
    )
    dirs = {k: os.path.join(run_dir, k)
            for k in ("tmp", "jtmp", "spark_local", "warehouse", "eventlog", "base")}
    for d in dirs.values():
        os.makedirs(d)
    # Everything the run writes stays in its run dir: Python and the
    # Python workers follow TMPDIR, both JVMs (launcher and driver)
    # follow JAVA_TOOL_OPTIONS.
    os.environ["TMPDIR"] = dirs["tmp"]
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = dirs["spark_local"]
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={dirs['jtmp']}"
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    run = Run(args, dirs)
    try:
        values = measure(run, args.seconds, bool(args.trace))
    finally:
        if run.spark is not None:  # measure() raised with Spark up
            _stop(run.spark)
        shutil.rmtree(run_dir, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(run_dir))
    run.record["ops"] = run.op_log
    run.record["failures"] = run.failures
    run.record["attempted"], run.record["failed"] = run.attempted, run.failed
    _save(f"run-{args.workload}-{args.seed}-trace{args.trace}-{os.getpid()}.json", run.record)
    print(json.dumps(run.record, default=str))
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": values,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
