"""Spans recorded from the benchmark's side of each layer boundary.

A traced run wraps the calls the benchmark makes into the package's
layers and the PySpark action entry points
(``DataFrameWriter.parquet``, ``DataFrame.count/first/toPandas/isEmpty``).
Each open span names the Spark jobs it starts: ``spark.job.description``
is set to ``phase|pass|op|span``, so the event log ties every task to a
span.  Spans stay in memory and are written out when the run ends.

``run_pipeline`` is one function, so the pipeline's stages are told
apart from outside: the layer functions it calls by name are wrapped in
its module namespace, and each parquet write is named by the table it
lands in.  The next action after a write belongs to the stage that
follows it in ``run_pipeline`` (``_AFTER_WRITE``).
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import time
from collections import defaultdict

from metrics import MB, PIPELINE_LAYERS, median

# table directory -> (span of its write, owner of the next actions)
_AFTER_WRITE = {
    "transactions_staging": ("simulate.generate_write", "plans.registry"),
    "master_users": ("plans.registry", "plans.staging_count"),
    "customer_features": ("operators.features.build_write", "operators.validate.firewall"),
    "predicted_clv": ("operators.clv.score_write", "plans.result_counts"),
}

# pipeline-module function -> span name (and owner of the actions inside)
_PIPELINE_CALLS = {
    "simulate_daily_batch": "simulate.generate_write",
    "rfm_features": "operators.features.build_write",
    "run_validation_checks": "operators.validate.firewall",
    "run_clv_logic": "operators.clv.fit_collect",
}


class Tracer:
    def __init__(self, sc):
        self.sc = sc
        self.t0 = time.perf_counter()
        self.spans: list[dict] = []
        self._open: list[int] = []
        self._restore: list[tuple[object, str, object]] = []
        self.phase = "setup"
        self.pass_no = 0
        self.op_id = "-"
        self.cursor: str | None = None

    def _describe(self, rec: dict) -> str:
        return f"{rec['phase']}|{rec['pass']}|{rec['op']}|{rec['name']}"

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        rec = {
            "name": name,
            "phase": self.phase,
            "pass": self.pass_no,
            "op": self.op_id,
            "parent": self._open[-1] if self._open else None,
            "start": time.perf_counter() - self.t0,
            **attrs,
        }
        idx = len(self.spans)
        self.spans.append(rec)
        self._open.append(idx)
        self.sc.setJobDescription(self._describe(rec))
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter() - self.t0
            self._open.pop()
            outer = self.spans[self._open[-1]] if self._open else None
            self.sc.setJobDescription(self._describe(outer) if outer else None)

    @contextlib.contextmanager
    def op(self, op_id: str, pass_no: int):
        self.op_id, self.pass_no = op_id, pass_no
        try:
            with self.span("op") as rec:
                yield rec
        finally:
            self.op_id, self.cursor = "-", None

    # -- wrapping ---------------------------------------------------------

    def _patch(self, owner, attr: str, wrapper_factory) -> None:
        orig = getattr(owner, attr)
        setattr(owner, attr, functools.wraps(orig)(wrapper_factory(orig)))
        self._restore.append((owner, attr, orig))

    def _action_name(self, kind: str) -> str:
        if self.cursor:
            return self.cursor
        if self._open:
            return f"{self.spans[self._open[-1]]['name']}.{kind}"
        return f"action.{kind}"

    def install(self, spark) -> None:
        from clv_data_pipeline_spark.operators import clv
        from clv_data_pipeline_spark.plans import pipeline

        df_cls = type(spark.range(1))
        writer_cls = type(spark.range(1).write)
        tracer = self

        for meth in ("count", "first", "toPandas", "isEmpty"):
            def factory(orig, kind=meth):
                def wrapper(df, *a, **k):
                    with tracer.span(tracer._action_name(kind), action=True):
                        return orig(df, *a, **k)
                return wrapper
            self._patch(df_cls, meth, factory)

        def parquet_factory(orig):
            def wrapper(writer, path, *a, **k):
                table = os.path.basename(str(path).rstrip("/"))
                name, after = _AFTER_WRITE.get(table, (None, None))
                with tracer.span(name or tracer._action_name("parquet"), action=True):
                    out = orig(writer, path, *a, **k)
                if after and tracer.op_id != "-":
                    tracer.cursor = after
                return out
            return wrapper
        self._patch(writer_cls, "parquet", parquet_factory)

        for fn_name, layer in _PIPELINE_CALLS.items():
            def call_factory(orig, layer=layer):
                def wrapper(*a, **k):
                    tracer.cursor = layer
                    with tracer.span(layer):
                        return orig(*a, **k)
                return wrapper
            self._patch(pipeline, fn_name, call_factory)

        def nm_factory(orig):
            def wrapper(f, x0, *a, **k):
                with tracer.span("functions.optimize.nm", evals=0) as rec:
                    def counted(x):
                        rec["evals"] += 1
                        return f(x)
                    return orig(counted, x0, *a, **k)
            return wrapper
        self._patch(clv, "nelder_mead", nm_factory)

    def uninstall(self) -> None:
        while self._restore:
            owner, attr, orig = self._restore.pop()
            setattr(owner, attr, orig)


# -- Spark event log ------------------------------------------------------

_PY_SENT = "data sent to Python workers"
_PY_RECV = "data returned from Python workers"


def parse_event_log(path: str) -> list[dict]:
    """One dict per job: its description fields and summed task metrics.

    Each stage is credited to the first job that lists it.  Python-worker
    bytes come from the stage's SQL accumulables.
    """
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    stages: dict[int, dict] = defaultdict(lambda: defaultdict(float))
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                desc = (ev.get("Properties") or {}).get("spark.job.description") or ""
                parts = desc.split("|")
                if len(parts) != 4:
                    parts = ["untraced", "0", "-", desc or "-"]
                jid = ev["Job ID"]
                jobs[jid] = {
                    "job": jid,
                    "phase": parts[0],
                    "pass": int(parts[1]) if parts[1].isdigit() else 0,
                    "op": parts[2],
                    "span": parts[3],
                    "stages": [],
                }
                for sid in ev.get("Stage IDs", []):
                    if sid not in stage_job:
                        stage_job[sid] = jid
                        jobs[jid]["stages"].append(sid)
            elif kind == "SparkListenerTaskEnd":
                st = stages[ev["Stage ID"]]
                st["tasks"] += 1
                if (ev.get("Task End Reason") or {}).get("Reason", "Success") != "Success":
                    st["task_failures"] += 1
                m = ev.get("Task Metrics") or {}
                st["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
                st["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                st["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                st["input_mb"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0) / MB
                st["output_mb"] += (m.get("Output Metrics") or {}).get("Bytes Written", 0) / MB
                sr = m.get("Shuffle Read Metrics") or {}
                st["shuffle_read_mb"] += (
                    sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                ) / MB
                sw = m.get("Shuffle Write Metrics") or {}
                st["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / MB
                st["spill_mb"] += (
                    m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                ) / MB
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                st = stages[info["Stage ID"]]
                for acc in info.get("Accumulables", []):
                    if acc.get("Name") == _PY_SENT:
                        st["python_stage"] = 1
                        st["to_worker_mb"] += float(acc.get("Value", 0)) / MB
                    elif acc.get("Name") == _PY_RECV:
                        st["python_stage"] = 1
                        st["from_worker_mb"] += float(acc.get("Value", 0)) / MB
    for job in jobs.values():
        totals = defaultdict(float)
        for sid in job["stages"]:
            for k, v in stages.get(sid, {}).items():
                totals[k] += v
        job["metrics"] = dict(totals)
    return sorted(jobs.values(), key=lambda j: j["job"])


def find_event_log(log_dir: str) -> str:
    names = [n for n in os.listdir(log_dir) if not n.startswith(".")]
    if len(names) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {names}")
    return os.path.join(log_dir, names[0])


# -- per-layer metrics ----------------------------------------------------


def _outermost(spans: list[dict], pred) -> list[dict]:
    """Spans matching ``pred`` with no matching ancestor."""
    out = []
    for rec in spans:
        if not pred(rec):
            continue
        p = rec["parent"]
        while p is not None and not pred(spans[p]):
            p = spans[p]["parent"]
        if p is None:
            out.append(rec)
    return out


def _per_pass(items, passes: list[int], value) -> list[float]:
    sums = {p: 0.0 for p in passes}
    for it in items:
        if it["pass"] in sums:
            sums[it["pass"]] += value(it)
    return [sums[p] for p in passes]


def per_layer(spans: list[dict], jobs: list[dict], extra: dict) -> dict[str, float]:
    """Per-layer values of the timed phase: per-pass sums, median over
    passes (a pipeline pass is one day)."""
    timed = [s for s in spans if s["phase"] == "timed"]
    passes = sorted({s["pass"] for s in timed})
    tjobs = [j for j in jobs if j["phase"] == "timed"]

    def dur(rec):
        return rec["end"] - rec["start"]

    def span_sums(name):
        recs = _outermost(spans, lambda r: r["name"] == name)
        return _per_pass([r for r in recs if r["phase"] == "timed"], passes, dur)

    def job_sum(key):
        return median(_per_pass(tjobs, passes, lambda j: j["metrics"].get(key, 0.0)))

    out: dict[str, float] = {}
    for layer in PIPELINE_LAYERS:
        out[f"{layer}_s"] = median(span_sums(layer))
    build_write = span_sums("operators.features.build_write")
    out["operators.features.build_write_growth_s"] = (
        build_write[-1] - build_write[0] if len(build_write) > 1 else 0.0
    )
    nm = [s for s in timed if s["name"] == "functions.optimize.nm"]
    out["functions.optimize.nm_s"] = median(_per_pass(nm, passes, dur))
    out["functions.optimize.nll_evals"] = median(_per_pass(nm, passes, lambda s: s["evals"]))
    files = extra.get("staging_files", [0])
    out["sources.staging_files"] = float(files[-1])
    out["sources.staging_files_growth"] = float(files[-1] - files[0])
    out["exec.output_mb"] = job_sum("output_mb")

    builds = [s for s in timed if s["name"] == "queries.build"]
    out["queries.build_s"] = median(_per_pass(builds, passes, dur))
    out["queries.build_jobs"] = median(_per_pass(
        [j for j in tjobs if j["span"].startswith("queries.build")], passes, lambda j: 1.0))
    out["driver.build_cpu_s"] = median(_per_pass(builds, passes, lambda s: s["cpu_s"]))
    out["driver.build_wait_s"] = median(_per_pass(builds, passes, lambda s: dur(s) - s["cpu_s"]))
    for phase in ("analysis", "optimization", "planning"):
        out[f"catalyst.{phase}_ms"] = median(_per_pass(
            [s for s in timed if "catalyst" in s], passes,
            lambda s, ph=phase: s["catalyst"].get(ph, 0.0)))

    def is_action(rec):
        return rec.get("action", False)

    actions = [
        rec for rec in _outermost(spans, is_action)
        if rec["phase"] == "timed" and not _inside(spans, rec, "queries.build")
    ]
    out["exec.action_s"] = median(_per_pass(actions, passes, dur))
    out["exec.jobs"] = median(_per_pass(tjobs, passes, lambda j: 1.0))
    for key in ("tasks", "executor_run_s", "executor_cpu_s", "gc_s", "input_mb",
                "shuffle_read_mb", "shuffle_write_mb", "spill_mb", "task_failures"):
        out[f"exec.{key}"] = job_sum(key)
    out["python.worker_stages"] = job_sum("python_stage")
    out["python.to_worker_mb"] = job_sum("to_worker_mb")
    out["python.from_worker_mb"] = job_sum("from_worker_mb")
    out["sources.artifact_builds"] = float(extra.get("artifact_builds", 0))
    out["sources.temp_dirs_left"] = float(extra.get("temp_dirs_left", 0))
    out["trace.wall_s"] = float(extra.get("wall_s", 0.0))
    return out


def _inside(spans: list[dict], rec: dict, name: str) -> bool:
    p = rec["parent"]
    while p is not None:
        if spans[p]["name"] == name:
            return True
        p = spans[p]["parent"]
    return False
