"""Tests for the benchmark itself; none of them starts Spark.

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys
from types import SimpleNamespace

import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)

import checks  # noqa: E402
import metrics  # noqa: E402
import tracing  # noqa: E402

with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)

# The metrics the benchmark is defined to report; the spec may add more
# layers but must keep these.
DESIGN_END_TO_END = {
    "setup_s", "wall_s", "op_p50_s", "op_tail_s", "ok_share",
    "peak_rss_mb", "tmp_left_mb", "stored_mb",
}
DESIGN_LAYERS = {
    "simulate.generate_write_s", "plans.registry_s", "plans.staging_count_s",
    "operators.features.build_write_s", "operators.validate.firewall_s",
    "operators.clv.fit_collect_s", "operators.clv.score_write_s",
    "plans.result_counts_s", "functions.optimize.nm_s",
    "functions.optimize.nll_evals", "sources.staging_files", "exec.output_mb",
    "queries.build_s", "queries.build_jobs", "driver.build_cpu_s",
    "driver.build_wait_s", "catalyst.analysis_ms", "catalyst.optimization_ms",
    "catalyst.planning_ms", "exec.action_s", "exec.jobs", "exec.tasks",
    "exec.executor_run_s", "exec.executor_cpu_s", "exec.gc_s", "exec.input_mb",
    "exec.shuffle_read_mb", "exec.shuffle_write_mb", "exec.spill_mb",
    "exec.task_failures", "python.worker_stages", "python.to_worker_mb",
    "python.from_worker_mb", "sources.artifact_builds", "sources.temp_dirs_left",
}


def test_metric_names_match_spec_and_design():
    spec_e2e = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
    spec_layer = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
    assert spec_e2e == metrics.END_TO_END
    assert spec_layer == metrics.PER_LAYER
    assert set(metrics.END_TO_END) == DESIGN_END_TO_END
    assert DESIGN_LAYERS <= set(metrics.PER_LAYER)
    # a traced run prints exactly the per-layer set, even with no spans
    assert set(tracing.per_layer([], [], {})) == set(metrics.PER_LAYER)


def test_spec_workloads_are_the_runner_choices():
    import run

    names = [w["name"] for w in SPEC["workloads"]]
    assert names == ["pipeline_daily", "query_python"]
    for name in names:
        assert run.parse_args(["--workload", name, "--seed", "1", "--seconds", "1"]).workload == name


def test_tail_is_highest_percentile_with_ten_beyond():
    value, pct, n = metrics.tail([float(i) for i in range(1, 101)])
    assert (value, pct, n) == (90.0, 90.0, 100)
    # shuffled input, 25 samples: rank 14 of 25 leaves exactly ten above
    xs = [float(i) for i in range(25, 0, -1)]
    value, pct, n = metrics.tail(xs)
    assert value == 15.0 and n == 25
    assert sum(x > value for x in xs) == 10
    assert pct == pytest.approx(60.0)
    # eleven samples: the minimum is the only one with ten beyond it
    assert metrics.tail([float(i) for i in range(11)])[:2] == (0.0, 100.0 / 11)
    # too few for any percentile: the maximum, marked p100
    assert metrics.tail([3.0, 1.0, 2.0]) == (3.0, 100.0, 3)


def _frame():
    return pd.DataFrame({"b": [2.5, float("nan"), None], "a": [1, 2, 3]})


def test_output_check_accepts_recorded_and_rejects_tampered_hash():
    pdf = _frame()
    expected = {"q": checks.canonical(pdf)}
    assert checks.check_query("q", pdf.iloc[::-1], expected) is None
    tampered = {"q": dict(expected["q"], sha256="0" * 64)}
    err = checks.check_query("q", pdf, tampered)
    assert err is not None and "sha256" in err
    assert "rows" in checks.check_query("q", pdf.head(2), expected)
    assert checks.check_query("missing", pdf, expected) is not None


def test_history_check_catches_registry_gap_and_lost_rows():
    results = {
        "2026-01-01": SimpleNamespace(staging_rows=100),
        "2026-01-02": SimpleNamespace(staging_rows=250),
    }
    staging = {"2026-01-01": 100, "2026-01-02": 150}
    ids = list(range(401, 421))
    assert checks.check_history(staging, ids, results, 2, 401, 10) == []
    assert checks.check_history(staging, ids[:-1], results, 2, 401, 10)
    assert checks.check_history({"2026-01-01": 100, "2026-01-02": 149}, ids, results, 2, 401, 10)
    # a cold-start day 1 has no result; its rows count toward day 2's total
    del results["2026-01-01"]
    assert checks.check_history(staging, ids, results, 2, 401, 10) == []
    assert checks.check_history(staging, ids[:10], results, 1, 401, 10)


def _toy_event_log(path):
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0],
         "Properties": {"spark.job.description": "setup|0|check:q|queries.build"}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [1, 2],
         "Properties": {"spark.job.description": "timed|1|q#1|exec.action"}},
        {"Event": "SparkListenerJobStart", "Job ID": 2, "Stage IDs": [2],
         "Properties": {}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1,
         "Task End Reason": {"Reason": "Success"},
         "Task Metrics": {"Executor Run Time": 1500, "Executor CPU Time": 2_000_000_000,
                          "JVM GC Time": 100,
                          "Shuffle Write Metrics": {"Shuffle Bytes Written": metrics.MB}}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 2,
         "Task End Reason": {"Reason": "ExceptionFailure"},
         "Task Metrics": {"Executor Run Time": 500}},
        {"Event": "SparkListenerStageCompleted",
         "Stage Info": {"Stage ID": 2, "Accumulables": [
             {"Name": "data sent to Python workers", "Value": str(2 * metrics.MB)}]}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0,
         "Task Metrics": {"Executor Run Time": 9000}},
    ]
    with open(path, "w") as f:
        for ev in events:
            f.write(json.dumps(ev) + "\n")


def test_trace_parser_attributes_job_to_its_span(tmp_path):
    log = tmp_path / "app-1"
    _toy_event_log(log)
    jobs = {j["job"]: j for j in tracing.parse_event_log(str(log))}
    assert (jobs[1]["phase"], jobs[1]["pass"], jobs[1]["op"], jobs[1]["span"]) == (
        "timed", 1, "q#1", "exec.action")
    m = jobs[1]["metrics"]
    assert m["tasks"] == 2 and m["task_failures"] == 1
    assert m["executor_run_s"] == pytest.approx(2.0)
    assert m["executor_cpu_s"] == pytest.approx(2.0)
    assert m["shuffle_write_mb"] == pytest.approx(1.0)
    assert m["to_worker_mb"] == pytest.approx(2.0) and m["python_stage"] == 1
    # stage 2 belongs to the first job listing it; the later job gets nothing
    assert jobs[2]["stages"] == [] and jobs[2]["phase"] == "untraced"

    spans = [
        {"name": "op", "phase": "timed", "pass": 1, "op": "q#1", "parent": None,
         "start": 0.0, "end": 3.0, "catalyst": {"analysis": 5.0}},
        {"name": "queries.build", "phase": "timed", "pass": 1, "op": "q#1", "parent": 0,
         "start": 0.0, "end": 1.0, "cpu_s": 0.25},
        {"name": "exec.action", "phase": "timed", "pass": 1, "op": "q#1", "parent": 0,
         "start": 1.0, "end": 3.0, "action": True},
    ]
    layers = tracing.per_layer(spans, list(jobs.values()), {"wall_s": 3.0})
    assert layers["exec.jobs"] == 1.0
    assert layers["exec.executor_run_s"] == pytest.approx(2.0)
    assert layers["python.worker_stages"] == 1.0
    assert layers["queries.build_s"] == pytest.approx(1.0)
    assert layers["driver.build_wait_s"] == pytest.approx(0.75)
    assert layers["exec.action_s"] == pytest.approx(2.0)
    assert layers["catalyst.analysis_ms"] == 5.0
