"""Metric names, units and the two summary statistics every timing uses.

``END_TO_END`` is printed by an untraced run, ``PER_LAYER`` by a traced
run (``--trace 1``).  Both lists must match ``BENCHMARK.json``; a test
pins that.
"""

from __future__ import annotations

import statistics

END_TO_END: dict[str, str] = {
    "setup_s": "s",
    "wall_s": "s",
    "op_p50_s": "s",
    "op_tail_s": "s",
    "ok_share": "ratio",
    "peak_rss_mb": "MB",
    "tmp_left_mb": "MB",
    "stored_mb": "MB",
}

# Pipeline layers, timed per day (median over the timed days).
PIPELINE_LAYERS = (
    "simulate.generate_write",
    "plans.registry",
    "plans.staging_count",
    "operators.features.build_write",
    "operators.validate.firewall",
    "operators.clv.fit_collect",
    "operators.clv.score_write",
    "plans.result_counts",
)

PER_LAYER: dict[str, str] = {
    **{f"{layer}_s": "s" for layer in PIPELINE_LAYERS},
    "functions.optimize.nm_s": "s",
    "functions.optimize.nll_evals": "count",
    "operators.features.build_write_growth_s": "s",
    "sources.staging_files": "count",
    "sources.staging_files_growth": "count",
    "exec.output_mb": "MB",
    "queries.build_s": "s",
    "queries.build_jobs": "count",
    "driver.build_cpu_s": "s",
    "driver.build_wait_s": "s",
    "catalyst.analysis_ms": "ms",
    "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "exec.action_s": "s",
    "exec.jobs": "count",
    "exec.tasks": "count",
    "exec.executor_run_s": "s",
    "exec.executor_cpu_s": "s",
    "exec.gc_s": "s",
    "exec.input_mb": "MB",
    "exec.shuffle_read_mb": "MB",
    "exec.shuffle_write_mb": "MB",
    "exec.spill_mb": "MB",
    "exec.task_failures": "count",
    "python.worker_stages": "count",
    "python.to_worker_mb": "MB",
    "python.from_worker_mb": "MB",
    "sources.artifact_builds": "count",
    "sources.temp_dirs_left": "count",
    "trace.wall_s": "s",
}

MB = 1024 * 1024


def median(values: list[float]) -> float:
    return float(statistics.median(values)) if values else 0.0


def tail(values: list[float]) -> tuple[float, float, int]:
    """Value at the highest percentile that has at least ten samples
    beyond it, as ``(value, percentile, n)``.

    With ``n`` samples sorted ascending, the sample at 0-based rank
    ``n - 11`` is the highest with ten above it; its nearest-rank
    percentile is ``100 * (n - 10) / n``.  Below eleven samples no
    percentile qualifies and the maximum is reported as p100.
    """
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        raise ValueError("no samples")
    if n <= 10:
        return float(xs[-1]), 100.0, n
    k = n - 11
    return float(xs[k]), 100.0 * (k + 1) / n, n


def metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}
