"""The workloads: what each runs in set-up, per timed pass and in its
final checks.

Load shape for both: one client in a closed loop (each operation
starts when the previous one has finished) against one driver process.
A pass is one pipeline day, or one run over a workload's queries in an
order drawn from the seed.  ``--seconds`` buys timed passes at a fixed
rate per workload (``PASS_S``) rather than a deadline, so every run of a
workload does the same work and its stored and temporary bytes are
comparable.
"""

from __future__ import annotations

import datetime as dt
import os
import random
import time
from concurrent.futures import ThreadPoolExecutor

import checks

# Pandas-UDF stages (q_clv_scores, the paper's scoring, with its keyed
# fit artifacts) and a driver-iterative fit (q_ridge).
QUERY_PYTHON = (
    "q_clv_scores",
    "q_bpe_tokenize",
    "q_holt_winters",
    "q_quality_classifier",
    "q_audio_features",
    "q_ridge",
)

# Seconds of --seconds per timed pass.  A pipeline day takes 4-5 s on a
# 4-core box and a query pass 4.5-6 s; the query workload buys passes
# faster because two passes (12 operations) gave too unsteady a median.
PASS_S = {"pipeline_daily": 5.0, "query_python": 3.3}


def timed_passes(workload: str, seconds: int) -> int:
    return max(1, round(seconds / PASS_S[workload]))


def catalyst_phases(df) -> dict[str, float]:
    """Analysis, optimization and planning time of ``df``'s own query
    execution, in ms, after forcing its physical plan."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    out = {}
    for name in ("analysis", "optimization", "planning"):
        found = phases.get(name)
        if found.isDefined():
            out[name] = float(found.get().durationMs())
    return out


class QueryWorkload:
    def __init__(self, run, names: tuple[str, ...]):
        from clv_data_pipeline_spark import registry

        self.run = run
        self.names = list(names)
        self.queries = registry.all_queries()
        self.rng = random.Random(run.seed)

    def _order(self) -> list[str]:
        order = list(self.names)
        self.rng.shuffle(order)
        return order

    def setup(self) -> None:
        """Check every query once; this is also the warm-up pass that
        builds the keyed artifacts.  Checks run in one lane per Spark
        core, like bench.py's artifact warm-up."""
        expected = checks.load_expected()
        run = self.run

        def check(name):
            df = self.queries[name](run.spark, run.sf_dir)
            err = checks.check_query(name, df.toPandas(), expected)
            if err:
                raise checks.Mismatch(err)

        with ThreadPoolExecutor(max_workers=run.lanes) as pool:
            futures = [
                pool.submit(run.attempt, f"check:{name}", 0, lambda _rec, n=name: check(n))
                for name in self._order()
            ]
            for f in futures:
                f.result()

    def pass_ops(self, pass_no: int):
        run = self.run
        for name in self._order():
            def op(rec, name=name):
                with run.span("queries.build", cpu_s=0.0) as build:
                    cpu0 = time.process_time()
                    df = self.queries[name](run.spark, run.sf_dir)
                    build["cpu_s"] = time.process_time() - cpu0
                with run.span("exec.action", action=True):
                    df.write.format("noop").mode("overwrite").save()
                if run.tracer:
                    rec["catalyst"] = catalyst_phases(df)
            yield f"{name}#{pass_no}", op

    def inputs(self) -> list[str]:
        return [self.run.sf_dir]

    def finish(self) -> None:
        pass

    def extra(self) -> dict:
        return {}


class PipelineWorkload:
    """Consecutive days of ``run_pipeline`` into one fresh base dir.

    Days 1 and 2 are untimed set-up.  Day 1 seeds the 400-customer pool
    like the reference; later days take their new IDs from the
    ``master_users`` registry.  Day 1 has a single day of history, so at
    some seeds nobody has purchased on two dates yet and the fit refuses
    to run; that cold start is the one error set-up expects.  Day 2
    always has returning customers, so it warms the scoring path at
    every seed, and every run times the same days.
    """

    FIRST_DAY = dt.date(2026, 1, 1)
    SEED_POOL = 400
    NEW_PER_DAY = 10
    COLD_START = ("No customers to fit BG/NBD on", "No returning customers to fit")

    def __init__(self, run):
        self.run = run
        self.base = run.dirs["base"]
        self.results: dict[str, object] = {}
        self.days = 0
        self.staging_files: list[int] = []

    def _day(self, n: int) -> str:
        return (self.FIRST_DAY + dt.timedelta(days=n - 1)).isoformat()

    def _run_day(self, n: int):
        from clv_data_pipeline_spark.plans.pipeline import run_pipeline

        if self.run.tracer:
            self.run.tracer.cursor = "plans.registry"
        return run_pipeline(
            self.run.spark,
            self.base,
            self._day(n),
            seed=self.run.seed,
            max_existing_id=self.SEED_POOL if n == 1 else None,
        )

    def _next_day(self, _rec=None) -> None:
        n = self.days + 1
        self.days = n
        res = self._run_day(n)
        prev = self.results.get(self._day(n - 1))
        self.results[self._day(n)] = res
        errs = checks.check_day(n, res, prev)
        if errs:
            raise checks.Mismatch("; ".join(errs))

    def setup(self) -> None:
        def first_day(_rec):
            try:
                self._next_day()
            except ValueError as exc:
                if not str(exc).startswith(self.COLD_START):
                    raise
                self.run.record["cold_start"] = str(exc)

        self.run.attempt("day1", 0, first_day)
        self.run.attempt("day2", 0, self._next_day)

    def pass_ops(self, pass_no: int):
        def op(rec):
            self._next_day(rec)
            self.staging_files.append(self._staging_files())
        yield f"day{self.days + 1}", op

    def _staging_files(self) -> int:
        return sum(
            1
            for _root, _dirs, files in os.walk(os.path.join(self.base, "transactions_staging"))
            for f in files
            if f.endswith(".parquet")
        )

    def finish(self) -> None:
        """Stored tables against the day results, then an idempotent
        rerun of the last day, which must reproduce the predictions'
        hash at this seed."""
        spark = self.run.spark

        def history(_rec):
            staging = spark.read.parquet(os.path.join(self.base, "transactions_staging"))
            per_day = {
                str(r["load_date"]): int(r["count"])
                for r in staging.groupBy("load_date").count().collect()
            }
            reg = spark.read.parquet(os.path.join(self.base, "master_users"))
            ids = [int(r["CustomerID"]) for r in reg.select("CustomerID").collect()]
            errs = checks.check_history(
                per_day, ids, self.results, self.days, self.SEED_POOL + 1, self.NEW_PER_DAY
            )
            if errs:
                raise checks.Mismatch("; ".join(errs))

        def rerun(_rec):
            last = self._day(self.days)
            preds = os.path.join(self.base, "predicted_clv")
            before = checks.canonical(spark.read.parquet(preds).toPandas())
            res = self._run_day(self.days)
            after = checks.canonical(spark.read.parquet(preds).toPandas())
            self.run.record["predictions"] = {"day": last, **before}
            if after != before or res != self.results[last]:
                raise checks.Mismatch(
                    f"rerun of {last} changed predictions: {before['sha256'][:12]} -> "
                    f"{after['sha256'][:12]}, result {self.results[last]} -> {res}"
                )

        self.run.attempt("check:history", 0, history)
        self.run.attempt("check:rerun", 0, rerun)

    def inputs(self) -> list[str]:
        return []

    def extra(self) -> dict:
        return {"staging_files": self.staging_files or [0]}


def make(run):
    if run.workload == "pipeline_daily":
        return PipelineWorkload(run)
    if run.workload == "query_python":
        return QueryWorkload(run, QUERY_PYTHON)
    raise ValueError(f"unknown workload {run.workload}")
