"""The 5-task reference DAG as one Spark driver program (SURVEY.md §3.1).

Reference chain (dags/clv_data_dag.py:115):
    generate_and_upload >> load_gcs_to_bq_staging >>
    transform_to_customer_features >> validate_features_step >>
    predict_clv_scores

Airflow task boundaries (separate processes + GCS/BQ round trips)
dissolve into DataFrame lineage.  A warm day (tables already on disk,
adaptive execution on, so each shuffle stage is its own job) runs 13
Spark jobs (per action, in parentheses):

1. registry max: top-1 over the registry, read with its known schema (1)
2. staging write and registry write (1 + 1)
3. feature write, with the firewall's feature-side counts observed (3)
4. raw aggregate over staging: rows and distinct customers (3)
5. feature schema read: inferred, so the firewall sees the file (1)
6. fit collect: both models' sufficient statistics in one collect (2)
7. prediction write, with its row count observed (1)

Staging is read back with the schema it was written with, so it needs
no inference job, and every ``PipelineResult`` count comes from one of
these actions.

Scale notes: staging is partitioned by ``load_date`` so the (full
refresh) feature build reads only what it needs if later made
incremental; features and predictions are tiny (1 row/customer) and
written overwrite like the reference's CTAS / WRITE_TRUNCATE.
"""

from __future__ import annotations

import datetime as dt
import os
from dataclasses import dataclass

from pyspark.errors import AnalysisException
from pyspark.sql import Observation, SparkSession
from pyspark.sql import functions as F

from clv_data_pipeline_spark.operators.clv import (
    predictions_projection,
    run_clv_logic,
)
from clv_data_pipeline_spark.operators.features import (
    normalize_for_model,
    rfm_features,
)
from clv_data_pipeline_spark.operators.validate import (
    observed_features,
    run_validation_checks,
)
from clv_data_pipeline_spark.simulate import simulate_daily_batch


_REGISTRY_SCHEMA = "CustomerID LONG, load_date DATE"


@dataclass
class PipelineResult:
    staging_rows: int
    feature_rows: int
    prediction_rows: int
    features_path: str
    predictions_path: str


def _registry_max_id(spark: SparkSession, path: str, before_date: str) -> int:
    """S8+A5: MAX(CustomerID) over registry allocations from runs BEFORE
    ``before_date``; 0 when the registry does not exist yet (reference
    simulate_data.py:30-42, 62-73: empty table -> max 0 -> all-new
    branch).  Excluding the current day makes a day's rerun read the
    same max, allocate the same IDs, and therefore regenerate the same
    batch — idempotency the reference's unconditional streaming insert
    lacks.  Any other read failure raises: a registry that exists but
    cannot be read must not restart the IDs at 1."""
    try:
        reg = spark.read.schema(_REGISTRY_SCHEMA).parquet(path)
    except AnalysisException as exc:
        if exc.getCondition() == "PATH_NOT_FOUND":
            return 0
        raise
    row = (
        reg.filter(F.col("load_date") < F.lit(before_date).cast("date"))
        .select("CustomerID")
        .orderBy(F.desc("CustomerID"))
        .first()
    )
    return int(row["CustomerID"]) if row else 0


def run_pipeline(
    spark: SparkSession,
    base_dir: str,
    run_date: dt.date | str = "2026-01-01",
    seed: int = 42,
    max_existing_id: int | None = 400,
    idempotent_reruns: bool = True,
) -> PipelineResult:
    """Execute the full reference pipeline under ``base_dir``.

    Task 0: read MAX(CustomerID) from the master_users registry (or use
            the explicit ``max_existing_id``), generate, append the new
            customer IDs back to the registry (reference
            simulate_data.py:74-95 streaming insert).
    Task 1+2: generate one 24 h batch, land it in the staging partition
            for ``run_date``.  ``idempotent_reruns`` uses dynamic
            partition overwrite (a write option; the session conf is
            untouched) so re-running a day replaces its partition
            instead of duplicating it — the reference's WRITE_APPEND
            double-loads on retry; at scale, idempotent daily jobs are
            the operational requirement.
    Task 3: full-refresh RFM-T features (CREATE OR REPLACE semantics).
    Task 4: firewall — raises ValueError on gate failure, aborting
            before scoring, exactly like the failed Airflow task.
    Task 5: fit + score + truncate-write predictions.
    """
    staging = os.path.join(base_dir, "transactions_staging")
    features_path = os.path.join(base_dir, "customer_features")
    predictions_path = os.path.join(base_dir, "predicted_clv")
    registry_path = os.path.join(base_dir, "master_users")
    run_date = str(run_date)
    mode = "overwrite" if idempotent_reruns else "append"

    # Task 0 — ID registry (reference simulate_data.py:23-95)
    if max_existing_id is None:
        max_existing_id = _registry_max_id(spark, registry_path, run_date)

    # Task 1+2 — generate & load (reference clv_data_dag.py:49-75).
    # The generation window is the 24 h BEFORE the run date
    # (START_TIME = END_TIME - 1 day, reference simulate_data.py:18-19),
    # so T = datediff(run_date, first_purchase) >= 0 at the firewall.
    window_start = (
        dt.date.fromisoformat(run_date) - dt.timedelta(days=1)
    ).isoformat()
    batch = simulate_daily_batch(
        spark, max_existing_id, f"{window_start} 00:00:00", seed=seed
    ).withColumn("load_date", F.lit(run_date).cast("date"))
    # registry write for the newly-allocated IDs (S7), dated so a rerun
    # overwrites its own allocation instead of stacking a new one
    new_ids = (
        spark.range(
            max_existing_id + 1,
            max_existing_id + 1 + 10,  # NEW_USERS_DAILY
            1,
            1,
        )
        .select(F.col("id").alias("CustomerID"))
        .withColumn("load_date", F.lit(run_date).cast("date"))
    )
    for df, path in ((batch, staging), (new_ids, registry_path)):
        df.write.mode(mode).option("partitionOverwriteMode", "dynamic").partitionBy(
            "load_date"
        ).parquet(path)

    # Task 3 — full-refresh feature build (reference clv_data_dag.py:77-96).
    # The firewall's feature-side probes (row count == distinct customers,
    # since the build groups by customer; negative-value count) ride the
    # write via observe() — no second pass over the feature table.
    tx = spark.read.schema(batch.schema).parquet(staging)
    observed, obs = observed_features(rfm_features(tx, asof=run_date))
    observed.write.mode("overwrite").parquet(features_path)
    metrics = obs.get

    # Task 4 — the firewall (reference clv_data_dag.py:99-103); raises on
    # DATA LOSS / SCHEMA ERROR / SANITY ERROR.  The feature table is
    # read back with inference so the SCHEMA check sees the file on disk.
    raw = tx.agg(
        F.count(F.lit(1)).alias("rows"),
        F.count_distinct("CustomerID").alias("customers"),
    ).first()
    features = spark.read.parquet(features_path)
    run_validation_checks(
        int(raw["customers"]),
        int(metrics["feature_count"]),
        int(metrics["invalid_count"]),
        features.columns,
    )

    # Task 5 — scoring (reference clv_data_dag.py:106-110); the write
    # observes its own row count.
    preds_obs = Observation("predictions")
    predictions_projection(run_clv_logic(normalize_for_model(features))).observe(
        preds_obs, F.count(F.lit(1)).alias("rows")
    ).write.mode("overwrite").parquet(predictions_path)

    return PipelineResult(
        staging_rows=int(raw["rows"]),
        feature_rows=int(metrics["feature_count"]),
        prediction_rows=int(preds_obs.get["rows"]),
        features_path=features_path,
        predictions_path=predictions_path,
    )
