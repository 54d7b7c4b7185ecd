#!/usr/bin/env python3
"""Record the expected output of every benchmarked query in expected.json.

    python3 perfbench/make_expected.py

Each query's row count, columns and canonical hash come from its DuckDB
oracle SQL over ``perfbench/data/sf0.01``, not from Spark.  Run from the
repository root.
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(1, os.path.dirname(HERE))

import checks  # noqa: E402
import workloads  # noqa: E402
from run import SF_DIR  # noqa: E402


def oracle_frame(sql: str):
    import duckdb

    from clv_data_pipeline_spark.schemas import TESTDATA_TABLES

    con = duckdb.connect()
    for name in TESTDATA_TABLES:
        path = os.path.join(SF_DIR, f"{name}.parquet")
        if os.path.exists(path):
            con.sql(f"CREATE VIEW {name} AS SELECT * FROM '{path}'")
    return con.sql(sql).df()


def main() -> None:
    from clv_data_pipeline_spark import registry

    oracles = registry.all_oracles()
    missing = [n for n in workloads.QUERY_PYTHON if n not in oracles]
    if missing:
        raise SystemExit(f"no DuckDB oracle for {missing}")
    expected = {
        name: checks.canonical(oracle_frame(oracles[name]))
        for name in workloads.QUERY_PYTHON
    }
    with open(checks.EXPECTED_PATH, "w") as f:
        json.dump(expected, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main()
