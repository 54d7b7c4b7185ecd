"""Output checks, run outside the timed phase.

Query results are canonicalised the way the repository's DuckDB-oracle
tests compare them: columns sorted by name, every cell stringified
(floats through ``repr``, NaN and NULL spelled out, timestamps in ISO
form) and the rows sorted.  The SHA-256 of that text is compared with
the hash ``make_expected.py`` recorded from the DuckDB oracle, so a
result is checked against an engine other than Spark.
"""

from __future__ import annotations

import hashlib
import json
import math
import os

import pandas as pd


class Mismatch(Exception):
    """An output differs from what was expected of it."""


EXPECTED_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "expected.json")


def load_expected(path: str = EXPECTED_PATH) -> dict:
    with open(path) as f:
        return json.load(f)


def _canon_cell(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(float(v))
    if isinstance(v, pd.Timestamp):
        return v.isoformat()
    return str(v)


def canonical(pdf: pd.DataFrame) -> dict:
    """Row count, sorted column names and hash of the canonical rows."""
    cols = sorted(pdf.columns)
    rows = sorted(
        "\x1f".join(_canon_cell(v) for v in row)
        for row in pdf[cols].itertuples(index=False)
    )
    digest = hashlib.sha256("\x1f".join(cols).encode())
    for row in rows:
        digest.update(b"\n" + row.encode())
    return {"rows": len(rows), "columns": cols, "sha256": digest.hexdigest()}


def check_query(name: str, pdf: pd.DataFrame, expected: dict) -> str | None:
    """``None`` when the result matches ``expected[name]``, else why not."""
    want = expected.get(name)
    if want is None:
        return f"{name}: no expected result recorded"
    got = canonical(pdf)
    bad = [k for k in ("rows", "columns", "sha256") if got[k] != want[k]]
    if bad:
        return f"{name}: " + ", ".join(f"{k} {got[k]!r} != {want[k]!r}" for k in bad)
    return None


def check_day(day: int, res, prev) -> list[str]:
    """Invariants one ``PipelineResult`` must meet given the previous day's."""
    errs = []
    if res.prediction_rows <= 0 or res.prediction_rows > res.feature_rows:
        errs.append(
            f"day {day}: prediction_rows {res.prediction_rows} not in "
            f"1..feature_rows {res.feature_rows}"
        )
    if prev is not None:
        if res.staging_rows <= prev.staging_rows:
            errs.append(
                f"day {day}: staging_rows {res.staging_rows} did not grow "
                f"from {prev.staging_rows}"
            )
        if res.feature_rows < prev.feature_rows:
            errs.append(
                f"day {day}: feature_rows shrank {prev.feature_rows} -> "
                f"{res.feature_rows}"
            )
    return errs


def check_history(staging_per_day: dict[str, int], registry_ids: list[int],
                  results: dict[str, object], days: int, first_new_id: int,
                  new_per_day: int) -> list[str]:
    """Stored tables against the per-day results that produced them.

    ``staging_per_day`` and ``registry_ids`` are read back from disk;
    ``results`` maps each scored run date to its ``PipelineResult``
    (a cold-start day lands its batch and IDs but has no result).
    """
    errs = []
    for d in sorted(results):
        landed = sum(n for day, n in staging_per_day.items() if day <= d)
        if landed != results[d].staging_rows:
            errs.append(
                f"{d}: staging holds {landed} rows up to this day, result says "
                f"{results[d].staging_rows}"
            )
    if len(staging_per_day) != days:
        errs.append(f"{len(staging_per_day)} staging partitions after {days} days")
    want = list(range(first_new_id, first_new_id + new_per_day * days))
    if sorted(registry_ids) != want:
        errs.append(
            f"registry holds {len(registry_ids)} ids, want {len(want)} "
            f"contiguous from {first_new_id}"
        )
    return errs
