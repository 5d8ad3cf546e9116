"""Correctness gate against oracle results computed once and stored.

Running the DuckDB oracle on every benchmark run is not viable (the
``dedup_cluster_cc`` oracle alone runs for minutes at larger scales), so
``make_expected.py`` stores each mix query's oracle result under
``expected/``. A run compares Spark's output against the stored frame
with ``oracle.compare_query`` itself: the stored frame stands in for the
DuckDB connection, so canonicalization, dtype classes and float
tolerances are exactly the oracle's.
"""

from __future__ import annotations

import json
from pathlib import Path

import pandas as pd

HERE = Path(__file__).resolve().parent
# The engine's seed-42 sf0.01 fixture tables (see FIXTURES.md), as files.
DATA_DIR = HERE / "data" / "sf0.01"
EXPECTED_DIR = HERE / "expected"
MANIFEST = EXPECTED_DIR / "manifest.json"


class _StoredResult:
    """The slice of a DuckDB connection ``compare_query`` uses."""

    def __init__(self, frame: pd.DataFrame):
        self._frame = frame

    def execute(self, _sql: str) -> "_StoredResult":
        return self

    def fetchdf(self) -> pd.DataFrame:
        return self._frame.copy()


def load_manifest() -> dict:
    return json.loads(MANIFEST.read_text())


def expected_frame(name: str) -> pd.DataFrame:
    return pd.read_parquet(EXPECTED_DIR / f"{name}.parquet")


def compare(name: str, spark, df, expected: pd.DataFrame):
    """``oracle.CompareResult`` of ``df`` (a Spark DataFrame) vs ``expected``."""
    from golang_etl_spark.oracle import compare_query

    return compare_query(
        name, spark, "", lambda _s, _d: df, "", con=_StoredResult(expected)
    )
