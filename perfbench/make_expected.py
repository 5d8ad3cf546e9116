"""Regenerate ``expected/``: the oracle result of every mix query.

Run from the repository root after a change to ``data/`` or to a mix
query's oracle SQL:

    python3 perfbench/make_expected.py

Each query's DuckDB result over ``data/sf0.01`` is stored, then the
query runs on Spark and is checked both against the live DuckDB oracle
and against the stored frame read back from disk, so the stored results
are known to pass the gate they feed. The exit code is 1 if any check
fails.
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE.parent))
sys.path.insert(0, str(HERE))

import gate  # noqa: E402
from workloads import MIX_QUERIES  # noqa: E402


def main() -> int:
    from golang_etl_spark.oracle import compare_query, duckdb_connection
    from golang_etl_spark.registry import all_queries
    from golang_etl_spark.session import get_spark

    specs = all_queries()
    sf_dir = str(gate.DATA_DIR)
    gate.EXPECTED_DIR.mkdir(exist_ok=True)
    rows = {}
    con = duckdb_connection(sf_dir)
    try:
        for name in MIX_QUERIES:
            frame = con.execute(specs[name].oracle).fetchdf()
            frame.to_parquet(gate.EXPECTED_DIR / f"{name}.parquet", index=False)
            rows[name] = len(frame)
            print(f"{name}: {len(frame)} rows", flush=True)
    finally:
        con.close()
    gate.MANIFEST.write_text(json.dumps({"rows": rows}, indent=1, sort_keys=True) + "\n")

    spark = get_spark(app_name="perfbench_expected")
    bad = 0
    try:
        for name in MIX_QUERIES:
            live = compare_query(name, spark, sf_dir, specs[name].fn, specs[name].oracle)
            stored = gate.compare(
                name, spark, specs[name].fn(spark, sf_dir), gate.expected_frame(name)
            )
            bad += (not live.ok) + (not stored.ok)
            print(f"live {live}\nstored {stored}", flush=True)
    finally:
        spark.stop()
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
