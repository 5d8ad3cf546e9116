"""BENCHMARK.json, the workload definitions and the stored expectations
agree with each other."""

from __future__ import annotations

import json
import re
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(HERE))

import gate  # noqa: E402
import workloads as wl  # noqa: E402

SPEC = json.loads((HERE.parent / "BENCHMARK.json").read_text())
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


def test_metric_lists_match_the_harness():
    assert {m["name"]: m["unit"] for m in SPEC["end_to_end"]} == wl.END_TO_END
    assert {m["name"]: m["unit"] for m in SPEC["per_layer"]} == wl.per_layer_metrics()
    assert [w["name"] for w in SPEC["workloads"]] == list(wl.WORKLOADS)


def test_spec_limits():
    assert set(SPEC) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    names = [m["name"] for m in SPEC["end_to_end"] + SPEC["per_layer"]] + [
        w["name"] for w in SPEC["workloads"]
    ]
    assert all(NAME.match(n) for n in names) and len(names) == len(set(names))
    assert 1 <= len(SPEC["per_layer"]) <= 128
    assert all(0 < m["bound"] <= 0.25 for m in SPEC["end_to_end"])
    setup = next(m for m in SPEC["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in SPEC["end_to_end"])
    assert all(len(w["why"]) <= 200 and "\n" not in w["why"] for w in SPEC["workloads"])


def test_stored_expectations_cover_the_mix():
    manifest = gate.load_manifest()
    assert set(manifest["rows"]) == set(wl.MIX_QUERIES)
    for name in wl.MIX_QUERIES:
        assert len(gate.expected_frame(name)) == manifest["rows"][name]


def test_fixture_tables_are_present():
    names = {p.stem for p in gate.DATA_DIR.glob("*.parquet")}
    assert names == {
        "region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "events", "documents", "embeddings",
    }


def test_layer_of():
    assert wl.layer_of("golang_etl_spark.operators.dedup") == "dedup"
    assert wl.layer_of("golang_etl_spark.streaming.jobs") == "streaming"
    assert wl.layer_of("golang_etl_spark.sources.sinks") == "sinks"
    assert wl.layer_of("golang_etl_spark.etl") == "etl"
