"""Collectors of the traced run, against canned inputs.

Run from the repository root:  python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import sys
from pathlib import Path
from types import SimpleNamespace

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import collect  # noqa: E402

EVENT_LOG = Path(__file__).with_name("eventlog_snippet.jsonl")


# ---------------------------------------------------------------------------
# Spans and self time
# ---------------------------------------------------------------------------
class FakeClock:
    def __init__(self, ticks):
        self._ticks = iter(ticks)

    def __call__(self):
        return next(self._ticks)


def test_span_tree_parents_trace_ids_and_self_time():
    # pass [0, 10] > query [1, 9] > build [2, 4], exec [5, 8]
    tr = collect.Tracer(clock=FakeClock([0, 1, 2, 4, 5, 8, 9, 10]))
    with tr.span("pass", trace_id="pass-0"):
        with tr.span("query", query="q1"):
            with tr.span("build"):
                pass
            with tr.span("exec"):
                pass
    by_name = {s.name: s for s in tr.spans}
    assert by_name["query"].parent == by_name["pass"].span_id
    assert by_name["build"].parent == by_name["query"].span_id
    assert {s.trace_id for s in tr.spans} == {"pass-0"}
    selfs = collect.self_times(tr.spans)
    assert selfs[by_name["pass"].span_id] == pytest.approx(2.0)  # 10 - 8
    assert selfs[by_name["query"].span_id] == pytest.approx(3.0)  # 8 - (2 + 3)
    assert selfs[by_name["build"].span_id] == pytest.approx(2.0)
    records = tr.to_records()
    assert records[1]["query"] == "q1" and records[1]["self_s"] == pytest.approx(3.0)


def test_self_time_counts_overlapping_children_once():
    spans = [
        collect.Span(0, "root", 0.0, 10.0, None, "t"),
        collect.Span(1, "a", 1.0, 5.0, 0, "t"),
        collect.Span(2, "b", 4.0, 7.0, 0, "t"),
        collect.Span(3, "c", 9.0, 12.0, 0, "t"),  # runs past its parent
    ]
    assert collect.self_times(spans)[0] == pytest.approx(10 - 6 - 1)


def test_span_end_is_recorded_when_the_body_raises():
    tr = collect.Tracer(clock=FakeClock([0, 3]))
    with pytest.raises(ValueError):
        with tr.span("query"):
            raise ValueError
    assert tr.spans[0].duration == 3


def test_union_length():
    assert collect.union_length([]) == 0
    assert collect.union_length([(0, 1), (1, 2), (5, 6)]) == 3
    assert collect.union_length([(0, 4), (1, 2), (3, 5)]) == 5
    assert collect.union_length([(3, 1)]) == 0


# ---------------------------------------------------------------------------
# Event log
# ---------------------------------------------------------------------------
@pytest.fixture(scope="module")
def groups():
    return collect.parse_event_log(EVENT_LOG.read_text().splitlines())


def test_jobs_map_to_their_group(groups):
    g = groups["analytics_mix:agg_cube:0"]
    assert set(g.jobs) == {3, 4}
    assert g.jobs[3] == (1_700_000_010_000, 1_700_000_010_400)
    assert g.job_intervals_s() == [(1_700_000_010.0, 1_700_000_010.4), (1_700_000_010.5, 1_700_000_011.0)]


def test_task_end_metrics_aggregate_per_group(groups):
    g = groups["analytics_mix:agg_cube:0"]
    assert len(g.tasks) == 3
    assert g.executor_cpu_s == pytest.approx((150 + 250 + 100) * 1e6 / 1e9)
    assert g.shuffle_bytes == 1000 + 2000
    assert g.spill_bytes == 4096
    assert [t.records_written for t in g.tasks] == [0, 0, 7]


def test_scheduler_delay_follows_the_ui_formula(groups):
    t = groups["analytics_mix:agg_cube:0"].tasks[0]
    # 1000 ms on the clock - 600 run - 50 deserialize - 10 serialize - 0
    assert t.scheduler_delay_ms == 340
    fetched = groups["analytics_mix:agg_cube:0"].tasks[2]
    # result fetched 20 ms before finish: 500 - 300 - 20 - 0 - 20
    assert fetched.scheduler_delay_ms == 160
    assert groups["analytics_mix:agg_cube:0"].scheduler_delay_s == pytest.approx(0.5)


def test_ungrouped_jobs_and_retried_stage_attempts(groups):
    stream = groups["0b3c-run-id"]
    assert set(stream.jobs) == {5}
    assert len(stream.tasks) == 1
    # the stage's second attempt ran under the same group as the first
    assert len(groups[""].tasks) == 2


def test_attribute_folds_foreign_groups_into_the_window_they_ran_in(groups):
    windows = {
        "analytics_mix:agg_cube:0": (1_700_000_009.9, 1_700_000_011.1),
        "curation_mix:streaming_dedup_index_probe:0": (1_700_000_020.0, 1_700_000_030.0),
    }
    out = collect.attribute(groups, windows)
    assert set(out) == set(windows)
    assert len(out["analytics_mix:agg_cube:0"].tasks) == 3
    stream = out["curation_mix:streaming_dedup_index_probe:0"]
    assert list(stream.jobs) == [("0b3c-run-id", 5)]
    assert len(stream.tasks) == 1
    # the ungrouped job at t=40s falls in no window and is dropped
    assert sum(len(g.tasks) for g in out.values()) == 4


def test_event_log_snippet_is_real_json_lines():
    kinds = {json.loads(line)["Event"] for line in EVENT_LOG.read_text().splitlines() if line}
    assert {
        "SparkListenerJobStart",
        "SparkListenerJobEnd",
        "SparkListenerStageSubmitted",
        "SparkListenerTaskEnd",
    } <= kinds


# ---------------------------------------------------------------------------
# statusTracker
# ---------------------------------------------------------------------------
class FakeTracker:
    def __init__(self):
        self.jobs = {"g": [1, 2], "other": [3]}
        self.job_stages = {1: [10, 11], 2: [11, 12], 3: [13]}
        self.stages = {
            10: SimpleNamespace(numTasks=4, numCompletedTasks=4, numFailedTasks=0),
            11: SimpleNamespace(numTasks=4, numCompletedTasks=3, numFailedTasks=1),
            12: SimpleNamespace(numTasks=8, numCompletedTasks=0, numFailedTasks=0),  # skipped
            13: SimpleNamespace(numTasks=2, numCompletedTasks=2, numFailedTasks=0),
        }

    def getJobIdsForGroup(self, group):
        return self.jobs.get(group, [])

    def getJobInfo(self, job_id):
        return SimpleNamespace(stageIds=self.job_stages[job_id])

    def getStageInfo(self, stage_id):
        return self.stages.get(stage_id)


def test_status_counts_jobs_and_run_tasks_once_per_stage():
    assert collect.status_counts(FakeTracker(), "g") == (2, 4 + 4 + 0)
    assert collect.status_counts(FakeTracker(), "missing") == (0, 0)
