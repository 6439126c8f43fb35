"""Event-log parser and span arithmetic."""

from __future__ import annotations

from pathlib import Path

import pytest

from perfbench import trace

#: recorded from a local[2] session with the traced run's event-log
#: settings: job group "scan#0" (a global sum), job group "shuffle#0"
#: (a groupBy), and one job outside any group; trimmed to the events
#: and fields the parser reads
LOG = Path(__file__).with_name("eventlog_small.jsonl")


@pytest.fixture(scope="module")
def groups():
    with open(LOG) as f:
        return trace.parse_event_log(f)


def test_jobs_attributed_to_their_group(groups):
    assert set(groups) == {"scan#0", "shuffle#0"}
    assert groups["scan#0"].jobs >= 1 and groups["shuffle#0"].jobs >= 1
    for g in groups.values():
        assert len(g.intervals) == g.jobs
        assert all(0 < b - a < 600 for a, b in g.intervals)


def test_task_metrics_summed_per_group(groups):
    scan, shuffle = groups["scan#0"], groups["shuffle#0"]
    # a global sum shuffles one partial row per task; the groupBy more
    assert shuffle.shuffle_write_bytes > scan.shuffle_write_bytes > 0
    assert scan.stage_tasks and shuffle.stage_tasks
    assert scan.spill_bytes == 0 == shuffle.spill_bytes
    for g in groups.values():
        assert g.task_skew() >= 1.0


def test_task_skew_is_max_over_median_of_busiest_stage():
    g = trace.GroupMetrics(stage_tasks={1: [10, 10, 40], 2: [5, 5]})
    assert g.task_skew() == 4.0
    assert trace.GroupMetrics().task_skew() == 0.0


def test_covered_merges_overlaps_and_clips():
    assert trace.covered([(1, 3), (2, 5), (7, 8)], 0, 10) == 5
    assert trace.covered([(1, 3), (2, 5)], 2.5, 4) == 1.5
    assert trace.covered([], 0, 1) == 0


def test_span_metrics_self_and_driver_time():
    spans = trace.Spans()
    spans.op = 0
    spans.spans = [
        trace.Span("outer", 0, 100.0, 110.0),
        trace.Span("inner", 0, 120.0, 126.0, call_end=122.0),
    ]
    groups = {"outer#0": trace.GroupMetrics(jobs=2, intervals=[(101.0, 104.0), (103.0, 107.0)])}
    got = trace.span_metrics(spans, groups, {"outer": (("inner", "call"),)})
    assert got["outer"]["wall_s"] == 10.0
    assert got["outer"]["self_s"] == 8.0  # minus the inner call's 2 s
    assert got["outer"]["driver_s"] == 4.0  # 6 s inside the two jobs
    assert got["outer"]["jobs"] == 2
    assert got["inner"]["self_s"] == 6.0 and got["inner"]["jobs"] == 0


def test_per_layer_names_fit_the_contract():
    names = [n for n, _ in trace.per_layer_names()]
    assert len(names) == len(set(names)) <= 128
    for span in trace.ALL_SPANS:
        assert f"{span}.self_s" in names
