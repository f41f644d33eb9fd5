"""Span self times and the event-log parser, over fixtures."""

import os

import pytest

from tracing import (
    Tracer, call_summary, parse_event_log, python_map_rows, scan_bytes, self_by_name, self_times,
)

FIXTURE_LOG = os.path.join(os.path.dirname(__file__), "fixtures", "eventlog")

# (id, parent, name, trace, start_ns, end_ns)
SPANS = [
    (0, -1, "job", "w/1", 0, 100),
    (1, 0, "dom", "w/1", 10, 40),
    (2, 0, "readability", "w/1", 30, 60),  # overlaps its sibling: covered once
    (3, 1, "spans.out", "w/1", 15, 20),
    (4, 0, "late", "w/1", 90, 130),  # runs past its parent: clipped
]


def test_self_time_subtracts_the_union_of_children():
    st = self_times(SPANS)
    assert st == {0: 100 - (60 - 10) - (100 - 90), 1: 30 - 5, 2: 30, 3: 5, 4: 40}


def test_self_by_name_sums_seconds():
    assert self_by_name(SPANS)["dom"] == pytest.approx(25e-9)


def test_tracer_nests_and_merges_worker_spans():
    outer = Tracer()
    worker = Tracer()
    with worker.span("doc", "w/a"):
        with worker.span("dom", "w/a"):
            pass
    with outer.span("pass"):
        outer.merge(worker.spans)
    names = {s[0]: (s[1], s[2]) for s in outer.spans}
    assert names == {0: (-1, "pass"), 1: (0, "doc"), 2: (1, "dom")}
    assert all(s[5] >= s[4] for s in outer.spans)


def test_disabled_tracer_records_nothing():
    t = Tracer(enabled=False)
    with t.span("x"):
        pass
    assert t.spans == []


def test_event_log_call_summary():
    log = parse_event_log(FIXTURE_LOG)
    s = call_summary(log, "route")
    assert s["spark_jobs"] == 2
    assert s["tasks"] == 5
    assert s["python_tasks"] == 3  # the empty Python task sent nothing
    assert s["gc_s"] == pytest.approx(0.010)
    assert s["arrow_in_mb"] == pytest.approx(7.0)
    assert s["arrow_out_mb"] == pytest.approx(5.0)
    assert s["task_s_p50"] == pytest.approx(0.4)
    assert s["task_s_max"] == pytest.approx(0.9)
    assert s["straggler_ratio"] == pytest.approx(2.25)
    assert call_summary(log, "missing")["spark_jobs"] == 0


def test_event_log_mega_rows_and_scan_bytes():
    log = parse_event_log(FIXTURE_LOG)
    assert python_map_rows(log, "route") == {"direct": 38, "shuffled": 2}
    assert scan_bytes(log, "route", "/data/corpus/docs") == 2000
    assert scan_bytes(log, "route", "/elsewhere") == 0
