"""The event-log reducer and span join, on a checked-in event log."""

import os

import pytest

from perfbench.trace import Span, Tracer, reduce_event_log, span_rows

FIXTURE = os.path.join(os.path.dirname(__file__), "fixtures", "eventlog.jsonl")


def test_reduce_groups_jobs_stages_tasks():
    g = reduce_event_log([FIXTURE])
    assert set(g) == {"s0", "s1", ""}
    s0 = g["s0"]
    assert (s0["jobs"], s0["stages"], s0["tasks"]) == (1, 1, 2)
    assert s0["task_cpu_s"] == pytest.approx(1.5)
    assert s0["task_run_s"] == pytest.approx(1.8)
    assert s0["gc_s"] == pytest.approx(0.1)
    assert s0["python_io_bytes"] == 3500
    assert s0["task_skew"] == pytest.approx(1.2 / 0.9)
    assert s0["by_callsite"]["save at tokenize.py:10"] == {
        "stages": 1, "tasks": 2, "task_run_s": pytest.approx(1.8)}


def test_reduce_counts_shuffle_spill_and_skips_skipped_stages():
    g = reduce_event_log([FIXTURE])
    s1 = g["s1"]
    # stage 2 was submitted with the job but never ran
    assert (s1["jobs"], s1["stages"], s1["tasks"]) == (1, 1, 3)
    assert s1["shuffle_write_bytes"] == 600
    assert s1["spill_bytes"] == 50
    assert s1["task_skew"] == pytest.approx(4.0)
    other = g[""]
    assert other["shuffle_read_bytes"] == 15
    assert other["python_io_bytes"] == 0


def test_span_rows_fold_child_spans_into_parents():
    g = reduce_event_log([FIXTURE])
    spans = [Span("s0", "build_index", "build", 0.0, 2.0),
             Span("s1", "merge", "build", 0.5, 1.5, parent="s0")]
    rows = {r["id"]: r for r in span_rows(spans, g, slots=4)}
    assert rows["s0"]["tasks"] == 5
    assert rows["s0"]["shuffle_write_bytes"] == 600
    assert rows["s0"]["task_skew"] == pytest.approx(4.0)
    assert rows["s1"]["tasks"] == 3
    assert rows["s0"]["slot_busy_frac"] == pytest.approx(2.4 / (2.0 * 4))


def test_tracer_nests_and_pauses_without_spark():
    t = Tracer(True)
    with t.span("a", "build"):
        with t.span("b", "codec"):
            pass
        with t.paused():
            with t.span("c", "codec") as sp:
                assert sp is None
    assert [(s.id, s.name, s.parent) for s in t.spans] == [
        ("s0", "a", None), ("s1", "b", "s0")]
    assert all(s.end >= s.start for s in t.spans)
    off = Tracer(False)
    with off.span("a", "build") as sp:
        assert sp is None
    assert off.spans == []
