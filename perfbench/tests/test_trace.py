"""Span self time and the event-log reduction."""

import os

from perfbench.trace import Span, Tracer, executor_per_op, reduce_event_log

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")


def _span(tr, sid, name, start, end, parent=None, rid="r"):
    tr.spans.append(Span(sid, name, rid, parent, start, end))


def test_self_time_subtracts_the_union_of_children():
    tr = Tracer()
    _span(tr, 1, "query", 0.0, 1.0)
    _span(tr, 2, "compile", 0.1, 0.3, parent=1)
    _span(tr, 3, "execute", 0.25, 0.6, parent=1)  # overlaps compile
    _span(tr, 4, "execute", 0.9, 1.2, parent=1)  # runs past its parent
    got = tr.self_ms()
    # covered: [0.1, 0.6] and [0.9, 1.0] → 0.6 s of 1.0 s
    assert abs(got["query"] - 400.0) < 1e-6
    assert abs(got["compile"] - 200.0) < 1e-6
    assert abs(got["execute"] - 650.0) < 1e-6


def test_wrap_nests_spans_and_inherits_the_request_id():
    tr = Tracer()
    inner = tr.wrap("inner", lambda x: x + 1)
    outer = tr.wrap("outer", lambda x: inner(x) * 2, rid_of=lambda x: f"op-{x}")
    assert outer(3) == 8
    by = {s.name: s for s in tr.spans}
    assert by["inner"].parent == by["outer"].sid
    assert by["inner"].rid == by["outer"].rid == "op-3"


def test_reduce_small_recorded_log():
    """A Spark 4.1.2 event log cut down to the events and fields the
    reduction reads: job group ``g-a`` ran a two-task shuffle map job
    and a one-task result job (its skipped stage has no tasks), ``g-b``
    one job of two tasks, and one job ran outside any group."""
    got = reduce_event_log(
        os.path.join(DATA, "eventlog_small.jsonl"),
        lambda props: props.get("spark.jobGroup.id"),
    )
    assert set(got) == {"g-a", "g-b"}
    a, b = got["g-a"], got["g-b"]
    assert (a["jobs"], a["tasks"]) == (2, 3)
    assert (b["jobs"], b["tasks"]) == (1, 2)
    assert a["shuffle_bytes"] == 232 + 229 and b["shuffle_bytes"] == 0
    assert a["run_ms"] == 277 + 278 + 160 and b["run_ms"] == 39 + 35
    for g in (a, b):
        assert g["run_ms"] >= 0 and g["cpu_ms"] >= 0 and g["gc_ms"] >= 0
        assert g["spill_bytes"] == 0
    per = executor_per_op([a, b, None])
    assert per["spark.jobs_per_op"] == (1.0, "count")
    assert per["spark.tasks_per_op"] == (5 / 3, "count")
