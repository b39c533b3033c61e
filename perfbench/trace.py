"""Spans recorded around the engine's public calls, and the Spark
event-log reduction used by traced runs.

Spans live in memory until the run ends. Each has a name, start, end,
the span that caused it (the enclosing span on the same thread) and a
run or request id shared by all spans of one operation.
"""

from __future__ import annotations

import functools
import json
import threading
import time
from collections import defaultdict
from dataclasses import dataclass


@dataclass
class Span:
    sid: int
    name: str
    rid: str
    parent: int | None
    start: float
    end: float = 0.0

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1000.0


class Tracer:
    def __init__(self):
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._next = 0

    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def begin(self, name: str, rid: str | None = None) -> Span:
        st = self._stack()
        parent = st[-1] if st else None
        with self._lock:
            self._next += 1
            sid = self._next
        sp = Span(
            sid,
            name,
            rid if rid is not None else (parent.rid if parent else ""),
            parent.sid if parent else None,
            time.perf_counter(),
        )
        st.append(sp)
        return sp

    def end(self, sp: Span) -> None:
        sp.end = time.perf_counter()
        st = self._stack()
        if st and st[-1] is sp:
            st.pop()
        with self._lock:
            self.spans.append(sp)

    def wrap(self, name: str, fn, rid_of=None):
        """``fn`` with every call recorded as a span ``name``.
        ``rid_of(*args)`` names the operation when the call starts one."""

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            sp = self.begin(name, rid_of(*args, **kwargs) if rid_of else None)
            try:
                return fn(*args, **kwargs)
            finally:
                self.end(sp)

        return traced

    def by_name(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def self_ms(self) -> dict[str, float]:
        """Total self time per span name: duration minus the part of
        the interval covered by the span's children."""
        children: dict[int, list[Span]] = defaultdict(list)
        for s in self.spans:
            if s.parent is not None:
                children[s.parent].append(s)
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            covered = 0.0
            cur_lo = cur_hi = None
            for c in sorted(children[s.sid], key=lambda c: c.start):
                lo, hi = max(c.start, s.start), min(c.end, s.end)
                if hi <= lo:
                    continue
                if cur_hi is None or lo > cur_hi:
                    if cur_hi is not None:
                        covered += cur_hi - cur_lo
                    cur_lo, cur_hi = lo, hi
                else:
                    cur_hi = max(cur_hi, hi)
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            out[s.name] += (s.end - s.start - covered) * 1000.0
        return dict(out)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(
                    json.dumps(
                        {
                            "id": s.sid,
                            "name": s.name,
                            "rid": s.rid,
                            "parent": s.parent,
                            "start": s.start,
                            "end": s.end,
                        }
                    )
                    + "\n"
                )


_ZERO = {
    "jobs": 0,
    "tasks": 0,
    "run_ms": 0.0,
    "cpu_ms": 0.0,
    "gc_ms": 0.0,
    "shuffle_bytes": 0,
    "spill_bytes": 0,
}


def reduce_event_log(path: str, group_of) -> dict[str, dict]:
    """Spark event log (uncompressed, not rolling) → per-group totals.

    ``group_of(properties)`` maps a job's properties to a group key, or
    None to skip the job. Tasks count toward the group of the job that
    submitted their stage. Shuffle bytes are bytes written by shuffle
    map tasks; spill bytes are memory plus disk spill.
    """
    stage_group: dict[int, str] = {}
    out: dict[str, dict] = {}
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                g = group_of(ev.get("Properties") or {})
                if g is None:
                    continue
                acc = out.setdefault(g, dict(_ZERO))
                acc["jobs"] += 1
                for sid in ev.get("Stage IDs", []):
                    stage_group[sid] = g
            elif kind == "SparkListenerTaskEnd":
                g = stage_group.get(ev.get("Stage ID"))
                if g is None:
                    continue
                acc = out[g]
                m = ev.get("Task Metrics") or {}
                acc["tasks"] += 1
                acc["run_ms"] += m.get("Executor Run Time", 0)
                acc["cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
                acc["gc_ms"] += m.get("JVM GC Time", 0)
                acc["shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0
                )
                acc["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                    "Disk Bytes Spilled", 0
                )
    return out


def executor_per_op(groups: list) -> dict:
    """Per-operation means of reduced event-log groups (None for an
    operation that ran no Spark job)."""
    n = len(groups)
    gs = [g or _ZERO for g in groups]

    def mean(key):
        return sum(g[key] for g in gs) / n

    return {
        "spark.jobs_per_op": (mean("jobs"), "count"),
        "spark.tasks_per_op": (mean("tasks"), "count"),
        "spark.executor_run_ms_per_op": (mean("run_ms"), "ms"),
        "spark.executor_cpu_ms_per_op": (mean("cpu_ms"), "ms"),
        "spark.gc_ms_per_op": (mean("gc_ms"), "ms"),
        "spark.shuffle_bytes_per_op": (mean("shuffle_bytes"), "bytes"),
        "spark.spill_bytes_per_op": (mean("spill_bytes"), "bytes"),
    }
