"""Spans around the benchmark's calls into the engine, and the Spark
counters behind them.

A traced run opens a span at each layer boundary: the op itself, the
plan-building call, the materializing call, ``catalog.table`` reads and
the set-up steps. Spans are kept in memory and written out at the end.
Each span tags the Spark jobs it fires with its own job group, so the
event log (enabled only in traced runs) attributes every job, stage and
task to exactly one span. An untraced run uses the same code with the
tracer disabled, which records nothing and touches no Spark state.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import threading
import time
from collections import defaultdict
from dataclasses import asdict, dataclass

GROUP_PREFIX = "perfbench-span-"


@dataclass
class Span:
    sid: int
    name: str
    op: int | None
    parent: int | None
    start: float
    end: float = 0.0


class Tracer:
    """Records spans when given a SparkContext; a no-op when given None."""

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()

    @property
    def enabled(self) -> bool:
        return self.sc is not None

    @contextlib.contextmanager
    def span(self, name: str, op: int | None = None):
        if self.sc is None:
            yield None
            return
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else None
        if op is None and parent is not None:
            op = parent.op
        s = Span(next(self._ids), name, op, parent.sid if parent else None, time.perf_counter())
        stack.append(s)
        self.sc.setJobGroup(f"{GROUP_PREFIX}{s.sid}", name)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            stack.pop()
            if parent is not None:
                self.sc.setJobGroup(f"{GROUP_PREFIX}{parent.sid}", parent.name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            with self._lock:
                self.spans.append(s)

    def record(self, name: str, start: float, end: float) -> None:
        """Add a finished top-level span timed by the caller."""
        if self.sc is not None:
            with self._lock:
                self.spans.append(Span(next(self._ids), name, None, None, start, end))

    def wrap(self, fn, name: str):
        """``fn`` with every call recorded as a ``name`` span."""

        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced


def self_times(spans: list[Span]) -> dict[int, float]:
    """Each span's duration minus the part of it its child spans cover.

    Children are clipped to their parent's interval and overlapping
    children (concurrent calls) are counted once, so a parent's self time
    is never negative and the self times of a span tree always add up to
    its root's duration.
    """
    children: dict[int, list[Span]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            children[s.parent].append(s)
    out = {}
    for s in spans:
        covered, cur_lo, cur_hi = 0.0, None, None
        for c in sorted(children.get(s.sid, []), key=lambda c: c.start):
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
        out[s.sid] = (s.end - s.start) - covered
    return out


COUNTERS = (
    "jobs",
    "stages",
    "tasks",
    "failed_tasks",
    "shuffle_write_bytes",
    "spill_bytes",
    "sched_wait_s",
)


def event_log_counters(path: str) -> dict[int, dict[str, float]]:
    """Per-span Spark counters from one event log file.

    Jobs and stages belong to the span whose job group was set when they
    were submitted. A task's scheduler wait is its launch time minus its
    stage's submission time: the time it waited for a free task slot.
    """
    per: dict[int, dict[str, float]] = defaultdict(lambda: dict.fromkeys(COUNTERS, 0))
    stage_span: dict[tuple[int, int], int] = {}
    stage_submit: dict[tuple[int, int], float] = {}

    def span_of(props: dict | None) -> int | None:
        g = (props or {}).get("spark.jobGroup.id") or ""
        return int(g[len(GROUP_PREFIX):]) if g.startswith(GROUP_PREFIX) else None

    with open(path, encoding="utf-8") as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                sid = span_of(ev.get("Properties"))
                if sid is not None:
                    per[sid]["jobs"] += 1
            elif kind == "SparkListenerStageSubmitted":
                info = ev["Stage Info"]
                key = (info["Stage ID"], info["Stage Attempt ID"])
                sid = span_of(ev.get("Properties"))
                if sid is not None:
                    stage_span[key] = sid
                    stage_submit[key] = info.get("Submission Time", 0)
                    per[sid]["stages"] += 1
            elif kind == "SparkListenerTaskEnd":
                key = (ev["Stage ID"], ev["Stage Attempt ID"])
                sid = stage_span.get(key)
                if sid is None:
                    continue
                c = per[sid]
                c["tasks"] += 1
                if ev.get("Task End Reason", {}).get("Reason") != "Success":
                    c["failed_tasks"] += 1
                m = ev.get("Task Metrics") or {}
                c["shuffle_write_bytes"] += m.get("Shuffle Write Metrics", {}).get(
                    "Shuffle Bytes Written", 0
                )
                c["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                    "Disk Bytes Spilled", 0
                )
                launch = ev.get("Task Info", {}).get("Launch Time", 0)
                c["sched_wait_s"] += max(0, launch - stage_submit[key]) / 1000.0
    return dict(per)


def dump(path: str, spans: list[Span], selfs: dict, counters: dict, extra: dict) -> None:
    """Write spans with their self times and counters, and the run summary, as one JSON file."""
    with open(path, "w", encoding="utf-8") as f:
        json.dump(
            {
                **extra,
                "spans": [
                    {**asdict(s), "self_s": selfs[s.sid], "counters": counters.get(s.sid, {})}
                    for s in sorted(spans, key=lambda s: s.sid)
                ],
            },
            f,
            indent=1,
        )
