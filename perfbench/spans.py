"""Spans recorded around calls into the engine's public entry points,
and the Spark event-log reader that attributes jobs, stages, tasks, CPU
and shuffle bytes to the op that caused them.

Spans live in memory until the run ends. A span has a name, start and
end (epoch seconds, the clock the event log uses too), the id of the
span that caused it, and the request id shared by every span of one op.
Wrappers are installed on object instances, never on classes or
modules, and only in the traced run.
"""

from __future__ import annotations

import functools
import glob
import itertools
import json
import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    rid: str | None

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1000.0


class Tracer:
    def __init__(self):
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()

    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def current(self) -> Span | None:
        st = self._stack()
        return st[-1] if st else None

    @contextmanager
    def span(self, name: str, *, rid: str | None = None, parent: int | None = None):
        """Open a span. Parent and request id default to the enclosing
        span on this thread; pass them to link across threads."""
        outer = self.current()
        if parent is None and outer is not None:
            parent = outer.id
        if rid is None and outer is not None:
            rid = outer.rid
        with self._lock:
            sid = next(self._ids)
        sp = Span(sid, name, time.time(), 0.0, parent, rid)
        st = self._stack()
        st.append(sp)
        try:
            yield sp
        finally:
            sp.end = time.time()
            st.pop()
            with self._lock:
                self.spans.append(sp)

    def wrap(self, obj, attr: str, name: str) -> None:
        """Replace ``obj.attr`` (a bound method) on this instance with a
        wrapper that records a span ``name`` around each call."""
        fn = getattr(obj, attr)

        @functools.wraps(fn)
        def wrapped(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        setattr(obj, attr, wrapped)


def union_length(intervals) -> float:
    """Total length covered by a set of (start, end) intervals."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans) -> dict[int, float]:
    """Per span id: its duration minus the part of its interval that
    its direct children cover (children clipped to the parent)."""
    kids: dict[int, list[tuple[float, float]]] = defaultdict(list)
    by_id = {s.id: s for s in spans}
    for s in spans:
        p = by_id.get(s.parent)
        if p is not None:
            lo, hi = max(s.start, p.start), min(s.end, p.end)
            if hi > lo:
                kids[p.id].append((lo, hi))
    return {s.id: (s.end - s.start) - union_length(kids[s.id]) for s in spans}


# ---- Spark event log -----------------------------------------------

@dataclass
class GroupStats:
    """What Spark did for one job group (one op)."""

    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    run_ms: float = 0.0
    cpu_ms: float = 0.0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    job_intervals: list = field(default_factory=list)  # [(start_s, end_s)]


def parse_event_log(events_dir: str) -> dict[str, GroupStats]:
    """Read every event-log file under ``events_dir`` (uncompressed,
    written when the session stops) and aggregate by ``spark.jobGroup.id``.
    Jobs without a group are collected under the empty string."""
    job_group: dict[int, str] = {}
    job_start: dict[int, float] = {}
    stage_group: dict[int, str] = {}
    out: dict[str, GroupStats] = defaultdict(GroupStats)
    for path in sorted(glob.glob(os.path.join(events_dir, "*"))):
        if os.path.isdir(path):
            continue
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    g = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                    job_group[jid] = g
                    job_start[jid] = ev["Submission Time"] / 1000.0
                    for sid in ev.get("Stage IDs", []):
                        stage_group.setdefault(sid, g)
                    out[g].jobs += 1
                elif kind == "SparkListenerJobEnd":
                    jid = ev["Job ID"]
                    if jid in job_start:
                        out[job_group[jid]].job_intervals.append(
                            (job_start[jid], ev["Completion Time"] / 1000.0)
                        )
                elif kind == "SparkListenerStageCompleted":
                    sid = ev["Stage Info"]["Stage ID"]
                    out[stage_group.get(sid, "")].stages += 1
                elif kind == "SparkListenerTaskEnd":
                    g = out[stage_group.get(ev["Stage ID"], "")]
                    m = ev.get("Task Metrics") or {}
                    g.tasks += 1
                    g.run_ms += m.get("Executor Run Time", 0)
                    g.cpu_ms += m.get("Executor CPU Time", 0) / 1e6
                    sr = m.get("Shuffle Read Metrics") or {}
                    g.shuffle_read_bytes += sr.get("Remote Bytes Read", 0) + sr.get(
                        "Local Bytes Read", 0
                    )
                    sw = m.get("Shuffle Write Metrics") or {}
                    g.shuffle_write_bytes += sw.get("Shuffle Bytes Written", 0)
                    g.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0
                    )
    return dict(out)


def driver_ms(op_start: float, op_end: float, job_intervals) -> float:
    """Op wall time minus the union of its jobs' intervals (clipped to
    the op): time the op spent outside any running Spark job."""
    clipped = [
        (max(s, op_start), min(e, op_end))
        for s, e in job_intervals
        if min(e, op_end) > max(s, op_start)
    ]
    return max(0.0, (op_end - op_start) - union_length(clipped)) * 1000.0
