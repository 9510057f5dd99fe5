"""Pure helpers of the benchmark: statistics, spans, event-log replay.

Nothing here starts Spark or writes a file; the event-log helpers only
read the files they are given. The helpers are unit-tested without a
session (``test_harness.py``).
"""

from __future__ import annotations

import json
import math
import time
from dataclasses import dataclass, field


# -- statistics ---------------------------------------------------------------


def percentile(values, q: float) -> float:
    """Linear-interpolated ``q``-th percentile (0..100) of ``values``,
    the same rule as numpy's default (``method='linear'``)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of an empty sample")
    if not 0 <= q <= 100:
        raise ValueError(f"q must be in [0, 100], got {q}")
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values) -> float:
    return percentile(values, 50)


def rate(count: float, seconds: float) -> float:
    """Items per second; a zero or negative window is an error, never
    an infinite rate."""
    if seconds <= 0:
        raise ValueError(f"rate over a non-positive window ({seconds} s)")
    return count / seconds


def geomean(values) -> float:
    xs = list(values)
    if not xs or any(x <= 0 for x in xs):
        raise ValueError("geometric mean needs positive values")
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def kind_medians(samples: dict[str, list[float]]) -> dict[str, float]:
    """Median latency per operation kind (kinds with no sample dropped)."""
    return {k: median(v) for k, v in samples.items() if v}


# -- spans --------------------------------------------------------------------


@dataclass
class Span:
    """One timed region: a public call (``build``: the call itself,
    including eager jobs; ``collect``: its action) or a grouping span
    such as a round. Times are ``time.perf_counter`` seconds."""

    span_id: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    collect_start: float | None = None
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start

    @property
    def build_s(self) -> float:
        stop = self.collect_start if self.collect_start is not None else self.end
        return stop - self.start

    @property
    def collect_s(self) -> float:
        return 0.0 if self.collect_start is None else self.end - self.collect_start


def _covered(intervals: list[tuple[float, float]]) -> float:
    """Total length of the union of ``intervals``."""
    total, cur_s, cur_e = 0.0, None, None
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


def self_time(span: Span, spans: list[Span]) -> float:
    """``span``'s duration minus the part of it its direct children
    cover (children clipped to the parent's interval; overlapping
    children counted once)."""
    kids = [
        (max(c.start, span.start), min(c.end, span.end))
        for c in spans
        if c.parent == span.span_id
    ]
    kids = [(s, e) for s, e in kids if e > s]
    return span.duration - _covered(kids)


class Tracer:
    """In-memory span recorder. ``group`` is called with a span's job
    group id on entry and with ``None`` on exit, so every Spark job a
    span launches carries its id (the traced run passes a function that
    sets the SparkContext job group; the untraced run passes nothing and
    records the same spans at the cost of a few clock reads)."""

    def __init__(self, group=None):
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.group = group

    def open(self, name: str, **attrs) -> Span:
        parent = self._stack[-1].span_id if self._stack else None
        span = Span(len(self.spans) + 1, name, parent, time.perf_counter(), attrs=attrs)
        self.spans.append(span)
        self._stack.append(span)
        if self.group is not None:
            self.group(self.group_id(span))
        return span

    def mark_collect(self, span: Span) -> None:
        span.collect_start = time.perf_counter()

    def close(self, span: Span) -> None:
        span.end = time.perf_counter()
        popped = self._stack.pop()
        if popped is not span:
            raise RuntimeError(f"span {span.name!r} closed out of order")
        if self.group is not None:
            self.group(self.group_id(self._stack[-1]) if self._stack else None)

    @staticmethod
    def group_id(span: Span) -> str:
        return f"pb-{span.span_id}"


# -- event-log replay ---------------------------------------------------------


def event_log_files(directory) -> list:
    """The event-log files of an event-log directory in write order.
    Spark 4 rolls logs into ``eventlog_v2_<app>/events_<n>_<app>``
    (plus an ``appstatus`` marker); older layouts write one file per
    application."""
    from pathlib import Path

    files = [
        p for p in Path(directory).rglob("*") if p.is_file() and not p.name.startswith("appstatus")
    ]

    def order(p):
        part = p.name.split("_")
        n = part[1] if len(part) > 1 and part[0] == "events" and part[1].isdigit() else "0"
        return (str(p.parent), int(n), p.name)

    return sorted(files, key=order)


def read_event_log(path) -> list[dict]:
    """Spark JSON event log (uncompressed) → list of event dicts;
    undecodable lines (a partially flushed tail) are skipped."""
    events = []
    with open(path, encoding="utf-8") as f:
        for line in f:
            try:
                events.append(json.loads(line))
            except json.JSONDecodeError:
                continue
    return events


_ZERO = {
    "jobs": 0,
    "stages": 0,
    "tasks": 0,
    "exec_run_ms": 0.0,
    "exec_cpu_ms": 0.0,
    "gc_ms": 0.0,
    "shuffle_write_bytes": 0,
    "shuffle_read_bytes": 0,
    "input_bytes": 0,
    "output_bytes": 0,
}


def aggregate_by_group(events) -> dict[str, dict]:
    """Per job group: jobs, stages, tasks, summed executor run and CPU
    time, GC time, shuffle bytes written and read, scan input bytes and
    write output bytes. Jobs without a group are reported under
    ``""``. Tasks are attributed through their stage's job; a stage
    shared by two jobs (a reused exchange) counts once, for the job
    that listed it first."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict] = {}

    def row(g: str) -> dict:
        return out.setdefault(g, dict(_ZERO))

    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            g = props.get("spark.jobGroup.id") or ""
            r = row(g)
            r["jobs"] += 1
            for sid in ev.get("Stage IDs", []):
                if sid not in stage_group:
                    stage_group[sid] = g
        elif kind == "SparkListenerStageCompleted":
            sid = (ev.get("Stage Info") or {}).get("Stage ID")
            if sid in stage_group:
                row(stage_group[sid])["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            sid = ev.get("Stage ID")
            if sid not in stage_group:
                continue
            r = row(stage_group[sid])
            m = ev.get("Task Metrics") or {}
            r["tasks"] += 1
            r["exec_run_ms"] += float(m.get("Executor Run Time", 0))
            r["exec_cpu_ms"] += float(m.get("Executor CPU Time", 0)) / 1e6
            r["gc_ms"] += float(m.get("JVM GC Time", 0))
            sw = m.get("Shuffle Write Metrics") or {}
            r["shuffle_write_bytes"] += int(sw.get("Shuffle Bytes Written", 0))
            sr = m.get("Shuffle Read Metrics") or {}
            r["shuffle_read_bytes"] += int(sr.get("Remote Bytes Read", 0)) + int(
                sr.get("Local Bytes Read", 0)
            )
            r["input_bytes"] += int((m.get("Input Metrics") or {}).get("Bytes Read", 0))
            r["output_bytes"] += int(
                (m.get("Output Metrics") or {}).get("Bytes Written", 0)
            )
    return out


def sum_rows(rows) -> dict:
    total = dict(_ZERO)
    for r in rows:
        for k in total:
            total[k] += r.get(k, 0)
    return total


# -- result line --------------------------------------------------------------


def result_line(correct: bool, attempted: int, failed: int, metrics: dict) -> str:
    """The one-line JSON result: ``metrics`` maps name → (value, unit)."""
    if attempted < 1:
        raise ValueError("a run must attempt at least one operation")
    return json.dumps(
        {
            "correct": bool(correct),
            "attempted": int(attempted),
            "failed": int(failed),
            "metrics": {
                name: {"value": float(v), "unit": unit}
                for name, (v, unit) in metrics.items()
            },
        }
    )
