"""Spans around the benchmark's calls into the engine's layers.

A span records its layer, name, start, end, parent span and request id. When
tracing is on, each span also sets its own Spark job group, so every job,
stage and task the call starts is attributed to it. The per-stage numbers
(shuffle, spill, executor run time, GC) come from Spark's event log, which the
benchmark enables from outside the program for the traced run only. Spans are
kept in memory and read once the run ends.

With tracing off, ``Tracer.span`` costs one context manager and records
nothing, so the timed runs measure the engine alone.
"""

from __future__ import annotations

import glob
import itertools
import json
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

# The engine layers, named after their modules.
LAYERS = (
    "session", "analysis", "functions.codecs", "index.builder",
    "index.writer", "index.merge", "search.searcher", "search.kernel",
)


@dataclass
class Span:
    span_id: int
    layer: str
    name: str
    start: float
    parent: int | None
    request: int | None
    end: float = 0.0
    overhead_s: float = 0.0
    children: list = field(default_factory=list)

    @property
    def group(self) -> str:
        return f"bench-span-{self.span_id}"

    @property
    def wall_s(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder; a no-op when ``enabled`` is false.

    The client sets ``request`` to the id of the request it is about to
    send (a query, an update cycle); spans opened until the next change carry
    that id."""

    def __init__(self, enabled: bool = False):
        self.enabled = enabled
        self.request: int | None = None
        self.spans: dict[int, Span] = {}
        self._stack: list[Span] = []
        self._ids = itertools.count(1)
        self._sc = None

    def bind(self, sc) -> None:
        """Attach the SparkContext whose job groups the spans set."""
        self._sc = sc

    @contextmanager
    def span(self, layer: str, name: str):
        if not self.enabled:
            yield None
            return
        t0 = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        sp = Span(next(self._ids), layer, name, 0.0,
                  parent.span_id if parent else None, self.request)
        self.spans[sp.span_id] = sp
        if parent is not None:
            parent.children.append(sp.span_id)
        self._stack.append(sp)
        if self._sc is not None:
            self._sc.setJobGroup(sp.group, sp.name, False)
        sp.start = time.perf_counter()
        sp.overhead_s += sp.start - t0
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if self._sc is not None:
                if parent is not None:
                    self._sc.setJobGroup(parent.group, parent.name, False)
                else:
                    self._sc.setLocalProperty("spark.jobGroup.id", None)
            sp.overhead_s += time.perf_counter() - sp.end

    # --- reading spans --------------------------------------------------------
    def write(self, path: str) -> None:
        """One JSON line per span: id, layer, name, start, end, parent and
        request."""
        with open(path, "w") as fh:
            for s in self.spans.values():
                fh.write(json.dumps({
                    "span": s.span_id, "layer": s.layer, "name": s.name,
                    "start": s.start, "end": s.end, "parent": s.parent,
                    "request": s.request}) + "\n")

    def descendants(self, sp: Span) -> list[Span]:
        out, todo = [], list(sp.children)
        while todo:
            c = self.spans[todo.pop()]
            out.append(c)
            todo.extend(c.children)
        return out

    def self_s(self, sp: Span) -> float:
        """Span wall minus the part of it its child spans cover."""
        return sp.wall_s - covered_s(
            [(self.spans[c].start, self.spans[c].end) for c in sp.children],
            sp.start, sp.end)

    def coverage(self, root: Span) -> float:
        """Share of ``root``'s wall covered by engine-layer descendant spans."""
        ivs = [(s.start, s.end) for s in self.descendants(root)
               if s.layer in LAYERS]
        return covered_s(ivs, root.start, root.end) / max(root.wall_s, 1e-9)


def covered_s(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


# --- Spark event log ---------------------------------------------------------

@dataclass
class GroupCounters:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    shuffle_write_bytes: int = 0
    shuffle_read_bytes: int = 0
    spill_bytes: int = 0
    executor_run_s: float = 0.0
    jvm_gc_s: float = 0.0

    def add(self, other: "GroupCounters") -> None:
        for k in self.__dataclass_fields__:
            setattr(self, k, getattr(self, k) + getattr(other, k))


def read_event_log(log_dir: str) -> dict[str, GroupCounters]:
    """Per job group counters from the event log(s) under ``log_dir``."""
    by_group: dict[str, GroupCounters] = {}
    stage_group: dict[int, str] = {}

    def grp(props) -> str | None:
        return (props or {}).get("spark.jobGroup.id")

    # Spark writes a directory per application with numbered event files
    paths = glob.glob(os.path.join(log_dir, "**", "events_*"), recursive=True)
    for path in sorted(paths, key=lambda p: int(
            os.path.basename(p).split("_")[1])):
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    g = grp(ev.get("Properties"))
                    if g:
                        by_group.setdefault(g, GroupCounters()).jobs += 1
                elif kind == "SparkListenerStageSubmitted":
                    g = grp(ev.get("Properties"))
                    if g:
                        sid = ev["Stage Info"]["Stage ID"]
                        stage_group[sid] = g
                        by_group.setdefault(g, GroupCounters()).stages += 1
                elif kind == "SparkListenerTaskEnd":
                    g = stage_group.get(ev.get("Stage ID"))
                    m = ev.get("Task Metrics")
                    if not g or not m:
                        continue
                    c = by_group[g]
                    c.tasks += 1
                    c.executor_run_s += m.get("Executor Run Time", 0) / 1e3
                    c.jvm_gc_s += m.get("JVM GC Time", 0) / 1e3
                    c.spill_bytes += (m.get("Memory Bytes Spilled", 0)
                                      + m.get("Disk Bytes Spilled", 0))
                    sw = m.get("Shuffle Write Metrics") or {}
                    c.shuffle_write_bytes += sw.get("Shuffle Bytes Written", 0)
                    sr = m.get("Shuffle Read Metrics") or {}
                    c.shuffle_read_bytes += (sr.get("Remote Bytes Read", 0)
                                             + sr.get("Local Bytes Read", 0))
    return by_group


def span_counters(tracer: Tracer, sp: Span,
                  by_group: dict) -> GroupCounters:
    """Spark counters of ``sp`` and its descendants."""
    out = GroupCounters()
    for s in [sp] + tracer.descendants(sp):
        if s.group in by_group:
            out.add(by_group[s.group])
    return out
