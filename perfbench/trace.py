"""Layer spans recorded from outside the engine.

Three mechanisms, all confined to the benchmark's own files:

1. ``Tracer.wrap`` replaces a layer's public callable (``LakeTable.merge``,
   ``LineageLog.record``, ...) with a wrapper that records a span: name,
   start, end, parent span (per thread) and attributes.
2. Each span that can submit Spark jobs tags them with ``setJobGroup``; the
   previous group is restored when the span ends, so a job carries the
   innermost open span's group.
3. The traced run enables Spark's JSON event log; ``executor_metrics``
   parses it offline with stdlib ``json`` and sums task metrics per job
   group. ``rollup`` then charges every span with its own and its
   descendants' executor work.

Untraced runs construct no Tracer: nothing is wrapped, no group is set and
the event log stays off.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import threading
import time
from dataclasses import dataclass, field
from typing import Any, Callable

EXEC_FIELDS = (
    "jobs", "tasks", "executor_cpu_s", "gc_s", "input_bytes", "output_bytes",
    "shuffle_write_bytes", "spill_bytes",
)


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    group: str | None = None
    attrs: dict[str, Any] = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self) -> None:
        self.sc = None  # set once the SparkContext exists
        self.mark = 0.0  # perf_counter at the start of the measured loop
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._next = 0
        self._patches: list[tuple[Any, str, Any]] = []

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextlib.contextmanager
    def span(self, name: str, jobs: bool = True, **attrs):
        with self._lock:
            self._next += 1
            sid = self._next
        stack = self._stack()
        s = Span(sid, name, stack[-1].id if stack else None, time.perf_counter(), attrs=attrs)
        sc = self.sc if jobs else None
        if sc is not None:
            prev = (sc.getLocalProperty("spark.jobGroup.id"),
                    sc.getLocalProperty("spark.job.description"))
            s.group = f"perfbench-{sid}"
            sc.setJobGroup(s.group, name)
        stack.append(s)
        try:
            yield s
        finally:
            stack.pop()
            if sc is not None:
                sc.setLocalProperty("spark.jobGroup.id", prev[0])
                sc.setLocalProperty("spark.job.description", prev[1])
            s.end = time.perf_counter()
            with self._lock:
                self.spans.append(s)

    def wrap(
        self,
        owner: Any,
        attr: str,
        name: str,
        jobs: bool = True,
        note: Callable[[Span, tuple, dict, Any], None] | None = None,
    ) -> None:
        """Record a span around every call of ``owner.attr``; ``note`` may
        add attributes from the call's arguments and result."""
        orig = owner.__dict__[attr]

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with self.span(name, jobs=jobs) as s:
                out = orig(*args, **kwargs)
                if note is not None:
                    note(s, args, kwargs, out)
                return out

        setattr(owner, attr, traced)
        self._patches.append((owner, attr, orig))

    def unwrap_all(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    # ---------------------------------------------------------------- queries
    def named(self, name: str) -> list[Span]:
        return sorted((s for s in self.spans if s.name == name), key=lambda s: s.start)

    def children(self) -> dict[int | None, list[Span]]:
        out: dict[int | None, list[Span]] = {}
        for s in self.spans:
            out.setdefault(s.parent, []).append(s)
        return out

    def descendants(self, span: Span, kids: dict[int | None, list[Span]]) -> list[Span]:
        out, todo = [], list(kids.get(span.id, []))
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(kids.get(s.id, []))
        return out


def executor_metrics(eventlog_dir: str) -> dict[str, dict[str, float]]:
    """Sum task metrics per job group from Spark's JSON event log."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict[str, float]] = {}
    # Spark 4 writes a rolling log: <dir>/eventlog_v2_<app>/events_<n>_<app>
    files = [
        os.path.join(root, n)
        for root, _, names in os.walk(eventlog_dir)
        for n in names
        if n.startswith("events_")
    ]
    for path in sorted(files, key=lambda p: int(os.path.basename(p).split("_")[1])):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if not group:
                        continue
                    out.setdefault(group, dict.fromkeys(EXEC_FIELDS, 0.0))["jobs"] += 1
                    for st in ev.get("Stage IDs", []):
                        stage_group.setdefault(st, group)
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev.get("Stage ID"))
                    m = ev.get("Task Metrics")
                    if group is None or not m:
                        continue
                    acc = out[group]
                    acc["tasks"] += 1
                    acc["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    acc["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    acc["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                    acc["output_bytes"] += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
                    acc["shuffle_write_bytes"] += (
                        (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                    )
                    acc["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    return out


def rollup(tracer: Tracer, by_group: dict[str, dict[str, float]]) -> dict[int, dict[str, float]]:
    """Per span id: executor metrics of its own jobs plus its descendants'."""
    kids = tracer.children()
    out: dict[int, dict[str, float]] = {}
    for s in tracer.spans:
        acc = dict.fromkeys(EXEC_FIELDS, 0.0)
        for x in [s, *tracer.descendants(s, kids)]:
            for k, v in by_group.get(x.group or "", {}).items():
                acc[k] += v
        out[s.id] = acc
    return out


def covered(span: Span, inner: list[Span]) -> float:
    """Seconds of ``span`` covered by the union of ``inner`` intervals."""
    iv = sorted((max(s.start, span.start), min(s.end, span.end)) for s in inner)
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in iv:
        if hi <= lo:
            continue
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total
