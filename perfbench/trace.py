"""Spans around the benchmark's calls into each layer, and the Spark side
of the same spans read back from Spark's event log.

A span records its name, layer, operation id, parent, start and end, and
the py4j commands sent while it was the innermost open span.  Opening a
span sets a Spark job group named after it, so the event log's jobs,
stages and tasks map back to the span that ran them.  Spans stay in memory
until the run ends.  With tracing off, :meth:`Tracer.span` does nothing.
"""

from __future__ import annotations

import glob
import json
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

GROUP_PREFIX = "perfbench-span-"


@dataclass
class Span:
    id: int
    name: str
    layer: str
    op: int | None
    parent: int | None
    start: float
    end: float = 0.0
    py4j: int = 0
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


def self_time(span: Span, children: list[Span]) -> float:
    """The span's duration minus the part of it its children cover.
    Overlapping children are merged first, so time two children share is
    subtracted once."""
    cover = 0.0
    cur_start = cur_end = None
    for c in sorted(children, key=lambda s: s.start):
        start, end = max(c.start, span.start), min(c.end, span.end)
        if end <= start:
            continue
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                cover += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        cover += cur_end - cur_start
    return span.duration - cover


class Py4jCounter:
    """Counts commands the driver sends over the py4j gateway by wrapping
    the gateway client's ``send_command``.  ``uninstall`` restores it."""

    def __init__(self, gateway_client) -> None:
        self.count = 0
        self._client = gateway_client
        self._original = gateway_client.send_command

        def counted(*args, **kwargs):
            self.count += 1
            return self._original(*args, **kwargs)

        gateway_client.send_command = counted

    def uninstall(self) -> None:
        self._client.send_command = self._original


class Tracer:
    def __init__(self, enabled: bool = False) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._sc = None
        self._py4j: Py4jCounter | None = None

    def attach(self, spark_context) -> None:
        """Start counting py4j commands and tagging job groups on this
        SparkContext.  Spans opened before this (the session start) carry
        neither."""
        if self.enabled:
            self._sc = spark_context
            self._py4j = Py4jCounter(spark_context._gateway._gateway_client)

    def detach(self) -> None:
        if self._py4j is not None:
            self._py4j.uninstall()
            self._py4j = None
        self._sc = None

    def _count(self) -> int:
        return self._py4j.count if self._py4j is not None else 0

    def _set_group(self, span: Span | None) -> None:
        if self._sc is None:
            return
        if span is None:
            self._sc._jsc.clearJobGroup()
        else:
            self._sc.setJobGroup(f"{GROUP_PREFIX}{span.id}", span.name)

    @contextmanager
    def span(self, name: str, layer: str, op: int | None = None, **attrs):
        """Open a span; yields it (or None when tracing is off) so the
        caller can add attributes such as a cache-hit flag."""
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        if op is None and parent is not None:
            op = parent.op
        s = Span(len(self.spans), name, layer, op, parent.id if parent else None, 0.0)
        s.attrs.update(attrs)
        self.spans.append(s)
        # the tracer's own py4j calls (the job-group switches) are kept out
        # of both the span's and its parent's command counts
        if parent is not None:
            parent.py4j += self._count() - parent.attrs.pop("_py4j_mark")
        self._set_group(s)
        self._stack.append(s)
        s.attrs["_py4j_mark"] = self._count()
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            s.py4j += self._count() - s.attrs.pop("_py4j_mark")
            self._stack.pop()
            self._set_group(parent)
            if parent is not None:
                parent.attrs["_py4j_mark"] = self._count()

    def children(self, span: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == span.id]

    def write(self, path: str) -> None:
        """One JSON line per span, with its duration and self time."""
        with open(path, "w") as f:
            for s in self.spans:
                row = {**s.__dict__, "duration_s": s.duration}
                row["self_s"] = self_time(s, self.children(s))
                f.write(json.dumps(row, default=str) + "\n")


@dataclass
class SparkCost:
    """Executor-side cost of the jobs one span ran."""

    jobs: int = 0
    tasks: int = 0
    task_run_s: float = 0.0
    task_cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    python_worker_start_s: float = 0.0

    def add(self, other: "SparkCost") -> None:
        for k in self.__dataclass_fields__:
            setattr(self, k, getattr(self, k) + getattr(other, k))


def read_event_log(log_dir: str) -> dict[int, SparkCost]:
    """Parse the uncompressed event log(s) under ``log_dir`` into span id →
    :class:`SparkCost`.  Jobs outside any benchmark span are dropped."""
    stage_span: dict[int, int] = {}
    costs: dict[int, SparkCost] = {}
    files = sorted(glob.glob(os.path.join(log_dir, "**", "events_*"), recursive=True))
    files += sorted(glob.glob(os.path.join(log_dir, "local-*")))
    for path in files:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                    if not group.startswith(GROUP_PREFIX):
                        continue
                    sid = int(group[len(GROUP_PREFIX):])
                    costs.setdefault(sid, SparkCost()).jobs += 1
                    for stage in ev["Stage IDs"]:
                        stage_span.setdefault(stage, sid)
                elif kind == "SparkListenerTaskEnd":
                    sid = stage_span.get(ev["Stage ID"])
                    m = ev.get("Task Metrics")
                    if sid is None or not m:
                        continue
                    c = costs[sid]
                    c.tasks += 1
                    c.task_run_s += m.get("Executor Run Time", 0) / 1e3
                    c.task_cpu_s += m.get("Executor CPU Time", 0) / 1e9
                    c.gc_s += m.get("JVM GC Time", 0) / 1e3
                    c.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0
                    )
                    c.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0
                    )
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    sid = stage_span.get(info["Stage ID"])
                    if sid is None:
                        continue
                    for acc in info.get("Accumulables", []):
                        if acc.get("Name") == "time to start Python workers":
                            # a SQL timing metric, summed over tasks, in ms
                            costs[sid].python_worker_start_s += float(acc.get("Value", 0)) / 1e3
    return costs
