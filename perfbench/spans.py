"""Spans around the package's public calls, and Spark's event log folded
into per-layer counters. Used only by ``--trace 1`` runs.

``Tracer.install()`` wraps, at class or module level, each public entry
point of a layer the benchmark drives. A span has a name, start, end,
parent and epoch id. Spans stay in memory and are written once, at the
end of the run. The epoch span (``pipeline.process_batch``) is the
parent of every span opened while it is open, whichever thread opens
it: the pipeline fans its consumers out to a thread pool. Ledger
compaction runs in the background after the epoch that submitted it,
so its spans never take a parent.
"""

from __future__ import annotations

import functools
import json
import os
import threading
import time
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float | None
    parent: int | None
    epoch: int | None
    attrs: dict


class Tracer:
    def __init__(self):
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._epoch: Span | None = None
        self._undo: list[tuple[object, str, object]] = []

    # -- recording ------------------------------------------------------
    def begin(self, name: str, attrs: dict | None = None, detached: bool = False,
              epoch: int | None = None) -> Span:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        parent = None
        if not detached:
            parent = stack[-1] if stack else self._epoch
        with self._lock:
            span = Span(len(self.spans), name, time.time(), None,
                        parent.id if parent else None,
                        epoch if epoch is not None else (parent.epoch if parent else None),
                        dict(attrs or {}))
            self.spans.append(span)
        stack.append(span)
        return span

    def end(self, span: Span) -> None:
        span.end = time.time()
        self._local.stack.remove(span)

    def wrap(self, owner, attr: str, name: str, detached: bool = False,
             attrs=None) -> None:
        """Replace ``owner.attr`` by a spanning wrapper (undone by
        ``uninstall``). ``attrs(args, kwargs)`` adds span attributes."""
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            span = self.begin(name, attrs(args, kwargs) if attrs else None, detached)
            try:
                return fn(*args, **kwargs)
            finally:
                self.end(span)

        self._undo.append((owner, attr, fn))
        setattr(owner, attr, traced)

    def wrap_epoch(self, owner, attr: str) -> None:
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def traced(pipe, batch_df, epoch_id):
            span = self.begin("pipeline.process_batch", epoch=epoch_id)
            self._epoch = span
            try:
                return fn(pipe, batch_df, epoch_id)
            finally:
                self._epoch = None
                self.end(span)

        self._undo.append((owner, attr, fn))
        setattr(owner, attr, traced)

    def install(self) -> None:
        from adguard2clickhouse_spark.sinks import clickhouse, facts, summing
        from adguard2clickhouse_spark.streaming import pipeline

        self.wrap_epoch(pipeline.QuerylogPipeline, "process_batch")
        self.wrap(pipeline.QuerylogPipeline, "start", "pipeline.start")
        self.wrap(pipeline.QuerylogPipeline, "sql", "pipeline.sql")
        self.wrap(pipeline, "read_querylog_stream", "sources.read_querylog_stream")
        self.wrap(summing.SummingParquetSink, "apply_delta", "summing.apply_delta",
                  attrs=lambda a, k: {"dense": bool(k.get("dense", False)),
                                      "sink": os.path.basename(a[0].path)})
        self.wrap(summing.SummingParquetSink, "read", "summing.read")
        self.wrap(facts.LedgeredFactSink, "append", "facts.append",
                  attrs=lambda a, k: {"sink": os.path.basename(a[0].path)})
        self.wrap(facts.LedgeredFactSink, "compact", "facts.compact", detached=True)
        self.wrap(facts.LedgeredFactSink, "read", "facts.read")
        self.wrap(clickhouse.ClickHouseHTTPWriter, "insert_batch", "clickhouse.insert_batch")

    def uninstall(self) -> None:
        while self._undo:
            owner, attr, fn = self._undo.pop()
            setattr(owner, attr, fn)

    # -- reading ----------------------------------------------------------
    def named(self, name: str, since: float = 0.0) -> list[Span]:
        return [s for s in self.spans
                if s.name == name and s.end is not None and s.start >= since]

    def children(self, span: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == span.id and s.end is not None]

    def self_time(self, span: Span) -> float:
        """Span duration minus the part of it its children cover (the
        union of their intervals: the consumers overlap)."""
        ivs = sorted((max(c.start, span.start), min(c.end, span.end))
                     for c in self.children(span))
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in ivs:
            if e <= s:
                continue
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        return (span.end - span.start) - covered

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")


def fold_event_log(log_dir: str, since: float, until: float) -> dict:
    """Fold ``SparkListenerTaskEnd`` task metrics (tasks that finished
    between ``since`` and ``until``, unix seconds) and the count of jobs
    submitted in that window from the event log(s) under ``log_dir``."""
    totals = {
        "tasks": 0, "executor_cpu_s": 0.0, "gc_s": 0.0,
        "shuffle_read_bytes": 0, "shuffle_write_bytes": 0,
        "input_bytes": 0, "output_bytes": 0, "spill_bytes": 0, "jobs": 0,
    }

    def inside(ms: float) -> bool:
        return since <= ms / 1000.0 <= until

    paths = sorted(os.path.join(d, n) for d, _, names in os.walk(log_dir) for n in names)
    for path in paths:
        with open(path) as f:
            for line in f:
                if '"SparkListenerTaskEnd"' in line:
                    ev = json.loads(line)
                    if not inside(ev["Task Info"]["Finish Time"]):
                        continue
                    m = ev.get("Task Metrics") or {}
                    sr = m.get("Shuffle Read Metrics", {})
                    totals["tasks"] += 1
                    totals["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    totals["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    totals["shuffle_read_bytes"] += (
                        sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                    )
                    totals["shuffle_write_bytes"] += m.get(
                        "Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
                    totals["input_bytes"] += m.get("Input Metrics", {}).get("Bytes Read", 0)
                    totals["output_bytes"] += m.get("Output Metrics", {}).get("Bytes Written", 0)
                    totals["spill_bytes"] += (
                        m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                    )
                elif '"SparkListenerJobStart"' in line:
                    if inside(json.loads(line)["Submission Time"]):
                        totals["jobs"] += 1
    return totals
