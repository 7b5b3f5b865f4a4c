"""Benchmark-side tracing: spans around the calls into each layer's
public functions, and Spark task metrics attributed to those spans.

Spans are recorded by a ``ParquetSnapshotSink`` subclass and a
``CdcPipeline`` subclass that the benchmark passes in, and by the
workload code around ``Engine`` calls. Each span stores its id in the
Spark local property ``perfbench.span`` while it is open, so every job
it submits carries the id into the event log (the job group itself is
left alone: a streaming query owns it for cancellation). After the
session stops, ``attribute`` reads the event log and sums task time,
GC time, shuffle bytes, spill and records per span.

With tracing off the subclasses still keep the few wall-clock stamps
the end-to-end metrics need (when each table merge and each generation
publish returned); they run no Spark action and open no span.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

import pyarrow.parquet as pq

from snowflake_cdc_spark.sinks.parquet_sink import TOMBSTONE, ParquetSnapshotSink
from snowflake_cdc_spark.streaming.pipeline import CdcPipeline

SPAN_PROPERTY = "perfbench.span"


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    batch: int | None
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder. Spans nest per thread; the innermost
    open span owns the Spark jobs submitted from that thread."""

    def __init__(self, spark, enabled: bool) -> None:
        self.spark = spark
        self.enabled = enabled
        self.spans: list[Span] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._next = 0

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, batch: int | None = None, **attrs):
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        parent = stack[-1] if stack else None
        with self._lock:
            sid = self._next
            self._next += 1
        if batch is None and parent is not None:
            batch = parent.batch
        s = Span(sid, name, parent.id if parent else None, batch, time.time(), attrs=attrs)
        sc = self.spark.sparkContext
        sc.setLocalProperty(SPAN_PROPERTY, str(sid))
        stack.append(s)
        try:
            yield s
        finally:
            s.end = time.time()
            stack.pop()
            sc.setLocalProperty(SPAN_PROPERTY, str(parent.id) if parent else None)
            with self._lock:
                self.spans.append(s)

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in sorted(self.spans, key=lambda s: s.start):
                fh.write(json.dumps(s.__dict__) + "\n")


class TracedSink(ParquetSnapshotSink):
    """Snapshot sink that stamps merge and publish completion times and,
    when tracing, wraps each public write/read call in a span and lists
    every version a merge writes."""

    def __init__(self, root: str, tracer: Tracer) -> None:
        super().__init__(root)
        self.tracer = tracer
        self.batch: int | None = None
        self.merge_done: list[float] = []
        self.publish_done: dict[int | None, float] = {}
        self.versions_written: list[dict] = []

    def merge(self, changes, table, *args, **kwargs):
        with self.tracer.span("sink.merge", self.batch, table=table):
            v = super().merge(changes, table, *args, **kwargs)
        self.merge_done.append(time.time())
        if self.tracer.enabled:
            with self.tracer.span("sink.observe", self.batch):
                self.versions_written.append(self._observe(table, v))
        return v

    def _observe(self, table: str, version: int) -> dict:
        """File count, bytes, rows and tombstones of one version, read
        from the directory listing and parquet footers."""
        d = os.path.join(self._table_dir(table), f"v={version}")
        files = [f for f in glob.glob(os.path.join(d, "*.parquet"))]
        rows = tomb = nbytes = 0
        for f in files:
            nbytes += os.path.getsize(f)
            rows += pq.read_metadata(f).num_rows
            tomb += sum(pq.read_table(f, columns=[TOMBSTONE]).column(0).to_pylist())
        return {"batch": self.batch, "table": table, "files": len(files),
                "bytes": nbytes, "rows": rows, "tombstones": tomb}

    def overwrite(self, df, table, expected_current=None):
        with self.tracer.span("sink.overwrite", self.batch, table=table):
            return super().overwrite(df, table, expected_current)

    def publish_generation(self, versions=None, expected_generation=None):
        with self.tracer.span("sink.publish", self.batch):
            g = super().publish_generation(versions, expected_generation)
        self.publish_done.setdefault(self.batch, time.time())
        return g

    def compact(self, spark, table, target_files=8, zorder_by=None):
        with self.tracer.span("sink.compact", self.batch, table=table):
            return super().compact(spark, table, target_files, zorder_by)

    def vacuum(self, table, keep_last=2):
        with self.tracer.span("sink.vacuum", self.batch, table=table):
            return super().vacuum(table, keep_last)

    def prune_generations(self, keep_generations=8, adopt_stale_claims_after_s=3600.0):
        with self.tracer.span("sink.prune", self.batch):
            return super().prune_generations(keep_generations, adopt_stale_claims_after_s)

    def read_version(self, spark, table, version):
        with self.tracer.span("sink.read_version", table=table):
            return super().read_version(spark, table, version)


class TracedPipeline(CdcPipeline):
    """CdcPipeline that tells its sink which batch is running and, when
    tracing, wraps each micro-batch in a ``pipeline.batch`` span."""

    def __init__(self, *args, **kwargs) -> None:
        super().__init__(*args, **kwargs)
        self.batch_starts: dict[int, float] = {}

    def materialize_batch(self, events, batch_id=0, prefer_incoming_on_tie=False):
        self.sink.batch = batch_id
        self.batch_starts[batch_id] = time.time()
        with self.sink.tracer.span("pipeline.batch", batch_id):
            super().materialize_batch(events, batch_id, prefer_incoming_on_tie)


# ---- event-log attribution -------------------------------------------------


@dataclass
class JobStats:
    span: int | None
    start: float = 0.0
    end: float = 0.0
    tasks: int = 0
    task_s: float = 0.0
    task_wall_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write: int = 0
    spill: int = 0
    bytes_read: int = 0
    records_read: int = 0
    stage_durations: dict = field(default_factory=dict)


def attribute(eventlog_dir: str) -> list[JobStats]:
    """Every Spark job of the (single) application logged in
    ``eventlog_dir``, with its task metrics summed and the span that
    submitted it."""
    # Spark writes a rolling log: <dir>/eventlog_v2_<app>/events_<n>_<app>
    paths = sorted(
        glob.glob(os.path.join(eventlog_dir, "*", "events_*")),
        key=lambda p: int(os.path.basename(p).split("_")[1]),
    )
    jobs: dict[int, JobStats] = {}
    stage_job: dict[int, int] = {}
    for path in paths:
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    sid = props.get(SPAN_PROPERTY)
                    j = JobStats(int(sid) if sid not in (None, "") else None,
                                 start=ev["Submission Time"] / 1000.0)
                    jobs[ev["Job ID"]] = j
                    for st in ev.get("Stage IDs", []):
                        stage_job.setdefault(st, ev["Job ID"])
                elif kind == "SparkListenerJobEnd":
                    j = jobs.get(ev["Job ID"])
                    if j is not None:
                        j.end = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerTaskEnd":
                    j = jobs.get(stage_job.get(ev["Stage ID"], -1))
                    m = ev.get("Task Metrics")
                    if j is None or not m:
                        continue
                    info = ev["Task Info"]
                    wall = (info["Finish Time"] - info["Launch Time"]) / 1000.0
                    j.tasks += 1
                    j.task_s += m.get("Executor Run Time", 0) / 1000.0
                    j.task_wall_s += wall
                    j.gc_s += m.get("JVM GC Time", 0) / 1000.0
                    j.shuffle_write += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0)
                    j.spill += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                    im = m.get("Input Metrics") or {}
                    j.bytes_read += im.get("Bytes Read", 0)
                    j.records_read += im.get("Records Read", 0)
                    j.stage_durations.setdefault(ev["Stage ID"], []).append(wall)
    return list(jobs.values())


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span duration minus the part its direct children cover."""
    child: dict[int, float] = {}
    for s in spans:
        if s.parent is not None:
            child[s.parent] = child.get(s.parent, 0.0) + s.dur
    return {s.id: s.dur - child.get(s.id, 0.0) for s in spans}


def skew(jobs: list[JobStats]) -> float:
    """Median over stages with at least two tasks of max ÷ median task
    wall time (1.0 = no skew)."""
    ratios = []
    for j in jobs:
        for durs in j.stage_durations.values():
            if len(durs) >= 2:
                med = statistics.median(durs)
                if med > 0:
                    ratios.append(max(durs) / med)
    return statistics.median(ratios) if ratios else 1.0
