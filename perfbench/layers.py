"""Per-layer figures of a traced pass: spans plus the Spark jobs the
event log attributes to them.

Every per-layer metric is reported on every workload; a layer that the
workload does not run reports 0 (no work of that kind was done). Sums
are divided by the pass's operations (micro-batches for the CDC
workloads, queries for the read workloads) so that passes of different
length compare.
"""

from __future__ import annotations

import statistics

from spans import JobStats, Span, self_times, skew
from workloads import QUERY_CLASSES, Outcome, p90


def _median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


def names(registry_queries: list[str]) -> list[tuple[str, str]]:
    """Every per-layer metric name, in report order, with its unit."""
    return [
        ("setup.session_s", "s"), ("setup.generate_s", "s"), ("setup.seed_store_s", "s"),
        ("setup.warmup_s", "s"),
        ("pipeline.batch_p50_s", "s"), ("pipeline.batch_p90_s", "s"),
        ("pipeline.fanout_self_s", "s"), ("pipeline.prereduce_ratio", "ratio"),
        ("stream.queue_wait_s", "s"), ("stream.trigger_overhead_s", "s"),
        ("stream.backlog_files", "count"), ("stream.rows_per_batch", "count"),
        ("stream.generator_lag_p90_s", "s"),
        ("sink.merge_s", "s"), ("sink.overwrite_s", "s"), ("sink.publish_s", "s"),
        ("sink.maint_s", "s"), ("sink.write_amp", "ratio"), ("sink.files_per_version", "count"),
        ("sink.bytes_written", "B"), ("sink.tombstone_share", "ratio"),
        ("upsert.shuffle_write_bytes", "B"), ("upsert.spill_bytes", "B"),
        ("upsert.max_task_over_median", "ratio"),
        ("sink.read_version_s", "s"), ("engine.register_generation_s", "s"),
        ("query.plan_s", "s"),
        *[(f"query.exec_{c}_s", "s") for c in QUERY_CLASSES],
        ("scan.files_read", "count"), ("scan.bytes_read", "B"),
        *[(f"registry.{q}_s", "s") for q in registry_queries],
        ("registry.task_s", "s"), ("registry.gc_s", "s"),
        ("spark.task_s", "s"), ("spark.gc_s", "s"), ("spark.sched_overhead_s", "s"),
        ("spark.tasks", "count"), ("spark.records_read", "count"),
        ("spark.shuffle_write_bytes", "B"), ("spark.spill_bytes", "B"),
        ("jvm.peak_rss_mb", "MB"),
        ("trace.overhead_throughput_per_s", "ratio"), ("trace.overhead_latency_p50_s", "ratio"),
        ("trace.overhead_latency_p90_s", "ratio"), ("trace.span_coverage", "ratio"),
        ("baseline.local1_events_per_s", "1/s"),
    ]


def compute(out: Outcome, spans: list[Span], jobs: list[JobStats], cores: int,
            registry_queries: list[str]) -> dict[str, float]:
    lo, hi = out.window
    m: dict[str, float] = {}

    # ---- registry: one pass after the measured window
    reg = [s for s in spans if s.name == "registry.query"]
    for q in registry_queries:
        m[f"registry.{q}_s"] = _median(s.dur for s in reg if s.attrs.get("query") == q)
    if reg:
        ids = {s.id for s in reg}
        rj = [j for j in jobs if j.span in ids]
        m["registry.task_s"] = sum(j.task_s for j in rj) / len(reg)
        m["registry.gc_s"] = sum(j.gc_s for j in rj) / len(reg)

    spans = [s for s in spans if lo <= s.start and s.end <= hi + 1.0]
    by_id = {s.id: s for s in spans}
    jobs = [j for j in jobs if j.span in by_id]
    n = max(out.ops, 1)

    def named(name: str) -> list[Span]:
        return [s for s in spans if s.name == name]

    def total(name: str) -> float:
        return sum(s.dur for s in named(name))

    def jobs_under(pred) -> list[JobStats]:
        return [j for j in jobs if pred(by_id[j.span])]

    # ---- CDC write path
    batches = named("pipeline.batch")
    selfs = self_times(spans)
    if batches:
        durs = [s.dur for s in batches]
        m["pipeline.batch_p50_s"] = _median(durs)
        m["pipeline.batch_p90_s"] = p90(durs)
        m["pipeline.fanout_self_s"] = _median(selfs[s.id] for s in batches)
        nb = len(batches)
        m["sink.merge_s"] = total("sink.merge") / nb
        m["sink.overwrite_s"] = total("sink.overwrite") / nb
        m["sink.publish_s"] = total("sink.publish") / nb
        m["sink.maint_s"] = (total("sink.compact") + total("sink.vacuum")
                             + total("sink.prune")) / nb
        merge_jobs = jobs_under(
            lambda s: s.name == "sink.overwrite" and s.parent in by_id
            and by_id[s.parent].name == "sink.merge")
        m["upsert.shuffle_write_bytes"] = sum(j.shuffle_write for j in merge_jobs) / nb
        m["upsert.spill_bytes"] = sum(j.spill for j in merge_jobs) / nb
        m["upsert.max_task_over_median"] = skew(merge_jobs)
    vw = [v for v in out.extra.get("versions_written", [])
          if v["batch"] in {s.batch for s in batches}]
    if vw:
        rows = sum(v["rows"] for v in vw)
        m["sink.files_per_version"] = statistics.mean(v["files"] for v in vw)
        m["sink.bytes_written"] = sum(v["bytes"] for v in vw) / max(len(batches), 1)
        m["sink.tombstone_share"] = sum(v["tombstones"] for v in vw) / max(rows, 1)
        m["sink.write_amp"] = rows / max(out.extra["change_rows"], 1)
    if out.extra.get("change_rows"):
        m["pipeline.prereduce_ratio"] = out.extra["reduced_rows"] / out.extra["change_rows"]

    # ---- streaming loop
    if "stream" in out.extra:
        m.update(out.extra["stream"])

    # ---- read path
    m["sink.read_version_s"] = _median(s.dur for s in named("sink.read_version"))
    m["engine.register_generation_s"] = _median(
        s.dur for s in named("engine.register_generation"))
    m["query.plan_s"] = _median(s.dur for s in named("query.plan"))
    for c in QUERY_CLASSES:
        m[f"query.exec_{c}_s"] = _median(
            s.dur for s in named("query.exec") if s.attrs.get("cls") == c)
    if named("query"):
        m["scan.files_read"] = out.extra.get("files_read", 0)
        m["scan.bytes_read"] = sum(j.bytes_read for j in jobs) / n

    # ---- Spark runtime, every job of the pass
    m["spark.task_s"] = sum(j.task_s for j in jobs) / n
    m["spark.gc_s"] = sum(j.gc_s for j in jobs) / n
    m["spark.sched_overhead_s"] = sum(
        max(j.end - j.start - j.task_wall_s / cores, 0.0) for j in jobs) / n
    m["spark.tasks"] = sum(j.tasks for j in jobs) / n
    m["spark.records_read"] = sum(j.records_read for j in jobs) / n
    m["spark.shuffle_write_bytes"] = sum(j.shuffle_write for j in jobs) / n
    m["spark.spill_bytes"] = sum(j.spill for j in jobs) / n

    roots = [s for s in spans if s.parent is None]
    m["trace.span_coverage"] = sum(s.dur for s in roots) / max(hi - lo, 1e-9)
    return m
