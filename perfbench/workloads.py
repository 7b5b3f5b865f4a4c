"""The three benchmark workloads.

Each workload sets itself up (generate, land, seed the store) several
times and keeps the median set-up time, warms the session, measures for
``ctx.seconds``, then checks every output against an independent
reference outside the timed window. It returns an ``Outcome`` holding
the three generic end-to-end figures, whose meaning per workload is:

=================  ===========================  ==============================
workload           throughput_per_s             latency_p50_s / latency_p90_s
=================  ===========================  ==============================
backfill_fanout    change events applied / s    per table: run_batch start to
                   (wall time of run_batch)     the table's merge returning
upsert_stream      catch-up events / s: one     per landed file: scheduled
                   trigger's worth of files     landing to the publish of the
                   landed at once, median of    generation that holds it
                   rounds
snapshot_reads     queries / s, one client,     per query: register the
                   closed loop                  generation, plan, run to noop
=================  ===========================  ==============================

An operation is a table materialized, a file landed, or a query run;
each reference check is one more operation, and ``failed`` counts
exceptions plus mismatches.

Per-layer figures come from the traced pass (``layer_metrics``).
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import statistics
import sys
import threading
import time
import traceback
from dataclasses import dataclass, field

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from pyspark.sql import types as T

from snowflake_cdc_spark.engine import Engine
from snowflake_cdc_spark.plans.spec import PipelineSpec
from snowflake_cdc_spark.sources.cdc import envelope_schema
from snowflake_cdc_spark.streaming.pipeline import MaintenancePolicy

import check
import gen
from spans import Tracer, TracedPipeline, TracedSink


@dataclass
class Ctx:
    spark: object
    tracer: Tracer
    work: str
    seed: int
    seconds: float
    knobs: dict


@dataclass
class Outcome:
    throughput_per_s: float
    latency_p50_s: float
    latency_p90_s: float
    setup: dict
    attempted: int
    failed: int
    window: tuple[float, float] = (0.0, 0.0)
    ops: int = 1
    extra: dict = field(default_factory=dict)


def p90(values: list[float]) -> float:
    if len(values) < 2:
        return max(values)
    return statistics.quantiles(values, n=10)[8]


def log(msg: str) -> None:
    print(f"perfbench: {time.strftime('%H:%M:%S')} {msg}", file=sys.stderr, flush=True)


def failure(what: str) -> None:
    log(f"{what} failed:\n{traceback.format_exc()}")


def specs_for(k: dict) -> list[PipelineSpec]:
    return [
        PipelineSpec(full_table_name=f"{gen.DATABASE}.{gen.table_name(t)}", key_columns=["id"])
        for t in range(k["tables"])
    ]


def targets(k: dict) -> list[str]:
    return [gen.table_name(t).upper() for t in range(k["tables"])]


def spark_row_schema(width: int) -> T.StructType:
    types = {pa.int64(): T.LongType(), pa.int32(): T.IntegerType(),
             pa.float64(): T.DoubleType(), pa.string(): T.StringType()}
    return T.StructType([T.StructField(f.name, types[f.type]) for f in gen.row_schema(width)])


def distinct_keys(table: pa.Table) -> int:
    data = table.column("data").combine_chunks()
    tname = pc.struct_field(data, "table_name")
    key = pc.struct_field(data, "primary_key")
    shards = pa.table({"t": tname, "k": key})
    return shards.group_by(["t", "k"]).aggregate([]).num_rows


def repeat_setup(reps: int, once) -> tuple[dict, object]:
    """Run ``once(i)`` ``reps`` times; keep the median of each timed part
    and the last rep's state."""
    parts: dict[str, list[float]] = {}
    state = None
    for i in range(reps):
        times, state = once(i)
        for name, v in times.items():
            parts.setdefault(name, []).append(v)
    return {name: statistics.median(v) for name, v in parts.items()}, state


# ---- backfill_fanout -------------------------------------------------------


def backfill_fanout(ctx: Ctx) -> Outcome:
    k = ctx.knobs
    specs = specs_for(k)

    def once(i):
        t0 = time.perf_counter()
        cs = gen.ChangeStream(ctx.seed, k["tables"], k["shards"], 0, k["width"])
        table = cs.changes(k["events"], tuple(k["mix"]))
        raw = os.path.join(ctx.work, f"raw{i}")
        shutil.rmtree(os.path.join(ctx.work, f"raw{i - 1}"), ignore_errors=True)
        files = gen.write_files(table, raw, k["events_per_file"], "c")
        return {"generate_s": time.perf_counter() - t0}, (raw, files, table)

    setup, (raw, files, table) = repeat_setup(k["setup_reps"], once)
    events = table.num_rows
    # warm-up: one untimed run over the same input
    t0 = time.perf_counter()
    sink = TracedSink(os.path.join(ctx.work, "warm"), Tracer(ctx.spark, False))
    TracedPipeline(ctx.spark, specs, sink).run_batch(raw)
    shutil.rmtree(sink.root)
    setup["warmup_s"] = time.perf_counter() - t0

    rates, visible, attempted, failed = [], [], 0, 0
    versions_written: list[dict] = []
    start = time.time()
    j = 0
    while j < k["min_reps"] or time.time() - start < ctx.seconds:
        shutil.rmtree(sink.root, ignore_errors=True)
        sink = TracedSink(os.path.join(ctx.work, f"store{j}"), ctx.tracer)
        j += 1
        attempted += len(specs)
        t0 = time.time()
        try:
            TracedPipeline(ctx.spark, specs, sink).run_batch(raw)
        except Exception:  # noqa: BLE001 - a failed run is counted, not fatal
            failure("run_batch")
            failed += len(specs)
            continue
        rates.append(events / (time.time() - t0))
        visible += [done - t0 for done in sink.merge_done]
        versions_written += sink.versions_written
    end = time.time()

    bad = check.snapshot_mismatches(ctx.spark, sink, targets(k), files, gen.row_columns(k["width"]))
    for b in bad:
        log(f"backfill_fanout mismatch {b}")
    attempted += len(specs)
    failed += len(bad)
    return Outcome(
        statistics.median(rates) if rates else 0.0,
        statistics.median(visible) if visible else 0.0,
        p90(visible) if visible else 0.0,
        setup, attempted, failed, (start, end), ops=max(len(rates), 1),
        extra={"change_rows": events * len(rates),
               "reduced_rows": distinct_keys(table) * len(rates),
               "versions_written": versions_written},
    )


# ---- upsert_stream ---------------------------------------------------------


def source_log(ckpt: str) -> dict[str, int]:
    """Landed file name -> micro-batch id, from the file source's
    checkpoint log (``sources/0/<batchId>`` and its compactions)."""
    out: dict[str, int] = {}
    for p in glob.glob(os.path.join(ckpt, "sources", "0", "*")):
        if os.path.basename(p).startswith("."):
            continue
        try:
            with open(p) as fh:
                lines = fh.read().splitlines()
        except FileNotFoundError:
            continue
        for line in lines[1:]:
            try:
                e = json.loads(line)
            except ValueError:
                continue  # a log file caught mid-write
            out[os.path.basename(e["path"])] = e["batchId"]
    return out


def upsert_stream(ctx: Ctx) -> Outcome:
    k = ctx.knobs
    specs = specs_for(k)
    per_file = k["events_per_file"]
    n_open = int(k["files_per_s"] * ctx.seconds)
    n_files = k["warm_files"] + n_open + k["burst_rounds"] * k["burst_files"]
    off = Tracer(ctx.spark, False)

    def once(i):
        t0 = time.perf_counter()
        cs = gen.ChangeStream(ctx.seed, k["tables"], k["shards"], k["base_keys"], k["width"],
                              k["zipf"])
        load_dir = os.path.join(ctx.work, f"load{i}")
        load_files = []
        for t in range(k["tables"]):
            load_files += gen.write_files(cs.load(t), load_dir, k["load_per_file"], f"t{t:02d}")
        stream = cs.changes(per_file * n_files, tuple(k["mix"]))
        staging = os.path.join(ctx.work, f"staging{i}")
        stream_files = gen.write_files(stream, staging, per_file, "f")
        t1 = time.perf_counter()
        sink = TracedSink(os.path.join(ctx.work, f"store{i}"), off)
        TracedPipeline(ctx.spark, specs, sink).run_batch(load_dir)
        t2 = time.perf_counter()
        if i:
            for d in ("load", "staging", "store"):
                shutil.rmtree(os.path.join(ctx.work, f"{d}{i - 1}"), ignore_errors=True)
        return ({"generate_s": t1 - t0, "seed_store_s": t2 - t1},
                (sink.root, load_files, stream_files, stream))

    setup, (store, load_files, stream_files, stream) = repeat_setup(k["setup_reps"], once)
    sink = TracedSink(store, ctx.tracer)
    src = os.path.join(ctx.work, "src")
    ckpt = os.path.join(ctx.work, "ckpt")
    os.makedirs(src)
    pipe = TracedPipeline(ctx.spark, specs, sink, maintenance=MaintenancePolicy())
    q = pipe.start_stream(
        src, ckpt, schema=envelope_schema(spark_row_schema(k["width"])),
        max_files_per_trigger=k["max_files_per_trigger"], processing_time=k["trigger"],
    )
    landed: dict[str, float] = {}
    names = [os.path.basename(f) for f in stream_files]

    def land(i: int) -> None:
        os.rename(stream_files[i], os.path.join(src, names[i]))
        landed[names[i]] = time.time()

    def visible(idx: range, timeout: float) -> dict[str, float]:
        """Wait until each file in ``idx`` is in a published batch;
        returns file -> publish time for those that made it."""
        deadline = time.time() + timeout
        want = [names[i] for i in idx]
        while True:
            batches = source_log(ckpt)
            done = {n: sink.publish_done[batches[n]] for n in want
                    if n in batches and batches[n] in sink.publish_done}
            if len(done) == len(want) or time.time() > deadline or q.exception() is not None:
                return done
            time.sleep(0.02)

    # warm-up: a few merge batches, so the measured ones run compiled
    # code; six of them put the default policy's every-10th-batch
    # maintenance turn inside the open loop on every run
    t_warm = time.perf_counter()
    per_round = k["warm_files"] // k["warm_rounds"]
    for r in range(k["warm_rounds"]):
        warm = range(r * per_round, (r + 1) * per_round)
        for i in warm:
            land(i)
        visible(warm, 120)
    setup["warmup_s"] = time.perf_counter() - t_warm

    # open loop: file i is due at start + i / rate whatever the engine does
    open_idx = range(k["warm_files"], k["warm_files"] + n_open)
    start = time.time() + 0.05
    due = {names[i]: start + (i - open_idx.start) / k["files_per_s"] for i in open_idx}

    def lander() -> None:
        for i in open_idx:
            delay = due[names[i]] - time.time()
            if delay > 0:
                time.sleep(delay)
            land(i)

    th = threading.Thread(target=lander, name="perfbench-lander")
    th.start()
    th.join()
    open_done = visible(open_idx, 120)

    # catch-up: bursts of one trigger's worth of files landed at once;
    # each drains from the start of its batch to the batch's publish
    # (maintenance runs after the publish, trigger alignment before the
    # start, so neither counts)
    rates: list[float] = []
    n_burst = 0
    for r in range(k["burst_rounds"]):
        lo = open_idx.stop + r * k["burst_files"]
        idx = range(lo, lo + k["burst_files"])
        for i in idx:
            land(i)
        done = visible(idx, 120)
        n_burst += len(done)
        batches = source_log(ckpt)
        first = min((pipe.batch_starts[batches[n]] for n in done), default=0.0)
        if len(done) == len(idx):
            rates.append(per_file * len(idx) / (max(done.values()) - first))
    end = time.time()
    err = q.exception()
    q.stop()
    q.awaitTermination(60)
    if err is not None:
        log(f"stream failed: {err}")

    fresh = [open_done[n] - due[n] for n in open_done]
    attempted = n_files
    failed = n_files - k["warm_files"] - len(open_done) - n_burst
    landed_files = load_files + [os.path.join(src, n) for n in names if n in landed]
    bad = check.snapshot_mismatches(ctx.spark, sink, targets(k), landed_files,
                                    gen.row_columns(k["width"]))
    for b in bad:
        log(f"upsert_stream mismatch {b}")
    attempted += len(specs)
    failed += len(bad)
    return Outcome(
        statistics.median(rates) if rates else 0.0,
        statistics.median(fresh) if fresh else 0.0,
        p90(fresh) if fresh else 0.0,
        setup, attempted, failed, (start, end),
        ops=max(len([b for b, t in pipe.batch_starts.items() if t >= start]), 1),
        extra=stream_layers(q, pipe, sink, source_log(ckpt), names, stream, per_file,
                            landed, due, start),
    )


def stream_layers(q, pipe, sink, batches, names, stream, per_file, landed, due, start) -> dict:
    """Streaming-loop figures of the measured phase, all observed from
    outside the engine: the checkpoint's file -> batch log, the landing
    stamps, batch start stamps and the query's progress reports."""
    starts = {b: t for b, t in pipe.batch_starts.items() if t >= start}
    files_of: dict[int, list[int]] = {}
    for i, n in enumerate(names):
        if n in batches:
            files_of.setdefault(batches[n], []).append(i)
    waits = [starts[batches[n]] - landed[n] for n in due
             if n in batches and batches[n] in starts]
    backlog = []
    open_batches = {batches[n] for n in due if n in batches}
    for b, t in starts.items():
        if b not in open_batches:
            continue
        waiting = sum(1 for n, lt in landed.items()
                      if lt <= t and batches.get(n, b) >= b)
        backlog.append(waiting)
    reduced = change = 0
    for b in starts:
        idx = files_of.get(b, [])
        if idx:
            part = pa.concat_tables([stream.slice(i * per_file, per_file) for i in idx])
            reduced += distinct_keys(part)
            change += part.num_rows
    progress = [p for p in q.recentProgress
                if p.get("numInputRows") and p["batchId"] in starts]
    overhead = [(p["durationMs"].get("triggerExecution", 0)
                 - p["durationMs"].get("addBatch", 0)) / 1000.0 for p in progress]
    lag = [landed[n] - due[n] for n in due if n in landed]
    return {
        "change_rows": change,
        "reduced_rows": reduced,
        "versions_written": sink.versions_written,
        "stream": {
            "stream.queue_wait_s": statistics.median(waits) if waits else 0.0,
            "stream.trigger_overhead_s": statistics.median(overhead) if overhead else 0.0,
            "stream.backlog_files": max(backlog) if backlog else 0,
            "stream.rows_per_batch": statistics.median(p["numInputRows"] for p in progress)
            if progress else 0,
            "stream.generator_lag_p90_s": p90(lag) if lag else 0.0,
        },
    }


# ---- snapshot_reads --------------------------------------------------------

QUERY_CLASSES = ("point", "range", "groupby", "join")


def read_query(cls: str, rng: np.random.Generator, k: dict) -> tuple[str, list[str]]:
    """One seeded query of class ``cls`` and the tables it reads."""
    n = k["tables"]
    a = gen.table_name(int(rng.integers(0, n))).upper()
    b = gen.table_name(int(rng.integers(0, n))).upper()
    if cls == "point":
        return f"SELECT * FROM {a} WHERE id = {int(rng.integers(0, k['base_keys']))}", [a]
    if cls == "range":
        lo = round(float(rng.random() * 990.0), 2)
        return (f"SELECT id, amount, note FROM {a} WHERE amount BETWEEN {lo} AND {lo + 5.0}",
                [a])
    if cls == "groupby":
        return (f"SELECT grp, count(*) AS n, sum(CAST(round(amount * 100) AS BIGINT)) AS cents "
                f"FROM {a} GROUP BY grp", [a])
    cut = round(float(rng.random() * 500.0), 2)
    return (f"SELECT x.grp, count(*) AS n, max(y.seq) AS last_seq FROM {a} x "
            f"JOIN {b} y ON x.ref = y.id WHERE x.amount < {cut} GROUP BY x.grp", [a, b])


def snapshot_reads(ctx: Ctx) -> Outcome:
    k = ctx.knobs
    specs = specs_for(k)
    off = Tracer(ctx.spark, False)

    def once(i):
        t0 = time.perf_counter()
        cs = gen.ChangeStream(ctx.seed, k["tables"], k["shards"], k["base_keys"], k["width"],
                              k["zipf"])
        base = os.path.join(ctx.work, f"in{i}")
        files, dirs = [], []
        load_dir = os.path.join(base, "load")
        for t in range(k["tables"]):
            files += gen.write_files(cs.load(t), load_dir, k["load_per_file"], f"t{t:02d}")
        dirs.append(load_dir)
        for m in range(k["merges"]):
            d = os.path.join(base, f"m{m}")
            files += gen.write_files(cs.changes(k["events_per_merge"], tuple(k["mix"])), d,
                                     k["events_per_file"], "c")
            dirs.append(d)
        t1 = time.perf_counter()
        sink = TracedSink(os.path.join(ctx.work, f"store{i}"), off)
        pipe = TracedPipeline(ctx.spark, specs, sink)
        for d in dirs:
            pipe.run_batch(d)
        t2 = time.perf_counter()
        if i:
            shutil.rmtree(os.path.join(ctx.work, f"in{i - 1}"), ignore_errors=True)
            shutil.rmtree(os.path.join(ctx.work, f"store{i - 1}"), ignore_errors=True)
        return {"generate_s": t1 - t0, "seed_store_s": t2 - t1}, (sink.root, files)

    setup, (store, files) = repeat_setup(k["setup_reps"], once)
    sink = TracedSink(store, ctx.tracer)
    engine = Engine(ctx.spark)
    spark = ctx.spark
    attempted = failed = 0

    # reference check of the store and of one query per class; also
    # warms the read path before timing
    t0 = time.perf_counter()
    bad = check.snapshot_mismatches(spark, sink, targets(k), files, gen.row_columns(k["width"]))
    con = duckdb.connect()
    try:
        check.expected_view(con, files, gen.row_columns(k["width"]))
        for t in targets(k):
            con.execute(f"CREATE VIEW {t} AS SELECT * EXCLUDE (tbl) FROM expected "
                        f"WHERE tbl = '{t}'")
        crng = np.random.default_rng(ctx.seed + 1)
        for cls in QUERY_CLASSES:
            sql, _ = read_query(cls, crng, k)
            attempted += 1
            try:
                engine.register_generation(sink)
                if check.spark_rows(engine.sql(sql)) != check.duck_rows(con, sql):
                    bad.append(f"query {cls}: {sql}")
            except Exception:  # noqa: BLE001 - counted as a failed check
                failure(f"reference query {sql}")
                failed += 1
    finally:
        con.close()
    for b in bad:
        log(f"snapshot_reads mismatch {b}")
    attempted += len(specs)
    failed += len(bad)
    setup["warmup_s"] = time.perf_counter() - t0

    rng = np.random.default_rng(ctx.seed)
    mix = np.asarray(k["query_mix"], dtype=float)
    lat: list[float] = []
    tables_read: list[list[str]] = []
    start = time.time()
    n_warm = k["warmup_queries"]
    while n_warm > 0 or time.time() - start < ctx.seconds:
        cls = QUERY_CLASSES[int(rng.choice(len(QUERY_CLASSES), p=mix / mix.sum()))]
        sql, tabs = read_query(cls, rng, k)
        if n_warm > 0:
            # untimed warm-up queries of the same mix
            n_warm -= 1
            engine.register_generation(sink)
            engine.sql(sql).write.format("noop").mode("overwrite").save()
            if n_warm == 0:
                setup["warmup_s"] += time.time() - start
                start = time.time()
            continue
        attempted += 1
        t0 = time.perf_counter()
        try:
            with ctx.tracer.span("query", cls=cls):
                with ctx.tracer.span("engine.register_generation"):
                    engine.register_generation(sink)
                with ctx.tracer.span("query.plan", cls=cls):
                    df = engine.sql(sql)
                    if ctx.tracer.enabled:
                        df._jdf.queryExecution().executedPlan()
                with ctx.tracer.span("query.exec", cls=cls):
                    df.write.format("noop").mode("overwrite").save()
        except Exception:  # noqa: BLE001 - a failed query is counted, not fatal
            failure(f"query {sql}")
            failed += 1
            continue
        lat.append(time.perf_counter() - t0)
        tables_read.append(tabs)
    end = time.time()
    wall = end - start
    if ctx.tracer.enabled:
        # the registry layer is measured here, per layer only
        a, f = registry_pass(ctx)
        attempted += a
        failed += f
    manifest = sink.manifest()
    files_per_table = {
        t: len(glob.glob(os.path.join(store, t, f"v={v}", "*.parquet")))
        for t, v in manifest.items()
    }
    return Outcome(
        len(lat) / wall, statistics.median(lat) if lat else 0.0, p90(lat) if lat else 0.0,
        setup, attempted, failed, (start, end), ops=max(len(lat), 1),
        extra={"files_read": statistics.mean(
            sum(files_per_table[t] for t in tabs) for tabs in tables_read) if tables_read else 0},
    )


# ---- registry_mix ----------------------------------------------------------


def registry_pass(ctx: Ctx) -> tuple[int, int]:
    """One traced pass over the registry queries (``queries()``) on
    seeded TPC-H-shaped tables, each checked against its
    ``oracle_sql()`` first. Returns (attempted, failed)."""
    from snowflake_cdc_spark.engine import TPCH_TABLES
    from snowflake_cdc_spark.queries import oracle_sql, queries

    k = ctx.knobs
    spark = ctx.spark
    sf_dir = os.path.join(ctx.work, "tpch")
    gen.write_tpch(ctx.seed, k["registry_scale"], sf_dir)
    fns, oracles = queries(), oracle_sql()
    attempted = failed = 0
    con = duckdb.connect()
    try:
        for t in TPCH_TABLES:
            p = os.path.join(sf_dir, f"{t}.parquet")
            if os.path.exists(p):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
        for name in k["registry_queries"]:
            attempted += 1
            try:
                if check.spark_rows(fns[name](spark, sf_dir)) != check.duck_rows(
                        con, oracles[name]):
                    log(f"registry mismatch {name}")
                    failed += 1
                    continue
                spark.catalog.clearCache()
                with ctx.tracer.span("registry.query", query=name):
                    fns[name](spark, sf_dir).write.format("noop").mode("overwrite").save()
            except Exception:  # noqa: BLE001 - counted as a failed check
                failure(f"registry query {name}")
                failed += 1
            finally:
                spark.catalog.clearCache()
    finally:
        con.close()
    return attempted, failed


WORKLOADS = {
    "backfill_fanout": backfill_fanout,
    "upsert_stream": upsert_stream,
    "snapshot_reads": snapshot_reads,
}
