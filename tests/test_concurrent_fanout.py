"""The concurrent per-table fan-out of ``CdcPipeline.materialize_batch``:
table chains run on a thread pool over one cached batch, each table's
sink merge is its only hash exchange, ledgers are appended in spec order
whatever order the chains finish in, and the generation publish is the
join point after every chain has settled."""

from __future__ import annotations

import random
import re
import threading
import time

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from snowflake_cdc_spark.operators.expectations import in_range
from snowflake_cdc_spark.plans.spec import DeleteStrategy, PipelineSpec
from snowflake_cdc_spark.sinks.parquet_sink import ParquetSnapshotSink
from snowflake_cdc_spark.sources.cdc import envelope_schema
from snowflake_cdc_spark.streaming.pipeline import (
    CdcPipeline,
    replay_quarantine,
)

ROW = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("amount", T.DoubleType()),
        T.StructField("note", T.StringType()),
    ]
)
N_TABLES = 8
GATED = "T3"  # amount must be non-negative; negative updates are quarantined


def envelope_rows(n_events: int, seed: int = 7) -> list[tuple]:
    """A multiplexed change log over ``N_TABLES`` tables, each split into
    ``_part_0``/``_part_1`` shards by key parity. Keys are inserted,
    updated several times, deleted and re-inserted; seqs are global and
    unique. About one change in six carries a negative amount."""
    rng = random.Random(seed)
    state: dict[tuple[int, int], tuple | None] = {}
    rows = []
    for seq in range(1, n_events + 1):
        t, k = rng.randrange(N_TABLES), rng.randrange(30)
        before = state.get((t, k))
        op = "insert" if before is None else rng.choice(["update", "update", "delete"])
        after = None if op == "delete" else (k, round(rng.uniform(-20.0, 100.0), 2), f"n{seq}")
        shard = f"t{t}_part_{k % 2}"
        data = ("db", shard, f"db.{shard}", str(k), after, before, (op == "delete",))
        rows.append((data, seq))
        state[(t, k)] = after
    return rows


def fanout_specs() -> list[PipelineSpec]:
    return [
        PipelineSpec(
            f"db.t{t}",
            key_columns=["id"],
            delete_strategy=DeleteStrategy.HARD if t % 2 == 0 else DeleteStrategy.LOGICAL,
        )
        for t in range(N_TABLES)
    ]


@pytest.fixture(scope="module")
def events(spark):
    return spark.createDataFrame(envelope_rows(1600), envelope_schema(ROW)).persist()


def rows_of(df):
    cols = sorted(df.columns)
    return cols, sorted((tuple(r[c] for c in cols) for r in df.collect()), key=repr)


def assert_store_matches(spark, sink, expected: dict):
    for table, want in expected.items():
        assert rows_of(sink.read(spark, table)) == rows_of(want), table


def test_concurrent_fanout_matches_snapshot_all_tables(spark, events, tmp_path):
    """Eight shard-merged tables, alternating HARD/LOGICAL deletes, one
    DQ-gated table, applied as two batches: every table equals the
    consistent cut ``snapshot_all_tables`` computes over the same log
    (for the gated table, over the log minus its violating rows)."""
    specs = fanout_specs()
    sink = ParquetSnapshotSink(str(tmp_path / "store"))
    pipe = CdcPipeline(
        spark, specs, sink,
        quarantine_dir=str(tmp_path / "q"),
        dq_expectations={GATED: [in_range("amount", 0.0, 1000.0)]},
    )
    pipe.materialize_batch(events.filter(F.col("seq") <= 800), batch_id=0)
    pipe.materialize_batch(events.filter(F.col("seq") > 800), batch_id=1)

    violating = (
        F.col("data.table_name").startswith(f"{GATED.lower()}_")
        & ~F.col("data.metadata.is_delete")
        & (F.col("data.row.amount") < 0)
    )
    expected = pipe.snapshot_all_tables(events.filter(~violating), 1600)
    assert len(expected) == N_TABLES
    assert_store_matches(spark, sink, expected)

    targets = [s.target_table for s in specs]
    assert [(m.table, m.batch_id) for m in pipe.metrics] == [
        (t, b) for b in (0, 1) for t in targets
    ]
    assert [(t, b) for t, b, _ in pipe.dq_violations] == [(GATED, 0), (GATED, 1)]
    assert sum(n for *_, n in pipe.dq_violations) == events.filter(violating).count()
    assert sink.manifest() == {t: sink.current_version(t) for t in targets}


class ExchangeCountingSink(ParquetSnapshotSink):
    """Records how many hash exchanges each version write plans."""

    def __init__(self, root):
        super().__init__(root)
        self.exchanges: list[int] = []

    def overwrite(self, df, table, expected_current=None):
        plan = df._jdf.queryExecution().executedPlan().toString()
        self.exchanges.append(len(re.findall(r"Exchange hashpartitioning", plan)))
        return super().overwrite(df, table, expected_current)


def test_merge_is_each_tables_only_exchange(spark, events, tmp_path):
    """Plan shape: the DataFrame a merge writes (current ∪ changes →
    latest-by-key) holds exactly one hash exchange — into an empty table
    and into an existing one. A pipeline-side pre-reduce would add a
    second."""
    sink = ExchangeCountingSink(str(tmp_path / "store"))
    pipe = CdcPipeline(spark, fanout_specs()[:2], sink)
    pipe.materialize_batch(events.filter(F.col("seq") <= 800), batch_id=0)
    pipe.materialize_batch(events.filter(F.col("seq") > 800), batch_id=1)
    assert sink.exchanges == [1, 1, 1, 1]


class SlowThenFailingSink(ParquetSnapshotSink):
    """T0 merges slowly, T1 fails after a delay, T2 fails at once: in
    completion order T2 fails first and T0 succeeds last."""

    def merge(self, changes, table, **kw):
        if table == "T0":
            time.sleep(1.5)
        elif table == "T1":
            time.sleep(0.5)
            raise IOError("simulated write failure for T1")
        elif table == "T2":
            raise IOError("simulated write failure for T2")
        return super().merge(changes, table, **kw)


def test_ledgers_follow_spec_order_not_completion_order(spark, events, tmp_path):
    specs = fanout_specs()[:4]
    sink = SlowThenFailingSink(str(tmp_path / "store"))
    pipe = CdcPipeline(
        spark, specs, sink, fail_on_write_error=False, quarantine_dir=str(tmp_path / "q")
    )
    pipe.materialize_batch(events, batch_id=5)

    assert [m.table for m in pipe.metrics] == ["T0", "T3"]
    assert [(t, b) for t, b, _ in pipe.write_errors] == [("T1", 5), ("T2", 5)]
    assert "T1" in pipe.write_errors[0][2] and "T2" in pipe.write_errors[1][2]
    # failed tables are absent from the generation, healthy ones current
    assert sink.manifest() == {"T0": 0, "T3": 0}
    # the quarantine holds the raw changes, several versions per key
    q = spark.read.parquet(str(tmp_path / "q" / "T1" / "batch=5"))
    assert q.count() == pipe.transform(events, specs[1]).count()
    assert q.count() > q.select("id").distinct().count()


def test_fail_on_write_error_raises_first_failure_in_spec_order(spark, events, tmp_path):
    """The batch raises T1's error although T2 failed first, and no
    generation is published; the healthy tables ran to completion and
    their ledger entries are kept, in spec order."""
    sink = SlowThenFailingSink(str(tmp_path / "store"))
    pipe = CdcPipeline(spark, fanout_specs()[:4], sink)
    with pytest.raises(IOError, match="failure for T1"):
        pipe.materialize_batch(events, batch_id=0)
    assert sink.current_generation() == -1
    assert [m.table for m in pipe.metrics] == ["T0", "T3"]
    assert sink.exists("T0") and sink.exists("T3")
    assert not sink.exists("T1") and not sink.exists("T2")


class FailOnceSink(ParquetSnapshotSink):
    def __init__(self, root, table):
        super().__init__(root)
        self.fail_next = table

    def merge(self, changes, table, **kw):
        if table == self.fail_next:
            self.fail_next = None
            raise IOError(f"simulated write failure for {table}")
        return super().merge(changes, table, **kw)


def test_replayed_quarantine_matches_clean_run(spark, events, tmp_path):
    """T2 (hard deletes) fails in batch 0 and its raw changes are
    quarantined; batch 1 lands; replaying the quarantine afterwards —
    out of order, its stale rows lose the seq race — leaves the store
    equal to a clean run of the same batches."""
    specs = fanout_specs()[:4]
    first, second = events.filter(F.col("seq") <= 800), events.filter(F.col("seq") > 800)

    clean = ParquetSnapshotSink(str(tmp_path / "clean"))
    clean_pipe = CdcPipeline(spark, specs, clean)
    clean_pipe.materialize_batch(first, batch_id=0)
    clean_pipe.materialize_batch(second, batch_id=1)

    sink = FailOnceSink(str(tmp_path / "store"), "T2")
    pipe = CdcPipeline(
        spark, specs, sink, fail_on_write_error=False, quarantine_dir=str(tmp_path / "q")
    )
    pipe.materialize_batch(first, batch_id=0)
    pipe.materialize_batch(second, batch_id=1)
    assert [(t, b) for t, b, _ in pipe.write_errors] == [("T2", 0)]
    assert replay_quarantine(pipe, "T2", kind="batch") > 0

    assert_store_matches(
        spark, sink, {s.target_table: clean.read(spark, s.target_table) for s in specs}
    )


class SlowMergeSink(ParquetSnapshotSink):
    """Slow merges that note the job group their pool thread submits under."""

    def __init__(self, root):
        super().__init__(root)
        self.started = threading.Event()
        self.job_groups: set[str] = set()

    def merge(self, changes, table, **kw):
        sc = changes.sparkSession.sparkContext
        self.job_groups.add(sc.getLocalProperty("spark.jobGroup.id"))
        self.started.set()
        time.sleep(1.0)
        return super().merge(changes, table, **kw)


def test_stream_stopped_mid_batch_terminates_cleanly(spark, events, tmp_path):
    """Table chains submit under the stream's job group, so stopping the
    stream while they are in flight cancels their jobs; the query ends
    without an error, leaves no pool thread behind, and a restart from
    the same checkpoint completes the store."""
    src, ckpt = str(tmp_path / "src"), str(tmp_path / "ckpt")
    events.withColumn("__f", F.col("seq") % 4).repartition(4, "__f").drop(
        "__f"
    ).write.parquet(src)
    specs = fanout_specs()
    sink = SlowMergeSink(str(tmp_path / "store"))
    q = CdcPipeline(spark, specs, sink).start_stream(
        src, ckpt, schema=envelope_schema(ROW),
        max_files_per_trigger=1, processing_time="200 milliseconds",
    )
    try:
        assert sink.started.wait(60)
    finally:
        q.stop()
    assert q.awaitTermination(60)
    assert not q.isActive
    assert sink.job_groups == {str(q.runId)}
    assert q.exception() is None
    assert not [t for t in threading.enumerate() if t.name.startswith("cdc-table")]

    restart = ParquetSnapshotSink(sink.root)
    pipe = CdcPipeline(spark, specs, restart)
    pipe.start_stream(src, ckpt, schema=envelope_schema(ROW), available_now=True).awaitTermination(120)
    assert_store_matches(spark, restart, pipe.snapshot_all_tables(events, 1600))


def from_database(events, db):
    """``events`` as if captured from database ``db``."""
    data = F.col("data")
    return events.withColumn(
        "data",
        data.withField("database_name", F.lit(db)).withField(
            "full_table_name", F.concat(F.lit(f"{db}."), data["table_name"])
        ),
    )


class OverlapSink(ParquetSnapshotSink):
    """Slow merges that note the most merges ever in flight on one table."""

    def __init__(self, root):
        super().__init__(root)
        self.lock = threading.Lock()
        self.in_flight: dict[str, int] = {}
        self.peak = 0

    def merge(self, changes, table, **kw):
        with self.lock:
            self.in_flight[table] = self.in_flight.get(table, 0) + 1
            self.peak = max(self.peak, self.in_flight[table])
        try:
            time.sleep(0.3)
            return super().merge(changes, table, **kw)
        finally:
            with self.lock:
                self.in_flight[table] -= 1


def test_specs_sharing_a_target_merge_in_spec_order(spark, events, tmp_path):
    """Two sources told apart by an E4 extra key column, ``db.t0`` and
    ``other.t0``, both materialize into ``T0`` next to four tables of
    their own. Their merges share one chain and run in spec order, never
    two at once, so neither loses a compare-and-swap to the other: every
    batch advances ``T0`` by two versions, and the store equals the
    union cut."""
    shared = [
        PipelineSpec(f"{db}.t0", key_columns=["id"], extra_key_column=("src", db))
        for db in ("db", "other")
    ]
    others = fanout_specs()[1:5]
    specs = [shared[0], others[0], shared[1], *others[1:]]
    log = events.unionByName(from_database(events, "other"))
    sink = OverlapSink(str(tmp_path / "store"))
    pipe = CdcPipeline(spark, specs, sink)
    pipe.materialize_batch(log.filter(F.col("seq") <= 800), batch_id=0)
    pipe.materialize_batch(log.filter(F.col("seq") > 800), batch_id=1)

    assert sink.peak == 1
    assert not pipe.write_errors
    assert [(m.table, m.batch_id, m.version) for m in pipe.metrics if m.table == "T0"] == [
        ("T0", 0, 0), ("T0", 0, 1), ("T0", 1, 2), ("T0", 1, 3)
    ]
    assert [m.table for m in pipe.metrics] == 2 * [s.target_table for s in specs]
    expected = pipe.snapshot_all_tables(log, 1600)
    assert sorted(expected) == ["T0", "T1", "T2", "T3", "T4"]
    assert_store_matches(spark, sink, expected)
    assert sink.read(spark, "T0").groupBy("src").count().count() == 2
