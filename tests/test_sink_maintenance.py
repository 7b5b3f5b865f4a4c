"""Snapshot-sink maintenance: time travel, vacuum, manual compaction,
writer concurrency and automatic retention inside a stream."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from snowflake_cdc_spark.plans.spec import PipelineSpec
from snowflake_cdc_spark.sinks.parquet_sink import ParquetSnapshotSink
from snowflake_cdc_spark.sources.cdc import cdc_events_nested
from snowflake_cdc_spark.streaming.pipeline import CdcPipeline
from tests.conftest import SF_SMOKE

import pytest

# deep-soak lane: excluded from the default fast run (pytest.ini,
# VERDICT r11 item 7) — run with `pytest -m "" tests/`
pytestmark = pytest.mark.slow


def _pipeline(spark, tmp_path):
    sink = ParquetSnapshotSink(str(tmp_path / "snap"))
    pipe = CdcPipeline(
        spark, [PipelineSpec("tpch.orders", use_synthetic_key=True)], sink
    )
    return pipe, sink


def test_time_travel_and_vacuum(spark, tmp_path):
    events = cdc_events_nested(spark, SF_SMOKE)
    pipe, sink = _pipeline(spark, tmp_path)
    # three merge generations: inserts, then updates, then deletes
    is_del = F.col("data.metadata.is_delete")
    generations = [
        F.col("data.old_row").isNull() & ~is_del,  # inserts
        F.col("data.old_row").isNotNull() & ~is_del,  # updates
        is_del,  # deletes
    ]
    for cond in generations:
        pipe.materialize_batch(events.filter(cond))

    versions = sink.versions("ORDERS")
    assert len(versions) == 3
    v_insert_only = sink.read_version(spark, "ORDERS", versions[0])
    current = sink.read(spark, "ORDERS")
    assert v_insert_only.count() == 1500  # all inserts, nothing deleted yet
    assert current.count() == 1285  # after deletes

    # every batch published a generation whose manifest pins its version
    # (VERDICT r09 #2): vacuum alone removes nothing until retention
    # prunes the old manifests — then the unpinned versions drop
    assert sink.vacuum("ORDERS", keep_last=1) == []
    sink.prune_generations(keep_generations=1)
    removed = sink.vacuum("ORDERS", keep_last=1)
    assert removed == versions[:-1]
    assert sink.versions("ORDERS") == [versions[-1]]
    assert sink.read(spark, "ORDERS").count() == 1285  # current untouched


def test_compaction_reduces_files_preserves_rows(spark, tmp_path):
    events = cdc_events_nested(spark, SF_SMOKE)
    pipe, sink = _pipeline(spark, tmp_path)
    pipe.materialize_batch(events)
    before = sink.read(spark, "ORDERS").count()

    v = sink.compact(spark, "ORDERS", target_files=2)
    vdir = str(tmp_path / "snap" / "ORDERS" / f"v={v}")
    n_files = len([f for f in os.listdir(vdir) if f.endswith(".parquet")])
    assert n_files <= 2
    assert sink.read(spark, "ORDERS").count() == before


def test_zorder_compaction_clusters_and_preserves(spark, tmp_path):
    """compact(zorder_by=...) preserves the snapshot exactly and leaves
    every file covering a narrow slice of each z-column (footer-stat
    skipping works on both), unlike arrival-order compaction."""
    from snowflake_cdc_spark.operators.zorder import file_stat_ranges

    events = cdc_events_nested(spark, SF_SMOKE)
    pipe, sink = _pipeline(spark, tmp_path)
    pipe.materialize_batch(events)
    before = sorted(
        (r["primary_key"], r["seq"])
        for r in sink.read(spark, "ORDERS").collect()
    )

    v = sink.compact(
        spark, "ORDERS", target_files=4, zorder_by=["o_custkey", "o_orderkey"]
    )
    vdir = str(tmp_path / "snap" / "ORDERS" / f"v={v}")
    cov = file_stat_ranges(spark, vdir, ["o_custkey", "o_orderkey"])
    assert len(cov) >= 2
    avg = lambda cs, c: sum(f[c] for f in cs) / len(cs)
    # arrival-order files see ~the whole range of both columns (~1.0 each);
    # the z-ordered rewrite must be meaningfully tighter on BOTH
    v0dir = str(tmp_path / "snap" / "ORDERS" / f"v={v - 1}")
    cov0 = file_stat_ranges(spark, v0dir, ["o_custkey", "o_orderkey"])
    assert avg(cov, "o_custkey") < 0.85 * avg(cov0, "o_custkey")
    assert avg(cov, "o_orderkey") < 0.85 * avg(cov0, "o_orderkey")

    after = sorted(
        (r["primary_key"], r["seq"])
        for r in sink.read(spark, "ORDERS").collect()
    )
    assert after == before


class TestWriterConcurrency:
    """VERDICT r03 #3: optimistic-concurrency discipline on the snapshot
    sink — an interleaved writer makes the LOSER fail loudly instead of
    silently discarding the winner's merge."""

    def _changes(self, spark, rows):
        return spark.createDataFrame(
            rows, "k int, val string, seq bigint, is_delete boolean"
        )

    def test_interleaved_merge_loses_loudly_and_keeps_winner(self, spark, tmp_path):
        import pytest

        from snowflake_cdc_spark.sinks.parquet_sink import (
            ConcurrentWriteError,
            ParquetSnapshotSink,
        )

        root = str(tmp_path / "snap")
        sink = ParquetSnapshotSink(root)
        sink.merge(
            self._changes(spark, [(1, "base", 1, False)]), "T", key_cols=["k"]
        )

        # writer A derives its merge from v=0, but writer B commits
        # BETWEEN A's read and A's flip (simulated by interposing on
        # overwrite — the exact lost-update interleaving)
        a_changes = self._changes(spark, [(2, "from_A", 2, False)])
        b_changes = self._changes(spark, [(3, "from_B", 2, False)])

        class RacingSink(ParquetSnapshotSink):
            raced = False

            def overwrite(self, df, table, expected_current=None):
                if not RacingSink.raced:
                    RacingSink.raced = True
                    ParquetSnapshotSink(root).merge(
                        b_changes, table, key_cols=["k"]
                    )
                return super().overwrite(df, table, expected_current)

        racing = RacingSink(root)
        with pytest.raises(ConcurrentWriteError):
            racing.merge(a_changes, "T", key_cols=["k"])

        # the winner's (B's) merge survives; A's half-write left no trace
        current = {(r.k, r.val) for r in sink.read(spark, "T").collect()}
        assert current == {(1, "base"), (3, "from_B")}
        assert sink.versions("T") == [0, 1]
        assert not [
            d for d in os.listdir(os.path.join(root, "T")) if ".stage." in d
        ]
        # A retries from the new current version and succeeds
        sink.merge(a_changes, "T", key_cols=["k"])
        current = {(r.k, r.val) for r in sink.read(spark, "T").collect()}
        assert current == {(1, "base"), (2, "from_A"), (3, "from_B")}

    def test_version_claim_rejects_duplicate_version(self, spark, tmp_path):
        import pytest

        from snowflake_cdc_spark.sinks.parquet_sink import (
            ConcurrentWriteError,
            ParquetSnapshotSink,
        )

        sink = ParquetSnapshotSink(str(tmp_path / "snap"))
        df = self._changes(spark, [(1, "x", 1, False)])
        sink.merge(df, "T", key_cols=["k"])  # claims v=0
        # a stale writer that still believes current == -1 must fail at
        # the v=0 rename claim, not clobber the live version
        with pytest.raises(ConcurrentWriteError):
            sink.overwrite(df, "T", expected_current=-1)
        assert sink.versions("T") == [0]

    def test_pointer_cas_rolls_back_orphan_version(self, spark, tmp_path):
        import pytest

        from snowflake_cdc_spark.sinks.parquet_sink import (
            ConcurrentWriteError,
            ParquetSnapshotSink,
        )

        sink = ParquetSnapshotSink(str(tmp_path / "snap"))
        df = self._changes(spark, [(1, "x", 1, False)])
        sink.merge(df, "T", key_cols=["k"])  # current = 0
        # expected_current=5 writes v=6 (rename succeeds — free slot) but
        # the pointer re-read catches the lie and rolls the dir back
        with pytest.raises(ConcurrentWriteError):
            sink.overwrite(df, "T", expected_current=5)
        assert sink.versions("T") == [0]
        assert sink.current_version("T") == 0


def test_auto_maintenance_keeps_retention_only(spark, tmp_path):
    """MaintenancePolicy runs retention (prune + vacuum) after every
    batch and rewrites nothing: across a 20-batch stream the maintained
    run writes exactly the merge versions and publishes one generation
    per batch, its version history stays bounded, and its snapshot is
    row-identical to an unmaintained run."""
    from snowflake_cdc_spark.streaming.pipeline import MaintenancePolicy

    events = cdc_events_nested(spark, SF_SMOKE).persist()
    try:
        shard = F.pmod(F.hash(F.col("data.primary_key")), F.lit(20))

        def run(root, maintenance):
            sink = ParquetSnapshotSink(str(tmp_path / root))
            pipe = CdcPipeline(
                spark,
                [PipelineSpec("tpch.orders", use_synthetic_key=True)],
                sink,
                maintenance=maintenance,
            )
            for b in range(20):
                pipe.materialize_batch(events.filter(shard == b), batch_id=b)
            return pipe, sink

        pol = MaintenancePolicy(keep_versions=2, keep_generations=2)
        pipe, sink = run("maint", pol)
        _, plain_sink = run("plain", None)

        # one version per merge, none from maintenance
        assert [m.version for m in pipe.metrics] == list(range(20))
        assert sink.current_version("ORDERS") == plain_sink.current_version("ORDERS")
        # one generation per batch, none from maintenance
        assert sink.current_generation() == 19
        assert sink.retained_generations() == [18, 19]
        # retention ran after every batch
        assert [e[1] for e in pipe.maintenance_events] == list(range(20))
        # version history bounded: keep_versions newest plus whatever the
        # retained generation manifests still pin
        assert len(sink.versions("ORDERS")) <= pol.keep_versions + pol.keep_generations
        assert len(plain_sink.versions("ORDERS")) == 20
        # and the data is untouched: maintained == unmaintained snapshot
        a = sink.read(spark, "ORDERS")
        b = plain_sink.read(spark, "ORDERS")
        assert sorted(map(tuple, a.select(*sorted(a.columns)).collect())) == sorted(
            map(tuple, b.select(*sorted(b.columns)).collect())
        )
    finally:
        events.unpersist()


def test_auto_maintenance_fires_inside_a_real_stream(spark, tmp_path):
    """MaintenancePolicy rides the SAME foreachBatch as the merges —
    prove it runs after every batch of an actual Structured Streaming
    run, not just the batch-mode loop."""
    from snowflake_cdc_spark.streaming.pipeline import MaintenancePolicy

    raw = str(tmp_path / "raw")
    events = cdc_events_nested(spark, SF_SMOKE)
    # land as several files so maxFilesPerTrigger=1 yields multiple batches
    events.withColumn("__s", F.pmod(F.hash("data.primary_key"), F.lit(6))).repartition(
        6, "__s"
    ).drop("__s").write.parquet(raw)

    sink = ParquetSnapshotSink(str(tmp_path / "wh"))
    pol = MaintenancePolicy(keep_versions=2, keep_generations=2)
    pipe = CdcPipeline(
        spark,
        [PipelineSpec("tpch.orders", use_synthetic_key=True)],
        sink,
        maintenance=pol,
    )
    q = pipe.start_stream(
        raw,
        checkpoint=str(tmp_path / "ckpt"),
        schema=spark.read.parquet(raw).schema,
        available_now=True,
        max_files_per_trigger=1,
    )
    q.awaitTermination(180)
    # fired from inside foreachBatch, once per published batch (file ->
    # micro-batch grouping varies by source listing, so count batches by
    # their generations rather than assume six)
    assert len(pipe.maintenance_events) == sink.current_generation() + 1 > 1
    assert len(sink.versions("ORDERS")) <= pol.keep_versions + pol.keep_generations
    # stream result still equals the batch oracle
    from pyspark.sql import Window

    from snowflake_cdc_spark.sources.cdc import cdc_events_flat

    flat = cdc_events_flat(spark, SF_SMOKE)
    w = Window.partitionBy("primary_key").orderBy(F.col("seq").desc())
    oracle = flat.withColumn("rn", F.row_number().over(w)).filter(
        (F.col("rn") == 1) & ~F.col("is_delete")
    )
    assert sink.read(spark, "ORDERS").count() == oracle.count()
