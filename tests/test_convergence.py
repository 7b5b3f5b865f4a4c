"""Convergence monitor (streaming/convergence.py): per-batch
adds/removes/changed counts recorded by the pipeline equal an
independent batch table_diff of the retained consecutive snapshot
versions (VERDICT r06 #8), hard deletes report as removes, and the
converged() reading flips once diffs go to zero."""

from __future__ import annotations

from pyspark.sql import functions as F

from snowflake_cdc_spark.operators.diff import table_diff
from snowflake_cdc_spark.plans.spec import PipelineSpec
from snowflake_cdc_spark.sinks.parquet_sink import ParquetSnapshotSink
from snowflake_cdc_spark.sources.cdc import cdc_events_nested
from snowflake_cdc_spark.streaming.convergence import ConvergenceMonitor
from snowflake_cdc_spark.streaming.pipeline import CdcPipeline
from tests.conftest import SF_SMOKE


def _metrics(mon, table, batch):
    return {
        m: n
        for (t, b, _f, _v, m, n) in mon.records
        if t == table and b == batch and not m.startswith("col_changed")
    }


def test_stream_counts_equal_batch_table_diff(spark, tmp_path):
    """availableNow stream over two file-batches; every recorded report
    must equal table_diff(read_version(v_prev), read_version(v_new))
    recomputed independently afterwards."""
    events = cdc_events_nested(spark, SF_SMOKE).persist()
    try:
        inserts = events.filter(
            F.col("data.old_row").isNull() & ~F.col("data.metadata.is_delete")
        )
        rest = events.subtract(inserts)
        raw = str(tmp_path / "raw")
        inserts.coalesce(1).write.mode("overwrite").parquet(raw)

        sink = ParquetSnapshotSink(str(tmp_path / "snap"))
        mon = ConvergenceMonitor(sink)
        pipe = CdcPipeline(
            spark,
            [PipelineSpec("tpch.orders", use_synthetic_key=True)],
            sink,
            convergence=mon,
        )
        q = pipe.start_stream(
            raw,
            checkpoint=str(tmp_path / "ckpt"),
            available_now=True,
        )
        q.awaitTermination(300)
        # second landing: updates + deletes appended, same checkpoint —
        # the stream resumes and only processes the new files
        rest.coalesce(1).write.mode("append").parquet(raw)
        q2 = pipe.start_stream(
            raw,
            checkpoint=str(tmp_path / "ckpt"),
            available_now=True,
        )
        q2.awaitTermination(300)

        assert mon.records, "monitor recorded nothing"
        # independent recompute per recorded (from_v, to_v) transition
        seen = {(r[2], r[3]) for r in mon.records}
        for from_v, to_v in sorted(seen):
            new = sink.read_version(spark, "ORDERS", to_v)
            old = (
                new.limit(0)
                if from_v < 0
                else sink.read_version(spark, "ORDERS", from_v)
            )
            key_cols = ["primary_key" if "primary_key" in new.columns else "o_orderkey"]
            want = {
                r.metric: r.n
                for r in table_diff(old, new, key_cols).collect()
                if not r.metric.startswith("col_changed")
            }
            got_batches = [
                b
                for (t, b, f, v, _m, _n) in mon.records
                if t == "ORDERS" and (f, v) == (from_v, to_v)
            ]
            got = _metrics(mon, "ORDERS", got_batches[0])
            assert got == want, (from_v, to_v)
        # one rows_added row per recorded transition
        assert sum(r[4] == "rows_added" for r in mon.records) == len(seen)
        # deletes landed in SOME batch as removes
        assert any(
            m == "rows_removed" and n > 0
            for (_t, _b, _f, _v, m, n) in mon.records
        )
    finally:
        events.unpersist()


def test_converged_reading_and_replay(spark, tmp_path):
    """A re-merged identical batch diffs to zero -> converged()."""
    sink = ParquetSnapshotSink(str(tmp_path / "snap"))
    mon = ConvergenceMonitor(sink)
    df = spark.createDataFrame(
        [(1, "a", 10, False), (2, "b", 20, False)],
        "k long, s string, seq long, is_delete boolean",
    )
    v0 = sink.merge(df, "T", ["k"])
    mon.records += mon.diff_records(spark, "T", 0, -1, v0, ["k"])
    assert _metrics(mon, "T", 0)["rows_added"] == 2
    assert not mon.converged("T")

    # identical re-merge: zero diff
    v1 = sink.merge(df, "T", ["k"])
    mon.records += mon.diff_records(spark, "T", 1, v0, v1, ["k"])
    m1 = _metrics(mon, "T", 1)
    assert m1["rows_added"] == 0 and m1["rows_removed"] == 0
    assert m1["rows_changed"] == 0 and m1["rows_common"] == 2
    assert mon.converged("T")

    # a hard delete reports as a remove (tombstones filtered by the
    # version reader)
    dele = spark.createDataFrame(
        [(2, None, 30, True)], "k long, s string, seq long, is_delete boolean"
    )
    v2 = sink.merge(dele, "T", ["k"])
    mon.records += mon.diff_records(spark, "T", 2, v1, v2, ["k"])
    m2 = _metrics(mon, "T", 2)
    assert m2["rows_removed"] == 1 and m2["rows_common"] == 1
    assert not mon.converged("T")


def test_monitor_survives_vacuum_policy(spark, tmp_path):
    """The monitor diffs versions BEFORE the same batch's maintenance
    runs, so an aggressive keep_versions=2 vacuum never removes the
    from-version it needs — three merges under the policy, every
    report recorded."""
    from snowflake_cdc_spark.streaming.pipeline import MaintenancePolicy

    sink = ParquetSnapshotSink(str(tmp_path / "snap"))
    mon = ConvergenceMonitor(sink)
    pipe = CdcPipeline(
        spark,
        [PipelineSpec("tpch.orders", use_synthetic_key=True)],
        sink,
        convergence=mon,
        maintenance=MaintenancePolicy(keep_versions=2),
    )
    events = cdc_events_nested(spark, SF_SMOKE).limit(300).persist()
    try:
        thirds = [
            events.filter(F.col("seq") % 3 == i).persist() for i in range(3)
        ]
        for i, part in enumerate(thirds):
            pipe.materialize_batch(part, batch_id=i)
        batches = {b for (_t_, b, _f, _v, _m, _n) in mon.records}
        assert batches == {0, 1, 2}
        assert not pipe.write_errors
    finally:
        events.unpersist()
