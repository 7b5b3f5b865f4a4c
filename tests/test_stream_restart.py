"""Checkpoint-restart semantics for the DQ-gated CDC stream: a stream
killed mid-input and restarted from its checkpoint ends in the same
snapshot and quarantine as a single run."""

from __future__ import annotations

import pytest

# deep-soak lane: excluded from the default fast run (pytest.ini,
# VERDICT r11 item 7) — run with `pytest -m "" tests/`
pytestmark = pytest.mark.slow

def test_dq_gate_survives_restart(spark, tmp_path):
    """Kill a DQ-gated stream mid-input, restart from the checkpoint:
    the final snapshot AND the quarantine contents must equal a
    single-run execution — the gate's quarantine writes are per-batch-id
    overwrites, so a replayed batch after restart is idempotent."""
    from pyspark.sql import functions as F

    from snowflake_cdc_spark.operators.expectations import in_range
    from snowflake_cdc_spark.plans.spec import DeleteStrategy, PipelineSpec
    from snowflake_cdc_spark.sinks.parquet_sink import ParquetSnapshotSink
    from snowflake_cdc_spark.sources.cdc import cdc_events_nested
    from snowflake_cdc_spark.streaming.pipeline import CdcPipeline
    from tests.conftest import SF_SMOKE

    raw = str(tmp_path / "raw")
    events = cdc_events_nested(spark, SF_SMOKE)
    events.withColumn("__c", F.col("seq") % 4).repartition(4, "__c").drop(
        "__c"
    ).write.parquet(raw)
    bound = 300000

    def build(sink_dir, qdir):
        return CdcPipeline(
            spark,
            [PipelineSpec("tpch.orders", use_synthetic_key=True,
                          delete_strategy=DeleteStrategy.HARD)],
            ParquetSnapshotSink(sink_dir),
            quarantine_dir=qdir,
            dq_expectations={"ORDERS": [in_range("o_totalprice", 0, bound)]},
        )

    # interrupted run: one file per trigger, stop after the first batches
    p1 = build(str(tmp_path / "wh1"), str(tmp_path / "q1"))
    q = p1.start_stream(raw, checkpoint=str(tmp_path / "ckpt"),
                        max_files_per_trigger=1,
                        processing_time="1 seconds")
    import time as _t

    for _ in range(100):
        if p1.metrics:
            break
        _t.sleep(0.2)
    q.stop()
    q.awaitTermination(60)
    # resume to completion from the same checkpoint
    p1b = build(str(tmp_path / "wh1"), str(tmp_path / "q1"))
    q2 = p1b.start_stream(raw, checkpoint=str(tmp_path / "ckpt"),
                          available_now=True)
    q2.awaitTermination(120)

    # reference single run
    p2 = build(str(tmp_path / "wh2"), str(tmp_path / "q2"))
    p2.run_batch(raw)

    def canon(sink_dir):
        df = ParquetSnapshotSink(sink_dir).read(spark, "ORDERS")
        cols = sorted(df.columns)
        return sorted(tuple(str(r[c]) for c in cols) for r in df.collect())

    assert canon(str(tmp_path / "wh1")) == canon(str(tmp_path / "wh2"))

    # quarantine holds the same violating CHANGE ROWS overall (batch ids
    # differ between executions; compare the row sets)
    def qrows(qdir):
        import glob

        # one leaf dir per (batch, spec): read as separate roots, so
        # partition discovery does not see two levels of k=v dirs
        paths = glob.glob(f"{qdir}/ORDERS/dq_batch=*/full_table_name=*")
        if not paths:
            return []
        df = spark.read.parquet(*paths).select("primary_key", "seq")
        return sorted(map(tuple, df.collect()))

    assert qrows(str(tmp_path / "q1")) == qrows(str(tmp_path / "q2"))
