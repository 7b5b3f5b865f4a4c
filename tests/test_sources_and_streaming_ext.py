"""JSON CDC source, Kafka payload parser, multi-table demux fan-out,
quarantine write-error policy."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from snowflake_cdc_spark.plans.spec import DeleteStrategy, PipelineSpec
from snowflake_cdc_spark.sinks.parquet_sink import ParquetSnapshotSink
from snowflake_cdc_spark.sources.cdc import cdc_events_nested
from snowflake_cdc_spark.sources.json_cdc import parse_kafka_cdc, read_cdc_json
from snowflake_cdc_spark.streaming.pipeline import CdcPipeline
from tests.conftest import SF_SMOKE


def test_json_cdc_source_roundtrip(spark, tmp_path):
    """parquet-landed and json-landed raw zones produce identical
    materializations."""
    events = cdc_events_nested(spark, SF_SMOKE)
    jdir = str(tmp_path / "raw_json")
    events.write.mode("overwrite").json(jdir)
    back = read_cdc_json(spark, jdir, events.schema)

    spec = [PipelineSpec("tpch.orders", use_synthetic_key=True)]
    s1 = ParquetSnapshotSink(str(tmp_path / "s1"))
    CdcPipeline(spark, spec, s1).materialize_batch(events)
    s2 = ParquetSnapshotSink(str(tmp_path / "s2"))
    CdcPipeline(spark, spec, s2).materialize_batch(back)

    a = sorted(map(str, s1.read(spark, "ORDERS").collect()))
    b = sorted(map(str, s2.read(spark, "ORDERS").collect()))
    assert a == b and len(a) > 0


def test_kafka_payload_parser(spark):
    """from_json over a Kafka-shaped binary value column reproduces the
    envelope rows (broker not required to validate the parse)."""
    events = cdc_events_nested(spark, SF_SMOKE).limit(50)
    kafka_shaped = events.select(F.to_json(F.struct("data", "seq")).cast("binary").alias("value"))
    parsed = parse_kafka_cdc(kafka_shaped, events.schema)
    # from_json normalizes nullability; structural equality is what matters
    assert parsed.schema.simpleString() == events.schema.simpleString()
    a = sorted(map(str, events.collect()))
    b = sorted(map(str, parsed.collect()))
    assert a == b


def test_multi_table_demux_fanout(spark, tmp_path):
    """K6: one stream, several per-table pipelines in one foreachBatch —
    shard tables materialized separately when merge_shards=False, and
    their union equals the merged materialization."""
    events = cdc_events_nested(spark, SF_SMOKE)
    sink = ParquetSnapshotSink(str(tmp_path / "snap"))
    specs = [
        PipelineSpec("tpch.orders_part_0", use_synthetic_key=True, merge_shards=False),
        PipelineSpec("tpch.orders_part_1", use_synthetic_key=True, merge_shards=False),
        PipelineSpec("tpch.orders", use_synthetic_key=True),  # shard-merged
    ]
    CdcPipeline(spark, specs, sink).materialize_batch(events)

    p0 = sink.read(spark, "ORDERS_PART_0")
    p1 = sink.read(spark, "ORDERS_PART_1")
    merged = sink.read(spark, "ORDERS")
    assert p0.count() > 0 and p1.count() > 0
    assert p0.count() + p1.count() == merged.count()
    # shard membership respected: part_0 holds even order keys only
    assert p0.filter(F.col("o_orderkey") % 2 != 0).count() == 0


class _FailingSink(ParquetSnapshotSink):
    def __init__(self, root, fail_table):
        super().__init__(root)
        self.fail_table = fail_table

    def merge(self, changes, table, **kw):
        if table == self.fail_table:
            raise IOError(f"simulated write failure for {table}")
        return super().merge(changes, table, **kw)


def test_fail_on_write_error_default(spark, tmp_path):
    """S5 default (failOnWriteError=True, add_output.py:115): the batch
    aborts on the first failing table."""
    events = cdc_events_nested(spark, SF_SMOKE)
    sink = _FailingSink(str(tmp_path / "snap"), "ORDERS_PART_0")
    specs = [
        PipelineSpec("tpch.orders_part_0", use_synthetic_key=True, merge_shards=False),
        PipelineSpec("tpch.orders_part_1", use_synthetic_key=True, merge_shards=False),
    ]
    with pytest.raises(IOError, match="simulated write failure"):
        CdcPipeline(spark, specs, sink).materialize_batch(events)


def test_quarantine_mode(spark, tmp_path):
    """Permissive mode: the poisoned table is quarantined, the healthy
    table still materializes, the error is recorded."""
    events = cdc_events_nested(spark, SF_SMOKE)
    sink = _FailingSink(str(tmp_path / "snap"), "ORDERS_PART_0")
    qdir = str(tmp_path / "quarantine")
    specs = [
        PipelineSpec("tpch.orders_part_0", use_synthetic_key=True, merge_shards=False),
        PipelineSpec("tpch.orders_part_1", use_synthetic_key=True, merge_shards=False),
    ]
    pipe = CdcPipeline(
        spark, specs, sink, fail_on_write_error=False, quarantine_dir=qdir
    )
    pipe.materialize_batch(events, batch_id=7)

    assert sink.read(spark, "ORDERS_PART_1").count() > 0
    assert not sink.exists("ORDERS_PART_0")
    assert [(t, b) for t, b, _ in pipe.write_errors] == [("ORDERS_PART_0", 7)]
    quarantined = spark.read.parquet(f"{qdir}/ORDERS_PART_0/batch=7")
    assert quarantined.count() > 0
