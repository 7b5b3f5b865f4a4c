"""Schema drift E1-E3 (SURVEY.md §5.4, FIXTURES.md §C): a column appears
mid-stream; assert detect → widen → backfill, including the seq-tie
subtlety (a backfill replays already-applied events that now carry the
new column — the richer version must win)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from snowflake_cdc_spark.catalog import Catalog
from snowflake_cdc_spark.plans.spec import DeleteStrategy, PipelineSpec
from snowflake_cdc_spark.sinks.parquet_sink import ParquetSnapshotSink
from snowflake_cdc_spark.sources.cdc import cdc_events_nested
from snowflake_cdc_spark.streaming.evolution import (
    detect_new_columns,
    reconcile,
    widen_ddl,
)
from snowflake_cdc_spark.streaming.pipeline import CdcPipeline
from tests.conftest import SF_SMOKE

COLUMNS_CSV = """\
tpch.orders,o_orderkey,bigint,true
tpch.orders,o_custkey,bigint,false
tpch.orders,o_orderstatus,varchar,false
tpch.orders,o_totalprice,decimal,false
tpch.orders,o_orderdate,datetime,false
tpch.orders,o_orderpriority,varchar,false
tpch.orders,o_comment,varchar,false
"""


@pytest.fixture(scope="module")
def drift_raw(spark, tmp_path_factory):
    """Raw zone in two generations: events with seq < median lack
    o_comment entirely (file schema, not just NULLs); later events carry
    it (FIXTURES.md §C)."""
    path = str(tmp_path_factory.mktemp("drift_raw"))
    events = cdc_events_nested(spark, SF_SMOKE)
    median = events.agg(F.expr("percentile_approx(seq, 0.5)")).collect()[0][0]

    # two explicit generations: reading gen0 alone is schema-deterministic
    # (a bare read of the mixed root picks an arbitrary file's schema)
    pre = events.filter(F.col("seq") < median)
    pre.coalesce(2).write.mode("overwrite").parquet(f"{path}/gen0")

    post = events.filter(F.col("seq") >= median)
    with_comment = post.select(
        F.struct(
            F.col("data.database_name").alias("database_name"),
            F.col("data.table_name").alias("table_name"),
            F.col("data.full_table_name").alias("full_table_name"),
            F.col("data.primary_key").alias("primary_key"),
            F.when(
                F.col("data.row").isNotNull(),
                F.struct(
                    "data.row.o_orderkey", "data.row.o_custkey",
                    "data.row.o_orderstatus", "data.row.o_totalprice",
                    "data.row.o_orderdate", "data.row.o_orderpriority",
                    F.concat(F.lit("comment-"), F.col("data.primary_key")).alias("o_comment"),
                ),
            ).alias("row"),
            F.when(
                F.col("data.old_row").isNotNull(),
                F.struct(
                    "data.old_row.o_orderkey", "data.old_row.o_custkey",
                    "data.old_row.o_orderstatus", "data.old_row.o_totalprice",
                    "data.old_row.o_orderdate", "data.old_row.o_orderpriority",
                    F.lit(None).cast("string").alias("o_comment"),
                ),
            ).alias("old_row"),
            F.col("data.metadata").alias("metadata"),
        ).alias("data"),
        "seq",
    )
    with_comment.coalesce(2).write.mode("overwrite").parquet(f"{path}/gen1")
    return f"{path}/gen*", int(median)


def make_pipeline(spark, tmp_path):
    sink = ParquetSnapshotSink(str(tmp_path / "snap"))
    spec = PipelineSpec(
        full_table_name="tpch.orders",
        use_synthetic_key=True,
        delete_strategy=DeleteStrategy.HARD,
    )
    return CdcPipeline(spark, [spec], sink), sink


def test_e1_detect_and_ddl(spark, drift_raw, tmp_path):
    path, median = drift_raw
    pipe, sink = make_pipeline(spark, tmp_path)
    # materialize only the pre-drift generation (no o_comment anywhere)
    pre = spark.read.parquet(path.replace("gen*", "gen0"))
    pipe.materialize_batch(pre)
    assert "o_comment" not in sink.read(spark, "ORDERS").columns

    meta = Catalog.from_columns_csv(COLUMNS_CSV).get("tpch.orders")
    new = detect_new_columns(meta, sink.read(spark, "ORDERS").columns)
    assert new == ["o_comment"]
    ddl = widen_ddl("orders", [("o_comment", "VARCHAR")])
    assert ddl == ["ALTER TABLE ORDERS ADD COLUMN IF NOT EXISTS O_COMMENT VARCHAR"]


def test_e2_e3_widen_and_backfill(spark, drift_raw, tmp_path):
    path, median = drift_raw
    pipe, sink = make_pipeline(spark, tmp_path)
    # generation 1: pre-drift events only
    pre = spark.read.parquet(path.replace("gen*", "gen0"))
    pipe.materialize_batch(pre)

    meta = Catalog.from_columns_csv(COLUMNS_CSV).get("tpch.orders")
    new = reconcile(spark, pipe, sink, meta, "ORDERS", path)
    assert new == ["o_comment"]

    snap = sink.read(spark, "ORDERS")
    assert "o_comment" in snap.columns  # E2 widened
    # every surviving key whose newest change is post-drift has a comment
    post_keys = snap.filter(F.col("seq") >= median)
    n_post = post_keys.count()
    assert n_post > 0
    assert post_keys.filter(F.col("o_comment").isNull()).count() == 0
    # pre-drift-only keys stay NULL (column appeared later in their history)
    assert snap.filter(F.col("seq") < median).filter(
        F.col("o_comment").isNotNull()
    ).count() == 0


def test_seq_tie_backfill_wins(spark, drift_raw, tmp_path):
    """Replaying the SAME seq with richer data must replace the stored
    row — the E3 tie-break (incoming > stored at equal seq)."""
    path, median = drift_raw
    pipe, sink = make_pipeline(spark, tmp_path)
    # apply post-drift events WITHOUT the comment column first (simulates
    # pre-widen processing of the same binlog range)
    post_stripped = cdc_events_nested(spark, SF_SMOKE).filter(F.col("seq") >= median)
    pipe.materialize_batch(post_stripped)
    before = sink.read(spark, "ORDERS")
    assert "o_comment" not in before.columns

    # replay the same seq range, now carrying o_comment — an E3 backfill,
    # which explicitly opts into incoming-wins-ties
    post_rich = spark.read.option("mergeSchema", "true").parquet(path).filter(
        F.col("seq") >= median
    )
    pipe.materialize_batch(post_rich, prefer_incoming_on_tie=True)
    after = sink.read(spark, "ORDERS")
    assert "o_comment" in after.columns
    assert after.filter(F.col("o_comment").isNull()).count() == 0


def test_e3_scanned_first_seen_bounds_the_backfill(
    spark, drift_raw, tmp_path, monkeypatch
):
    """With an event-time column, reconcile finds the drifted column's
    first-seen time with one scan of the raw zone and backfills only
    from there (minus the pad). The snapshot equals the one a full
    InputStart replay of the same zone produces."""
    from datetime import datetime

    from snowflake_cdc_spark.streaming import evolution

    path, median = drift_raw
    base = datetime(2024, 1, 1)
    zone = str(tmp_path / "zone")
    spark.read.option("mergeSchema", "true").parquet(path).withColumn(
        "event_time", F.lit(base) + F.make_interval(secs=F.col("seq").cast("double"))
    ).coalesce(2).write.parquet(zone)

    horizons = []
    real_backfill = evolution.backfill

    def spy(spark_, pipeline, raw_path, first_seen, ts_col, **kw):
        horizons.append(first_seen)
        return real_backfill(spark_, pipeline, raw_path, first_seen, ts_col, **kw)

    monkeypatch.setattr(evolution, "backfill", spy)

    def run(name, ts_col):
        pipe, sink = make_pipeline(spark, tmp_path / name)
        pipe.materialize_batch(spark.read.parquet(path.replace("gen*", "gen0")))
        meta = Catalog.from_columns_csv(COLUMNS_CSV).get("tpch.orders")
        new = reconcile(spark, pipe, sink, meta, "ORDERS", zone, ts_col=ts_col)
        assert new == ["o_comment"]
        return sink.read(spark, "ORDERS")

    bounded = run("bounded", "event_time")
    full = run("full", None)

    ev = spark.read.parquet(zone)
    first_comment = (
        ev.filter(F.col("data.row.o_comment").isNotNull())
        .agg(F.min("event_time"))
        .first()[0]
    )
    assert horizons == [first_comment]
    assert first_comment > ev.agg(F.min("event_time")).first()[0]

    cols = sorted(bounded.columns)
    assert cols == sorted(full.columns)
    key = lambda t: tuple((v is None, v) for v in t)  # noqa: E731
    assert sorted(map(tuple, bounded.select(cols).collect()), key=key) == sorted(
        map(tuple, full.select(cols).collect()), key=key
    )
