"""S3 e2e (round-3): the generated Snowflake COPY/MERGE SQL is *executed*
against DuckDB as a stand-in warehouse — not just string-asserted — and
the resulting warehouse snapshot must equal the relational
``operators/upsert.py`` materialization for BOTH delete strategies, plus
stay fixed under batch replay (the idempotency the ``t.SEQ < s.SEQ``
guard promises).

Reference semantics under test: staged COPY + MERGE delete strategies
(add_output.py:421-448, 138-150).
"""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from snowflake_cdc_spark.operators.upsert import (
    snapshot_hard_delete,
    snapshot_logical_delete,
)
from snowflake_cdc_spark.sinks.duckdb_shim import execute_snowflake_sql
from snowflake_cdc_spark.sinks.snowflake import SnowflakeMergeSink
from snowflake_cdc_spark.sources.cdc import cdc_events_flat
from tests.conftest import SF_SMOKE

DATA_COLS = ["primary_key", "seq", "is_delete", "row_o_orderkey", "row_o_orderstatus", "row_o_totalprice"]


@pytest.fixture(scope="module")
def batches(spark):
    """The CDC fixture's natural 3-batch lifecycle: all inserts, then all
    updates, then all deletes (seq ranges are disjoint in that order)."""
    log = cdc_events_flat(spark, SF_SMOKE).select(*DATA_COLS).persist()
    ops = cdc_events_flat(spark, SF_SMOKE).select("seq", "op")
    split = log.join(ops, "seq")
    return log, [
        split.filter(F.col("op") == op).drop("op") for op in ("insert", "update", "delete")
    ]


def _warehouse_rows(con, table):
    cols = [d[0].lower() for d in con.execute(f"SELECT * FROM {table} LIMIT 0").description]
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    rows = con.execute(f"SELECT * FROM {table}").fetchall()
    return sorted(tuple(r[i] for i in order) for r in rows), sorted(cols)


def _spark_rows(df):
    cols = sorted(df.columns)
    return sorted(tuple(r[c] for c in cols) for r in df.collect()), cols


def _run_batches(spark, tmp_path, batch_dfs, hard_delete):
    con = duckdb.connect()
    sink = SnowflakeMergeSink(str(tmp_path / ("hard" if hard_delete else "logical")))
    for i, b in enumerate(batch_dfs):
        stmts = sink.write_batch(
            b.select(*DATA_COLS), "orders_snap", ["primary_key"], batch_id=i,
            hard_delete=hard_delete,
        )
        execute_snowflake_sql(con, stmts)
    return con, sink


def test_hard_delete_sql_matches_relational_merge(spark, tmp_path, batches):
    log, batch_dfs = batches
    con, sink = _run_batches(spark, tmp_path, batch_dfs, hard_delete=True)
    got, got_cols = _warehouse_rows(con, "ORDERS_SNAP")
    want, want_cols = _spark_rows(
        snapshot_hard_delete(log, ["primary_key"], "seq")
    )
    assert got_cols == want_cols
    assert got == want
    # replay the final batch verbatim: the seq guard must make it a no-op
    last = batch_dfs[-1].select(*DATA_COLS)
    stmts = sink.write_batch(last, "orders_snap", ["primary_key"], batch_id=99, hard_delete=True)
    execute_snowflake_sql(con, stmts)
    assert _warehouse_rows(con, "ORDERS_SNAP")[0] == got


def test_logical_delete_sql_matches_relational_merge(spark, tmp_path, batches):
    log, batch_dfs = batches
    con, _ = _run_batches(spark, tmp_path, batch_dfs, hard_delete=False)
    got, got_cols = _warehouse_rows(con, "ORDERS_SNAP")
    want, want_cols = _spark_rows(
        snapshot_logical_delete(log, ["primary_key"], "seq")
    )
    assert got_cols == want_cols
    assert got == want


@pytest.mark.parametrize("hard_delete", [True, False])
def test_write_batch_reduces_unreduced_batches(spark, tmp_path, batches, hard_delete):
    """The sink owns the reduce (the merge contract it shares with
    ``ParquetSnapshotSink.merge``): raw batches holding several versions
    of a key — inserts and updates together, then the deletes — land
    the same warehouse as the relational snapshot of the full log."""
    log, (inserts, updates, deletes) = batches
    raw = [inserts.unionByName(updates), deletes]
    assert raw[0].count() > raw[0].select("primary_key").distinct().count()
    con, _ = _run_batches(spark, tmp_path, raw, hard_delete)
    got, got_cols = _warehouse_rows(con, "ORDERS_SNAP")
    snapshot = snapshot_hard_delete if hard_delete else snapshot_logical_delete
    want, want_cols = _spark_rows(snapshot(log, ["primary_key"], "seq"))
    assert got_cols == want_cols
    assert got == want


def test_out_of_order_batch_cannot_regress(spark, tmp_path, batches):
    """Applying batches newest-first: older batches lose every seq race, so
    the snapshot equals the newest state that their keys ever reached —
    exactly what the relational merge computes over the full log."""
    log, batch_dfs = batches
    con, _ = _run_batches(spark, tmp_path, list(reversed(batch_dfs)), hard_delete=False)
    got, _ = _warehouse_rows(con, "ORDERS_SNAP")
    want, _ = _spark_rows(snapshot_logical_delete(log, ["primary_key"], "seq"))
    assert got == want


def test_streaming_foreachbatch_to_warehouse(spark, tmp_path, batches):
    """Round 4: the same generated COPY/MERGE SQL driven by a REAL
    Structured Streaming query — foreachBatch stages each micro-batch
    and executes the statements on the (driver-side) warehouse
    connection; the final warehouse equals the relational merge of the
    full log, independent of how the source files split into
    micro-batches."""
    log, _ = batches
    src = str(tmp_path / "flat")
    log.withColumn("__s", F.pmod(F.hash("primary_key"), F.lit(5))).repartition(
        5, "__s"
    ).drop("__s").write.parquet(src)

    con = duckdb.connect()
    sink = SnowflakeMergeSink(str(tmp_path / "stage"))

    def to_warehouse(batch_df, batch_id):
        stmts = sink.write_batch(
            batch_df, "orders_snap", ["primary_key"],
            batch_id=batch_id, hard_delete=True,
        )
        execute_snowflake_sql(con, stmts)

    q = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .writeStream.foreachBatch(to_warehouse)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    got, got_cols = _warehouse_rows(con, "ORDERS_SNAP")
    want, want_cols = _spark_rows(
        snapshot_hard_delete(log.select(*DATA_COLS), ["primary_key"], "seq")
    )
    assert got_cols == want_cols
    assert got == want
