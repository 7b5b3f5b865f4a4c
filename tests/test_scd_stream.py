"""SCD2 history over a change stream landed in micro-batches: each batch
is merged into a seq-keyed change-log table of the versioned sink, and
the history rebuilt from that log (operators/scd.py) is published as the
table's next version (``conftest.scd2_land_batch``). The published
history must equal the batch operator's full-log rebuild — including
out-of-order arrivals that land BETWEEN existing versions and
re-deliveries that collapse into existing runs."""

from __future__ import annotations

import random

from conftest import scd2_land_batch
from pyspark.sql import Row
from pyspark.sql import functions as F

from snowflake_cdc_spark.operators.scd import scd2_from_changes
from snowflake_cdc_spark.sinks.parquet_sink import ParquetSnapshotSink

SCHEMA = "k int, v string, ts int, seq long"


def _log(n_keys=6, n_changes=60, seed=7):
    rng = random.Random(seed)
    rows = []
    for seq in range(n_changes):
        rows.append(
            Row(
                k=rng.randrange(n_keys),
                v=rng.choice(["a", "b", "c"]),
                ts=rng.randrange(20),
                seq=seq,
            )
        )
    return rows


def _canon(df):
    return sorted(
        (r.k, r.v, r.valid_from, r.valid_to, r.is_current)
        for r in df.select("k", "v", "valid_from", "valid_to", "is_current").collect()
    )


def _sink(tmp_path):
    return ParquetSnapshotSink(str(tmp_path / "hist"))


def _land(sink, batch):
    return scd2_land_batch(sink, batch, "dim", ["k"], "v", "ts", "seq")


def test_multi_batch_equals_full_rebuild(spark, tmp_path):
    rows = _log()
    sink = _sink(tmp_path)
    # arbitrary batch split — includes interleaved/out-of-order timestamps
    for lo in range(0, len(rows), 17):
        _land(sink, spark.createDataFrame(rows[lo : lo + 17], SCHEMA))
    full = scd2_from_changes(
        spark.createDataFrame(rows, SCHEMA), ["k"], "v", "ts", "seq"
    )
    assert _canon(sink.read(spark, "dim")) == _canon(full)


def test_late_event_splits_an_existing_run(spark, tmp_path):
    sink = _sink(tmp_path)
    b1 = [Row(k=1, v="a", ts=10, seq=0), Row(k=1, v="a", ts=30, seq=1)]
    _land(sink, spark.createDataFrame(b1, SCHEMA))
    # late arrival at ts=20 with a DIFFERENT value splits the single
    # a-run into a(10..20) b(20..30) a(30..) — the ts=30 change was
    # collapsed invisible in the dimension, only the LOG can re-open it
    _land(sink, spark.createDataFrame([Row(k=1, v="b", ts=20, seq=2)], SCHEMA))
    assert _canon(sink.read(spark, "dim")) == [
        (1, "a", 10, 20, False),
        (1, "a", 30, None, True),
        (1, "b", 20, 30, False),
    ]


def test_late_equal_value_collapses_silently(spark, tmp_path):
    sink = _sink(tmp_path)
    _land(sink, spark.createDataFrame([Row(k=1, v="a", ts=10, seq=0)], SCHEMA))
    _land(sink, spark.createDataFrame([Row(k=1, v="a", ts=20, seq=1)], SCHEMA))
    assert _canon(sink.read(spark, "dim")) == [(1, "a", 10, None, True)]


def test_untouched_keys_pass_through(spark, tmp_path):
    sink = _sink(tmp_path)
    _land(
        sink,
        spark.createDataFrame(
            [Row(k=1, v="a", ts=10, seq=0), Row(k=2, v="x", ts=10, seq=1)], SCHEMA
        ),
    )
    v_before = sink.current_version("dim")
    _land(sink, spark.createDataFrame([Row(k=2, v="y", ts=20, seq=2)], SCHEMA))
    snap = sink.read(spark, "dim")
    assert _canon(snap.filter(F.col("k") == 1)) == [(1, "a", 10, None, True)]
    assert _canon(snap.filter(F.col("k") == 2)) == [
        (2, "x", 10, 20, False),
        (2, "y", 20, None, True),
    ]
    assert sink.current_version("dim") == v_before + 1  # versioned flip


def test_streaming_runner_parity(spark, tmp_path):
    """End-to-end through readStream/foreachBatch (availableNow)."""
    rows = _log(n_keys=4, n_changes=30, seed=11)
    src = str(tmp_path / "src")
    spark.createDataFrame(rows, SCHEMA).repartition(3).write.mode(
        "overwrite"
    ).parquet(src)
    sink = _sink(tmp_path)
    stream = spark.readStream.schema(SCHEMA).option(
        "maxFilesPerTrigger", 1
    ).parquet(src)
    q = (
        stream.writeStream.foreachBatch(lambda df, _bid: _land(sink, df))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    assert q.exception() is None
    full = scd2_from_changes(
        spark.createDataFrame(rows, SCHEMA), ["k"], "v", "ts", "seq"
    )
    assert _canon(sink.read(spark, "dim")) == _canon(full)


def test_replayed_batch_is_idempotent(spark, tmp_path):
    """foreachBatch may re-deliver a batch after a crash-restart: the
    seq-keyed merge into the change log makes the replay a no-op."""
    sink = _sink(tmp_path)
    b = spark.createDataFrame(
        [Row(k=1, v="a", ts=10, seq=0), Row(k=1, v="b", ts=20, seq=1)], SCHEMA
    )
    _land(sink, b)
    before = _canon(sink.read(spark, "dim"))
    log_before = sink.read(spark, "dim__log").count()
    _land(sink, b)  # replay of the SAME batch
    assert _canon(sink.read(spark, "dim")) == before
    assert sink.read(spark, "dim__log").count() == log_before
