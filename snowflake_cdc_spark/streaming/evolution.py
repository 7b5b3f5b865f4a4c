"""Schema drift: detect / widen / backfill (SURVEY.md §2.7 E1-E3).

The reference's drift loop (check_and_update_output,
add_output.py:154-206): list current output columns, diff against the
source catalog case-insensitively (add_output.py:188-189), add each
missing column in edit mode, then redeploy from
``AtTime(earliest_first_seen - 1min)`` so history backfills
(add_output.py:656, 660-667).

Spark-native translation:
- E1 detect: compare catalog columns vs the materialized snapshot schema
  (case-insensitive set diff);
- E2 widen: the parquet sink widens automatically on the next merge via
  ``unionByName(allowMissingColumns=True)`` (Snowflake: ALTER TABLE ADD
  COLUMN, emitted by ``widen_ddl``);
- E3 backfill: bounded batch re-run over the raw landed events filtered
  to ``seq/event_time >= first_seen - pad`` — a stream can't mutate its
  plan mid-flight (SURVEY.md §7 hard-point 3), so the controller restarts
  the stream after the backfill completes.
"""

from __future__ import annotations

from datetime import timedelta

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from snowflake_cdc_spark.catalog import TableMeta
from snowflake_cdc_spark.sinks.parquet_sink import ParquetSnapshotSink
from snowflake_cdc_spark.streaming.pipeline import CdcPipeline


def detect_new_columns(meta: TableMeta, target_schema_names: list[str]) -> list[str]:
    """E1: source-catalog columns missing from the target, compared
    case-insensitively (add_output.py:188-189)."""
    existing = {c.lower() for c in target_schema_names}
    return [c.name for c in meta.columns if c.name.lower() not in existing]


def widen_ddl(table: str, new_columns: list[tuple[str, str]]) -> list[str]:
    """E2 for a warehouse target: ALTER TABLE ADD COLUMN statements
    (identifier upper-casing per add_output.py:305)."""
    return [
        f"ALTER TABLE {table.upper()} ADD COLUMN IF NOT EXISTS {name.upper()} {sf_type}"
        for name, sf_type in new_columns
    ]


def backfill(
    spark: SparkSession,
    pipeline: CdcPipeline,
    raw_path: str,
    first_seen,
    ts_col: str = "event_time",
    pad_minutes: int = 1,
    partitioned_zone: bool = False,
    seq_bucket_size: int = 1_000_000,
) -> None:
    """E3: bounded re-run from first_seen − pad (add_output.py:656).

    Replays raw events through the same idempotent merge — rows already
    at their newest state are untouched (seq guard); rows predating the
    drift gain the new column's values.

    ``partitioned_zone=True`` for zones landed by
    ``sources.raw_zone.land_raw_zone``: the time horizon is first
    translated to a seq horizon (seq is the binlog position — monotone
    with event time) with a cheap two-column scan, then the wide replay
    read prunes whole seq-bucket partitions instead of row-filtering the
    full zone — at 100 TB the replay reads only the tail buckets.
    """
    if first_seen is None:
        start = None
    else:
        start = first_seen - timedelta(minutes=pad_minutes)

    if partitioned_zone and start is not None:
        from snowflake_cdc_spark.sources.raw_zone import read_raw_zone

        min_seq_row = (
            spark.read.parquet(raw_path)
            .filter(F.col(ts_col) >= F.lit(start))
            .agg(F.min("seq").alias("s"))
            .collect()[0]
        )
        if min_seq_row["s"] is None:
            return  # nothing landed at or after the horizon
        events = read_raw_zone(
            spark, raw_path, min_seq=int(min_seq_row["s"]),
            seq_bucket_size=seq_bucket_size,
        ).filter(F.col(ts_col) >= F.lit(start))
    else:
        events = spark.read.option("mergeSchema", "true").parquet(raw_path)
        if start is not None:
            events = events.filter(F.col(ts_col) >= F.lit(start))
    # replayed seqs carry newly-discovered columns: they must beat the
    # already-stored rows at equal seq
    pipeline.materialize_batch(events, prefer_incoming_on_tie=True)


def reconcile(
    spark: SparkSession,
    pipeline: CdcPipeline,
    sink: ParquetSnapshotSink,
    meta: TableMeta,
    target_table: str,
    raw_path: str,
    ts_col: str | None = None,
) -> list[str]:
    """The full E1→E2→E3 loop for one table. Returns the new columns
    found (empty → nothing to do, matching check_and_update_output's
    no-op path)."""
    target_cols = (
        sink.read(spark, target_table).columns if sink.exists(target_table) else []
    )
    new_cols = detect_new_columns(meta, target_cols)
    if not new_cols:
        return []
    # pre-drift files lack the new column: schema-merge the raw zone
    raw = spark.read.option("mergeSchema", "true").parquet(raw_path)
    usable = []
    if ts_col:  # first-seen probes scan the raw zone — only pay when a
        # bounded backfill is actually possible, and probe ALL new columns
        # in ONE aggregation job (k separate min() scans would multiply
        # reconciliation I/O by k)
        row_fields = {f.name.lower() for f in raw.schema["data"].dataType["row"].dataType.fields}
        probeable = [c for c in new_cols if c.lower() in row_fields]
        if probeable:
            agg_row = raw.agg(
                *[
                    F.min(
                        F.when(F.col(f"data.row.{c}").isNotNull(), F.col(ts_col))
                    ).alias(c)
                    for c in probeable
                ]
            ).collect()[0]
            usable = [agg_row[c] for c in probeable if agg_row[c] is not None]
    if ts_col and usable:
        backfill(spark, pipeline, raw_path, min(usable), ts_col)
    else:
        # no event-time column or unknown first-seen: replay everything
        # (InputStart); replayed seqs with new columns beat stored rows
        pipeline.materialize_batch(raw, prefer_incoming_on_tie=True)
    # E2 for columns no event carries yet: the reference ALTERs the target
    # immediately (add_output.py:198-199) and values stay NULL until data
    # arrives — mirror that by widening the snapshot schema explicitly
    # (the data-driven unionByName widen can only see columns present in
    # the raw zone).
    snap = sink._read_raw(spark, target_table)  # keep tombstones intact
    still_missing = [c for c in new_cols if c.lower() not in {x.lower() for x in snap.columns}]
    if still_missing:
        by_name = {c.name: c for c in meta.columns}
        for c in still_missing:
            spec = by_name[c].resolved()
            snap = snap.withColumn(c, F.lit(None).cast(spec.type_info.spark_type))
        sink.overwrite(snap, target_table)
    return new_cols
