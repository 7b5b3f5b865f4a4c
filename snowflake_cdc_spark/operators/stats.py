"""Field statistics (SURVEY.md §2.4 A1/A2) — the reference's inspection
surface (value distributions add_output.py:524-525, first/last-seen
add_output.py:264-274) computed on demand with plain aggregations."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def value_distribution(df: DataFrame, field: str, take: int = 100_000) -> DataFrame:
    """Distinct values of ``field`` with counts, most frequent first —
    the discovery scan of add_output.py:524-534 (take=100000 lists tables;
    take=0 probes existence). Hash-aggregate with map-side combine; the
    limit happens after a single shuffle on the grouping key."""
    out = (
        df.groupBy(field)
        .agg(F.count(F.lit(1)).alias("count"))
        .orderBy(F.desc("count"), F.col(field))
    )
    return out.limit(take) if take > 0 else out.limit(0)


def first_last_seen(df: DataFrame, field: str, ts_col: str = "ts") -> DataFrame:
    """Earliest/latest event time at which ``field`` held data
    (add_output.py:264-274). Empty input → one row of NULLs (the reference
    crashes on this, TODO at add_output.py:272 — we don't)."""
    return df.filter(F.col(field).isNotNull()).agg(
        F.min(ts_col).alias("first_seen"), F.max(ts_col).alias("last_seen")
    )


def field_stats_report(
    df: DataFrame, fields: list[str], ts_col: str = "ts"
) -> DataFrame:
    """(field, val, cnt, first_seen, last_seen) — A1 and A2 for several
    fields at once: one stack + one map-side-combined aggregation.
    Dotted names are nested-struct paths; NULL values are absent by the
    first/last-seen contract (a field "holds data" when non-null)."""
    n = len(fields)
    pairs = ", ".join(
        f"'{f}', CAST({f if '.' in f else '`' + f + '`'} AS STRING)"
        for f in fields
    )
    stacked = df.select(
        F.expr(f"stack({n}, {pairs})").alias("field", "val"),
        F.col(ts_col).alias("__ts"),
    ).filter(F.col("val").isNotNull())
    return stacked.groupBy("field", "val").agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt"),
        F.min("__ts").alias("first_seen"),
        F.max("__ts").alias("last_seen"),
    )
