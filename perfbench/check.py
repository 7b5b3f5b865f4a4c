"""Independent correctness checks, run outside every timed window.

- CDC snapshots: DuckDB rebuilds each table's expected snapshot from the
  same landed envelope files (newest event per key by ``seq`` via
  ``arg_max``, joined back to its row since ``seq`` is unique, then the
  hard-delete filter) and the engine's
  ``sink.read`` is compared with it by row count and an
  order-insensitive hash.
- Query results: rows are canonicalized (columns sorted by name, values
  rendered exactly, rows sorted) and compared as lists.
"""

from __future__ import annotations

import math
from datetime import date, datetime
from decimal import Decimal

import duckdb


def _hash_sql(cols: list[str], rel: str) -> str:
    cols = sorted(cols)
    return (
        f"SELECT tbl, count(*) AS n, sum(hash({', '.join(cols)})::HUGEINT) AS h "
        f"FROM {rel} GROUP BY tbl"
    )


def expected_view(con: duckdb.DuckDBPyConnection, files: list[str], row_cols: list[str],
                  name: str = "expected") -> None:
    """Create temp table ``name``: every table's expected snapshot rows, with a
    ``tbl`` column holding the upper-cased target table name."""
    row = ", ".join(
        "coalesce(data.row.id, data.old_row.id) AS id" if c == "id" else f"data.row.{c} AS {c}"
        for c in row_cols
    )
    file_list = ", ".join(f"'{f}'" for f in files)
    con.execute(f"""
        CREATE OR REPLACE TEMP TABLE {name}_events AS
        SELECT upper(regexp_replace(data.table_name, '_part_[0-9]+$', '')) AS tbl,
               data.primary_key AS primary_key, seq,
               coalesce(data.metadata.is_delete, false) AS is_delete, {row}
        FROM read_parquet([{file_list}])
    """)
    con.execute(f"""
        CREATE OR REPLACE TEMP TABLE {name} AS
        SELECT e.* EXCLUDE (is_delete) FROM {name}_events e
        JOIN (SELECT arg_max(seq, seq) AS seq FROM {name}_events GROUP BY tbl, id) USING (seq)
        WHERE NOT e.is_delete
    """)


def snapshot_mismatches(spark, sink, tables: list[str], files: list[str],
                        row_cols: list[str]) -> list[str]:
    """Tables whose engine snapshot differs from the DuckDB rebuild
    (empty list = every table matches)."""
    from pyspark.sql import functions as F

    cols = ["primary_key", "seq", *row_cols]
    con = duckdb.connect()
    try:
        expected_view(con, files, row_cols)
        want = {r[0]: (r[1], r[2]) for r in con.execute(_hash_sql(cols, "expected")).fetchall()}
        bad = []
        frames = []
        for t in tables:
            df = sink.read(spark, t)
            if sorted(df.columns) != sorted(cols):
                bad.append(f"{t}: columns {sorted(df.columns)}")
                continue
            frames.append(df.select(F.lit(t).alias("tbl"), *cols))
        if frames:
            union = frames[0]
            for f in frames[1:]:
                union = union.unionByName(f)
            actual = union.toArrow()  # noqa: F841 - read by DuckDB below
            got = {r[0]: (r[1], r[2]) for r in con.execute(_hash_sql(cols, "actual")).fetchall()}
        else:
            got = {}
        for t in tables:
            if want.get(t, (0, None)) != got.get(t, (0, None)) and not any(
                b.startswith(f"{t}:") for b in bad
            ):
                bad.append(f"{t}: expected {want.get(t)} got {got.get(t)}")
        return bad
    finally:
        con.close()


def canon_cell(v) -> str:
    if v is None:
        return "<NULL>"
    if isinstance(v, float):
        return "<NaN>" if math.isnan(v) else repr(v)
    if isinstance(v, Decimal):
        return str(v.normalize())
    if isinstance(v, datetime):
        return v.replace(tzinfo=None).isoformat(timespec="microseconds")
    if isinstance(v, date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon_cell(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{canon_cell(x)}" for k, x in sorted(v.items())) + "}"
    return str(v)


def canon(cols: list[str], rows: list[tuple]) -> tuple[list[str], list[tuple]]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return (
        [cols[i] for i in order],
        sorted(tuple(canon_cell(r[i]) for i in order) for r in rows),
    )


def spark_rows(df) -> tuple[list[str], list[tuple]]:
    return canon(df.columns, [tuple(r) for r in df.collect()])


def duck_rows(con: duckdb.DuckDBPyConnection, sql: str) -> tuple[list[str], list[tuple]]:
    res = con.execute(sql)
    return canon([d[0] for d in res.description], res.fetchall())
