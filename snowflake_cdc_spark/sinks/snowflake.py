"""Snowflake sink: staged bulk load + MERGE (SURVEY.md §2.1 S3-S5, §4 #1).

The reference's engine writes micro-batches through intermediate cloud
storage files "copied to Snowflake" (add_output.py:421 docstring,
cloudStorageConnection add_output.py:438) — i.e. stage + COPY INTO — and
applies upsert/delete semantics server-side. The Spark-native equivalent:

1. ``write_batch``: reduce the batch to latest-by-key (cuts MERGE input
   to ≤1 row/key), write it to a stage path as parquet — the sink owns
   the reduce, the same contract as ``ParquetSnapshotSink.merge``, so
   callers pass raw changes;
2. issue ``COPY INTO <staging table>`` then one ``MERGE INTO`` statement
   (WHEN MATCHED AND is_delete THEN DELETE / WHEN MATCHED THEN UPDATE /
   WHEN NOT MATCHED AND NOT is_delete THEN INSERT) over the staging table.

The live connection path needs the Snowflake Spark connector + a real
account, neither available here — so the connector import is optional and
every SQL statement is generated by pure functions that are unit-tested
without credentials. ``createTable=True`` (S4, add_output.py:117) maps to
``ensure_table_ddl``; ``failOnWriteError`` (S5, add_output.py:115) is the
default fail-the-query behavior, with a quarantine mode in the pipeline.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from snowflake_cdc_spark.operators.upsert import latest_by_key

try:  # pragma: no cover - connector not present in the test environment
    import snowflake.connector  # noqa: F401

    HAVE_SNOWFLAKE = True
except Exception:  # pragma: no cover
    HAVE_SNOWFLAKE = False

_SPARK_TO_SF = {
    T.LongType: "BIGINT",
    T.IntegerType: "BIGINT",
    T.ShortType: "BIGINT",
    T.DoubleType: "DOUBLE",
    T.FloatType: "DOUBLE",
    T.StringType: "VARCHAR",
    T.BooleanType: "BOOLEAN",
    T.TimestampType: "TIMESTAMP_NTZ",
    T.TimestampNTZType: "TIMESTAMP_NTZ",
    T.DateType: "DATE",
}


def sf_type(dt: T.DataType) -> str:
    if isinstance(dt, T.DecimalType):
        return f"NUMBER({dt.precision},{dt.scale})"
    if isinstance(dt, (T.ArrayType, T.MapType, T.StructType)):
        return "VARIANT"  # arrays → semi-structured (add_output.py:299-301)
    return _SPARK_TO_SF.get(type(dt), "VARCHAR")


def ensure_table_ddl(table: str, schema: T.StructType, key_cols: list[str]) -> str:
    """CREATE TABLE IF NOT EXISTS from the output StructType (S4).
    Identifiers upper-cased at the warehouse boundary (add_output.py:305,437).
    """
    cols = ",\n  ".join(f"{f.name.upper()} {sf_type(f.dataType)}" for f in schema.fields)
    pk = ""
    if key_cols:
        pk = f",\n  PRIMARY KEY ({', '.join(c.upper() for c in key_cols)})"
    return f"CREATE TABLE IF NOT EXISTS {table.upper()} (\n  {cols}{pk}\n)"


def copy_into_sql(staging_table: str, stage_path: str) -> str:
    """Staged bulk load: files → staging table (the reference's
    'copied to Snowflake' path, add_output.py:421)."""
    return (
        f"COPY INTO {staging_table.upper()} FROM '{stage_path}' "
        "FILE_FORMAT = (TYPE = PARQUET) MATCH_BY_COLUMN_NAME = CASE_INSENSITIVE"
    )


def merge_sql(
    target: str,
    staging: str,
    key_cols: list[str],
    data_cols: list[str],
    delete_col: str = "IS_DELETE",
    hard_delete: bool = True,
    logical_col: str = "IS_DELETED",
    seq_col: str = "SEQ",
    prefer_incoming_on_tie: bool = False,
) -> str:
    """The MERGE statement applying one micro-batch.

    The ``t.seq < s.seq`` guard makes the merge idempotent under replay:
    re-applying an already-applied batch matches every key but updates
    nothing (late/duplicate events lose the seq race, SURVEY.md §2.8).
    An E3 drift backfill passes ``prefer_incoming_on_tie=True`` (guard
    becomes ``<=``) so replayed seqs carrying newly added columns update
    the warehouse — mirroring the parquet sink's tie semantics.
    """
    tgt, stg = target.upper(), staging.upper()
    keys = [k.upper() for k in key_cols]
    on = " AND ".join(f"t.{k} = s.{k}" for k in keys)
    dcols = [c.upper() for c in data_cols]
    sets = ", ".join(f"t.{c} = s.{c}" for c in dcols if c not in keys)
    ins_cols = ", ".join(dcols)
    ins_vals = ", ".join(f"s.{c}" for c in dcols)
    op = "<=" if prefer_incoming_on_tie else "<"
    newer = f"t.{seq_col.upper()} {op} s.{seq_col.upper()}"
    if hard_delete:
        return (
            f"MERGE INTO {tgt} t USING {stg} s ON {on}\n"
            f"WHEN MATCHED AND s.{delete_col.upper()} AND {newer} THEN DELETE\n"
            f"WHEN MATCHED AND {newer} THEN UPDATE SET {sets}\n"
            f"WHEN NOT MATCHED AND NOT s.{delete_col.upper()} THEN INSERT ({ins_cols}) VALUES ({ins_vals})"
        )
    lsets = f"{sets}, t.{logical_col.upper()} = s.{delete_col.upper()}"
    return (
        f"MERGE INTO {tgt} t USING {stg} s ON {on}\n"
        f"WHEN MATCHED AND {newer} THEN UPDATE SET {lsets}\n"
        f"WHEN NOT MATCHED THEN INSERT ({ins_cols}, {logical_col.upper()}) "
        f"VALUES ({ins_vals}, s.{delete_col.upper()})"
    )


class SnowflakeMergeSink:
    """foreachBatch-compatible sink. Without a live connection it writes
    the stage files and records the SQL it *would* run (inspectable by
    tests); with one it executes them."""

    def __init__(
        self,
        stage_root: str,
        connection: object | None = None,
        database: str = "DB",
        schema: str = "PUBLIC",
    ) -> None:
        self.stage_root = stage_root
        self.connection = connection
        self.database = database
        self.schema = schema
        self.issued_sql: list[str] = []

    def _qualified(self, table: str) -> str:
        return f"{self.database}.{self.schema}.{table}".upper()

    def write_batch(
        self,
        changes: DataFrame,
        table: str,
        key_cols: list[str],
        batch_id: int,
        hard_delete: bool = True,
        prefer_incoming_on_tie: bool = False,
    ) -> list[str]:
        """Stage one batch of change rows (any number of versions per
        key, ordered by ``seq``) and return the COPY + MERGE statements
        that apply it. A MERGE needs at most one source row per key, so
        the batch is reduced here first."""
        latest = latest_by_key(changes, key_cols, "seq")
        stage_path = f"{self.stage_root}/{table.upper()}/batch={batch_id}"
        latest.write.mode("overwrite").parquet(stage_path)
        tgt = self._qualified(table)
        stg = self._qualified(f"{table}_STAGE")
        # Three distinct schemas are in play: the STAGE mirrors the batch
        # (incl. the IS_DELETE marker the MERGE predicates read); the
        # TARGET never stores the marker — hard mode deletes rows, logical
        # mode stores it transformed into an IS_DELETED column.
        data_cols = [c for c in latest.columns if c.lower() != "is_delete"]
        target_fields = [f for f in latest.schema.fields if f.name.lower() != "is_delete"]
        if not hard_delete:
            target_fields.append(T.StructField("is_deleted", T.BooleanType()))
        target_schema = T.StructType(target_fields)
        stmts = [
            ensure_table_ddl(tgt, target_schema, key_cols),
            ensure_table_ddl(stg, latest.schema, []).replace(
                "CREATE TABLE IF NOT EXISTS", "CREATE OR REPLACE TEMPORARY TABLE", 1
            ),
            copy_into_sql(stg, stage_path),
            merge_sql(
                tgt,
                stg,
                key_cols,
                data_cols,
                hard_delete=hard_delete,
                prefer_incoming_on_tie=prefer_incoming_on_tie,
            ),
        ]
        self.issued_sql.extend(stmts)
        if self.connection is not None:  # pragma: no cover
            cur = self.connection.cursor()
            for s in stmts:
                cur.execute(s)
        return stmts
