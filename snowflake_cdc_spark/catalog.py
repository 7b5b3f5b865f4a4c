"""Column catalog: authoritative per-table column metadata.

The reference sources column lists from a live MySQL
``information_schema.columns`` query (add_output.py:318-327) or a CSV file
of ``full_table_name,column_name,udt_name,is_primary_key`` rows
(README.md:42, add_output.py:102-103, 329-332). We support both, plus a
static in-memory catalog for tests. Identifiers compare case-insensitively
(add_output.py:189).
"""

from __future__ import annotations

import csv
import io
from dataclasses import dataclass

from pyspark.sql import SparkSession

from snowflake_cdc_spark.typemap import ColumnSpec


@dataclass
class TableMeta:
    full_table_name: str
    columns: list[ColumnSpec]

    @property
    def primary_key_columns(self) -> list[str]:
        return [c.name for c in self.columns if c.is_primary_key]


class Catalog:
    """In-memory catalog keyed by lower-cased full table name."""

    def __init__(self) -> None:
        self._tables: dict[str, TableMeta] = {}

    def put(self, meta: TableMeta) -> None:
        self._tables[meta.full_table_name.lower()] = meta

    def get(self, full_table_name: str) -> TableMeta:
        return self._tables[full_table_name.lower()]

    def __contains__(self, full_table_name: str) -> bool:
        return full_table_name.lower() in self._tables

    def tables(self) -> list[str]:
        """Original-case table names (lookups are case-insensitive, but
        consumers — e.g. the demux filter, which compares data VALUES —
        need the name as the source spells it)."""
        return sorted(m.full_table_name for m in self._tables.values())

    # ---- loaders -------------------------------------------------------

    @classmethod
    def from_columns_csv(cls, path_or_text: str, lossy_decimals: bool = False) -> "Catalog":
        """Load from the reference's columns-file format (README.md:42):
        ``full_table_name,column_name,udt_name,is_primary_key`` (no header).
        """
        if "\n" in path_or_text:
            text = path_or_text
        else:
            with open(path_or_text, newline="") as fh:
                text = fh.read()
        cat = cls()
        rows: dict[str, list[ColumnSpec]] = {}
        for rec in csv.reader(io.StringIO(text)):
            if not rec or not rec[0].strip():
                continue
            table, col, udt, is_pk = (s.strip() for s in rec[:4])
            rows.setdefault(table, []).append(
                ColumnSpec(name=col, udt_name=udt,
                           is_primary_key=is_pk.lower() in ("true", "1", "yes"))
                .resolved(lossy_decimals)
            )
        for table, cols in rows.items():
            cat.put(TableMeta(full_table_name=table, columns=cols))
        return cat

    @classmethod
    def from_information_schema_jdbc(
        cls,
        spark: SparkSession,
        jdbc_url: str,
        schema: str,
        properties: dict[str, str] | None = None,
        lossy_decimals: bool = False,
    ) -> "Catalog":
        """Load from a source database's information_schema over JDBC.

        Spark-native equivalent of the reference's pymysql query
        (add_output.py:318-327): name, data_type, primary-key flag, in
        ordinal order. Requires a JDBC driver jar on the classpath; kept
        import-optional for the test environment.
        """
        query = (
            "(SELECT CONCAT(table_schema, '.', table_name) AS full_table_name, "
            "column_name, data_type AS udt_name, "
            "(column_key = 'PRI') AS is_primary_key, ordinal_position "
            f"FROM information_schema.columns WHERE table_schema = '{schema}') AS cols"
        )
        reader = (
            spark.read.format("jdbc")
            .option("url", jdbc_url)
            .option("dbtable", query)
        )
        for k, v in (properties or {}).items():
            reader = reader.option(k, v)
        rows = reader.load().orderBy("full_table_name", "ordinal_position").collect()
        return cls.from_information_schema_rows(rows, lossy_decimals)

    @classmethod
    def from_information_schema_rows(
        cls, rows, lossy_decimals: bool = False
    ) -> "Catalog":
        """Build a catalog from ``information_schema.columns``-shaped rows
        (mappings with full_table_name / column_name / udt_name /
        is_primary_key, already in ordinal order). Shared by the JDBC
        loader and contract tests, so the JDBC row handling is exercised
        without a live database."""
        cat = cls()
        grouped: dict[str, list[ColumnSpec]] = {}
        for r in rows:
            grouped.setdefault(r["full_table_name"], []).append(
                ColumnSpec(
                    name=r["column_name"],
                    udt_name=r["udt_name"],
                    is_primary_key=bool(r["is_primary_key"]),
                ).resolved(lossy_decimals)
            )
        for table, cols in grouped.items():
            cat.put(TableMeta(full_table_name=table, columns=cols))
        return cat
