"""Source-udt → Spark type mapping.

Re-expresses the reference's two-level type system (``udt_map``,
/root/reference/add_output.py:43-57: a target DB type DbBigInt/DbString/
DbDouble/DbTimestamp/DbBoolean/DbDate/DbVariant plus an engine-native
number/string/boolean type) as a single mapping onto real Spark types.

Deliberate divergences from the reference (documented per SURVEY.md §1.2):

- ``timestamp/time/datetime/timestamptz`` → ``TimestampType`` and ``date``
  → ``DateType`` (the reference degrades temporals to epoch *numbers*,
  add_output.py:46,54-56 — we keep real temporal types).
- ``decimal/numeric/money`` → ``DecimalType(38, 9)`` by default (the
  reference is lossy: decimal → DbDouble, add_output.py:52-54). Pass
  ``lossy_decimals=True`` for reference-compatible doubles.
- Arrays: a leading ``_`` on the udt name marks an array
  (add_output.py:278-280); we produce ``ArrayType(element)`` instead of an
  opaque DbVariant (add_output.py:299-301).
- Unknown udt names fall back to string with a warning, matching
  add_output.py:283-285.
"""

from __future__ import annotations

import logging
from dataclasses import dataclass, field

from pyspark.sql import types as T

log = logging.getLogger(__name__)

# Target warehouse type tags, mirroring the reference's DB-type vocabulary
# (add_output.py:43-57). Kept so a Snowflake DDL generator can emit the
# same column types the reference would have.
DB_BIGINT = "DbBigInt"
DB_STRING = "DbString"
DB_DOUBLE = "DbDouble"
DB_DECIMAL = "DbNumber"  # our lossless extension; reference used DbDouble
DB_TIMESTAMP = "DbTimestamp"
DB_DATE = "DbDate"
DB_BOOLEAN = "DbBoolean"
DB_VARIANT = "DbVariant"


@dataclass(frozen=True)
class TypeInfo:
    """Resolved type for one source column."""

    spark_type: T.DataType
    db_type: str
    is_array: bool = False
    is_date: bool = False
    is_fallback: bool = False  # unknown udt mapped to string

    def with_array(self) -> "TypeInfo":
        return TypeInfo(
            spark_type=T.ArrayType(self.spark_type),
            db_type=DB_VARIANT,  # arrays land as semi-structured (add_output.py:299-301)
            is_array=True,
            is_date=self.is_date,
            is_fallback=self.is_fallback,
        )


_INT_UDTS = {"int2", "int4", "int", "int8", "bigint", "tinyint", "smallint"}
_DOUBLE_UDTS = {"double", "float", "float4", "float8"}
_DECIMAL_UDTS = {"decimal", "numeric", "money"}
_STRING_UDTS = {
    "varchar", "jsonb", "longtext", "mediumtext", "enum", "json",
    "bpchar", "text", "char",
}
_BOOL_UDTS = {"bool", "bit"}
_TS_UDTS = {"timestamp", "time", "datetime", "timestamptz"}
_DATE_UDTS = {"date"}


def resolve_udt(udt_name: str, lossy_decimals: bool = False) -> TypeInfo:
    """Map a source udt name to a Spark type.

    A leading ``_`` marks an array of the remaining udt
    (add_output.py:278-280); the ``[]`` path-suffix convention of the
    reference (add_output.py:355-357) is handled by the caller.
    """
    name = udt_name.strip().lower()
    if name.startswith("_"):
        return resolve_udt(name[1:], lossy_decimals).with_array()

    if name in _INT_UDTS:
        return TypeInfo(T.LongType(), DB_BIGINT)
    if name in _DOUBLE_UDTS:
        return TypeInfo(T.DoubleType(), DB_DOUBLE)
    if name in _DECIMAL_UDTS:
        if lossy_decimals:  # reference-compatible (add_output.py:52-54)
            return TypeInfo(T.DoubleType(), DB_DOUBLE)
        return TypeInfo(T.DecimalType(38, 9), DB_DECIMAL)
    if name in _STRING_UDTS:
        return TypeInfo(T.StringType(), DB_STRING)
    if name in _BOOL_UDTS:
        return TypeInfo(T.BooleanType(), DB_BOOLEAN)
    if name in _TS_UDTS:
        return TypeInfo(T.TimestampType(), DB_TIMESTAMP)
    if name in _DATE_UDTS:
        return TypeInfo(T.DateType(), DB_DATE, is_date=True)

    # Unknown types fall back to string with a warning (add_output.py:283-285).
    log.warning("unknown udt %r — falling back to string", udt_name)
    return TypeInfo(T.StringType(), DB_STRING, is_fallback=True)


@dataclass(frozen=True)
class ColumnSpec:
    """One output column: source path → typed target column.

    Mirrors the reference's ColInfo (add_output.py:26-34) + the mapping
    payloads AddRawField/SnowflakeAddDatabaseColumn (add_output.py:346-363,
    297-309). Identifiers are case-insensitive; the warehouse name is
    upper-cased at the boundary (add_output.py:305,363).
    """

    name: str
    udt_name: str
    is_primary_key: bool = False
    type_info: TypeInfo = field(default=None)  # resolved lazily

    def resolved(self, lossy_decimals: bool = False) -> "ColumnSpec":
        if self.type_info is not None:
            return self
        return ColumnSpec(
            name=self.name,
            udt_name=self.udt_name,
            is_primary_key=self.is_primary_key,
            type_info=resolve_udt(self.udt_name, lossy_decimals),
        )

    @property
    def source_path(self) -> str:
        """Path inside the CDC envelope; ``[]`` suffix marks arrays
        (add_output.py:355-357)."""
        suffix = "[]" if self.type_info and self.type_info.is_array else ""
        return f"data.row.{self.name}{suffix}"
