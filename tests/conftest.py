"""Shared fixtures: one SparkSession per test session + the DuckDB-oracle
comparator (SURVEY.md §5 step 0 — the harness precedes the engine).

The comparator mimics the driver's t2 gate: run the Spark query and the
oracle SQL over the identical parquet files, sort columns by name, compare
canonicalized values order-insensitively.
"""

from __future__ import annotations

import math
import os
from datetime import date, datetime
from decimal import Decimal

import duckdb
import pytest
from hypothesis import HealthCheck, settings
from hypothesis.database import DirectoryBasedExampleDatabase

from snowflake_cdc_spark.engine import TPCH_TABLES
from snowflake_cdc_spark.session import get_spark

# --------------------------------------------------------------------------
# Hypothesis: reproducible-by-default property testing (VERDICT r04 #2).
#
# "ci" (default): derandomize=True — the same examples every run, so two
# green runs mean the same thing (derandomize forces database=None;
# known counterexamples are instead pinned FOREVER as explicit @example
# decorators on the tests — committed in code, not in a DB).
# "soak": HYPOTHESIS_PROFILE=soak — fresh random exploration with a high
# example budget for the fuzzed operators; failures it finds are saved
# into the committed example database and promoted to @example pins.
# --------------------------------------------------------------------------
_HYP_DB = DirectoryBasedExampleDatabase(
    os.path.join(os.path.dirname(__file__), ".hypothesis_examples")
)
_HYP_COMMON = dict(
    deadline=None,
    suppress_health_check=list(HealthCheck),
    print_blob=True,
)
# ci: max_examples=1 is a SENTINEL floor — every property test sets its
# own budget via prop_settings(n), which overrides it; without the
# sentinel, hypothesis's default of 100 would silently 8× the suite.
settings.register_profile(
    "ci", derandomize=True, database=None, max_examples=1, **_HYP_COMMON
)
settings.register_profile("soak", max_examples=250, database=_HYP_DB, **_HYP_COMMON)
settings.load_profile(os.environ.get("HYPOTHESIS_PROFILE", "ci"))


def prop_settings(max_examples: int) -> settings:
    """Per-test example budget that YIELDS to a larger profile budget —
    @settings(max_examples=12) would silently cap the soak profile."""
    if settings.default.max_examples > max_examples:
        return settings()
    return settings(max_examples=max_examples)


def scd2_land_batch(sink, batch, table, key_cols, attr_col, ts_col, seq_col) -> int:
    """Land one change micro-batch and republish its SCD2 history.

    The change log is the sink table ``<table>__log``, merged on
    ``seq_col``, so a redelivered batch leaves it unchanged. The history
    is rebuilt from the whole log with the batch operator and written as
    the next version of ``table``, whose number is returned."""
    from pyspark.sql import functions as F

    from snowflake_cdc_spark.operators.scd import scd2_from_changes

    log = f"{table}__log"
    changes = batch.select(*key_cols, attr_col, ts_col, seq_col)
    sink.merge(
        changes.withColumn("is_delete", F.lit(False)), log, [seq_col], seq_col=seq_col
    )
    history = scd2_from_changes(
        sink.read(batch.sparkSession, log), key_cols, attr_col, ts_col, seq_col
    )
    return sink.overwrite(history, table)


def pytest_collection_modifyitems(items):
    """Collection-time gate (ADVICE r05): the ci profile's
    max_examples=1 is a sentinel FLOOR, so a bare ``@given`` without an
    explicit ``@prop_settings(n)`` budget would silently run a single
    example in CI — weaker than hypothesis's own default and invisible
    while the suite stays green. Fail collection instead."""
    bare = [
        item.nodeid
        for item in items
        if getattr(getattr(item, "function", None), "is_hypothesis_test", False)
        and not getattr(
            item.function, "_hypothesis_internal_settings_applied", False
        )
    ]
    if bare:
        raise pytest.UsageError(
            "@given tests without an explicit @prop_settings(n) budget "
            "(the ci profile floor of max_examples=1 would silently "
            f"apply): {bare}"
        )

SF_SMOKE = os.environ.get("SPARK_GRAFT_SMOKE_DIR", "/root/testdata/sf0.001")
SF_ORACLE = os.environ.get("SPARK_GRAFT_ORACLE_DIR", "/root/testdata/sf0.01")


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tests")
    yield s


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    for name in TPCH_TABLES:
        path = f"{SF_ORACLE}/{name}.parquet"
        if os.path.exists(path):
            con.execute(
                f"CREATE OR REPLACE VIEW {name} AS SELECT * FROM read_parquet('{path}')"
            )
    yield con
    con.close()


def canon_cell(v) -> str:
    if v is None:
        return "<NULL>"
    if isinstance(v, float):
        if math.isnan(v):
            return "<NaN>"
        return repr(v)
    if isinstance(v, Decimal):
        return str(v.normalize())
    if isinstance(v, datetime):
        return v.replace(tzinfo=None).isoformat(timespec="microseconds")
    if isinstance(v, date):
        return v.isoformat()
    if isinstance(v, bool):
        return str(bool(v))
    return str(v)


def canon_rows(cols: list[str], rows: list[tuple]) -> list[tuple[str, ...]]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(canon_cell(r[i]) for i in order) for r in rows]
    return sorted(out)


def assert_matches_oracle(spark, duck, spark_fn, oracle: str, sf_dir: str = SF_ORACLE):
    sdf = spark_fn(spark, sf_dir)
    spark_cols = sdf.columns
    spark_rows = [tuple(r) for r in sdf.collect()]

    res = duck.execute(oracle)
    duck_cols = [d[0] for d in res.description]
    duck_rows = res.fetchall()

    assert sorted(spark_cols) == sorted(duck_cols), (
        f"column mismatch: spark={sorted(spark_cols)} duck={sorted(duck_cols)}"
    )
    a = canon_rows(spark_cols, spark_rows)
    b = canon_rows(duck_cols, duck_rows)
    assert len(a) == len(b), f"row count mismatch: spark={len(a)} duck={len(b)}"
    if a != b:
        diffs = [(x, y) for x, y in zip(a, b) if x != y][:5]
        raise AssertionError(f"value mismatch; first diffs (spark, duck): {diffs}")
