"""Regression tests for three ADVICE r08 findings.

1. q233's oracle used the linear ((r-1)*k)//n bucket formula while the
   engine uses the ntile fill — divergent whenever n % 4 == 2. The
   oracle now spells the same ntile CASE as q140; parity must hold on a
   corpus whose count is NOT divisible by 4.
2. config.py convergence wiring crashed on ``"convergence": false``.
3. q226's freq_band used float log2, which flips at power-of-two counts
   across engines; functions/intmath.py::quarter_log2_band is the exact
   integer replacement and must equal floor(4*log2(c)) everywhere.
"""

from __future__ import annotations

import duckdb
import pytest

from snowflake_cdc_spark.functions.intmath import (
    quarter_log2_band,
    quarter_log2_band_sql,
)
from tests.conftest import canon_rows

# deep-soak lane: excluded from the default fast run (pytest.ini,
# VERDICT r11 item 7) — run with `pytest -m "" tests/`
pytestmark = pytest.mark.slow


# ----------------------------------------------------------- 1. q233


def test_q233_parity_when_count_not_divisible_by_k(spark, tmp_path):
    """10 documents (10 % 4 == 2): the linear formula and the ntile fill
    assign rank 6 to different buckets — the fixed oracle must still
    hash-match the engine."""
    from snowflake_cdc_spark.queries import REGISTRY, _load_extended

    _load_extended()
    spec = REGISTRY["q233_corpus_grid"]
    rows = [
        (i, " ".join(f"w{j}" for j in range(i + 1)) + " dup dup", "en", "s", 10)
        for i in range(10)
    ]
    sf_dir = str(tmp_path)
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([r[0] for r in rows], pa.int64()),
                "text": [r[1] for r in rows],
                "lang": [r[2] for r in rows],
                "source": [r[3] for r in rows],
                "n_chars": pa.array([r[4] for r in rows], pa.int64()),
            }
        ),
        f"{sf_dir}/documents.parquet",
    )

    sdf = spec.spark_fn(spark, sf_dir)
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sf_dir}/documents.parquet')"
    )
    res = con.execute(spec.oracle)
    duck_cols = [d[0] for d in res.description]
    duck_rows = res.fetchall()
    a = canon_rows(sdf.columns, [tuple(r) for r in sdf.collect()])
    b = canon_rows(duck_cols, duck_rows)
    assert a == b


# ----------------------------------------------------- 2. config guard


def test_config_convergence_false_disables(spark, tmp_path):
    from snowflake_cdc_spark.plans.config import pipeline_from_config

    base = {
        "tables": [
            {
                "full_table_name": "tpch.orders",
                "use_upsolver_primary_key_column": True,
                "logical_delete_col": "",
            }
        ],
        "sink": {"root": str(tmp_path / "wh")},
    }
    pipe = pipeline_from_config(spark, {**base, "convergence": False})
    assert pipe.convergence is None
    pipe = pipeline_from_config(spark, {**base, "convergence": None})
    assert pipe.convergence is None
    with pytest.raises(ValueError, match="convergence"):
        pipeline_from_config(spark, {**base, "convergence": "yes"})
    pipe = pipeline_from_config(
        spark,
        {
            **base,
            "maintenance": {"keep_versions": 2},
            "convergence": {},
        },
    )
    assert pipe.convergence is not None


# ------------------------------------------- 3. exact quarter-log2 band


def test_quarter_log2_band_exact(spark):
    cases = (
        [2**e for e in range(0, 40)]
        + [2**e - 1 for e in range(1, 40)]
        + [2**e + 1 for e in range(1, 40)]
        + list(range(1, 300))
        + [10**9, 10**12, 2**62, 2**63 - 1]
    )
    cases = sorted(set(cases))
    ref = {c: (c**4).bit_length() - 1 for c in cases}  # floor(log2(c^4))

    df = spark.createDataFrame([(c,) for c in cases], "cnt long")
    got = {
        r.cnt: r.band
        for r in df.select("cnt", quarter_log2_band("cnt").alias("band")).collect()
    }
    assert got == ref

    con = duckdb.connect()
    con.execute("CREATE TABLE t(cnt BIGINT)")
    con.executemany("INSERT INTO t VALUES (?)", [(c,) for c in cases])
    sql_got = dict(
        con.execute(
            f"SELECT cnt, {quarter_log2_band_sql('cnt')} FROM t"
        ).fetchall()
    )
    assert sql_got == ref
