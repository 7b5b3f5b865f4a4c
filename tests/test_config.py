"""Declarative pipeline config (plans/config.py): reference-alias
mapping, strict unknown-key rejection, e2e pipeline build + run."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import Window, functions as F

from snowflake_cdc_spark.plans.config import (
    pipeline_from_config,
    specs_from_config,
)
from snowflake_cdc_spark.plans.spec import DeleteStrategy, StartPosition
from snowflake_cdc_spark.sources.cdc import cdc_events_flat, cdc_events_nested
from tests.conftest import SF_SMOKE


def test_reference_aliases_and_enums():
    specs = specs_from_config(
        [
            {
                "full_table_name": "tpch.orders",
                "use_upsolver_primary_key_column": True,
                "logical_delete_col": "",
                "output_interval": 5,
            },
            {
                "full_table_name": "tpch.customer",
                "key_columns": ["c_custkey"],
                "delete_strategy": "logical",
                "logical_delete_col": "deleted",
                "start_position": "at_time",
                "start_time": "2024-01-02T00:00:00",
                "event_time_column": "seq",
            },
        ]
    )
    a, b = specs
    assert a.use_synthetic_key and a.output_interval_minutes == 5
    assert a.delete_strategy is DeleteStrategy.HARD  # '' delete col ≙ HARD
    assert b.delete_strategy is DeleteStrategy.LOGICAL
    assert b.logical_delete_col == "deleted"
    assert b.start_position is StartPosition.AT_TIME
    assert b.start_time.year == 2024


def test_unknown_keys_raise():
    with pytest.raises(ValueError, match="unknown PipelineSpec config key"):
        specs_from_config([{"full_table_name": "t", "delete_stratgy": "hard"}])
    with pytest.raises(ValueError, match="unknown expectation type"):
        from snowflake_cdc_spark.plans.config import _expectation_from_dict

        _expectation_from_dict({"type": "nonsense", "column": "x"})


def test_maintenance_retention_must_keep_something():
    from snowflake_cdc_spark.streaming.pipeline import MaintenancePolicy

    for bad in ({"keep_versions": 0}, {"keep_generations": 0}):
        with pytest.raises(ValueError, match="keep_versions >= 1"):
            MaintenancePolicy(**bad)


def test_pipeline_from_config_runs_end_to_end(spark, tmp_path):
    raw = str(tmp_path / "raw")
    cdc_events_nested(spark, SF_SMOKE).write.parquet(raw)
    cfg = {
        "tables": [
            {
                "full_table_name": "tpch.orders",
                "use_upsolver_primary_key_column": True,
                "logical_delete_col": "",
                "expectations": [
                    {"type": "in_range", "column": "o_totalprice",
                     "low": 0, "high": 10**9}
                ],
            }
        ],
        "sink": {"root": str(tmp_path / "wh")},
        "fail_on_write_error": False,
        "quarantine_dir": str(tmp_path / "q"),
        "maintenance": {"keep_generations": 3},
    }
    # also exercise the file path form
    cfg_path = str(tmp_path / "pipeline.json")
    with open(cfg_path, "w") as fh:
        json.dump(cfg, fh)
    pipe = pipeline_from_config(spark, cfg_path)
    pipe.run_batch(raw)
    snap = pipe.sink.read(spark, "ORDERS")
    flat = cdc_events_flat(spark, SF_SMOKE)
    w = Window.partitionBy("primary_key").orderBy(F.col("seq").desc())
    oracle = flat.withColumn("rn", F.row_number().over(w)).filter(
        (F.col("rn") == 1) & ~F.col("is_delete")
    )
    assert snap.count() == oracle.count()
    # retention ran after the batch's publish
    assert pipe.maintenance_events
    # the generation-retention knob reached the policy (round 10)
    assert pipe.maintenance.keep_generations == 3
    assert pipe.sink.retained_generations()  # publish + prune both ran


def test_config_wires_convergence_monitor(spark, tmp_path):
    raw = str(tmp_path / "raw_c")
    cdc_events_nested(spark, SF_SMOKE).write.parquet(raw)
    cfg = {
        "tables": [
            {
                "full_table_name": "tpch.orders",
                "use_upsolver_primary_key_column": True,
                "logical_delete_col": "",
            }
        ],
        "sink": {"root": str(tmp_path / "wh_c")},
        "convergence": {},
    }
    pipe = pipeline_from_config(spark, cfg)
    assert pipe.convergence is not None
    pipe.run_batch(raw)
    # first batch: everything reports as added in the monitor's ledger
    rows = {m: n for *_, m, n in pipe.convergence.records}
    assert rows.get("rows_added", 0) > 0

    # convergence + keep_versions < 2 must fail at wiring time
    import pytest as _pytest

    bad = dict(cfg)
    bad["maintenance"] = {"keep_versions": 1}
    with _pytest.raises(ValueError, match="keep_versions"):
        pipeline_from_config(spark, bad)
