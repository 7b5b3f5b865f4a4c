"""Declarative pipeline configuration — the reference's posture, made
local. `add_output.py` is driven entirely by configuration (REST/CLI
arguments per table: `full_table_name`, `logical_delete_col`,
`use_upsolver_primary_key_column`, `output_interval`, …,
`add_output.py:89-152`); a user migrating from it has that config in
hand, not Python constructors. This module turns a JSON-able dict (or a
file) into the engine's typed IR: a list of ``PipelineSpec`` plus the
sink, DQ expectations, and maintenance policy a ``CdcPipeline`` needs.

Reference parameter names are accepted as aliases
(``use_upsolver_primary_key_column`` ≙ ``use_synthetic_key``,
``output_interval`` ≙ ``output_interval_minutes``) so an existing
reference config ports by renaming nothing — see MIGRATION.md.

DQ expectations are declarative (type + column + bounds/values/pattern)
and compile to `operators/expectations.py` constraints; unknown keys
anywhere raise instead of silently dropping config — a misspelled
``delete_strategy`` must not quietly become a hard delete.
"""

from __future__ import annotations

import json
from datetime import datetime
from typing import Any

from snowflake_cdc_spark.plans.spec import DeleteStrategy, PipelineSpec, StartPosition

_SPEC_ALIASES = {
    "use_upsolver_primary_key_column": "use_synthetic_key",
    "output_interval": "output_interval_minutes",
}
_SPEC_FIELDS = {
    "full_table_name",
    "key_columns",
    "use_synthetic_key",
    "delete_strategy",
    "logical_delete_col",
    "columns",
    "output_interval_minutes",
    "start_position",
    "start_time",
    "event_time_column",
    "seq_column",
    "merge_shards",
    "extra_key_column",
}


def _spec_from_dict(d: dict[str, Any]) -> PipelineSpec:
    kw: dict[str, Any] = {}
    for k, v in d.items():
        if k in ("expectations",):  # handled at pipeline level
            continue
        k = _SPEC_ALIASES.get(k, k)
        if k not in _SPEC_FIELDS:
            raise ValueError(f"unknown PipelineSpec config key: {k!r}")
        kw[k] = v
    if "delete_strategy" in kw and isinstance(kw["delete_strategy"], str):
        kw["delete_strategy"] = DeleteStrategy[kw["delete_strategy"].upper()]
    # the reference's convention: an empty logical_delete_col means HARD
    if d.get("logical_delete_col") == "":
        kw.pop("logical_delete_col", None)
        kw["delete_strategy"] = DeleteStrategy.HARD
    if "start_position" in kw and isinstance(kw["start_position"], str):
        kw["start_position"] = StartPosition[kw["start_position"].upper()]
    if "start_time" in kw and isinstance(kw["start_time"], str):
        kw["start_time"] = datetime.fromisoformat(kw["start_time"])
    if "columns" in kw and kw["columns"] is not None:
        kw["columns"] = [tuple(c) for c in kw["columns"]]
    if "extra_key_column" in kw and kw["extra_key_column"] is not None:
        kw["extra_key_column"] = tuple(kw["extra_key_column"])
    return PipelineSpec(**kw)


def _expectation_from_dict(d: dict[str, Any]):
    from snowflake_cdc_spark.operators import expectations as E

    kind = d.get("type")
    col = d.get("column")
    if kind == "not_null":
        return E.not_null(col)
    if kind == "unique":
        return E.unique(col)
    if kind == "in_range":
        return E.in_range(col, d["low"], d["high"])
    if kind == "accepted_values":
        return E.accepted_values(col, d["values"])
    if kind == "matches_pattern":
        return E.matches_pattern(col, d["pattern"])
    raise ValueError(f"unknown expectation type: {kind!r}")


def specs_from_config(cfg: dict | list | str) -> list[PipelineSpec]:
    """Accepts a config dict, a list of table dicts, or a path to a JSON
    file; returns the typed specs."""
    cfg = _load(cfg)
    if isinstance(cfg, list):
        tables = cfg
    else:
        if "tables" not in cfg:
            raise ValueError("pipeline config needs a 'tables' list")
        tables = cfg["tables"]
    return [_spec_from_dict(t) for t in tables]


def pipeline_from_config(spark, cfg: dict | str, sink=None):
    """Build a ready ``CdcPipeline`` from a config dict/file::

        {
          "tables": [{"full_table_name": "tpch.orders",
                      "use_upsolver_primary_key_column": true,
                      "logical_delete_col": "",
                      "expectations": [
                        {"type": "in_range", "column": "o_totalprice",
                         "low": 0, "high": 1000000}]}],
          "sink": {"root": "/warehouse"},
          "fail_on_write_error": false,
          "quarantine_dir": "/warehouse/_quarantine",
          "maintenance": {"keep_versions": 2, "keep_generations": 8},
          "convergence": {}
        }

    ``maintenance``: the ``MaintenancePolicy`` retention run after every
    batch. ``convergence`` (round 8): ``{}`` enables a
    ``ConvergenceMonitor`` wired into the pipeline;
    ``false``/``null``/omitted disables it; anything else (a non-empty
    object included) is a config error. The pipeline's wiring-time
    ``keep_versions >= 2`` check applies — a config combining
    convergence with ``keep_versions: 1`` fails fast here, not
    mid-stream.

    ``sink`` may be passed explicitly (a ``ParquetSnapshotSink`` or
    subclass) to override the config's local-parquet sink."""
    from snowflake_cdc_spark.sinks.parquet_sink import ParquetSnapshotSink
    from snowflake_cdc_spark.streaming.pipeline import (
        CdcPipeline,
        MaintenancePolicy,
    )

    cfg = _load(cfg)
    specs = specs_from_config(cfg)
    dq = {}
    for t in cfg["tables"]:
        exps = t.get("expectations")
        if exps:
            table = _spec_from_dict(t).target_table
            dq[table] = [_expectation_from_dict(e) for e in exps]
    if sink is None:
        if "sink" not in cfg or "root" not in cfg["sink"]:
            raise ValueError(
                "pipeline config needs sink.root (or pass a sink object)"
            )
        sink = ParquetSnapshotSink(cfg["sink"]["root"])
    maint = None
    if cfg.get("maintenance"):
        maint = MaintenancePolicy(**cfg["maintenance"])
    conv = None
    conv_cfg = cfg.get("convergence")
    if conv_cfg == {}:
        from snowflake_cdc_spark.streaming.convergence import (
            ConvergenceMonitor,
        )

        conv = ConvergenceMonitor(sink)
    elif conv_cfg:
        raise ValueError(
            "pipeline config 'convergence' must be {} to enable or "
            f"false/omitted to disable; got {conv_cfg!r}"
        )
    return CdcPipeline(
        spark,
        specs,
        sink,
        fail_on_write_error=cfg.get("fail_on_write_error", True),
        quarantine_dir=cfg.get("quarantine_dir"),
        dq_expectations=dq or None,
        maintenance=maint,
        convergence=conv,
    )


def _load(cfg: dict | list | str):
    if isinstance(cfg, str):
        with open(cfg) as fh:
            return json.load(fh)
    return cfg
