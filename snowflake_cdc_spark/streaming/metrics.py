"""Operational metrics for the CDC pipeline.

The reference exposes per-field statistics and run state through its
inspection endpoints (``add_output.py:209-219, 264-274, 524-525``); a
self-hosted engine needs the operational half of that surface too —
what each batch did (rows merged per table, wall time).
``BatchMetric`` rows are recorded by ``CdcPipeline.materialize_batch``
(always on — the snapshot version is the sink merge's return value,
already computed; the overhead is a clock read, and the pipeline never
spends an extra action on bookkeeping).
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class BatchMetric:
    table: str
    batch_id: int
    version: int  # snapshot version the merge produced (monotone)
    seconds: float  # wall time of the table's merge
