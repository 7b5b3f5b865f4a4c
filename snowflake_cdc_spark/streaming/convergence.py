"""Incremental table-diff / convergence monitor (VERDICT r06 #8) —
the CDC observability surface the reference's dashboard implies
(add_output.py's materialized tables report row counts and freshness):
every ``foreachBatch`` merge emits adds/removes/changed counts versus
the previous snapshot version, composed from two existing, separately
proven pieces:

- ``operators/diff.py::table_diff`` — ONE full-outer join + ONE
  aggregation for the whole change report;
- ``sinks/parquet_sink.py`` version retention — ``read_version``
  time-travels to the pre-merge snapshot (tombstones filtered, so a
  hard delete reports as ``rows_removed``, exactly what an operator
  dashboard means by "removed").

The monitor records the report per (table, batch): after batch N lands
version v_N, it diffs (v_{N-1} → v_N) and the pipeline appends one row
per metric to the in-memory ``records`` ledger.

Convergence reading: a CDC stream has CONVERGED onto its source when
consecutive diffs go to zero (no adds, no removes, no changes) while
batches keep arriving — the monitor makes that a queryable time series
instead of a feeling. The e2e test proves the per-batch counts equal
an independent batch ``table_diff`` of the retained consecutive
versions.

Scale note: the diff reads exactly two LOCAL snapshot versions of one
table (the sink keeps ``keep_versions >= 2``), joins on the merge key
the table is already organized by, and aggregates to a handful of
rows — per batch it is the same order of work as the merge itself.
Tables too large to re-diff per batch would sample or key-range-scope
the monitor; the composition point (foreachBatch, post-merge) stays
the same.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from snowflake_cdc_spark.operators.diff import table_diff
from snowflake_cdc_spark.sinks.parquet_sink import ParquetSnapshotSink

__all__ = ["ConvergenceMonitor"]


class ConvergenceMonitor:
    """Per-batch snapshot-to-snapshot change reports for CDC tables."""

    def __init__(self, sink: ParquetSnapshotSink) -> None:
        self.sink = sink
        # (table, batch_id, from_version, to_version, metric, n)
        self.records: list[tuple[str, int, int, int, str, int]] = []

    def diff_records(
        self,
        spark: SparkSession,
        table: str,
        batch_id: int,
        from_version: int,
        to_version: int,
        key_cols: list[str],
    ) -> list[tuple[str, int, int, int, str, int]]:
        """Diff two retained snapshot versions of ``table`` and return the
        ledger rows, one per metric. ``from_version < 0`` (first merge)
        diffs against the empty relation — everything counts as added.
        Safe to run for several tables at once; ``CdcPipeline`` appends
        the rows to ``records`` in spec order itself."""
        new = self.sink.read_version(spark, table, to_version)
        old = (
            new.limit(0)
            if from_version < 0
            else self.sink.read_version(spark, table, from_version)
        )
        report = table_diff(old, new, key_cols)
        return [
            (table, batch_id, from_version, to_version, r.metric, int(r.n))
            for r in sorted(report.collect(), key=lambda r: r.metric)
        ]

    def churn_between_generations(
        self,
        spark: SparkSession,
        g_from: int,
        g_to: int,
        key_cols: dict[str, list[str]] | list[str],
        compare_cols: dict[str, list[str]] | list[str] | None = None,
    ) -> DataFrame:
        """Cross-table churn between two committed GENERATIONS (VERDICT
        r08 #6) — the streaming counterpart of the batch q231 cut-churn
        report: 'what changed in every table between global horizon S1
        and S2' answered from the RETAINED snapshot versions the two
        generation manifests pin, without re-reading the change log.
        When each micro-batch applies one seq-horizon slice and
        publishes one generation (``CdcPipeline._publish_generation``),
        generation g IS the consistent cut at that batch's horizon, so
        this diff equals q231's log-derived report (test-pinned).

        ``key_cols``/``compare_cols``: per-table dict or one shared
        list. A table present in only one manifest diffs against the
        empty relation. Output: (table_name, metric, n) — one
        full-outer join + one aggregation per table, same cost class
        as the per-batch ``diff_records``.

        Retention horizon (round 10): both generations must still be
        retained — after ``prune_generations`` (or the
        ``MaintenancePolicy.keep_generations`` maintenance turn) drops
        a generation, reading it raises ``GenerationRetentionError``
        naming the policy, and vacuum may have dropped the versions it
        pinned. Size ``keep_generations`` to the widest churn window
        you report over."""
        m_from = self.sink.manifest(g_from)
        m_to = self.sink.manifest(g_to)
        if not m_from and not m_to:
            return spark.createDataFrame(
                [], "table_name string, metric string, n bigint"
            )

        def _cols(spec, table):
            return spec[table] if isinstance(spec, dict) else spec

        reports = []
        for table in sorted(set(m_from) | set(m_to)):
            have_old = table in m_from
            have_new = table in m_to
            new = (
                self.sink.read_version(spark, table, m_to[table])
                if have_new
                else self.sink.read_version(spark, table, m_from[table]).limit(0)
            )
            old = (
                self.sink.read_version(spark, table, m_from[table])
                if have_old
                else new.limit(0)
            )
            report = table_diff(
                old,
                new,
                _cols(key_cols, table),
                None if compare_cols is None else _cols(compare_cols, table),
            )
            reports.append(
                report.select(
                    F.lit(table).alias("table_name"), "metric", "n"
                )
            )
        out = reports[0]
        for r in reports[1:]:
            out = out.unionByName(r)
        return out

    def converged(self, table: str, last_n_batches: int = 1) -> bool:
        """True when the newest ``last_n_batches`` recorded reports for
        ``table`` show zero adds/removes/changes (rows_common may be
        anything) — the stream is reproducing its source verbatim."""
        by_batch: dict[int, dict[str, int]] = {}
        for t, b, _f, _v, m, n in self.records:
            if t == table:
                by_batch.setdefault(b, {})[m] = n
        if not by_batch:
            return False
        newest = sorted(by_batch)[-last_n_batches:]
        if len(newest) < last_n_batches:
            return False
        return all(
            by_batch[b].get("rows_added", 0) == 0
            and by_batch[b].get("rows_removed", 0) == 0
            and by_batch[b].get("rows_changed", 0) == 0
            for b in newest
        )
