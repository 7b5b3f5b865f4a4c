"""CdcPipeline — demux → flatten → upsert-materialize, batch or streaming.

The per-batch function is shared verbatim between batch mode and
Structured Streaming ``foreachBatch`` (SURVEY.md §7 step 3/4): batch is
trivially debuggable, streaming reuses the exact same code under a
checkpoint, and the two are asserted identical by the parity test.

Fan-out strategy (K6, SURVEY.md §4 #4): ONE stream + one foreachBatch that
loops over the N table specs against a persisted batch — not N concurrent
queries — so a 500-table source costs one source scan and one checkpoint
per micro-batch. The reference loops table-by-table at the control plane
only (add_output.py:540-561); data-plane fan-out is per micro-batch here.

Scale posture:
- the batch is ``persist()``-ed before the per-table chains (each
  table's demux filter re-reads memory, not the source);
- the sink merge is each table's only hash exchange per batch: its
  ``latest_by_key`` over current ∪ changes combines map-side (partial
  ``max_by`` before the shuffle), so the pipeline does not pre-reduce;
- the per-table chains (transform → DQ gate → merge → convergence
  record) run concurrently, ``min(tables, defaultParallelism)`` at a
  time, as jobs over the shared cached batch (the Structured Streaming
  posture of one micro-batch = concurrent jobs over one input). Specs
  sharing a target table form one chain and merge in spec order. The
  generation publish is the single join point after every chain has
  settled.
"""

from __future__ import annotations

import os
import shutil
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from snowflake_cdc_spark.functions.strings import actual_full_table_name
from snowflake_cdc_spark.operators.flatten import expand_struct
from snowflake_cdc_spark.plans.spec import DeleteStrategy, PipelineSpec, StartPosition
from snowflake_cdc_spark.sinks.parquet_sink import ParquetSnapshotSink
from snowflake_cdc_spark.streaming.metrics import BatchMetric


@dataclass(frozen=True)
class MaintenancePolicy:
    """Retention for an unattended stream. Every micro-batch leaves one
    more snapshot version per merged table and one more generation
    manifest, so without retention disk grows by a table copy per batch.
    The pipeline applies this policy after every published batch, inside
    the same foreachBatch turn as the merges:
    ``prune_generations(keep_generations)`` first, so the versions that
    old manifests pin become vacuumable in the same turn, then
    ``vacuum(table, keep_last=keep_versions)`` per target table. Both
    only delete manifests and non-current version dirs, so the turn
    rewrites no data and the stream's exactly-once story is untouched.
    A table keeps at most ``keep_versions + keep_generations`` versions.

    There is no compaction step. Each merge rewrites the whole table
    (copy-on-write) into as many files as AQE's post-shuffle coalescing
    leaves, so small files never pile up across batches.
    ``ParquetSnapshotSink.compact`` stays the manual OPTIMIZE, with
    optional Z-order clustering.

    ``keep_generations`` also bounds how far back
    ``at_generation`` and churn reports can read: reading a pruned
    generation raises ``GenerationRetentionError``."""

    keep_versions: int = 2
    keep_generations: int = 8

    def __post_init__(self) -> None:
        # fail at wiring time, not in the first batch's maintenance turn
        # (prune rejects 0; vacuum's keep_last=0 would keep everything)
        if self.keep_versions < 1 or self.keep_generations < 1:
            raise ValueError(
                "MaintenancePolicy needs keep_versions >= 1 and "
                f"keep_generations >= 1, got {self.keep_versions} and "
                f"{self.keep_generations}"
            )


@dataclass
class _TableResult:
    """What one spec adds to the pipeline's ledgers. Target chains run
    concurrently; the caller appends these in spec order once every
    chain has settled, so the ledgers do not depend on completion
    order. ``error`` is a failure the batch re-raises: a merge failure
    under ``fail_on_write_error``, or a transform / DQ-gate failure
    under either policy."""

    metrics: list[BatchMetric] = field(default_factory=list)
    write_errors: list[tuple[str, int, str]] = field(default_factory=list)
    dq_violations: list[tuple[str, int, int]] = field(default_factory=list)
    convergence: list[tuple] = field(default_factory=list)
    error: Exception | None = None


class CdcPipeline:
    """Materialize one multiplexed CDC envelope stream into per-table
    snapshots according to a list of PipelineSpecs.

    Each batch runs one chain per target table, concurrently, then
    publishes one generation. Under ``fail_on_write_error`` the batch
    raises the first failing table's error in spec order and publishes
    no generation, but healthy tables' chains have run to completion and
    may already have flipped their ``_CURRENT``. That is safe: the
    seq-guarded merge is idempotent, so the batch's replay re-applies
    the same changes to those tables as a no-op."""

    def __init__(
        self,
        spark: SparkSession,
        specs: list[PipelineSpec],
        sink: ParquetSnapshotSink,
        fail_on_write_error: bool = True,
        quarantine_dir: str | None = None,
        dq_expectations: dict[str, list] | None = None,
        maintenance: MaintenancePolicy | None = None,
        convergence=None,
    ) -> None:
        """``fail_on_write_error`` mirrors the reference's
        ``failOnWriteError: True`` default (add_output.py:115): a failing
        table merge aborts the batch (and the stream). The permissive mode
        writes the failed table's changes to ``quarantine_dir`` and keeps
        the remaining tables flowing — one poisoned table must not stall
        the other 499 at scale.

        ``dq_expectations`` (S5 extension, ``operators/expectations.py``):
        per-target-table row-level expectations gating the flattened
        change rows BEFORE the latest-by-key reduce — violating rows are
        diverted to ``quarantine_dir/<table>/dq_batch=<id>`` and never
        reach the merge. Delete events are exempt (their after-image is
        legitimately NULL). Gating requires ``quarantine_dir``: a quality
        gate that silently drops rows is a data-loss bug, not a policy.
        Each spec gets its own partition inside the batch's dir
        (``_quarantine_part``), so specs sharing a target never overwrite
        each other's rows.

        ``convergence`` (``streaming/convergence.py``): when set, every
        successful table merge is followed by a snapshot-to-snapshot
        ``table_diff`` of the versions the merge moved between, appended
        to the monitor's ledger — the per-batch adds/removes/changed
        observability surface. Monitor failures follow
        ``fail_on_write_error`` (observability must not take a
        permissive stream down)."""
        if dq_expectations and not quarantine_dir:
            raise ValueError(
                "dq_expectations requires quarantine_dir — gated rows are "
                "diverted, never silently dropped"
            )
        if (
            convergence is not None
            and maintenance is not None
            and maintenance.keep_versions < 2
        ):
            # The monitor diffs the pre-merge snapshot (read_version of
            # the FROM version) against the post-merge one; with
            # keep_versions=1 vacuum drops every non-current version, so
            # the first post-maintenance batch dies mid-stream on a
            # FileNotFoundError under fail_on_write_error. Fail at wiring
            # time instead (ADVICE r07).
            raise ValueError(
                "ConvergenceMonitor requires MaintenancePolicy."
                "keep_versions >= 2: the monitor re-reads the pre-merge "
                f"snapshot version (got keep_versions={maintenance.keep_versions})"
            )
        self.spark = spark
        self.specs = specs
        self.sink = sink
        self.fail_on_write_error = fail_on_write_error
        self.quarantine_dir = quarantine_dir
        self.dq_expectations = dq_expectations or {}
        self.maintenance = maintenance
        self.convergence = convergence
        self.write_errors: list[tuple[str, int, str]] = []  # (table, batch, err)
        self.dq_violations: list[tuple[str, int, int]] = []  # (table, batch, n)
        self.metrics: list[BatchMetric] = []  # per-(table, batch) merge stats
        # (table, batch_id, vacuumed_versions)
        self.maintenance_events: list[tuple[str, int, list[int]]] = []

    # ---- per-table transform (pure, testable) ---------------------------

    def transform(self, events: DataFrame, spec: PipelineSpec) -> DataFrame:
        """envelope events → flat change rows for one table.

        Filter on the shard-merged table identity (README.md:29-31), then
        star-expand ``data.row`` (README.md:34) plus the key/seq/delete
        metadata columns.
        """
        if spec.merge_shards:
            ident = actual_full_table_name(
                F.col("data.database_name"), F.col("data.table_name")
            )
        else:
            ident = F.col("data.full_table_name")
        filtered = events.filter(ident == F.lit(spec.full_table_name))
        # S2 AtTime replay horizon, PER SPEC: each table in a shared
        # pipeline can start from its own timestamp (a global filter would
        # silently truncate INPUT_START tables sharing the stream)
        if (
            spec.start_position is StartPosition.AT_TIME
            and spec.start_time is not None
            and spec.event_time_column
        ):
            filtered = filtered.filter(
                F.col(spec.event_time_column) >= F.lit(spec.start_time)
            )

        keep = [
            F.col("data.primary_key").alias("primary_key"),
            F.col(spec.seq_column).alias("seq"),
            F.coalesce(F.col("data.metadata.is_delete"), F.lit(False)).alias("is_delete"),
        ]
        # Natural-key columns must survive deletes: a delete event's
        # after-image (data.row) is NULL, so each key falls back to the
        # before-image — otherwise a delete groups under a NULL key and
        # never beats its own insert in the latest-by-key race.
        keep += [
            F.col(f"data.old_row.{k}").alias(f"__old_{k}") for k in spec.key_columns
        ]
        flat = expand_struct(filtered, "data.row", "", keep=keep)
        if spec.columns is not None:
            flat = flat.select(
                "primary_key", "seq", "is_delete",
                *[F.col(f"__old_{k}").alias(f"__old_{k}") for k in spec.key_columns],
                *[F.col(src).alias(dst) for src, dst in spec.columns],
            )
        cols_ci = {c.lower() for c in flat.columns}
        for k in spec.key_columns:
            # identifiers are case-insensitive (catalog.py); a Python
            # case-sensitive membership test here would silently skip the
            # coalesce when catalog casing differs from the data's
            if k.lower() in cols_ci:
                flat = flat.withColumn(k, F.coalesce(F.col(k), F.col(f"__old_{k}")))
        flat = flat.drop(*[f"__old_{k}" for k in spec.key_columns])
        if spec.extra_key_column is not None:  # E4 (add_output.py:9-18)
            name, value = spec.extra_key_column
            flat = flat.withColumn(name, F.lit(value))
        return flat

    def _quarantine_part(self, spec: PipelineSpec, prefix: str, batch_id: int) -> str:
        """``<quarantine_dir>/<target>/<prefix>=<id>/full_table_name=<name>``.
        The full table name tells apart specs that share a target. Spark
        lists only ``k=v`` subdirs, so this one keeps a read of the batch
        dir returning every spec's rows, with a ``full_table_name``
        column."""
        return (
            f"{self.quarantine_dir}/{spec.target_table}/{prefix}={batch_id}"
            f"/full_table_name={spec.full_table_name}"
        )

    def _key_cols(self, spec: PipelineSpec) -> list[str]:
        keys = (
            ["primary_key"]  # K2 (add_output.py:132-136)
            if spec.use_synthetic_key or not spec.key_columns
            else list(spec.key_columns)
        )
        if spec.extra_key_column is not None:
            keys.append(spec.extra_key_column[0])
        return keys

    # ---- the shared micro-batch function --------------------------------

    def materialize_batch(
        self,
        events: DataFrame,
        batch_id: int = 0,
        prefer_incoming_on_tie: bool = False,
    ) -> None:
        """Apply one batch of envelope events to every table snapshot.
        ``prefer_incoming_on_tie`` is set only by the E3 drift backfill,
        which replays already-applied seqs carrying new columns; normal
        batches leave it off so redeliveries can never regress a row.

        The table chains run on a thread pool; each worker inherits the
        caller's Spark local properties (a streaming query's job group,
        so stopping the query cancels the chains' jobs too)."""
        # one chain per target table: specs sharing a target (E4 extra
        # keys, or one table name under two schemas) merge one after
        # another in spec order, as each reads the version the last wrote
        targets: dict[str, list[int]] = {}
        for i, spec in enumerate(self.specs):
            targets.setdefault(spec.target_table, []).append(i)
        events = events.persist()
        try:
            width = min(len(targets), self.spark.sparkContext.defaultParallelism)
            with ThreadPoolExecutor(max(width, 1), thread_name_prefix="cdc-table") as pool:
                # wrap per chain: each gets its own copy of the properties
                futures = [
                    pool.submit(
                        inheritable_thread_target(self.spark)(self._materialize_target),
                        events, idx, batch_id, prefer_incoming_on_tie,
                    )
                    for idx in targets.values()
                ]
                results: dict[int, _TableResult] = {}
                for fut in futures:
                    results.update(fut.result())
        finally:
            events.unpersist()
        first_error: Exception | None = None
        for i in sorted(results):
            res = results[i]
            self.metrics += res.metrics
            self.write_errors += res.write_errors
            self.dq_violations += res.dq_violations
            if self.convergence is not None:
                self.convergence.records += res.convergence
            first_error = first_error or res.error
        if first_error is not None:
            raise first_error
        self._publish_generation(batch_id)
        if self.maintenance is not None:
            self._run_maintenance(batch_id)

    def _materialize_target(
        self,
        events: DataFrame,
        spec_idx: list[int],
        batch_id: int,
        prefer_incoming_on_tie: bool,
    ) -> dict[int, _TableResult]:
        """One target table's chain: its specs in spec order, stopping at
        the first error the batch will raise. Keyed by spec index."""
        out: dict[int, _TableResult] = {}
        for i in spec_idx:
            try:
                res = self._materialize_table(
                    events, self.specs[i], batch_id, prefer_incoming_on_tie
                )
            except Exception as e:  # noqa: BLE001 - transform / DQ gate:
                res = _TableResult(error=e)  # raised whatever the policy
            out[i] = res
            if res.error is not None:
                break
        return out

    def _materialize_table(
        self,
        events: DataFrame,
        spec: PipelineSpec,
        batch_id: int,
        prefer_incoming_on_tie: bool,
    ) -> _TableResult:
        """One spec's steps: transform → DQ gate → merge → convergence
        record. Runs on a pool thread; touches no pipeline ledger."""
        res = _TableResult()
        table = spec.target_table
        changes = self.transform(events, spec)
        exps = self.dq_expectations.get(table)
        if exps:
            from snowflake_cdc_spark.operators.expectations import row_gate

            changes, bad = row_gate(changes, exps, exempt=F.col("is_delete"))
            # persist before count+write: otherwise the transform+gate
            # plan executes twice per violating table per micro-batch
            # (events is cached but the flatten/gate work above it is not)
            bad = bad.persist()
            try:
                n_bad = bad.count()
                if n_bad:
                    bad.write.mode("overwrite").parquet(
                        self._quarantine_part(spec, "dq_batch", batch_id)
                    )
                    res.dq_violations.append((table, batch_id, n_bad))
            finally:
                bad.unpersist()
        keys = self._key_cols(spec)
        try:
            t0 = time.perf_counter()
            from_v = self.sink.current_version(table)
            # raw changes: the merge's own reduce is this table's only
            # exchange
            version = int(
                self.sink.merge(
                    changes,
                    table,
                    key_cols=keys,
                    seq_col="seq",
                    delete_col="is_delete",
                    hard_delete=spec.delete_strategy is DeleteStrategy.HARD,
                    logical_col=spec.logical_delete_col,
                    prefer_incoming_on_tie=prefer_incoming_on_tie,
                )
                or 0
            )
            res.metrics.append(
                BatchMetric(table, batch_id, version, round(time.perf_counter() - t0, 3))
            )
            if self.convergence is not None:
                try:
                    res.convergence = self.convergence.diff_records(
                        self.spark, table, batch_id, from_v, version, keys
                    )
                except Exception as ce:  # noqa: BLE001 - policy
                    if self.fail_on_write_error:
                        raise
                    res.write_errors.append(
                        (table, batch_id, f"convergence monitor failed: {ce}")
                    )
        except Exception as e:  # noqa: BLE001 - policy decides
            if self.fail_on_write_error:
                res.error = e
                return res
            res.write_errors.append((table, batch_id, str(e)))
            if self.quarantine_dir:
                # the raw changes: replay_quarantine reduces them. The
                # write re-executes the failing plan; if the failure is
                # in the data itself (not the sink), this raises again —
                # and must not take the other tables (or the stream)
                # down with it
                try:
                    changes.write.mode("overwrite").parquet(
                        self._quarantine_part(spec, "batch", batch_id)
                    )
                except Exception as qe:  # noqa: BLE001
                    res.write_errors.append(
                        (table, batch_id, f"quarantine failed: {qe}")
                    )
        return res

    def _publish_generation(self, batch_id: int) -> None:
        """Atomic multi-table publish (VERDICT r08 #3): after every
        table's per-table merge, ONE generation manifest commits the
        batch's resulting versions, so a reader using the generation
        view (``sink.read_generation`` / ``read_store_consistent``)
        sees the whole batch or none of it — per-table ``_CURRENT``
        flips alone tear multi-table transactions between two tables'
        merges even when the applied cut was consistent. Failed tables
        (fail_on_write_error=False) enter the manifest at their
        unadvanced current version — still a consistent read of what
        the store actually holds."""
        try:
            self.sink.publish_generation(
                {
                    spec.target_table: self.sink.current_version(spec.target_table)
                    for spec in self.specs
                    if self.sink.exists(spec.target_table)
                }
            )
        except Exception as e:  # noqa: BLE001 - policy decides
            if self.fail_on_write_error:
                raise
            self.write_errors.append(("_generation", batch_id, str(e)))

    def read_store_consistent(self, spark=None) -> dict[str, DataFrame]:
        """Every target table at the current committed generation — the
        sink-side counterpart of ``snapshot_all_tables`` (that one cuts
        the LOG at a seq horizon; this one reads the STORE at a
        manifest commit). All-old or all-new under concurrent merges,
        never mixed."""
        return self.sink.read_all_at_generation(spark or self.spark)

    def at_generation(self, gen: int | None = None):
        """User-facing consistent-cut reader (VERDICT r09 #7):
        ``pipe.at_generation(g).table("ORDERS")`` — a frozen view of
        every table at the versions generation ``g`` pins (default: the
        current generation), stable under concurrent merges/publishes,
        readable for as long as retention keeps ``g``."""
        from snowflake_cdc_spark.engine import GenerationView

        return GenerationView(self.spark, self.sink, gen)

    def _run_maintenance(self, batch_id: int) -> None:
        """Retention (MaintenancePolicy): prune old generation manifests,
        then vacuum every target table. Runs inside the foreachBatch
        turn, after the batch's publish: the stream is between commits,
        so no concurrent writer exists (the sink's CAS would catch one
        loudly if it did). No version changes here, so the batch's own
        generation still pins every current version. Failures follow the
        ``fail_on_write_error`` policy — retention must not take a
        permissive stream down."""
        pol = self.maintenance
        # prune BEFORE vacuum: the versions old manifests pin become
        # vacuumable in the same turn (retention in lockstep)
        try:
            self.sink.prune_generations(keep_generations=pol.keep_generations)
        except Exception as e:  # noqa: BLE001 - policy decides
            if self.fail_on_write_error:
                raise
            self.write_errors.append(("_generation", batch_id, f"prune failed: {e}"))
        for table in dict.fromkeys(spec.target_table for spec in self.specs):
            if not self.sink.exists(table):
                continue
            try:
                removed = self.sink.vacuum(table, keep_last=pol.keep_versions)
                self.maintenance_events.append((table, batch_id, removed))
            except Exception as e:  # noqa: BLE001 - policy decides
                if self.fail_on_write_error:
                    raise
                self.write_errors.append(
                    (table, batch_id, f"maintenance failed: {e}")
                )

    # ---- entry points ----------------------------------------------------

    def snapshot_all_tables(
        self, events: DataFrame, as_of_seq
    ) -> dict[str, DataFrame]:
        """Transactionally consistent cross-table cut (VERDICT r07 #3):
        every spec's snapshot AS OF one global sequence horizon — the
        reference's AtTime (add_output.py:260,666) generalized from
        per-output to cross-output. One ``seq <= S`` predicate on the
        shared envelope log means a multi-table transaction (rows
        sharing a seq) is visible everywhere or nowhere; per-table
        'latest' reads with differing watermarks tear such transactions
        (``operators/snapshot.py::torn_transactions`` counts them).
        ``events`` is the envelope relation (the raw zone read, or any
        bounded slice of it); each table pays one transform + filter +
        latest-by-key — no cross-table coordination, the horizon is a
        scalar."""
        from snowflake_cdc_spark.operators.upsert import (
            snapshot_hard_delete,
            snapshot_logical_delete,
        )

        out: dict[str, DataFrame] = {}
        for spec in self.specs:
            changes = self.transform(events, spec).filter(
                F.col("seq") <= F.lit(as_of_seq)
            )
            keys = self._key_cols(spec)
            if spec.delete_strategy is DeleteStrategy.HARD:
                snap = snapshot_hard_delete(changes, keys, "seq")
            else:
                snap = snapshot_logical_delete(
                    changes,
                    keys,
                    "seq",
                    logical_col=spec.logical_delete_col or "is_deleted",
                )
            # specs sharing a target (E4) hold disjoint keys: the target's
            # cut is their union, as the merges build it
            prev = out.get(spec.target_table)
            out[spec.target_table] = (
                snap if prev is None else prev.unionByName(snap, allowMissingColumns=True)
            )
        return out

    def run_batch(self, source_path: str, event_time_col: str | None = None) -> None:
        """Bounded run over landed envelope events (backfill / tests).
        ``mergeSchema`` on: the raw zone may mix pre- and post-drift files.

        AtTime replay horizons (add_output.py:260,666) are applied per
        spec inside ``transform`` — ``event_time_col`` here is a
        convenience that fills any AT_TIME spec lacking one."""
        if event_time_col:
            for s in self.specs:
                if s.event_time_column is None:
                    s.event_time_column = event_time_col
        events = self.spark.read.option("mergeSchema", "true").parquet(source_path)
        self.materialize_batch(events)

    def start_stream(
        self,
        source_path: str,
        checkpoint: str,
        schema=None,
        available_now: bool = False,
        max_files_per_trigger: int | None = None,
        processing_time: str | None = None,  # override spec's minute cadence
    ) -> StreamingQuery:
        """Deploy (add_output.py:440-448 → writeStream.start()).

        ``available_now=True`` = bounded replay of everything landed
        (InputStart semantics with a clean shutdown); otherwise a
        continuous micro-batch stream with the spec's processing-time
        trigger (S6, outputInterval → trigger(processingTime=...)).
        Checkpointed offsets + the idempotent seq-guarded merge give
        effective exactly-once (SURVEY.md §2.8).
        """
        reader = self.spark.readStream
        if schema is not None:
            reader = reader.schema(schema)
        else:
            # schema-on-read for files: infer from what's landed
            reader = reader.schema(self.spark.read.parquet(source_path).schema)
        if max_files_per_trigger:
            reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
        events = reader.parquet(source_path)

        writer = events.writeStream.foreachBatch(self.materialize_batch).option(
            "checkpointLocation", checkpoint
        )
        if available_now:
            writer = writer.trigger(availableNow=True)
        else:
            writer = writer.trigger(
                processingTime=processing_time
                or f"{self.specs[0].output_interval_minutes} minutes"
            )
        return writer.start()


def replay_quarantine(
    pipeline: CdcPipeline,
    table: str,
    batch_ids: list[int] | None = None,
    kind: str = "dq",
) -> int:
    """Re-ingest quarantined rows after the upstream defect is fixed —
    the second half of the quarantine contract (diverting rows is only
    safe because they can come back). For each batch, each spec that
    targets ``table`` replays its own partition
    (``CdcPipeline._quarantine_part``) with its own keys and delete
    strategy, in spec order. The rows go through the NORMAL seq-guarded
    sink merge: replays are idempotent, and a quarantined change that
    was later superseded by a higher seq loses the merge race instead of
    regressing the row — so replaying late, twice, or out of order is
    all safe. Re-applies the table's CURRENT expectations first (a
    still-violating row stays quarantined; pass an empty expectation
    list via ``pipeline.dq_expectations`` to force-accept). Returns the
    number of rows merged.

    Quarantine contents always reflect PENDING work: after a successful
    merge each replayed partition is rewritten with only its
    still-violating rows (deleted outright when none remain, and the
    batch dir with its last partition), so a repeat call neither
    re-merges already-replayed rows nor double-counts them, and
    still-violating rows survive explicitly rather than by the accident
    of the original file persisting."""
    if not pipeline.quarantine_dir:
        raise ValueError("pipeline has no quarantine_dir")
    prefix = "dq_batch" if kind == "dq" else "batch"
    base = f"{pipeline.quarantine_dir}/{table}"
    if batch_ids is None:
        if not os.path.isdir(base):
            return 0
        batch_ids = sorted(
            int(d.split("=", 1)[1])
            for d in os.listdir(base)
            if d.startswith(f"{prefix}=")
        )
    specs = [s for s in pipeline.specs if s.target_table == table]
    merged = 0
    for bid in batch_ids:
        for spec in specs:
            part = pipeline._quarantine_part(spec, prefix, bid)
            if os.path.isdir(part):
                merged += _replay_part(pipeline, spec, part)
        batch_dir = f"{base}/{prefix}={bid}"
        if os.path.isdir(batch_dir) and not os.listdir(batch_dir):
            os.rmdir(batch_dir)
    return merged


def _replay_part(pipeline: CdcPipeline, spec: PipelineSpec, part: str) -> int:
    """Merge one spec's quarantine partition, then leave in it only the
    rows that still violate. Returns the number of rows merged."""
    rows = pipeline.spark.read.parquet(part)
    exps = pipeline.dq_expectations.get(spec.target_table)
    still_bad = None
    if exps:
        from snowflake_cdc_spark.operators.expectations import row_gate

        rows, still_bad = row_gate(rows, exps, exempt=F.col("is_delete"))
        # materialize before the partition rewrite below: the plan
        # reads the very files we are about to replace
        still_bad = still_bad.persist()
        still_bad.count()
    keys = pipeline._key_cols(spec)
    # the raw rows: the sink merge reduces its own input. Persist for
    # the same reason as still_bad — merge() and the returned count both
    # execute after the source files are gone
    rows = rows.persist()
    try:
        n_merged = rows.count()
        pipeline.sink.merge(
            rows,
            spec.target_table,
            key_cols=keys,
            seq_col="seq",
            delete_col="is_delete",
            hard_delete=spec.delete_strategy is DeleteStrategy.HARD,
            logical_col=spec.logical_delete_col,
        )
        # merge succeeded: the partition now holds only pending work
        if still_bad is not None and still_bad.count():
            tmp = f"{os.path.dirname(part)}/.__replay_tmp_{os.path.basename(part)}"
            still_bad.write.mode("overwrite").parquet(tmp)
            shutil.rmtree(part)
            os.rename(tmp, part)
        else:
            shutil.rmtree(part)
        return n_merged
    finally:
        rows.unpersist()
        if still_bad is not None:
            still_bad.unpersist()
