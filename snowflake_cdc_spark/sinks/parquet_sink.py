"""Local materialized-table sink: versioned parquet snapshots with MERGE
semantics (SURVEY.md §4 custom piece #1, local emulation).

Layout per table::

    <root>/<TABLE>/v=<n>/part-*.parquet   # snapshot versions
    <root>/<TABLE>/_CURRENT               # text file: current version n

A merge writes version n+1 from (current ∪ changes) → latest-by-key, then
atomically flips the pointer — readers never see a partial snapshot
(the rename-free pointer flip is the same trick Delta's _last_checkpoint
uses). WRITERS are serialized by optimistic concurrency (round 4): every
write stages into a unique dir, atomically claims its version number by
rename, and CAS-checks ``_CURRENT`` against the version it derived from
before flipping — a losing concurrent merge raises
``ConcurrentWriteError`` and rolls back instead of silently discarding
the winner's changes (see ``overwrite``). A writer that dies between the
claim and the flip leaves an unflipped ``v=<n>``; once it is older than
``STALE_AFTER_S`` the next writer to collide with it adopts it (flips to
it), and ``vacuum`` sweeps stage dirs of dead writers by the same age.
In production this class is swapped for the Snowflake adapter
(sinks/snowflake.py) or a real lakehouse table; the pipeline code is
sink-agnostic.

Read path: a FLIPPED version (``v <= current_version``) is immutable —
nothing rewrites a committed ``v=<n>`` — so ``read_version`` memoizes its
DataFrame (the parquet read with tombstones filtered) per
``(SparkSession, table, version)`` in a per-sink LRU of
``READ_MEMO_SIZE`` entries. A repeat read (every ``register_generation``
re-registers the same versions) then lists no files and runs no
schema-inference job. The session is part of the key because a
DataFrame belongs to the session that built it. Every lookup still
stats the version dir first, so a version vacuumed by another sink or
process raises ``FileNotFoundError`` (and drops its entry); ``vacuum``
evicts what it deletes. A claimed-but-unflipped ``v=<n>`` is never
memoized: until the flip its writer may still roll it back, and a
retried write may claim the number with different content.

Schema evolution (E2): ``merge`` aligns old and new schemas with
``unionByName(allowMissingColumns=True)`` — a column appearing
mid-stream widens the snapshot, with NULLs for history until backfill.
"""

from __future__ import annotations

import os
import stat
import threading
import time
from collections import OrderedDict

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from snowflake_cdc_spark.operators.upsert import latest_by_key

# Age past which a write artifact with no live owner is crash debris: an
# unflipped version claim, a ``.v<n>.stage.*`` dir, a ``.gen=*.tmp``
# file. Live writers hold each of them for seconds, not an hour.
STALE_AFTER_S = 3600.0

# Memoized ``read_version`` DataFrames kept per sink (LRU).
READ_MEMO_SIZE = 128

# Internal column marking hard-deleted keys. Tombstones are RETAINED in the
# stored snapshot and filtered at read time: if deletes were physically
# dropped, a delete arriving in an *earlier* micro-batch than a stale
# insert/update for the same key (out-of-order replay, backfill overlap)
# would lose its memory and the stale row would resurrect. Keeping the
# (key, seq, deleted) row makes the merge commutative across batches —
# correctness can't depend on delivery order at 100 TB.
TOMBSTONE = "_tombstone"


class ConcurrentWriteError(RuntimeError):
    """Another writer advanced the table between this writer's snapshot
    read and its pointer flip. The losing write is rolled back and MUST
    be retried from the new current version — silently flipping would
    discard the other writer's merge (lost update)."""


class GenerationRetentionError(FileNotFoundError):
    """The requested generation was committed once but its manifest has
    since been pruned by the retention policy (``prune_generations`` /
    ``MaintenancePolicy.keep_generations``). Distinct from a plain
    FileNotFoundError so callers can tell "never existed" from
    "existed, aged out of retention" (VERDICT r09 #2)."""


class ParquetSnapshotSink:
    def __init__(self, root: str) -> None:
        self.root = root
        # (spark, table, version) -> ((st_ino, st_mtime_ns) of v=<n>, df)
        self._read_memo: OrderedDict = OrderedDict()
        self._read_memo_lock = threading.Lock()

    # ---- version bookkeeping -------------------------------------------

    def _table_dir(self, table: str) -> str:
        return os.path.join(self.root, table)

    def current_version(self, table: str) -> int:
        ptr = os.path.join(self._table_dir(table), "_CURRENT")
        if not os.path.exists(ptr):
            return -1
        with open(ptr) as fh:
            return int(fh.read().strip())

    def _flip(self, table: str, version: int) -> None:
        d = self._table_dir(table)
        os.makedirs(d, exist_ok=True)
        tmp = os.path.join(d, "_CURRENT.tmp")
        with open(tmp, "w") as fh:
            fh.write(str(version))
        os.replace(tmp, os.path.join(d, "_CURRENT"))  # atomic pointer flip

    # ---- read / write ---------------------------------------------------

    def exists(self, table: str) -> bool:
        return self.current_version(table) >= 0

    def tables(self) -> list[str]:
        """Every table directory with a committed version."""
        if not os.path.isdir(self.root):
            return []
        return sorted(
            name
            for name in os.listdir(self.root)
            if not name.startswith("_")
            and os.path.exists(os.path.join(self.root, name, "_CURRENT"))
        )

    # ---- cross-table generations (VERDICT r08 #3, protocol r10) -----------
    #
    # Per-table ``_CURRENT`` flips are atomic per TABLE, so a reader that
    # walks the store between two tables' merges sees a torn multi-table
    # state even when the writer applied a perfectly consistent cut
    # (operators/snapshot.py). A GENERATION is one manifest committing N
    # table versions atomically — the filesystem-local shape of a
    # lakehouse catalog commit.
    #
    # Round-10 protocol (fixes the ADVICE r09 two-publisher races): the
    # old claim-then-CAS-pointer-flip design had an unfixable TOCTOU —
    # any "replace the orphan claim" delete races with a concurrent
    # commit, so a pointer could end up referencing a deleted or swapped
    # manifest. The fix removes every mutation of existing files:
    #
    #   * CLAIM   ``gen=N.json`` is created by ``os.link`` from a fully
    #     written tmp file — atomic, exclusive, complete-content. A claim
    #     is IMMUTABLE: never rewritten, replaced, or deleted (except by
    #     retention pruning of long-committed generations).
    #   * COMMIT  ``gen=N.COMMIT`` marker, created with ``open(..., "x")``
    #     — atomic and exclusive, so there is EXACTLY ONE commit event
    #     per generation number, ever. The marker's creation is the
    #     linearization point; ``current_generation()`` is the max marker.
    #   * RECOVER a publisher dying between claim and marker leaves an
    #     uncommitted claim at the frontier. The next publisher ADOPTS it
    #     (creates its marker — the lock-free "helping" move, committing
    #     exactly what the dead writer staged, which is always a complete
    #     internally consistent snapshot because claims are link-atomic)
    #     and then retries at the next number.
    #
    # No file is ever deleted or replaced on a contended path, so a
    # committed generation can never reference a missing or content-
    # swapped manifest — both ADVICE r09 failure modes are impossible by
    # construction rather than guarded by checks.

    _GEN_ATTEMPTS = 16  # adoption advances the frontier every lap; backstop only

    def _gen_dir(self) -> str:
        return os.path.join(self.root, "_generations")

    def _maintenance_lock(self):
        """Store-level mutex serializing DESTRUCTIVE maintenance
        (``vacuum`` version deletes, ``prune_generations`` adoption and
        sweeps) against the publish claim window (ADVICE r10 — the
        vacuum/publish race was previously closed only by a docstring
        quiescence contract). ``fcntl.flock`` on a store-local lock
        file: advisory but honored by every path in this class,
        CRASH-SAFE (the OS drops a dead holder's lock with its fd — no
        stale-lockfile takeover protocol needed), and appropriate here
        because this sink is by definition filesystem-local. Publishers
        hold it only for the version-existence check + claim link
        (microseconds); vacuum holds it across pin-read + delete, so a
        claim can never be linked between vacuum's pin snapshot and its
        rmtree."""
        import fcntl
        from contextlib import contextmanager

        @contextmanager
        def _lock():
            os.makedirs(self._gen_dir(), exist_ok=True)
            fd = os.open(
                os.path.join(self._gen_dir(), ".MAINTENANCE_LOCK"),
                os.O_CREAT | os.O_RDWR,
                0o644,
            )
            try:
                fcntl.flock(fd, fcntl.LOCK_EX)
                yield
            finally:
                fcntl.flock(fd, fcntl.LOCK_UN)
                os.close(fd)

        return _lock()

    def _manifest_path(self, gen: int) -> str:
        return os.path.join(self._gen_dir(), f"gen={gen}.json")

    def _marker_path(self, gen: int) -> str:
        return os.path.join(self._gen_dir(), f"gen={gen}.COMMIT")

    def _gen_files(self) -> tuple[set[int], set[int]]:
        """(claimed generation numbers, committed generation numbers)."""
        d = self._gen_dir()
        claims: set[int] = set()
        markers: set[int] = set()
        if os.path.isdir(d):
            for name in os.listdir(d):
                try:
                    if name.startswith("gen=") and name.endswith(".json"):
                        claims.add(int(name[4:-5]))
                    elif name.startswith("gen=") and name.endswith(".COMMIT"):
                        markers.add(int(name[4:-7]))
                except ValueError:
                    continue
        return claims, markers

    def current_generation(self) -> int:
        """Newest committed generation: the max COMMIT marker. Markers
        are created exclusively and only pruned from the old end, so
        this is monotonic — no pointer file to regress or dangle."""
        _, markers = self._gen_files()
        return max(markers, default=-1)

    def retained_generations(self) -> list[int]:
        """Committed generations whose manifest is still retained —
        the horizon ``read_generation`` / ``read_all_at_generation`` /
        churn reports can serve."""
        claims, markers = self._gen_files()
        return sorted(claims & markers)

    def manifest(self, gen: int | None = None) -> dict[str, int]:
        """table -> version mapping committed by generation ``gen``
        (default: the current generation). Raises
        ``GenerationRetentionError`` when ``gen`` was committed but its
        manifest aged out of retention, a plain FileNotFoundError when
        it never existed."""
        import json

        if gen is None:
            gen = self.current_generation()
        if gen < 0:
            raise FileNotFoundError(f"no generation committed under {self.root}")
        try:
            with open(self._manifest_path(gen)) as fh:
                data = json.load(fh)
        except FileNotFoundError:
            cur = self.current_generation()
            if 0 <= gen <= cur:
                raise GenerationRetentionError(
                    f"generation {gen} was pruned by the retention policy "
                    f"(prune_generations / MaintenancePolicy.keep_generations); "
                    f"retained generations: {self.retained_generations()}"
                ) from None
            raise FileNotFoundError(
                f"generation {gen} does not exist under {self.root} "
                f"(current generation: {cur})"
            ) from None
        # "_publisher" is the claim-ownership nonce, not a table
        return {t: int(v) for t, v in data.items() if not t.startswith("_")}

    def _commit_marker(self, gen: int) -> bool:
        """Create gen's COMMIT marker; True if this call created it."""
        try:
            with open(self._marker_path(gen), "x"):
                pass
            return True
        except FileExistsError:
            return False

    def publish_generation(
        self,
        versions: dict[str, int] | None = None,
        expected_generation: int | None = None,
    ) -> int:
        """Atomically commit one cross-table generation; returns the
        committed generation number.

        ``versions``: explicit table -> version map; default = the
        current version of every table in the store, re-derived per
        attempt.

        ``expected_generation``: strict CAS mode — commit exactly at
        ``expected_generation + 1`` or raise ``ConcurrentWriteError``
        (a publisher that derived its versions from a stale read must
        fail loudly, not silently commit over a racer). With ``None``
        (default), a claim conflict first ADOPTS the conflicting claim
        (committing the dead-or-slow claimant's manifest — see the
        protocol note above) and then retries this publish at the next
        generation number, so crash recovery needs no operator action.

        Concurrency scope: MANIFESTS are race-free against anything
        (the protocol note above). The DATA FILES a manifest pins are
        protected by ``vacuum``'s pin set — and the window where a
        side-process vacuum could drop a version between this
        publisher's existence check and its claim link is closed by
        the store maintenance lock (ADVICE r10): the check + link run
        under ``_maintenance_lock``, the same mutex vacuum holds
        across its pin-read + delete, so once a claim is linked its
        versions are visible to every subsequent pin snapshot and a
        committed manifest can never reference a vacuumed version."""
        import json
        import uuid

        strict = expected_generation is not None
        if strict and expected_generation != self.current_generation():
            # CAS: a publisher holding a stale (or not-yet-real) view of
            # the store must fail loudly before claiming a number —
            # claiming past the frontier would commit a gapped sequence
            raise ConcurrentWriteError(
                f"store is at generation {self.current_generation()}, not "
                f"{expected_generation}; re-read the store and retry"
            )
        os.makedirs(self._gen_dir(), exist_ok=True)
        for _ in range(self._GEN_ATTEMPTS):
            expected = (
                expected_generation if strict else self.current_generation()
            )
            g = expected + 1
            vmap = (
                versions
                if versions is not None
                else {t: self.current_version(t) for t in self.tables()}
            )
            nonce = uuid.uuid4().hex
            payload = dict(vmap)
            payload["_publisher"] = nonce
            tmp = os.path.join(self._gen_dir(), f".gen={g}.{nonce}.tmp")
            with open(tmp, "w") as fh:
                json.dump(payload, fh, sort_keys=True)
            try:
                # Version-existence check + claim link under the store
                # maintenance lock (ADVICE r10): vacuum holds the same
                # lock across pin-read + delete, so a version that
                # exists here cannot vanish before the claim pins it —
                # a committed manifest can never dangle. The check also
                # fails a genuinely stale publish FAST (versions
                # vacuumed long before this attempt).
                with self._maintenance_lock():
                    for t, v in vmap.items():
                        if not os.path.isdir(
                            os.path.join(self._table_dir(t), f"v={v}")
                        ):
                            raise ConcurrentWriteError(
                                f"cannot publish generation {g}: {t} v={v} "
                                "is no longer on disk (vacuumed since this "
                                "publish was derived); re-read the store "
                                "and retry"
                            )
                    try:
                        # atomic exclusive claim with COMPLETE content:
                        # the claim either exists fully formed or not at
                        # all — a crash can never leave a truncated
                        # manifest for adoption to commit
                        os.link(tmp, self._manifest_path(g))
                        claimed = True
                    except FileExistsError:
                        claimed = False
            finally:
                os.unlink(tmp)
            if claimed:
                # our immutable manifest is staged; the marker commits it.
                # If a recovering racer adopted our claim first, the
                # committed content is still EXACTLY ours — success.
                self._commit_marker(g)
                return g
            if os.path.exists(self._marker_path(g)):
                if strict:
                    raise ConcurrentWriteError(
                        f"generation {g} is already committed; re-read the "
                        "store and retry"
                    )
                continue  # re-derive expected from the new frontier
            # uncommitted claim at the frontier: a dead mid-publish
            # writer's orphan, or a live racer one step ahead. Adopt it.
            self._commit_marker(g)
            if strict:
                raise ConcurrentWriteError(
                    f"generation {g} was claimed by another publisher (its "
                    "claim is now committed by adoption); re-read the store "
                    "and retry"
                )
        raise ConcurrentWriteError(
            f"publish_generation made no progress after {self._GEN_ATTEMPTS} "
            "attempts — a publisher storm is racing this store"
        )

    def prune_generations(
        self,
        keep_generations: int = 8,
        adopt_stale_claims_after_s: float = STALE_AFTER_S,
    ) -> list[int]:
        """Retention policy for generation manifests (VERDICT r09 #2):
        keep the newest ``keep_generations`` COMMITTED generations
        (always including the current one) plus any uncommitted frontier
        claim; drop older manifests and their markers in lockstep, so
        the vacuum pin set shrinks with retention instead of growing by
        one manifest per micro-batch forever. ``manifest()`` /
        ``read_generation`` on a pruned generation raise
        ``GenerationRetentionError`` naming this policy. Returns the
        pruned generation numbers.

        Crash recovery folded into the maintenance turn (ADVICE r10):

        - an AGE-GATED uncommitted frontier claim is ADOPTED (its
          COMMIT marker created — the same helping move publish uses),
          so a publisher that died between claim and marker no longer
          pins its versions in vacuum forever waiting for a later
          publish that may never come;
        - committed generations are dropped MARKER-FIRST: a crash
          between the two removals leaves claim-without-marker (the
          state the protocol already handles) instead of an orphan
          marker that no later prune can account for;
        - residue from crashed prunes is swept: below the current
          generation, a manifest without its marker or a marker
          without its manifest is provably prune debris (every
          committed-past generation has both by the adoption
          invariant) and is removed."""
        if keep_generations < 1:
            raise ValueError("keep_generations must be >= 1")
        with self._maintenance_lock():
            claims, markers = self._gen_files()
            cur = max(markers, default=-1)
            # ADOPT an age-gated uncommitted frontier claim (claims are
            # link-atomic complete content, so committing a dead
            # publisher's claim is always a consistent snapshot). A
            # fresh claim (a LIVE publisher mid-flight) is left alone.
            now = time.time()
            for g in sorted(claims - markers):
                if g <= cur:
                    continue
                try:
                    age = now - os.path.getmtime(self._manifest_path(g))
                except FileNotFoundError:
                    continue
                if age > adopt_stale_claims_after_s:
                    self._commit_marker(g)
            committed = self.retained_generations()
            drop = committed[:-keep_generations]
            for g in drop:
                # marker BEFORE manifest (ADVICE r10): the crash-interrupted
                # state is claim-without-marker, which the sweep below and
                # retained_generations already handle
                try:
                    os.remove(self._marker_path(g))
                except FileNotFoundError:
                    pass
                try:
                    os.remove(self._manifest_path(g))
                except FileNotFoundError:
                    pass
            # sweep crash residue strictly BELOW the current generation:
            # every generation committed in the past has claim+marker
            # (adoption invariant), so a lone half there is prune debris
            claims, markers = self._gen_files()
            cur = max(markers, default=-1)
            for g in claims - markers:
                if g < cur:
                    try:
                        os.remove(self._manifest_path(g))
                    except FileNotFoundError:
                        pass
            for g in markers - claims:
                if g < cur:
                    try:
                        os.remove(self._marker_path(g))
                    except FileNotFoundError:
                        pass
            # sweep tmp junk from crashed publishers (age-gated: a LIVE
            # publisher's tmp exists only for the instant between write
            # and link — an hour-old tmp is a crash artifact)
            d = self._gen_dir()
            if os.path.isdir(d):
                for name in os.listdir(d):
                    if name.startswith(".gen=") and name.endswith(".tmp"):
                        p = os.path.join(d, name)
                        try:
                            if now - os.path.getmtime(p) > STALE_AFTER_S:
                                os.remove(p)
                        except FileNotFoundError:
                            pass
        return drop

    def read_generation(
        self, spark: SparkSession, table: str, gen: int | None = None
    ) -> DataFrame:
        """Read ``table`` at the version the generation manifest pins —
        immune to concurrent per-table flips (tombstones filtered)."""
        return self.read_version(spark, table, self.manifest(gen)[table])

    def read_all_at_generation(
        self, spark: SparkSession, gen: int | None = None
    ) -> dict[str, DataFrame]:
        """Every table of one generation — a transactionally consistent
        view of the whole store (all-old or all-new, never mixed)."""
        m = self.manifest(gen)
        return {t: self.read_version(spark, t, v) for t, v in m.items()}

    def read(self, spark: SparkSession, table: str) -> DataFrame:
        """User-facing snapshot: tombstones filtered out (hard-deleted keys
        are invisible but retained internally — see ``merge``)."""
        return self.read_version(spark, table, self._snapshot_version(table))

    def _read_raw(self, spark: SparkSession, table: str) -> DataFrame:
        v = self._snapshot_version(table)
        return spark.read.parquet(os.path.join(self._table_dir(table), f"v={v}"))

    def _snapshot_version(self, table: str) -> int:
        v = self.current_version(table)
        if v < 0:
            raise FileNotFoundError(f"no snapshot for table {table!r} under {self.root}")
        return v

    def read_version(self, spark: SparkSession, table: str, version: int) -> DataFrame:
        """Time travel: read a specific retained snapshot version
        (tombstones filtered).

        Memoized per ``(spark, table, version)`` once the version is
        flipped (see the module docstring). The version dir is stat'ed
        on every call: a missing dir raises ``FileNotFoundError`` and
        drops the entry, and a dir whose inode or mtime changed (the
        store was rebuilt at the same path) is read afresh."""
        path = os.path.join(self._table_dir(table), f"v={version}")
        try:
            st = os.stat(path)
        except FileNotFoundError:
            st = None
        if st is None or not stat.S_ISDIR(st.st_mode):
            self._evict(table, {version})
            raise FileNotFoundError(f"version {version} of {table!r} not found")
        key = (spark, table, version)
        ident = (st.st_ino, st.st_mtime_ns)
        with self._read_memo_lock:
            hit = self._read_memo.get(key)
            if hit is not None and hit[0] == ident:
                self._read_memo.move_to_end(key)
                return hit[1]
        df = spark.read.parquet(path)
        if TOMBSTONE in df.columns:
            df = df.filter(~F.col(TOMBSTONE)).drop(TOMBSTONE)
        # checked AFTER the read: a claim flipped in between was already
        # its final content when read
        if version <= self.current_version(table):
            with self._read_memo_lock:
                self._read_memo[key] = (ident, df)
                self._read_memo.move_to_end(key)
                while len(self._read_memo) > READ_MEMO_SIZE:
                    self._read_memo.popitem(last=False)
        return df

    def _evict(self, table: str, versions: set[int]) -> None:
        """Drop the memoized reads of ``versions`` of ``table``, in every
        session."""
        with self._read_memo_lock:
            for key in [
                k for k in self._read_memo if k[1] == table and k[2] in versions
            ]:
                del self._read_memo[key]

    def versions(self, table: str) -> list[int]:
        d = self._table_dir(table)
        if not os.path.isdir(d):
            return []
        return sorted(
            int(name[2:]) for name in os.listdir(d) if name.startswith("v=")
        )

    def _generation_pinned(self, table: str) -> set[int]:
        """Versions of ``table`` pinned by ANY retained generation
        manifest — committed generations AND uncommitted frontier claims
        (an in-flight publish's versions must survive until its adoption
        or commit). Generation readers stay consistent across
        maintenance for the whole retained horizon (VERDICT r09 #2)."""
        claims, _ = self._gen_files()
        pinned: set[int] = set()
        for g in claims:
            try:
                v = self.manifest(g).get(table)
            except (FileNotFoundError, ValueError):
                continue  # pruned between listdir and read
            if v is not None:
                pinned.add(v)
        return pinned

    def vacuum(self, table: str, keep_last: int = 2) -> list[int]:
        """Drop all but the newest ``keep_last`` snapshot versions —
        never the current pointer's target, and never a version any
        RETAINED generation manifest pins (run ``prune_generations``
        first to shrink that pin set; retention of manifests and of the
        versions they pin move in lockstep). Old versions are what give
        replay / time travel; at scale they're also storage — same
        trade Delta's VACUUM makes. Also sweeps the stage dirs of
        crashed writers (``_sweep_stale_stages``)."""
        import shutil

        # pin-read + delete under the store maintenance lock (ADVICE
        # r10): a publisher's existence-check + claim link holds the
        # same lock, so no claim can appear between this snapshot of
        # the pin set and the rmtree below — the race is closed by the
        # mutex, not by a re-read heuristic or a prose contract
        with self._maintenance_lock():
            pinned = {self.current_version(table)} | self._generation_pinned(
                table
            )
            removable = [
                v for v in self.versions(table)[:-keep_last] if v not in pinned
            ]
            for v in removable:
                shutil.rmtree(os.path.join(self._table_dir(table), f"v={v}"))
            self._evict(table, set(removable))
            self._sweep_stale_stages(table)
        return removable

    def _sweep_stale_stages(self, table: str) -> None:
        """Remove ``.v<n>.stage.*`` dirs that nothing has written to for
        ``STALE_AFTER_S``: their writer crashed between staging and the
        claim rename. Age is the newest mtime anywhere in the dir, so a
        long-running live write, which keeps adding task output, is
        never swept."""
        import shutil

        d = self._table_dir(table)
        if not os.path.isdir(d):
            return
        now = time.time()
        for name in os.listdir(d):
            if not (name.startswith(".v") and ".stage." in name):
                continue
            stage = os.path.join(d, name)
            newest = 0.0
            try:
                for sub, _, files in os.walk(stage):
                    for p in [sub, *(os.path.join(sub, n) for n in files)]:
                        newest = max(newest, os.path.getmtime(p))
            except FileNotFoundError:
                continue  # its live writer is moving task output
            if now - newest > STALE_AFTER_S:
                shutil.rmtree(stage, ignore_errors=True)

    def compact(
        self,
        spark: SparkSession,
        table: str,
        target_files: int = 8,
        zorder_by: list[str] | None = None,
    ) -> int:
        """Rewrite the current snapshot into ``target_files`` files — the
        small-file compaction every micro-batch MERGE sink needs (each
        merge writes shuffle.partitions files; hundreds of batches →
        thousands of small files → scan death at scale).

        ``zorder_by``: also recluster along the Morton curve of these
        columns (operators/zorder.py) so footer min/max stats prune scans
        on every listed column — the OPTIMIZE ... ZORDER BY posture.
        Merges append in arrival order, so clustering decays with every
        batch; compaction is exactly the place to restore it."""
        base_v = self.current_version(table)
        df = self._read_raw(spark, table)
        if zorder_by:
            from snowflake_cdc_spark.operators.zorder import with_z_value

            df = (
                with_z_value(df, zorder_by)
                .repartitionByRange(target_files, F.col("__z"))
                .sortWithinPartitions("__z")
                .drop("__z")
            )
        else:
            df = df.coalesce(target_files)
        return self.overwrite(df, table, expected_current=base_v)

    def overwrite(
        self, df: DataFrame, table: str, expected_current: int | None = None
    ) -> int:
        """Write the next snapshot version and flip the pointer, with
        optimistic-concurrency discipline (the Delta/Iceberg commit
        posture, filesystem-local):

        1. the plan executes into a uniquely-named staging dir — a slow
           competing write can never mix files into a live version;
        2. ``os.rename(stage, v=<n>)`` atomically CLAIMS the version
           number — two writers racing to the same ``n`` produce exactly
           one winner (rename onto a non-empty directory fails);
        3. before the flip, ``_CURRENT`` is re-read and compared to
           ``expected_current`` (the version this write was derived
           from — CAS): if another writer advanced the table meanwhile,
           the claimed version is rolled back and
           ``ConcurrentWriteError`` raised, so the LOSER fails loudly
           instead of silently discarding the winner's changes.

        ``expected_current=None`` resolves to the pointer as of now —
        callers that derived ``df`` from an earlier read (``merge``,
        ``compact``) pass the version they actually read. The re-read
        is a guard, not a lock: writers that lose the rename race or
        the pointer check must retry from the new current version."""
        import shutil
        import uuid

        if expected_current is None:
            expected_current = self.current_version(table)
        v = expected_current + 1
        d = self._table_dir(table)
        os.makedirs(d, exist_ok=True)
        stage = os.path.join(d, f".v{v}.stage.{uuid.uuid4().hex}")
        try:
            df.write.mode("overwrite").parquet(stage)
        except BaseException:
            shutil.rmtree(stage, ignore_errors=True)
            raise
        final = os.path.join(d, f"v={v}")
        try:
            os.rename(stage, final)
        except OSError as e:
            # only a lost claim race (target already exists) is a
            # concurrency conflict worth retrying; EACCES/ENOSPC/EXDEV
            # etc. are genuine I/O failures — re-raise them unchanged so
            # callers don't retry an operation that can never succeed
            import errno

            shutil.rmtree(stage, ignore_errors=True)
            if e.errno not in (errno.ENOTEMPTY, errno.EEXIST, errno.EISDIR):
                raise
            self._adopt_stale_claim(table, v)
            raise ConcurrentWriteError(
                f"{table}: version v={v} already claimed by another "
                f"writer; re-read the snapshot and retry the merge"
            ) from e
        cur = self.current_version(table)
        if cur == v:
            # another writer took this claim for a dead writer's and
            # adopted it (``_adopt_stale_claim``): what it committed is ours
            return v
        if cur != expected_current:
            shutil.rmtree(final, ignore_errors=True)
            raise ConcurrentWriteError(
                f"{table}: snapshot advanced past v={expected_current} "
                f"while this write was derived from it; retry from the "
                f"new current version"
            )
        self._flip(table, v)
        return v

    def _adopt_stale_claim(self, table: str, v: int) -> None:
        """Flip to ``v=<v>`` if it is a claim whose writer died before
        its flip: older than ``STALE_AFTER_S`` and one past ``_CURRENT``.
        A claim holds a complete version (the rename is atomic), so this
        commits exactly what the dead writer staged — the helping move
        ``publish_generation`` makes for generation claims. Without it,
        every later merge would lose the claim race at ``v`` for good.

        Check and flip run under the store maintenance lock: two
        adopters could otherwise both pass the check, and the later
        flip would regress ``_CURRENT`` past a merge committed on top of
        the earlier one."""
        try:
            age = time.time() - os.path.getmtime(
                os.path.join(self._table_dir(table), f"v={v}")
            )
        except FileNotFoundError:
            return  # its writer rolled it back meanwhile
        if age <= STALE_AFTER_S:
            return
        with self._maintenance_lock():
            if self.current_version(table) == v - 1:
                self._flip(table, v)

    def merge(
        self,
        changes: DataFrame,
        table: str,
        key_cols: list[str],
        seq_col: str = "seq",
        delete_col: str = "is_delete",
        hard_delete: bool = True,
        logical_col: str = "is_deleted",
        prefer_incoming_on_tie: bool = False,
    ) -> int:
        """MERGE one micro-batch of changes into the snapshot.

        next = latest_by_key(current_raw ∪ changes). Hard deletes become
        retained tombstone rows (filtered by ``read``); logical deletes
        materialize as ``logical_col``. Because the stored seq (including
        tombstones') participates in the latest-by-key race, the merge is
        idempotent AND commutative across batches: replaying an old batch
        or receiving events out of order cannot regress a row — effective
        exactly-once on top of at-least-once delivery (SURVEY.md §2.8).
        """
        spark = changes.sparkSession
        delete_marker = F.coalesce(F.col(delete_col), F.lit(False))

        if hard_delete:
            staged = changes.withColumn(TOMBSTONE, delete_marker)
        else:
            staged = changes.withColumn(logical_col, delete_marker)
        # Seq-tie semantics: by DEFAULT the stored row wins ties, so an
        # at-least-once redelivery of an already-applied event (possibly
        # missing columns added since) can never regress the snapshot —
        # that's the idempotency contract. A drift backfill (E3) replays
        # the same seqs deliberately carrying MORE data and opts into
        # ``prefer_incoming_on_tie`` (see latest_by_key compound order).
        incoming_rank = 2 if prefer_incoming_on_tie else 0  # stored rank is 1
        staged = staged.drop(delete_col).withColumn("__src", F.lit(incoming_rank))

        # pin the version this merge derives from: the CAS in overwrite
        # compares against it, so a concurrent merge that advances the
        # table between here and the flip fails THIS writer loudly
        base_v = self.current_version(table)
        if base_v >= 0:
            current = spark.read.parquet(
                os.path.join(self._table_dir(table), f"v={base_v}")
            ).withColumn("__src", F.lit(1))
            # E2 widen: schema drift handled by name-based union
            combined = current.unionByName(staged, allowMissingColumns=True)
        else:
            combined = staged

        latest = latest_by_key(combined, key_cols, [seq_col, "__src"]).drop("__src")
        if hard_delete:
            latest = latest.withColumn(
                TOMBSTONE, F.coalesce(F.col(TOMBSTONE), F.lit(False))
            )
        else:
            latest = latest.withColumn(
                logical_col, F.coalesce(F.col(logical_col), F.lit(False))
            )
        return self.overwrite(latest, table, expected_current=base_v)
