"""Snapshot-sink read memo and write-debris recovery.

A flipped version is immutable, so ``read_version`` memoizes its
DataFrame per ``(SparkSession, table, version)``: a repeat read submits
no Spark job. Vacuumed, unflipped and out-of-band-deleted versions must
never be served from the memo. Also: a failed stage write leaves no
stage dir, ``vacuum`` sweeps aged stage dirs, and a claim whose writer
died before its flip is adopted instead of wedging the table."""

from __future__ import annotations

import os
import shutil
import sys
import threading
import time
import uuid

import pytest
from pyspark.sql import functions as F

from snowflake_cdc_spark.engine import Engine
from snowflake_cdc_spark.sinks import parquet_sink
from snowflake_cdc_spark.sinks.parquet_sink import (
    ConcurrentWriteError,
    GenerationRetentionError,
    ParquetSnapshotSink,
)

SCHEMA = "k int, val string, seq bigint, is_delete boolean"
AGED = time.time() - 2 * parquet_sink.STALE_AFTER_S


def _merge(spark, sink, rows, table="T"):
    return sink.merge(spark.createDataFrame(rows, SCHEMA), table, key_cols=["k"])


def _rows(df):
    return sorted((r.k, r.val) for r in df.select("k", "val").collect())


def _jobs_submitted(spark, fn):
    """(fn's result, number of Spark jobs fn submitted). The listener bus
    delivers job starts in order, so once a sentinel job submitted after
    ``fn`` is visible to the status tracker, every job of ``fn`` is too."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    group, sentinel = f"memo-{uuid.uuid4().hex}", f"sentinel-{uuid.uuid4().hex}"
    try:
        sc.setJobGroup(group, group)
        out = fn()
        sc.setJobGroup(sentinel, sentinel)
        sc.parallelize([0], 1).count()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    deadline = time.time() + 30
    while not tracker.getJobIdsForGroup(sentinel) and time.time() < deadline:
        time.sleep(0.05)
    assert tracker.getJobIdsForGroup(sentinel), "sentinel job never reported"
    return out, len(tracker.getJobIdsForGroup(group))


def _memo_versions(sink, table="T"):
    return sorted(k[2] for k in sink._read_memo if k[1] == table)


def test_repeat_read_is_memoized_and_submits_no_job(spark, tmp_path):
    sink = ParquetSnapshotSink(str(tmp_path / "snap"))
    _merge(spark, sink, [(1, "a", 1, False), (2, "b", 1, False)])
    _merge(spark, sink, [(2, "b", 2, True)])  # tombstone for k=2

    first, n_first = _jobs_submitted(spark, lambda: sink.read_version(spark, "T", 1))
    assert n_first >= 1  # the miss lists files and infers the schema
    again, n_again = _jobs_submitted(spark, lambda: sink.read_version(spark, "T", 1))
    assert again is first
    assert n_again == 0
    # read() goes through the same memo: one tombstone filter, one cache
    assert sink.read(spark, "T") is first
    assert _rows(first) == [(1, "a")]


def test_each_session_gets_its_own_entry(spark, tmp_path):
    sink = ParquetSnapshotSink(str(tmp_path / "snap"))
    _merge(spark, sink, [(1, "a", 1, False)])
    other = spark.newSession()
    mine = sink.read_version(spark, "T", 0)
    theirs = sink.read_version(other, "T", 0)
    assert theirs is not mine
    assert theirs.sparkSession is other
    assert sink.read_version(other, "T", 0) is theirs
    assert sink.read_version(spark, "T", 0) is mine


def test_vacuum_evicts_and_later_reads_raise(spark, tmp_path):
    root = str(tmp_path / "snap")
    sink = ParquetSnapshotSink(root)
    for seq in range(1, 5):
        _merge(spark, sink, [(1, f"v{seq}", seq, False)])  # v=0..3
    for v in range(4):
        sink.read_version(spark, "T", v)
    assert _memo_versions(sink) == [0, 1, 2, 3]

    assert sink.vacuum("T", keep_last=2) == [0, 1]
    assert _memo_versions(sink) == [2, 3]
    with pytest.raises(FileNotFoundError):
        sink.read_version(spark, "T", 0)

    # a vacuum by ANOTHER sink instance: the stat before the lookup
    # raises, and the stale entry is dropped
    _merge(spark, sink, [(1, "v5", 5, False)])  # v=4
    assert ParquetSnapshotSink(root).vacuum("T", keep_last=2) == [2]
    with pytest.raises(FileNotFoundError):
        sink.read_version(spark, "T", 2)
    assert 2 not in _memo_versions(sink)
    assert _rows(sink.read(spark, "T")) == [(1, "v5")]


def test_unflipped_claim_is_not_memoized(spark, tmp_path):
    root = str(tmp_path / "snap")
    sink = ParquetSnapshotSink(root)
    _merge(spark, sink, [(1, "a", 1, False)])
    # a claimed-but-unflipped v=1: renamed into place, _CURRENT still 0
    shutil.copytree(os.path.join(root, "T", "v=0"), os.path.join(root, "T", "v=1"))
    first = sink.read_version(spark, "T", 1)
    assert sink.read_version(spark, "T", 1) is not first
    assert _memo_versions(sink) == []
    # the writer rolls the claim back and a retry claims v=1 with other
    # content: the reader sees the new content, never the rolled-back one
    shutil.rmtree(os.path.join(root, "T", "v=1"))
    assert _merge(spark, sink, [(2, "b", 2, False)]) == 1
    assert _rows(sink.read_version(spark, "T", 1)) == [(1, "a"), (2, "b")]


def test_rebuilt_store_is_read_afresh(spark, tmp_path):
    root = str(tmp_path / "snap")
    sink = ParquetSnapshotSink(root)
    _merge(spark, sink, [(1, "old", 1, False)])
    assert _rows(sink.read(spark, "T")) == [(1, "old")]
    shutil.rmtree(root)
    _merge(spark, ParquetSnapshotSink(root), [(7, "new", 1, False)])
    assert _rows(sink.read(spark, "T")) == [(7, "new")]


def test_retention_error_survives_the_memo(spark, tmp_path):
    root = str(tmp_path / "snap")
    sink = ParquetSnapshotSink(root)
    eng = Engine(spark)
    _merge(spark, sink, [(1, "a", 1, False)])
    sink.publish_generation()
    old = eng.at_generation(sink)
    assert _rows(old.table("T")) == [(1, "a")]  # memoized
    _merge(spark, sink, [(1, "b", 2, False)])
    sink.publish_generation()
    live = eng.at_generation(sink)
    assert _rows(live.table("T")) == [(1, "b")]  # memoized

    sink.prune_generations(keep_generations=1)
    assert sink.vacuum("T", keep_last=1) == [0]
    with pytest.raises(GenerationRetentionError):
        old.table("T")
    # a retained generation whose version was deleted out of band: the
    # memo entry must not hide the missing files
    shutil.rmtree(os.path.join(root, "T", "v=1"))
    with pytest.raises(GenerationRetentionError, match="no longer on disk"):
        live.table("T")


def test_self_join_of_one_memoized_version(spark, tmp_path):
    sink = ParquetSnapshotSink(str(tmp_path / "snap"))
    rows = [(k, f"r{k % 3}", 1, False) for k in range(6)]
    _merge(spark, sink, rows)
    _merge(spark, sink, [(5, "gone", 2, True)])
    sink.publish_generation()
    eng = Engine(spark)
    eng.register_generation(sink, prefix="memo_a_")
    eng.register_generation(sink, prefix="memo_b_")
    assert spark.table("memo_a_T").count() == 5
    got = eng.sql(
        "SELECT a.k AS ak, b.k AS bk FROM memo_a_T a JOIN memo_b_T b "
        "ON a.val = b.val AND a.k < b.k"
    ).collect()
    assert sorted((r.ak, r.bk) for r in got) == [(0, 3), (1, 4)]


def test_concurrent_readers_share_a_bounded_memo(spark, tmp_path, monkeypatch):
    monkeypatch.setattr(parquet_sink, "READ_MEMO_SIZE", 2)
    sink = ParquetSnapshotSink(str(tmp_path / "snap"))
    for seq in range(1, 5):
        _merge(spark, sink, [(seq, "x", seq, False)])  # v=n holds n+1 keys
    expected = {v: v + 1 for v in range(4)}
    errors: list[BaseException] = []

    def reader(i):
        try:
            for j in range(3):
                v = (i + j) % 4
                n = sink.read_version(spark, "T", v).count()
                if n != expected[v]:
                    raise AssertionError(f"v={v}: {n} rows")
        except BaseException as e:  # noqa: BLE001 - reported below
            errors.append(e)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [threading.Thread(target=reader, args=(i,)) for i in range(6)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors
    assert len(sink._read_memo) <= 2


# ---- write debris ------------------------------------------------------


def _stages(root, table="T"):
    return sorted(n for n in os.listdir(os.path.join(root, table)) if ".stage." in n)


def test_failed_write_leaves_no_stage_dir(spark, tmp_path):
    root = str(tmp_path / "snap")
    sink = ParquetSnapshotSink(root)
    _merge(spark, sink, [(1, "a", 1, False)])
    bad = spark.range(3).withColumn("boom", F.raise_error(F.lit("write fails")))
    with pytest.raises(Exception, match="write fails"):
        sink.overwrite(bad, "T")
    assert _stages(root) == []
    assert sink.versions("T") == [0]


def test_vacuum_sweeps_only_aged_stage_dirs(spark, tmp_path):
    root = str(tmp_path / "snap")
    sink = ParquetSnapshotSink(root)
    _merge(spark, sink, [(1, "a", 1, False)])
    tdir = os.path.join(root, "T")
    for name in (".v1.stage.dead", ".v1.stage.busy", ".v1.stage.fresh"):
        os.makedirs(os.path.join(tdir, name, "_temporary"))
        with open(os.path.join(tdir, name, "_temporary", "part-0"), "w") as fh:
            fh.write("x")
    for name, stamps in ((".v1.stage.dead", 3), (".v1.stage.busy", 2)):
        # dead: every entry is aged; busy: an old dir whose live writer
        # is still adding task output
        paths = [
            os.path.join(tdir, name),
            os.path.join(tdir, name, "_temporary"),
            os.path.join(tdir, name, "_temporary", "part-0"),
        ]
        for p in paths[:stamps]:
            os.utime(p, (AGED, AGED))
    sink.vacuum("T")
    assert _stages(root) == [".v1.stage.busy", ".v1.stage.fresh"]


def test_aged_unflipped_claim_is_adopted(spark, tmp_path):
    root = str(tmp_path / "snap")
    sink = ParquetSnapshotSink(root)
    _merge(spark, sink, [(1, "a", 1, False), (2, "b", 1, False)])

    class DiesBeforeFlip(ParquetSnapshotSink):
        def _flip(self, table, version):
            raise RuntimeError("writer died after its claim rename")

    with pytest.raises(RuntimeError, match="writer died"):
        _merge(spark, DiesBeforeFlip(root), [(2, "b2", 2, False), (3, "c", 2, False)])
    assert sink.versions("T") == [0, 1] and sink.current_version("T") == 0

    later = [(1, "a3", 3, False), (3, "c", 3, True)]
    # a fresh claim may belong to a live writer: not adopted
    with pytest.raises(ConcurrentWriteError):
        _merge(spark, sink, later)
    assert sink.current_version("T") == 0

    os.utime(os.path.join(root, "T", "v=1"), (AGED, AGED))
    with pytest.raises(ConcurrentWriteError):
        _merge(spark, sink, later)  # adopts v=1, then asks for a retry
    assert sink.current_version("T") == 1
    assert _merge(spark, sink, later) == 2
    assert _rows(sink.read(spark, "T")) == [(1, "a3"), (2, "b2")]
