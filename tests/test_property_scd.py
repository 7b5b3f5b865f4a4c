"""Property-based verification of SCD2 (hypothesis): the engine must
agree with a 15-line pure-Python replay for ANY change log, and the
history published per micro-batch from a sink-landed change log must
agree with it for ANY delivery order and partitioning of that log into
micro-batches — delivery order is not a correctness input (same
doctrine as test_property_upsert.py)."""

from __future__ import annotations

from conftest import prop_settings, scd2_land_batch
from hypothesis import given
from hypothesis import strategies as st

from snowflake_cdc_spark.operators.scd import scd2_from_changes
from snowflake_cdc_spark.sinks.parquet_sink import ParquetSnapshotSink

SCHEMA = "k int, v string, ts int, seq long"


@st.composite
def change_logs(draw):
    n = draw(st.integers(1, 25))
    keys = draw(st.lists(st.integers(0, 3), min_size=n, max_size=n))
    values = draw(st.lists(st.sampled_from(["a", "b", "c"]), min_size=n, max_size=n))
    tss = draw(st.lists(st.integers(0, 12), min_size=n, max_size=n))
    return [
        (k, v, ts, seq) for seq, (k, v, ts) in enumerate(zip(keys, values, tss))
    ]


def _row_key(r):
    # None-safe total order: ts-tied logs can yield two runs with an
    # identical (k, v, valid_from) prefix, one open (valid_to=None) —
    # bare tuple sort would compare None < int and raise
    return (r[0], r[1], r[2], r[3] is None, r[3] or 0, r[4])


def python_oracle(log):
    """Replay per key in (ts, seq) order; collapse equal-value runs."""
    by_key: dict[int, list] = {}
    for k, v, ts, seq in sorted(log, key=lambda r: (r[2], r[3])):
        by_key.setdefault(k, []).append((v, ts))
    out = []
    for k, changes in by_key.items():
        runs = []
        for v, ts in changes:
            if not runs or runs[-1][0] != v:
                runs.append((v, ts))
        for i, (v, ts) in enumerate(runs):
            nxt = runs[i + 1][1] if i + 1 < len(runs) else None
            out.append((k, v, ts, nxt, nxt is None))
    return sorted(out, key=_row_key)


def _canon(df):
    return sorted(
        (
            (r.k, r.v, r.valid_from, r.valid_to, r.is_current)
            for r in df.select(
                "k", "v", "valid_from", "valid_to", "is_current"
            ).collect()
        ),
        key=_row_key,
    )


@prop_settings(20)
@given(log=change_logs())
def test_scd2_matches_python_replay(spark, log):
    got = _canon(
        scd2_from_changes(
            spark.createDataFrame(log, SCHEMA), ["k"], "v", "ts", "seq"
        )
    )
    assert got == python_oracle(log)


@prop_settings(6)
@given(log=change_logs(), batch_size=st.integers(5, 12), data=st.data())
def test_incremental_equals_batch_for_any_split(
    spark, tmp_path_factory, log, batch_size, data
):
    # shuffle delivery order, then split into micro-batches
    order = data.draw(st.permutations(range(len(log))))
    shuffled = [log[i] for i in order]
    sink = ParquetSnapshotSink(str(tmp_path_factory.mktemp("scd")))
    for lo in range(0, len(shuffled), batch_size):
        scd2_land_batch(
            sink,
            spark.createDataFrame(shuffled[lo : lo + batch_size], SCHEMA),
            "dim",
            ["k"],
            "v",
            "ts",
            "seq",
        )
    assert _canon(sink.read(spark, "dim")) == python_oracle(log)
