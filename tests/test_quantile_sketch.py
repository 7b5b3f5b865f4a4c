"""Deterministic mergeable quantile sketch
(operators/quantile_sketch.py): the sample against a reference bottom-k,
exact merge law of the samples over arbitrary splits, rank-interval accuracy vs the DKW bound, tie/duplicate handling, and
small-sample degenerate cases."""

from __future__ import annotations

import hashlib
import random

from conftest import prop_settings
from hypothesis import given
from hypothesis import strategies as st
from pyspark.sql import functions as F

from snowflake_cdc_spark.operators.quantile_sketch import (
    bottomk_sample,
    quantile_estimates,
    rank_check,
)

K = 16  # small k so the sample is a strict subset of most inputs


def _df(spark, rows):
    """rows: (id, value); empty input yields an empty typed frame."""
    if not rows:
        return spark.createDataFrame([("x", 0)], "pk string, v long").limit(0)
    return spark.createDataFrame(rows, "pk string, v long")


def _ref_bottomk(rows, k=K):
    """Reference sketch: k smallest (md5(id), v) pairs."""
    keyed = sorted(
        (hashlib.md5(pk.encode()).hexdigest(), v) for pk, v in rows
    )
    return keyed[:k]


def _merge(a, b, k=K):
    """Merge two samples' (h, v) pairs: bottom-k of their set union."""
    return sorted(set(a) | set(b))[:k]


def _sample(spark, rows):
    return sorted(
        (r.h, r.v) for r in bottomk_sample(_df(spark, rows), "v", "pk", K).collect()
    )


class TestMergeLaw:
    @prop_settings(12)
    @given(
        n=st.integers(1, 60),
        cut=st.integers(1, 59),
        seed=st.integers(0, 10**6),
    )
    def test_sketch_of_union_equals_merge_of_sketches(self, spark, n, cut, seed):
        rng = random.Random(seed)
        rows = [(f"id{i}", rng.randint(0, 1000)) for i in range(n)]
        cut = min(cut, n)
        a, b = rows[:cut], rows[cut:]  # b may be empty: merge vs empty
        merged = _merge(_sample(spark, a), _sample(spark, b))
        assert merged == _sample(spark, rows) == _ref_bottomk(rows)

    def test_merge_associative_and_idempotent(self, spark):
        rows = [(f"id{i}", i * 7 % 101) for i in range(40)]
        parts = [rows[:10], rows[10:25], rows[25:]]
        samples = [_sample(spark, p) for p in parts]
        left = _merge(_merge(samples[0], samples[1]), samples[2])
        right = _merge(samples[0], _merge(samples[1], samples[2]))
        again = _merge(left, left)  # idempotent
        want = _ref_bottomk(rows)
        for m in (left, right, again):
            assert m == want


class TestSample:
    @prop_settings(12)
    @given(n=st.integers(0, 60), seed=st.integers(0, 10**6))
    def test_sample_equals_reference_bottomk(self, spark, n, seed):
        rng = random.Random(seed)
        rows = [(f"id{i}", rng.randint(0, 1000)) for i in range(n)]
        got = sorted(
            (r.h, r.v)
            for r in bottomk_sample(_df(spark, rows), "v", "pk", K).collect()
        )
        assert got == _ref_bottomk(rows)


class TestEstimates:
    def test_exact_when_k_covers_data(self, spark):
        # m <= k: the "sample" is the whole multiset, estimates are the
        # exact ceil-rank order statistics
        rows = [(f"id{i}", v) for i, v in enumerate([5, 1, 9, 3, 7])]
        smp = bottomk_sample(_df(spark, rows), "v", "pk", k=16)
        got = {
            r.q_ppm: r.est
            for r in quantile_estimates(smp, [200000, 500000, 1000000]).collect()
        }
        # sorted: [1,3,5,7,9]; ceil(.2*5)=1 -> 1; ceil(.5*5)=3 -> 5;
        # ceil(1*5)=5 -> 9
        assert got == {200000: 1, 500000: 5, 1000000: 9}

    def test_rank_interval_within_dkw_bound(self, spark):
        rng = random.Random(3)
        rows = [(f"id{i}", rng.randint(0, 10**6)) for i in range(5000)]
        df = _df(spark, rows)
        smp = bottomk_sample(df, "v", "pk", k=256)
        est = quantile_estimates(smp, [250000, 500000, 750000, 900000])
        out = rank_check(df, "v", est, eps_ppm=130000).collect()
        assert len(out) == 4
        assert all(r.within_bound for r in out)
        # and the interval really is the estimate's rank neighborhood
        vals = sorted(v for _, v in rows)
        for r in out:
            import bisect

            assert r.r_lo == bisect.bisect_left(vals, r.est)
            assert r.r_hi == bisect.bisect_right(vals, r.est)

    def test_heavy_ties(self, spark):
        rows = [(f"id{i}", 42) for i in range(100)] + [("x", 1), ("y", 99)]
        df = _df(spark, rows)
        smp = bottomk_sample(df, "v", "pk", k=32)
        out = rank_check(
            df, "v", quantile_estimates(smp, [500000]), eps_ppm=130000
        ).collect()[0]
        assert out.est == 42 and out.within_bound
