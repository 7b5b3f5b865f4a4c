"""Operator tests for the governance lane (q130-q132): BM25 scoring,
per-group caps (incl. the mega-domain prefilter and its exactness
fallback), and the one-scan DQ expectation report."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from snowflake_cdc_spark.operators.curation import cap_per_group, _md5_uniform
from snowflake_cdc_spark.operators.expectations import (
    accepted_values,
    dq_report,
    not_null,
    unique,
)
from snowflake_cdc_spark.operators.retrieval import bm25_topk

import pytest

# deep-soak lane: excluded from the default fast run (pytest.ini,
# VERDICT r11 item 7) — run with `pytest -m "" tests/`
pytestmark = pytest.mark.slow


def _canon(df):
    return sorted(tuple(r) for r in df.collect())


class TestCapPerGroup:
    def test_prefilter_equals_naive_on_skewed_groups(self, spark):
        # One mega-group (20k rows) + many small groups: the prefilter
        # path must return EXACTLY the naive window's survivors.
        df = spark.range(0, 21000).select(
            F.when(F.col("id") < 20000, F.lit("mega"))
            .otherwise(F.concat(F.lit("g"), (F.col("id") % 50).cast("string")))
            .alias("grp"),
            F.col("id"),
        )
        fast = cap_per_group(df, "grp", "id", cap=10, prefilter=True)
        naive = cap_per_group(df, "grp", "id", cap=10, prefilter=False)
        assert _canon(fast) == _canon(naive)

    def test_prefilter_bounds_windowed_set(self, spark):
        # The windowed set for the mega group is ~margin*cap rows, not
        # the whole group: verify the threshold math directly (the
        # survivor count IS what enters the per-group sort).
        n, cap, margin = 50000, 10, 4.0
        df = spark.range(0, n).select(F.lit("mega").alias("grp"), F.col("id"))
        frac = margin * cap / n
        survivors = df.filter(_md5_uniform("id") < F.lit(frac)).count()
        # Binomial(n=50k, p=frac): mean margin*cap = 40; assert it stayed
        # within a loose 6-sigma band — i.e. the sort is O(margin*cap),
        # four orders of magnitude below the group size.
        sigma = math.sqrt(n * frac)
        assert cap <= survivors <= margin * cap + 6 * sigma

    def test_fallback_restores_exactness_when_prefilter_underdelivers(self, spark):
        # A pathologically small margin makes the prefilter keep fewer
        # than cap rows for most groups; the redo lane must still
        # produce the exact naive answer.
        df = spark.range(0, 5000).select(
            (F.col("id") % 7).cast("string").alias("grp"), F.col("id")
        )
        fast = cap_per_group(df, "grp", "id", cap=50, prefilter=True, margin=0.07)
        naive = cap_per_group(df, "grp", "id", cap=50, prefilter=False)
        assert _canon(fast) == _canon(naive)

    def test_groups_smaller_than_cap_survive_whole(self, spark):
        df = spark.range(0, 30).select(
            (F.col("id") % 10).cast("string").alias("grp"), F.col("id")
        )
        out = cap_per_group(df, "grp", "id", cap=10)
        assert out.count() == 30


class TestBm25:
    def test_matches_hand_computation(self, spark):
        rows = [
            (1, "a b query"),
            (2, "query query other"),
            (3, "a b c d"),
        ]
        df = spark.createDataFrame(rows, ["doc_id", "text"])
        out = {r.doc_id: r.bm25 for r in bm25_topk(df, "doc_id", "text", ["query"], k=3).collect()}
        # Hand BM25: N=3, df=2, idf=ln(1 + 1.5/2.5); dls 3,3,4; avgdl=10/3.
        idf = math.log(1 + (3 - 2 + 0.5) / (2 + 0.5))

        def score(tf, dl):
            return idf * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * (dl / (10 / 3))))

        assert out[1] == math.floor(score(1, 3) * 10000 + 0.5) / 10000
        assert out[2] == math.floor(score(2, 3) * 10000 + 0.5) / 10000
        assert 3 not in out  # no query term -> no score row
        assert out[2] > out[1]  # higher tf wins at equal dl

    def test_length_normalization_prefers_shorter_doc(self, spark):
        rows = [(1, "query " + "pad " * 50), (2, "query pad")]
        df = spark.createDataFrame(rows, ["doc_id", "text"])
        out = {r.doc_id: r.bm25 for r in bm25_topk(df, "doc_id", "text", ["query"], k=2).collect()}
        assert out[2] > out[1]


class TestDqReport:
    def test_planted_violations_surface(self, spark):
        rows = [(1, "A"), (2, "B"), (2, "C"), (None, "Z")]
        df = spark.createDataFrame(rows, ["k", "v"])
        rep = {
            r.check_name: r
            for r in dq_report(
                df,
                [not_null("k"), unique("k"), accepted_values("v", ["A", "B", "C"])],
            ).collect()
        }
        c = rep["completeness_k"]
        assert (c.n_pass, c.n_total, c.passed) == (3, 4, False)
        u = rep["uniqueness_k"]  # distinct non-null k = {1, 2}
        assert (u.n_pass, u.passed) == (2, False)
        a = rep["accepted_values_v"]
        assert (a.n_pass, a.passed) == (3, False)
        assert c.ratio == 0.75

    def test_single_scan_plan(self, spark, tmp_path):
        # All constraints compile into ONE scan of the source: the
        # physical plan must reference the parquet relation exactly once.
        p = str(tmp_path / "t.parquet")
        spark.range(0, 100).select(
            F.col("id"), (F.col("id") % 5).alias("v")
        ).write.parquet(p)
        df = spark.read.parquet(p)
        rep = dq_report(df, [not_null("id"), accepted_values("v", [0, 1, 2, 3, 4])])
        plan = rep._jdf.queryExecution().executedPlan().toString()
        assert plan.count("Scan parquet") == 1


class TestColumnProfile:
    """profile_table (q147): discovery-side profiling — exact per-column
    stats, null semantics, native-type min/max, one-scan plan."""

    def test_profile_stats_and_null_semantics(self, spark):
        from snowflake_cdc_spark.operators.expectations import profile_table

        df = spark.createDataFrame(
            [(1, "a"), (2, None), (10, "b"), (None, "b")], ["k", "v"]
        )
        prof = {r.col_name: r for r in profile_table(df).collect()}
        k = prof["k"]
        # min/max on the NATIVE type: 2 < 10 numerically (a lex string
        # min would give "1" < "10" < "2")
        assert (k.n_total, k.n_null, k.n_distinct) == (4, 1, 3)
        assert (k.min_val, k.max_val) == ("1", "10")
        v = prof["v"]
        assert (v.n_null, v.n_distinct, v.min_val, v.max_val) == (1, 2, "a", "b")

    def test_single_scan_plan(self, spark, tmp_path):
        from snowflake_cdc_spark.operators.expectations import profile_table

        p = str(tmp_path / "t.parquet")
        spark.range(0, 100).select(
            F.col("id"), (F.col("id") % 5).alias("v"), (F.col("id") % 7).alias("w")
        ).write.parquet(p)
        prof = profile_table(spark.read.parquet(p))
        plan = prof._jdf.queryExecution().executedPlan().toString()
        assert plan.count("Scan parquet") == 1


class TestPipelineDqGate:
    """Row-level DQ gating inside the CDC pipeline (S5 extension):
    violating change rows are quarantined before the merge, delete
    events are exempt, and the snapshot equals the oracle computed on
    the passing rows only."""

    def test_gate_quarantines_and_snapshot_matches_oracle(self, spark, tmp_path):
        from pyspark.sql import Window

        from snowflake_cdc_spark.operators.expectations import in_range
        from snowflake_cdc_spark.plans.spec import DeleteStrategy, PipelineSpec
        from snowflake_cdc_spark.sinks.parquet_sink import ParquetSnapshotSink
        from snowflake_cdc_spark.sources.cdc import (
            ORDER_COLS,
            cdc_events_flat,
            cdc_events_nested,
        )
        from snowflake_cdc_spark.streaming.pipeline import CdcPipeline
        from tests.conftest import SF_SMOKE

        raw = str(tmp_path / "raw")
        cdc_events_nested(spark, SF_SMOKE).write.parquet(raw)
        sink = ParquetSnapshotSink(str(tmp_path / "wh"))
        qdir = str(tmp_path / "quarantine")
        bound = 300000
        pipe = CdcPipeline(
            spark,
            [
                PipelineSpec(
                    "tpch.orders",
                    use_synthetic_key=True,
                    delete_strategy=DeleteStrategy.HARD,
                )
            ],
            sink,
            quarantine_dir=qdir,
            dq_expectations={"ORDERS": [in_range("o_totalprice", 0, bound)]},
        )
        pipe.run_batch(raw)

        # Oracle: gate the flat fixture the same way (deletes exempt),
        # then latest-by-key, hard-delete filter.
        flat = cdc_events_flat(spark, SF_SMOKE).filter(
            F.col("is_delete")
            | F.col("row_o_totalprice").between(0, bound)
        )
        w = Window.partitionBy("primary_key").orderBy(F.col("seq").desc())
        oracle = (
            flat.withColumn("rn", F.row_number().over(w))
            .filter((F.col("rn") == 1) & ~F.col("is_delete"))
            .select(
                "primary_key", "seq",
                *[F.col(f"row_{c}").alias(c) for c in ORDER_COLS],
            )
        )
        got = sink.read(spark, "ORDERS")
        cols = sorted(oracle.columns)
        assert sorted(c for c in got.columns if c in cols) == cols
        canon = lambda df: sorted(  # noqa: E731
            tuple(str(r[c]) for c in cols) for r in df.select(*cols).collect()
        )
        assert canon(got) == canon(oracle)

        # violators really exist and really landed in quarantine
        assert pipe.dq_violations and pipe.dq_violations[0][0] == "ORDERS"
        n_bad = pipe.dq_violations[0][2]
        assert n_bad > 0
        qdf = spark.read.parquet(f"{qdir}/ORDERS/dq_batch=0")
        assert qdf.count() == n_bad
        assert qdf.filter(F.col("is_delete")).count() == 0  # deletes exempt

    def test_gate_without_quarantine_dir_rejected(self, spark):
        from snowflake_cdc_spark.operators.expectations import not_null
        from snowflake_cdc_spark.plans.spec import PipelineSpec
        from snowflake_cdc_spark.sinks.parquet_sink import ParquetSnapshotSink

        from snowflake_cdc_spark.streaming.pipeline import CdcPipeline

        try:
            CdcPipeline(
                spark,
                [PipelineSpec("tpch.orders")],
                ParquetSnapshotSink("/tmp/x"),
                dq_expectations={"ORDERS": [not_null("o_custkey")]},
            )
            raise AssertionError("expected ValueError")
        except ValueError:
            pass


class TestCountMin:
    def test_estimate_never_underestimates_and_merges(self, spark):
        from snowflake_cdc_spark.operators.sketches import (
            countmin_estimate,
            countmin_sketch,
        )

        df = spark.range(0, 5000).select((F.col("id") % 37).alias("k"))
        keys = df.groupBy("k").agg(F.count(F.lit(1)).alias("exact"))
        est = countmin_estimate(countmin_sketch(df, "k"), keys, "k")
        rows = est.collect()
        assert all(r.est_cnt >= r.exact for r in rows)  # CM guarantee
        assert len(rows) == 37

        # mergeability: sketch(a) + sketch(b) == sketch(a union b)
        a = df.filter(F.col("k") < 20)
        b = df.filter(F.col("k") >= 20)
        merged = (
            countmin_sketch(a, "k")
            .unionByName(countmin_sketch(b, "k"))
            .groupBy("i", "b")
            .agg(F.sum("cnt").alias("cnt"))
        )
        whole = countmin_sketch(df, "k")
        assert sorted(map(tuple, merged.collect())) == sorted(
            map(tuple, whole.collect())
        )

    def test_sketch_is_bounded(self, spark):
        from snowflake_cdc_spark.operators.sketches import countmin_sketch

        df = spark.range(0, 100000).select(F.col("id").alias("k"))  # all distinct
        assert countmin_sketch(df, "k", d=4).count() <= 4 * 256


class TestKmv:
    def test_small_groups_degenerate_to_exact(self, spark):
        from snowflake_cdc_spark.operators.sketches import kmv_estimate, kmv_sketch

        df = spark.range(0, 40).select(
            (F.col("id") % 2).alias("g"), (F.col("id") % 10).alias("k")
        )  # ids 0,2,4.. -> k in {0,2,4,6,8}: 5 distinct per group, < k=32
        est = {r.g: r.kmv_est for r in kmv_estimate(kmv_sketch(df, "k", "g"), "g").collect()}
        assert est == {0: 5.0, 1: 5.0}

    def test_estimate_within_kmv_error_bound(self, spark):
        from snowflake_cdc_spark.operators.sketches import kmv_estimate, kmv_sketch

        n, k = 5000, 64
        df = spark.range(0, n).select(F.lit("g").alias("g"), F.col("id").alias("kk"))
        est = kmv_estimate(kmv_sketch(df, "kk", "g", k=k), "g", k=k).collect()[0].kmv_est
        # KMV relative error ~ 1/sqrt(k-2); allow 4x
        assert abs(est - n) / n < 4 / (k - 2) ** 0.5, est

    def test_merge_is_union_retake_k(self, spark):
        from snowflake_cdc_spark.operators.sketches import kmv_sketch
        from pyspark.sql import Window

        df = spark.range(0, 2000).select(F.lit("g").alias("g"), F.col("id").alias("k"))
        a, b = df.filter(F.col("k") < 1200), df.filter(F.col("k") >= 800)  # overlap
        w = Window.partitionBy("g").orderBy("h")
        merged = (
            kmv_sketch(a, "k", "g", k=32)
            .select("g", "h")
            .unionByName(kmv_sketch(b, "k", "g", k=32).select("g", "h"))
            .distinct()
            .withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= 32)
        )
        whole = kmv_sketch(df, "k", "g", k=32)
        assert sorted(map(tuple, merged.collect())) == sorted(map(tuple, whole.collect()))


class TestPagerank:
    def test_hand_computed_fixed_point_values(self, spark):
        from snowflake_cdc_spark.operators.pagerank import pagerank_fixed

        edges = spark.createDataFrame([(1, 2)], ["src", "dst"])
        nodes = spark.createDataFrame([(1,), (2,), (3,)], ["node"])
        # R0 = 1e9 each. Node 1 receives nothing: R1(1) = 150000000.
        # R1(2) = 150000000 + (85 * 1e9) div 100 = 1000000000.
        # Node 3 is isolated: base rank forever.
        r1 = {r.node: r.rank for r in pagerank_fixed(edges, nodes, 1).collect()}
        assert r1 == {1: 150_000_000, 2: 1_000_000_000, 3: 150_000_000}
        # R2(2) = 150000000 + (85 * (150000000 div 1)) div 100 = 277500000
        r2 = {r.node: r.rank for r in pagerank_fixed(edges, nodes, 2).collect()}
        assert r2 == {1: 150_000_000, 2: 277_500_000, 3: 150_000_000}

    def test_symmetric_cycle_is_stationary(self, spark):
        from snowflake_cdc_spark.operators.pagerank import pagerank_fixed

        edges = spark.createDataFrame([(1, 2), (2, 1)], ["src", "dst"])
        nodes = spark.createDataFrame([(1,), (2,)], ["node"])
        r = {r.node: r.rank for r in pagerank_fixed(edges, nodes, 3).collect()}
        assert r == {1: 1_000_000_000, 2: 1_000_000_000}


class TestTriangles:
    def _count(self, spark, pairs):
        from snowflake_cdc_spark.operators.triangles import triangle_count

        und = spark.createDataFrame(pairs, ["a", "b"])
        return triangle_count(und).collect()[0].n_triangles

    def test_k4_has_four_triangles(self, spark):
        k4 = [(i, j) for i in range(4) for j in range(4) if i < j]
        assert self._count(spark, k4) == 4

    def test_path_has_none_cycle_has_one(self, spark):
        assert self._count(spark, [(1, 2), (2, 3), (3, 4)]) == 0
        assert self._count(spark, [(1, 2), (2, 3), (1, 3)]) == 1

    def test_hub_star_plus_rim(self, spark):
        # star center 0 with 6 spokes + rim edges 1-2, 3-4 -> 2 triangles
        edges = [(0, i) for i in range(1, 7)] + [(1, 2), (3, 4)]
        assert self._count(spark, edges) == 2

    def test_orientation_bounds_hub_wedges(self, spark):
        """The scale claim, asserted on candidate COUNTS (deterministic),
        not timings: on a planted 20k-spoke hub, the id-ordered naive
        wedge join enumerates ~2e8 hub wedges; degree orientation points
        every spoke edge AT the hub (max degree), so its wedge count
        collapses to the rim's."""
        from snowflake_cdc_spark.operators.triangles import orient_edges

        n = 20_000
        hub = spark.range(1, n + 1).select(
            F.lit(0).alias("a"), F.col("id").alias("b")
        )
        rim = spark.range(1, n).select(
            F.col("id").alias("a"), (F.col("id") + 1).alias("b")
        )
        und = hub.unionByName(rim)

        def wedges(df, src):
            d = df.groupBy(src).agg(F.count(F.lit(1)).alias("d"))
            return d.agg(
                F.sum(F.col("d") * (F.col("d") - 1) / 2).alias("w")
            ).collect()[0].w

        naive_w = wedges(und, "a")  # id-ordered: hub 0 keeps all n spokes
        ort_w = wedges(orient_edges(und), "u")
        assert naive_w > 1e8
        assert ort_w < 4 * n  # rim chains only — 5 orders of magnitude less


class TestScd2AsOf:
    def test_boundary_semantics_inclusive_from_exclusive_to(self, spark):
        from datetime import datetime

        from snowflake_cdc_spark.operators.scd import scd2_as_of

        t1 = datetime(2024, 1, 1)
        t2 = datetime(2024, 2, 1)
        hist = spark.createDataFrame(
            [(1, "a", t1, t2, False), (1, "b", t2, None, True)],
            ["k", "attr", "valid_from", "valid_to", "is_current"],
        )
        at = lambda ts: {r.k: r.attr for r in scd2_as_of(hist, ts).collect()}  # noqa: E731
        assert at(t1) == {1: "a"}  # inclusive from: visible AT its open
        assert at(t2) == {1: "b"}  # exclusive to: the successor wins AT t2
        assert at(datetime(2023, 12, 1)) == {}  # before history
        assert at(datetime(2030, 1, 1)) == {1: "b"}  # open interval


class TestIvmJoin:
    """Join-view maintenance: after EVERY batch the maintained view must
    equal a from-scratch join of the current snapshots."""

    FSCHEMA = "fk bigint, jk bigint, val string, seq bigint, is_delete boolean"
    DSCHEMA = "dk bigint, attr string, seq bigint, is_delete boolean"

    def _changes(self, spark, rows, cols):
        schema = self.FSCHEMA if cols[0] == "fk" else self.DSCHEMA
        return spark.createDataFrame(rows, schema)

    def test_every_batch_equals_scratch_recompute(self, spark):
        from snowflake_cdc_spark.operators.ivm import JoinViewMaintainer

        fcols = ["fk", "jk", "val", "seq", "is_delete"]
        dcols = ["dk", "attr", "seq", "is_delete"]
        fact_batches = [
            [(1, 10, "a", 1, False), (2, 10, "b", 1, False), (3, 20, "c", 1, False)],
            [(1, 20, "a2", 2, False), (4, 30, "d", 2, False)],  # move fk1 to dim 20
            [(2, 10, None, 3, True)],  # delete fk2
        ]
        dim_batches = [
            [(10, "x", 1, False), (20, "y", 1, False)],
            [(20, "y2", 2, False), (30, "z", 2, False)],  # update 20, insert 30
            [(10, "x", 3, True)],  # delete dim 10 -> cascades
        ]
        m = JoinViewMaintainer("fk", "jk", "dk")
        for fb, db in zip(fact_batches, dim_batches):
            view = m.apply_batch(
                self._changes(spark, fb, fcols), self._changes(spark, db, dcols)
            )
            scratch = m.fact.join(
                m.dim.withColumnRenamed("dk", "jk"), "jk"
            )
            assert sorted(map(tuple, view.select(*scratch.columns).collect())) == sorted(
                map(tuple, scratch.collect())
            )
        final = {(r.fk, r.jk, r.val, r.attr) for r in m.view.collect()}
        # fk1 moved to dim 20 (updated attr y2); fk2 deleted; fk3's dim 20
        # updated; fk4 on dim 30; dim 10 deleted (no fact rows left on it)
        assert final == {
            (1, 20, "a2", "y2"),
            (3, 20, "c", "y2"),
            (4, 30, "d", "z"),
        }

    def test_fact_only_and_dim_only_batches(self, spark):
        from snowflake_cdc_spark.operators.ivm import JoinViewMaintainer

        fcols = ["fk", "jk", "val", "seq", "is_delete"]
        dcols = ["dk", "attr", "seq", "is_delete"]
        m = JoinViewMaintainer("fk", "jk", "dk")
        m.apply_batch(
            self._changes(spark, [(1, 10, "a", 1, False)], fcols),
            self._changes(spark, [(10, "x", 1, False)], dcols),
        )
        # dim-only batch: update attr -> view row refreshes
        v = m.apply_batch(None, self._changes(spark, [(10, "x2", 2, False)], dcols))
        assert [(r.fk, r.attr) for r in v.collect()] == [(1, "x2")]
        # fact-only batch: new row joins current dim state
        v = m.apply_batch(self._changes(spark, [(2, 10, "b", 2, False)], fcols), None)
        assert {(r.fk, r.attr) for r in v.collect()} == {(1, "x2"), (2, "x2")}


class TestQuarantineReplay:
    def test_fixed_rows_rejoin_snapshot_idempotently(self, spark, tmp_path):
        from pyspark.sql import Window

        from snowflake_cdc_spark.operators.expectations import in_range
        from snowflake_cdc_spark.plans.spec import DeleteStrategy, PipelineSpec
        from snowflake_cdc_spark.sinks.parquet_sink import ParquetSnapshotSink
        from snowflake_cdc_spark.sources.cdc import (
            ORDER_COLS,
            cdc_events_flat,
            cdc_events_nested,
        )
        from snowflake_cdc_spark.streaming.pipeline import (
            CdcPipeline,
            replay_quarantine,
        )
        from tests.conftest import SF_SMOKE

        raw = str(tmp_path / "raw")
        cdc_events_nested(spark, SF_SMOKE).write.parquet(raw)
        sink = ParquetSnapshotSink(str(tmp_path / "wh"))
        pipe = CdcPipeline(
            spark,
            [PipelineSpec("tpch.orders", use_synthetic_key=True,
                          delete_strategy=DeleteStrategy.HARD)],
            sink,
            quarantine_dir=str(tmp_path / "q"),
            dq_expectations={"ORDERS": [in_range("o_totalprice", 0, 300000)]},
        )
        pipe.run_batch(raw)
        gated = sink.read(spark, "ORDERS").count()
        assert pipe.dq_violations  # rows were diverted

        # upstream fixed: the bound was wrong — widen and replay
        pipe.dq_expectations = {"ORDERS": [in_range("o_totalprice", 0, 10**9)]}
        n1 = replay_quarantine(pipe, "ORDERS")
        assert n1 > 0
        full = sink.read(spark, "ORDERS")
        # must now equal the UN-gated oracle (nothing lost in quarantine)
        flat = cdc_events_flat(spark, SF_SMOKE)
        w = Window.partitionBy("primary_key").orderBy(F.col("seq").desc())
        oracle = (
            flat.withColumn("rn", F.row_number().over(w))
            .filter((F.col("rn") == 1) & ~F.col("is_delete"))
        )
        assert full.count() == oracle.count() > gated

        # quarantine now reflects pending work: fully replayed -> cleared,
        # so replaying AGAIN merges zero rows (not a re-merge of the same
        # rows saved only by the seq guard) and the snapshot is unchanged
        import os

        assert not os.path.isdir(str(tmp_path / "q" / "ORDERS")) or not os.listdir(
            str(tmp_path / "q" / "ORDERS")
        )
        assert replay_quarantine(pipe, "ORDERS") == 0
        assert sink.read(spark, "ORDERS").count() == oracle.count()

    def test_partial_replay_keeps_only_still_violating_rows(self, spark, tmp_path):
        import os

        from snowflake_cdc_spark.operators.expectations import in_range
        from snowflake_cdc_spark.plans.spec import DeleteStrategy, PipelineSpec
        from snowflake_cdc_spark.sinks.parquet_sink import ParquetSnapshotSink
        from snowflake_cdc_spark.sources.cdc import cdc_events_nested
        from snowflake_cdc_spark.streaming.pipeline import (
            CdcPipeline,
            replay_quarantine,
        )
        from tests.conftest import SF_SMOKE

        raw = str(tmp_path / "raw")
        cdc_events_nested(spark, SF_SMOKE).write.parquet(raw)
        sink = ParquetSnapshotSink(str(tmp_path / "wh"))
        pipe = CdcPipeline(
            spark,
            [PipelineSpec("tpch.orders", use_synthetic_key=True,
                          delete_strategy=DeleteStrategy.HARD)],
            sink,
            quarantine_dir=str(tmp_path / "q"),
            dq_expectations={"ORDERS": [in_range("o_totalprice", 0, 100000)]},
        )
        pipe.run_batch(raw)
        quarantined = sum(n for _, _, n in pipe.dq_violations)
        assert quarantined > 0

        # partially fixed bound: some quarantined rows pass, some still fail
        pipe.dq_expectations = {"ORDERS": [in_range("o_totalprice", 0, 200000)]}
        n1 = replay_quarantine(pipe, "ORDERS")
        assert 0 < n1 < quarantined
        # partition was REWRITTEN with only the still-violating rows
        qdir = str(tmp_path / "q" / "ORDERS")
        parts = [d for d in os.listdir(qdir) if d.startswith("dq_batch=")]
        assert parts
        pending = spark.read.parquet(f"{qdir}/{parts[0]}")
        assert pending.filter(F.col("o_totalprice") <= 200000).count() == 0
        # a repeat call with unchanged expectations merges nothing and
        # does not double count
        assert replay_quarantine(pipe, "ORDERS") == 0
        # full fix drains the quarantine completely
        pipe.dq_expectations = {"ORDERS": [in_range("o_totalprice", 0, 10**9)]}
        n2 = replay_quarantine(pipe, "ORDERS")
        # replay counts are raw quarantined rows, each replayed at most
        # once, so <= raw count
        assert n2 > 0 and n1 + n2 <= quarantined
        assert not os.path.isdir(qdir) or not any(
            d.startswith("dq_batch=") for d in os.listdir(qdir)
        )

    def test_row_gate_rejects_empty_expectation_list(self, spark):
        import pytest

        from snowflake_cdc_spark.operators.expectations import row_gate

        df = spark.range(3)
        with pytest.raises(ValueError, match="at least one expectation"):
            row_gate(df, [])


class TestMetrics:
    def test_batch_metrics(self, spark, tmp_path):
        from snowflake_cdc_spark.plans.spec import DeleteStrategy, PipelineSpec
        from snowflake_cdc_spark.sinks.parquet_sink import ParquetSnapshotSink
        from snowflake_cdc_spark.sources.cdc import cdc_events_nested
        from snowflake_cdc_spark.streaming.pipeline import CdcPipeline
        from tests.conftest import SF_SMOKE

        raw = str(tmp_path / "raw")
        cdc_events_nested(spark, SF_SMOKE).write.parquet(raw)
        sink = ParquetSnapshotSink(str(tmp_path / "wh"))
        pipe = CdcPipeline(
            spark,
            [PipelineSpec("tpch.orders", use_synthetic_key=True,
                          delete_strategy=DeleteStrategy.HARD)],
            sink,
        )
        q = pipe.start_stream(raw, checkpoint=str(tmp_path / "ckpt"),
                              available_now=True)
        q.awaitTermination(120)

        assert pipe.metrics, "no batch metrics recorded"
        m = pipe.metrics[0]
        assert m.table == "ORDERS" and m.seconds > 0
        versions = [x.version for x in pipe.metrics]
        assert versions == sorted(versions)  # snapshot versions monotone


class TestEquidepthHistogram:
    def test_no_global_sort_region_and_bucket_invariance(self, spark):
        from snowflake_cdc_spark.operators.histogram import equidepth_histogram
        from snowflake_cdc_spark.sources.io import read_table
        from tests.conftest import SF_ORACLE

        ev = read_table(spark, SF_ORACLE, "events")
        h64 = equidepth_histogram(ev, "value", "event_id", k=10, range_buckets=64)
        # the data-sized relation must never range-partition on the VALUE
        # (that would be the global sort); the only rangepartitioning in
        # the plan is the final orderBy over the 10 result rows, and the
        # only SinglePartition window is over the 64-row offsets table
        plan = h64._jdf.queryExecution().executedPlan().toString().lower()
        assert "rangepartitioning(__v" not in plan
        assert "rangepartitioning(v" not in plan
        # composed rank == single-sort rank for ANY range-bucket count
        h7 = equidepth_histogram(ev, "value", "event_id", k=10, range_buckets=7)
        assert sorted(map(tuple, h64.collect())) == sorted(map(tuple, h7.collect()))

    def test_all_equal_values_single_range_bucket(self, spark):
        from snowflake_cdc_spark.operators.histogram import equidepth_histogram

        df = spark.range(0, 95).select(
            F.col("id").alias("event_id"), F.lit(5.0).alias("value")
        )
        rows = equidepth_histogram(df, "value", "event_id", k=10).collect()
        # 95 rows, 10 buckets: first 5 buckets of 10, then 9s (ntile fill)
        assert [r.n for r in rows] == [10] * 5 + [9] * 5
        assert all(r.lo == 5.0 and r.hi == 5.0 for r in rows)

    def test_fewer_rows_than_buckets(self, spark):
        from snowflake_cdc_spark.operators.histogram import equidepth_histogram

        df = spark.range(0, 4).select(
            F.col("id").alias("event_id"), (F.col("id") * 1.5).alias("value")
        )
        rows = equidepth_histogram(df, "value", "event_id", k=10).collect()
        assert [(r.bucket, r.n) for r in rows] == [(1, 1), (2, 1), (3, 1), (4, 1)]


class TestRollingKmv:
    def test_rolling_estimates_track_exact_within_kmv_error(self, spark):
        from datetime import datetime

        from snowflake_cdc_spark.operators.sketches import kmv_rolling_distinct

        # 20 days x 400 users/day with day-dependent overlap
        rows = [
            (datetime(2024, 1, 1 + d), (d * 137 + u) % 2000)
            for d in range(20)
            for u in range(400)
        ]
        df = spark.createDataFrame(rows, "ts timestamp, user_id long")
        est = {
            r.day_num: r.kmv_est
            for r in kmv_rolling_distinct(df, "user_id", "ts", 7, k=128).collect()
        }
        # exact rolling distinct per window, computed in python
        from collections import defaultdict

        by_day = defaultdict(set)
        for ts, u in rows:
            by_day[(ts - datetime(1970, 1, 1)).days].add(u)
        for end, e in est.items():
            exact = len(set().union(*[by_day.get(d, set()) for d in range(end - 6, end + 1)]))
            assert abs(e - exact) / exact < 4 / (128 - 2) ** 0.5, (end, e, exact)


class TestRrfFusion:
    def test_planted_fusion_and_missing_doc_semantics(self, spark):
        from snowflake_cdc_spark.operators.fusion import rrf_fuse

        a = spark.createDataFrame([(1, 1), (2, 2), (3, 3)], "doc_id long, rnk long")
        b = spark.createDataFrame([(3, 1), (1, 2), (9, 3)], "doc_id long, rnk long")
        out = {r.doc_id: (r.rrf_score, r.fused_rank)
               for r in rrf_fuse([a, b], k0=60).collect()}
        # doc 1: 1/61 + 1/62; doc 3: 1/63 + 1/61; doc 2: 1/62 only;
        # doc 9: 1/63 only (absent contributes 0, never drops the doc)
        import math
        def rhu(x): return math.floor(x * 1e6 + 0.5) / 1e6
        assert out[1][0] == rhu(1/61 + 1/62)
        assert out[2][0] == rhu(1/62)
        assert out[9][0] == rhu(1/63)
        # fused order: 1 (0.0325) > 3 (0.0323) > 2 > 9
        assert [d for d, v in sorted(out.items(), key=lambda kv: kv[1][1])] == [1, 3, 2, 9]

    def test_single_system_is_identity_order(self, spark):
        from snowflake_cdc_spark.operators.fusion import rrf_fuse

        a = spark.createDataFrame([(5, 1), (6, 2), (7, 3)], "doc_id long, rnk long")
        out = rrf_fuse([a]).collect()
        assert [r.doc_id for r in out] == [5, 6, 7]
