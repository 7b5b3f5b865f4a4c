"""Product-quantization ANN (operators/pq.py): exactness anchor
(full shortlist ≡ brute force), recall bound, code compactness,
determinism."""

from __future__ import annotations

from pyspark.sql import functions as F

from snowflake_cdc_spark.operators.pq import build_pq, pq_recall_check, pq_search
from snowflake_cdc_spark.operators.similarity import cosine_topk
from tests.conftest import SF_ORACLE


def _emb(spark):
    from snowflake_cdc_spark.sources.io import read_table

    return read_table(spark, SF_ORACLE, "embeddings")


def _queries(emb, mod=50):
    return emb.filter(F.col("vec_id") % mod == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )


def test_full_shortlist_equals_brute_force(spark):
    # shortlist >= corpus  =>  the re-rank sees every candidate, so PQ
    # search must reproduce the exact brute-force top-k bit-for-bit
    # (same rounding, same (sim desc, id) tie-break). This anchors the
    # whole pipeline's exact half, like q52b anchors IVF.
    emb = _emb(spark)
    q = _queries(emb, mod=100)
    idx = build_pq(emb, m=8, k=16)
    ann = pq_search(idx, q, k=5, shortlist=10_000)
    exact = cosine_topk(emb, q, k=5)
    assert sorted(map(tuple, ann.collect())) == sorted(map(tuple, exact.collect()))


def test_recall_check_holds_at_q133_params(spark):
    emb = _emb(spark)
    q = _queries(emb, mod=10)
    idx = build_pq(emb, m=8, k=256)
    row = pq_recall_check(idx, q, k=5, shortlist=100, min_recall=0.9).collect()[0]
    assert row.n_queries == q.count()
    assert row.recall_ok


def test_codes_are_compact_and_deterministic(spark):
    emb = _emb(spark)
    idx1 = build_pq(emb, m=8, k=16)
    idx2 = build_pq(emb, m=8, k=16)
    rows = idx1.codes.select("vec_id", "code").collect()
    assert all(len(r.code) == 8 and all(0 <= c < 16 for c in r.code) for r in rows)
    assert sorted((r.vec_id, tuple(r.code)) for r in rows) == sorted(
        (r.vec_id, tuple(r.code)) for r in idx2.codes.select("vec_id", "code").collect()
    )


def test_indivisible_dimension_rejected(spark):
    emb = _emb(spark)
    try:
        build_pq(emb, m=7, k=16)
        raise AssertionError("expected ValueError for 64 % 7 != 0")
    except ValueError:
        pass


def test_tight_shortlist_still_returns_k_rows_per_query(spark):
    # shortlist == k is the degenerate-but-valid configuration: the ANN
    # answer is exactly the ADC top-k re-ordered by true cosine.
    emb = _emb(spark)
    q = _queries(emb, mod=100)
    idx = build_pq(emb, m=8, k=16)
    out = pq_search(idx, q, k=5, shortlist=5)
    per_q = {r.query_id: 0 for r in q.select("query_id").collect()}
    for r in out.collect():
        per_q[r.query_id] += 1
    assert all(n == 5 for n in per_q.values())


def test_oversized_query_set_fails_fast(spark):
    """VERDICT r03 #2: the ADC LUT collect is guarded — an oversized
    query set raises with guidance instead of a silent driver OOM."""
    import pytest

    from snowflake_cdc_spark.operators.pq import _adc_udf

    emb = _emb(spark)
    index = build_pq(emb, m=4, k=4, train_sample=50)
    queries = _queries(emb, 50)  # > 3 queries
    with pytest.raises(ValueError, match="max_queries"):
        _adc_udf(index, queries, "query_id", "query_vec", max_queries=3)
    # within bound: builds fine
    assert _adc_udf(index, queries, "query_id", "query_vec", max_queries=10_000)


def test_streaming_incremental_encode_matches_batch(spark, tmp_path):
    """Index maintenance: vectors arriving through a stream are encoded
    incrementally (frozen codebooks, foreachBatch append) and the
    resulting codes table must equal the one-shot batch encode — i.e.
    the index can be kept current without ever re-encoding the corpus."""
    from snowflake_cdc_spark.operators.pq import build_pq

    emb = _emb(spark)
    idx = build_pq(emb, m=8, k=16)
    batch_codes = {
        (r.vec_id, tuple(r.code))
        for r in idx.codes.select("vec_id", "code").collect()
    }

    # land the corpus as 3 files so availableNow sees multiple batches
    src = str(tmp_path / "vecs")
    emb.withColumn("__c", F.col("vec_id") % 3).repartition(3, "__c").drop(
        "__c"
    ).write.parquet(src)
    out = str(tmp_path / "codes")

    def encode_batch(batch_df, batch_id):
        # frozen codebooks, no retraining — the index-maintenance path
        from snowflake_cdc_spark.operators.pq import encode_with

        encode_with(idx, batch_df).select("vec_id", "code").write.mode(
            "append"
        ).parquet(out)

    q = (
        spark.readStream.schema(spark.read.parquet(src).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .writeStream.foreachBatch(encode_batch)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    stream_codes = {
        (r.vec_id, tuple(r.code))
        for r in spark.read.parquet(out).collect()
    }
    assert stream_codes == batch_codes


class TestIvfPq:
    """IVF-PQ composition (operators/ivfpq.py): cell pruning × code
    compression."""

    def test_full_probe_full_shortlist_equals_brute_force(self, spark):
        from snowflake_cdc_spark.operators.ivfpq import build_ivfpq, ivfpq_search

        emb = _emb(spark)
        q = _queries(emb, mod=100)
        idx = build_ivfpq(emb, n_cells=16, m=8, k=256)
        ann = ivfpq_search(idx, q, k=5, nprobe=16, shortlist=10_000)
        exact = cosine_topk(emb, q, k=5)
        assert sorted(map(tuple, ann.collect())) == sorted(map(tuple, exact.collect()))

    def test_pruned_search_recall(self, spark):
        # the q144 operating point (nprobe=12, shortlist=200 — the
        # tools/ivfpq_recall.py sweep measures 0.952 sf0.01 / 0.931
        # sf0.1, both clear the shipped >= 0.9 bound)
        from snowflake_cdc_spark.operators.ivfpq import build_ivfpq, ivfpq_search

        emb = _emb(spark)
        q = _queries(emb, mod=10)
        idx = build_ivfpq(emb, n_cells=16, m=8, k=256)
        ann = {
            (r.query_id, r.vec_id)
            for r in ivfpq_search(idx, q, k=5, nprobe=12, shortlist=200).collect()
        }
        exact = {(r.query_id, r.vec_id) for r in cosine_topk(emb, q, k=5).collect()}
        recall = len(ann & exact) / len(exact)
        assert recall >= 0.9, recall

    def test_recall_check_matches_direct_measurement(self, spark):
        """The q144 single-pass check computes EXACTLY the recall a
        direct ivfpq_search-vs-brute-force measurement yields: recall_ok
        flips between min_recall = measured and measured + epsilon."""
        from snowflake_cdc_spark.operators.ivfpq import (
            build_ivfpq,
            ivfpq_recall_check,
            ivfpq_search,
        )

        emb = _emb(spark)
        q = _queries(emb, mod=10)
        idx = build_ivfpq(emb, n_cells=16, m=8, k=256)
        idx.pq.codes = idx.pq.codes.persist()
        try:
            # deliberately lossy params so recall is strictly < 1 and the
            # flag reconstruction of BOTH pruning layers is exercised
            kw = dict(k=5, nprobe=6, shortlist=20)
            ann = {
                (r.query_id, r.vec_id)
                for r in ivfpq_search(idx, q, **kw).collect()
            }
            exact = {
                (r.query_id, r.vec_id) for r in cosine_topk(emb, q, k=5).collect()
            }
            recall = len(ann & exact) / len(exact)
            assert 0 < recall < 1
            ok = ivfpq_recall_check(idx, q, min_recall=recall, **kw).first()
            not_ok = ivfpq_recall_check(
                idx, q, min_recall=recall + 1e-6, **kw
            ).first()
            assert ok.recall_ok and not not_ok.recall_ok
            assert ok.n_queries == q.count()
        finally:
            idx.pq.codes.unpersist()

    def test_codes_table_carries_cell_and_code(self, spark):
        from snowflake_cdc_spark.operators.ivfpq import build_ivfpq

        emb = _emb(spark)
        idx = build_ivfpq(emb, n_cells=16, m=8, k=16)
        row = idx.pq.codes.select("vec_id", "cell_id", "code").first()
        assert 0 <= row.cell_id < 16 and len(row.code) == 8

