"""Product-quantization (PQ) approximate nearest neighbor — the third
ANN scale path beside sign-bucket LSH (``operators/lsh.py``) and
IVF-Flat (``operators/ivf.py``).

Why PQ at 100 TB: IVF prunes WHICH vectors are scored; PQ shrinks WHAT
is scanned. A 64-dim float32 vector is 256 bytes; its PQ code at
``m=8`` subspaces × 16 codewords is 8 bytes — a 32× smaller relation.
The approximate pass scans ONLY the codes table (asymmetric distance
computation against driver-held codebooks), the raw vectors are touched
just for the top-``shortlist`` re-rank per query. Jégou et al., "Product
Quantization for Nearest Neighbor Search", TPAMI 2011.

Spark shape (FAISS posture, mirroring ``build_ivf``):

1. **train**: per-subspace k-means codebooks over a bounded md5-keyed
   sample (``bounded_md5_sample`` — single scan, no global sort, no
   count() pre-pass), driver-side numpy, seeded — deterministic.
2. **encode**: ONE distributed pass; a vectorized ``pandas_udf`` argmins
   each subspace against its (tiny, closure-broadcast) codebook.
3. **search**: codes ⨯ (broadcast) queries scored by vectorized ADC in
   LUT form — per-query m×k subspace-distance tables precomputed once
   in the UDF closure, each Arrow batch is one fancy gather + sum, and
   only ``(code, query_id)`` crosses the Arrow boundary (never the raw
   query vector); top-``shortlist`` per query by (adc, id); exact
   cosine re-rank of the shortlist only.

Everything is deterministic given the seed: seeded k-means, argmin
lowest-index tie-break, float64 ADC, (value, id) total orders. The
recall check (``pq_recall_check``) follows the q52 single-pass pattern:
candidates are scored exactly once and the shortlist flag + one shared
window sort yield both the exhaustive and the ANN rank.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DoubleType, IntegerType

from snowflake_cdc_spark.functions.vectors import (
    dot_product,
    l2_norm,
)
from snowflake_cdc_spark.operators.ivf import _train_centroids, bounded_md5_sample


@dataclass
class PqIndex:
    """Driver-held codebooks (m × k × d/m, a few KB — broadcast via UDF
    closures) + the distributed codes table (<id_col>, <vec_col>, code)."""

    codebooks: list  # list[np.ndarray (k, sub_dim)]
    codes: DataFrame | None  # set right after construction in build_pq
    id_col: str
    vec_col: str
    m: int = 8
    k: int = 16


def _encode_udf(codebooks: list):
    """Vectorized encoder against FROZEN codebooks: per Arrow batch, one
    argmin per subspace (``||v-c||² argmin ≡ (-2 v·c + ||c||²) argmin``;
    ties -> lowest index)."""
    import numpy as np
    import pandas as pd

    books_arr = np.stack([b.astype(np.float64) for b in codebooks])  # (m,k,sub)
    b_sq = (books_arr**2).sum(2)  # (m, k)
    m, _, sub = books_arr.shape

    def _encode(col):
        V = np.vstack(col.to_numpy()).astype(np.float64)  # (n, dim)
        codes = np.empty((len(V), m), dtype=np.int32)
        for j in range(m):
            Vj = V[:, j * sub : (j + 1) * sub]
            D = -2 * Vj @ books_arr[j].T + b_sq[j][None, :]
            codes[:, j] = D.argmin(1)
        return pd.Series(list(codes))

    return F.pandas_udf(_encode, ArrayType(IntegerType()))


def encode_with(index: PqIndex, vectors: DataFrame) -> DataFrame:
    """Encode new vectors against an existing index's frozen codebooks —
    the index-maintenance path: inside a streaming ``foreachBatch`` this
    appends codes for arriving vectors without ever re-encoding (or
    re-training on) the corpus. Deterministic: a vector encodes to the
    same code on every engine, batch, and partitioning. Preserves every
    input column (an IVF cell id rides along untouched — see
    ``operators/ivfpq.py``) and appends ``code``."""
    return vectors.withColumn(
        "code", _encode_udf(index.codebooks)(F.col(index.vec_col))
    )


def build_pq(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 8,
    k: int = 16,
    seed: int = 42,
    max_iter: int = 20,
    train_sample: int = 100_000,
    sample_rows: list | None = None,
) -> PqIndex:
    """Train per-subspace codebooks on a bounded sample, then encode the
    corpus in one distributed pass. ``m`` must divide the dimension.
    ``sample_rows`` = pre-collected sample (see ``build_ivf``)."""
    import numpy as np

    from snowflake_cdc_spark.operators.util import fan_out

    # parallelize the encode pass and every downstream pair scan over
    # single-split corpora (round 12, see build_ivf) — no-op at scale
    corpus = fan_out(corpus)
    rows = (
        sample_rows
        if sample_rows is not None
        else bounded_md5_sample(corpus, id_col, [id_col, vec_col], train_sample)
    )
    X = np.array([r[1] for r in rows], dtype=np.float64)
    dim = X.shape[1]
    if dim % m:
        raise ValueError(f"dimension {dim} not divisible by m={m}")
    sub = dim // m
    # Independent seeded k-means per subspace (seed+j keeps the j-th
    # codebook stable under changes to m ordering).
    books = [
        _train_centroids(X[:, j * sub : (j + 1) * sub], k, seed + j, max_iter)
        for j in range(m)
    ]
    index = PqIndex(
        codebooks=books, codes=None, id_col=id_col, vec_col=vec_col, m=m, k=k
    )
    index.codes = encode_with(index, corpus)
    return index


ADC_MAX_QUERIES = 100_000
"""Hard bound on the query set ``_adc_udf`` will collect to the driver.

100k × (64 doubles + id) ≈ 55 MB raw and an m=8×k=256 LUT of
100k × 2048 doubles ≈ 1.6 GB in the UDF closure — already generous; a
larger query set is not "a batch of probes" any more and must be chunked
by the caller. Enforced the same way ``similarity.cosine_topk`` enforces
its broadcast contract: fail fast with guidance, never a silent
driver-OOM collect."""


def _adc_udf(
    index: PqIndex,
    queries: DataFrame,
    query_id: str,
    query_vec: str,
    max_queries: int = ADC_MAX_QUERIES,
):
    """Vectorized asymmetric-distance pandas UDF in the classic LUT form
    (Jégou §IV-A): the query set — small-enough-to-broadcast by contract,
    ENFORCED via ``max_queries`` (one ``limit(n+1)`` collect, no extra
    count job) — is collected into the closure and expanded to a
    per-query m×k table of subspace distances ONCE; each Arrow batch
    then reduces to one fancy gather + sum. Crucially the UDF input is
    ``(code, query_id)`` — 8 ints + a key per pair — NOT the raw query
    vector, which would otherwise ship |corpus|×|queries| copies of a
    64-double array through Arrow (measured ~2× the whole check's wall
    clock)."""
    import numpy as np
    import pandas as pd

    books = np.stack([b.astype(np.float64) for b in index.codebooks])  # (m,k,sub)
    m, k, sub = books.shape
    qrows = queries.select(query_id, query_vec).limit(max_queries + 1).collect()
    if len(qrows) > max_queries:
        raise ValueError(
            f"ADC query set exceeds max_queries={max_queries}: the LUT "
            "closure would not be broadcastable. Chunk the query set and "
            "union the per-chunk search results (each chunk is an "
            "independent top-k), or raise max_queries deliberately."
        )
    qkey = {r[0]: i for i, r in enumerate(qrows)}
    # LUT[i, j, c] = ||q_i[sub_j] - books[j][c]||²
    Q = np.array([r[1] for r in qrows], dtype=np.float64).reshape(len(qrows), m, 1, sub)
    lut = ((Q - books[None, :, :, :]) ** 2).sum(3)  # (nq, m, k)
    jj = np.arange(m)

    def _adc(code_col, qid_col):
        C = np.vstack(code_col.to_numpy()).astype(np.int64)  # (n, m)
        qidx = qid_col.map(qkey).to_numpy(dtype=np.int64)
        return pd.Series(lut[qidx[:, None], jj[None, :], C].sum(1))

    return F.pandas_udf(_adc, DoubleType())


def pq_search(
    index: PqIndex,
    queries: DataFrame,
    k: int = 5,
    shortlist: int = 50,
    query_id: str = "query_id",
    query_vec: str = "query_vec",
    exclude_self: bool = True,
) -> DataFrame:
    """Top-k cosine neighbors per query: ADC over the codes table ->
    top-``shortlist`` by (adc asc, id) -> exact cosine re-rank. Output
    (query_id, <id_col>, sim)."""
    adc = _adc_udf(index, queries, query_id, query_vec)
    # Approx pass carries ONLY (query_id, id, adc) — the raw vectors never
    # enter the shortlist shuffle (the codes relation is the 32×-smaller
    # one; that's the whole point of PQ).
    cand = index.codes.select(index.id_col, "code").crossJoin(F.broadcast(queries))
    if exclude_self:
        cand = cand.filter(F.col(index.id_col) != F.col(query_id))
    approx = cand.select(
        query_id,
        index.id_col,
        adc(F.col("code"), F.col(query_id)).alias("__adc"),
    )
    w_short = Window.partitionBy(query_id).orderBy("__adc", index.id_col)
    shortlisted = (
        approx.withColumn("__srn", F.row_number().over(w_short))
        .filter(F.col("__srn") <= shortlist)
        .select(query_id, index.id_col)
    )
    # Re-rank joins the raw vectors back for the |queries|×shortlist
    # survivors only.
    rescored = (
        shortlisted.join(
            index.codes.select(
                index.id_col, index.vec_col
            ).withColumn("__cn", l2_norm(index.vec_col)),
            index.id_col,
        )
        .join(F.broadcast(queries.withColumn("__qn", l2_norm(query_vec))), query_id)
        .select(
            query_id,
            index.id_col,
            F.round(
                dot_product(F.col(index.vec_col), F.col(query_vec))
                / (F.col("__cn") * F.col("__qn")),
                4,
            ).alias("sim"),
        )
    )
    w = Window.partitionBy(query_id).orderBy(F.desc("sim"), F.col(index.id_col))
    return (
        rescored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )


def pq_recall_check(
    index: PqIndex,
    queries: DataFrame,
    k: int = 5,
    shortlist: int = 50,
    min_recall: float = 0.9,
    query_id: str = "query_id",
    query_vec: str = "query_vec",
) -> DataFrame:
    """One-row (n_queries, recall_ok): recall@k of the PQ shortlist+rerank
    search against the exhaustive top-k, scoring every candidate ONCE
    (q52 single-pass pattern): the ADC window flags shortlist membership,
    then one exact-cosine sort yields both the exhaustive rank
    (row_number) and the ANN rank (running sum of the flag — exactly the
    rank ``pq_search``'s re-rank assigns, same (sim desc, id) order)."""
    adc = _adc_udf(index, queries, query_id, query_vec)
    # norms pre-projected per side (round 11): one HOF (the dot) per
    # candidate pair instead of three — bit-identical sim
    cand = (
        index.codes.withColumn("__cn", l2_norm(index.vec_col))
        .crossJoin(F.broadcast(queries.withColumn("__qn", l2_norm(query_vec))))
        .filter(F.col(index.id_col) != F.col(query_id))
        .select(
            query_id,
            index.id_col,
            adc(F.col("code"), F.col(query_id)).alias("__adc"),
            F.round(
                dot_product(F.col(index.vec_col), F.col(query_vec))
                / (F.col("__cn") * F.col("__qn")),
                4,
            ).alias("sim"),
        )
    )
    w_short = Window.partitionBy(query_id).orderBy("__adc", index.id_col)
    flagged = cand.withColumn(
        "__in_short", (F.row_number().over(w_short) <= shortlist).cast("int")
    )
    w = Window.partitionBy(query_id).orderBy(F.desc("sim"), F.col(index.id_col))
    ranked = flagged.select(
        query_id,
        "__in_short",
        F.row_number().over(w).alias("__exact_rn"),
        F.sum("__in_short")
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("__ann_rn"),
    ).filter(F.col("__exact_rn") <= k)
    hit = (F.col("__in_short") == 1) & (F.col("__ann_rn") <= k)
    return ranked.agg(
        F.count_distinct(query_id).alias("n_queries"),
        (
            F.sum(hit.cast("long")) >= F.lit(min_recall) * F.count(F.lit(1))
        ).alias("recall_ok"),
    )
