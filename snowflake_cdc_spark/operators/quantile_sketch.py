"""Deterministic mergeable quantile sketch (VERDICT r05 #4) — rank
queries from per-partition summaries with a stated error bound, in the
md5/integer discipline that made count-min (q134), KMV (q135) and HLL
(q159) COMPLETE-oracle sketches.

Why not GK/KLL compactors: their summary content depends on the order
elements arrive (which buffer a value lands in, which compaction fires)
— the sketch would fail the layout-determinism audit by construction
and could never be re-derived by a SQL oracle. The deterministic
replacement is the KMV idea applied to ranks: keep the ``k`` rows whose
``md5(id)`` is smallest — a hash-uniform "bottom-k" sample that is a
pure FUNCTION OF THE SET:

- **mergeable, exactly**: bottom-k of a union is the bottom-k of the
  two bottom-k's (associative, commutative, idempotent — the same
  merge law as KMV, tested over arbitrary splits), which is what the
  next point relies on;
- **distributed for free**: ``orderBy(md5(id)).limit(k)`` compiles to
  TakeOrderedAndProject — per-partition bottom-k summaries + a driver
  merge. Spark's own top-k machinery IS the sketch pipeline; no
  global sort exists anywhere;
- **rank estimate**: the q-quantile estimate is the sample's value at
  rank ``ceil(q·m)`` (pure integer arithmetic: ``(q_ppm·m + 999999)
  DIV 1e6``), read with ``element_at`` over a sorted ≤k-element array
  — no window at all;
- **error bound (DKW over the hash-uniform sample)**: with sample size
  k, ``P(sup_q |F_sample - F| > ε) ≤ 2·exp(-2kε²)`` — for k = 256,
  ε = 0.13 holds with probability ≥ 1 - 2e-4 over the hash family.
  The bound is CHECKED, not assumed: the q199 lane computes the
  estimate's true rank interval with two conditional counts over the
  data (``r_lo = #{v < est}``, ``r_hi = #{v ≤ est}`` — one scan, no
  rank window) and asserts the interval meets ``q ± ε``; the oracle
  re-derives sample, estimates, counts AND the boolean — a complete
  oracle (q127-style in-bound assertion + q134-style re-derivation).

Reference parity: the reference's distribution probes (add_output.py:267,
525) fetch engine-side value statistics; this is the engine side of that
contract, with a verifiable bound.

This is also the q193-class scale path: a quantile query that tolerates
ε·n rank error needs only the k-row sample — never a global rank.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

__all__ = [
    "bottomk_sample",
    "quantile_estimates",
    "rank_check",
]


def _hash_key(id_col: str):
    return F.md5(F.col(id_col).cast("string"))


def bottomk_sample(
    df: DataFrame, value_col: str, id_col: str, k: int = 256
) -> DataFrame:
    """The sketch: (h, v) for the k md5(id)-smallest rows (NULL values
    excluded; ties on h — duplicate ids — break by value). Compiles to
    TakeOrderedAndProject: per-partition bottom-k + driver merge."""
    return (
        df.filter(F.col(value_col).isNotNull())
        .select(
            _hash_key(id_col).alias("h"), F.col(value_col).alias("v")
        )
        .orderBy("h", "v")
        .limit(k)
    )


def quantile_estimates(
    sample: DataFrame, q_ppms: list[int]
) -> DataFrame:
    """(q_ppm, est) per requested quantile: the sorted sample's value at
    integer rank ``(q_ppm·m + 999999) DIV 1e6`` (clamped to ≥ 1) —
    array arithmetic over one ≤k-row aggregate, no window. An EMPTY
    sample yields NULL estimates (element_at past the empty array) —
    there is no quantile of nothing; callers gate on m if they need to
    distinguish."""
    arr = sample.agg(
        F.sort_array(F.collect_list("v")).alias("vs"),
        F.count(F.lit(1)).cast("bigint").alias("m"),
    )
    # one explode over the 1-row aggregate — a per-q union would
    # re-plan (and re-scan) the whole sample subtree per quantile
    qs = F.array(*[F.lit(int(q)).cast("bigint") for q in q_ppms])
    rank = F.greatest(
        F.lit(1),
        F.expr("CAST((q_ppm * m + 999999) DIV 1000000 AS BIGINT)"),
    )
    return (
        arr.select(F.explode(qs).alias("q_ppm"), "vs", "m")
        .select("q_ppm", F.element_at("vs", rank.cast("int")).alias("est"))
    )


def rank_check(
    df: DataFrame,
    value_col: str,
    estimates: DataFrame,
    eps_ppm: int = 130000,
) -> DataFrame:
    """(q_ppm, est, r_lo, r_hi, n, within_bound): the estimate's true
    rank interval from two conditional counts over ONE scan of the data
    (no rank window), and the DKW in-bound boolean — all BIGINT/bool,
    so an oracle re-derives every column."""
    joined = df.filter(F.col(value_col).isNotNull()).crossJoin(
        F.broadcast(estimates)
    )
    return (
        joined.groupBy("q_ppm", "est")
        .agg(
            F.sum((F.col(value_col) < F.col("est")).cast("bigint"))
            .cast("bigint")
            .alias("r_lo"),
            F.sum((F.col(value_col) <= F.col("est")).cast("bigint"))
            .cast("bigint")
            .alias("r_hi"),
            F.count(F.lit(1)).cast("bigint").alias("n"),
        )
        .select(
            "q_ppm",
            "est",
            "r_lo",
            "r_hi",
            "n",
            (
                (
                    F.col("r_lo") * F.lit(1000000)
                    <= (F.col("q_ppm") + F.lit(eps_ppm)) * F.col("n")
                )
                & (
                    F.col("r_hi") * F.lit(1000000)
                    >= (F.col("q_ppm") - F.lit(eps_ppm)) * F.col("n")
                )
            ).alias("within_bound"),
        )
    )
