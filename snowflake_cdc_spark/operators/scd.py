"""Slowly-changing-dimension type-2 materialization from a change stream.

The reference engine's core loop lands CDC rows and keeps only the
latest image per key (``operators/upsert.py``, reference
``add_output.py:421-448``); the *history-preserving* variant of the same
landing — SCD2 — keeps every distinct attribute value as a validity
interval ``[valid_from, valid_to)`` with an ``is_current`` flag. This is
the other half of the CDC-sink surface a warehouse user expects
(Snowflake streams → dimension history tables).

Semantics (standard SCD2 over an append-only change log):

1. total-order the changes per key by ``(ts, tiebreak)`` — the tiebreak
   makes simultaneous changes deterministic, mirroring the upsert
   operator's ``(ts, seq)`` convention;
2. collapse runs of consecutive *equal* attribute values (a change event
   that does not change the attribute must not open a new version);
3. ``valid_from`` = first ts of the run, ``valid_to`` = next run's
   ``valid_from`` (NULL on the open, current version).

Scale notes: both window passes partition on the business key — ONE
shuffle, and the second window reuses the first's partitioning+sort
(Catalyst plans a single Exchange; asserted in tests/test_scd.py). At
100 TB the key is the same one the raw zone buckets by, so the exchange
disappears entirely on a bucketed landing (operators/bucketing.py).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

__all__ = ["scd2_from_changes", "scd2_as_of", "bitemporal_as_of"]


def scd2_from_changes(
    changes: DataFrame,
    key_cols: list[str],
    attr_col: str,
    ts_col: str,
    tiebreak_col: str,
    keep_cols: list[str] | None = None,
) -> DataFrame:
    """Build the SCD2 history table for ``attr_col`` per ``key_cols``.

    Returns ``key_cols + [attr_col, valid_from, valid_to, is_current]``
    with one row per maximal run of a constant attribute value.
    ``keep_cols`` are carried through from each run's OPENING change row.
    """
    order = [F.col(ts_col).asc(), F.col(tiebreak_col).asc()]
    w = Window.partitionBy(*key_cols).orderBy(*order)
    # run boundaries: value differs from the previous change's value.
    # NULL-safe, and lag() conflates "no previous row" with "previous
    # value was NULL" — a _first flag keeps a leading NULL-valued run.
    opens = (
        changes.withColumn("_prev", F.lag(attr_col).over(w))
        .withColumn("_first", F.lag(F.lit(1)).over(w).isNull())
        .filter(F.col("_first") | ~F.col(attr_col).eqNullSafe(F.col("_prev")))
        .drop("_prev", "_first")
    )
    w2 = Window.partitionBy(*key_cols).orderBy(F.col(ts_col).asc(), F.col(tiebreak_col).asc())
    return opens.select(
        *key_cols,
        F.col(attr_col),
        F.col(ts_col).alias("valid_from"),
        F.lead(ts_col).over(w2).alias("valid_to"),
        F.lead(ts_col).over(w2).isNull().alias("is_current"),
        *[F.col(c) for c in (keep_cols or [])],
    )


def scd2_as_of(history: DataFrame, ts) -> DataFrame:
    """Point-in-time (AS OF) read of an SCD2 history table: the version
    valid at ``ts`` per key — ``valid_from <= ts < valid_to`` with the
    open interval (``valid_to IS NULL``) matching everything after its
    ``valid_from``. Inclusive-from / exclusive-to matches the interval
    construction in ``scd2_from_changes`` (a change AT ``ts`` is already
    visible AT ``ts``). ``ts`` may be a literal or a (broadcast scalar)
    Column. A pure partition-prunable filter — no join, no window: at
    warehouse scale an AS OF read costs one pruned scan of the history."""
    t = ts if isinstance(ts, Column) else F.lit(ts)
    return history.filter(
        (F.col("valid_from") <= t)
        & (F.col("valid_to").isNull() | (F.col("valid_to") > t))
    )


def bitemporal_as_of(
    changes: DataFrame,
    key_cols: list[str],
    attr_col: str,
    valid_col: str,
    tx_col: str,
    valid_at,
    known_at,
) -> DataFrame:
    """BITEMPORAL point-in-time read: the value effective at VALID time
    ``valid_at`` *as the warehouse believed it* at TRANSACTION time
    ``known_at`` — the two-axis generalization of ``scd2_as_of`` that
    distinguishes "the customer moved on the 1st" from "we LEARNED on
    the 9th that the customer had moved on the 1st". A late correction
    (tx later, valid earlier) changes answers about the PAST for later
    ``known_at`` only; replaying an old ``known_at`` reproduces the old
    (wrong) belief byte-for-byte — the audit property bitemporality
    exists for.

    Semantics: among changes with ``valid <= valid_at`` and
    ``tx <= known_at``, the winner per key is the max by
    ``(valid, tx)`` — the latest effective version under the latest
    belief about it. One scan-filtered max_by aggregation per read
    (both predicates reach the scan; partition-prunable on either axis
    at warehouse scale), no window, no join."""
    v = valid_at if isinstance(valid_at, Column) else F.lit(valid_at)
    t = known_at if isinstance(known_at, Column) else F.lit(known_at)
    flt = changes.filter((F.col(valid_col) <= v) & (F.col(tx_col) <= t))
    return flt.groupBy(*key_cols).agg(
        F.max(
            F.struct(F.col(valid_col), F.col(tx_col), F.col(attr_col))
        )[attr_col].alias(attr_col)
    )
