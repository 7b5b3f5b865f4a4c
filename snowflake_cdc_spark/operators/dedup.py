"""Deduplication operators (SURVEY.md §2.8 N1/N2): exact, MinHash+LSH,
SimHash, blocked n-gram Jaccard.

Every hash is derived from md5 so results are bit-identical on Spark,
DuckDB, and Snowflake — the whole family is oracle-checkable, not just
"looks right".

Scale design:
- exact dedup: one hash-shuffle on the content hash (map-side combine).
- MinHash LSH: per-row signature (no shuffle), explode to (band,
  band_val) keys, self-join *inside buckets only* — the classic
  band-bucket join; candidate volume is O(sum bucket²), not O(n²).
- SimHash: token-explode + two map-side-combined aggregations, then the
  same band-bucket join over 8-bit bands (pigeonhole: hamming ≤ 3 over
  32 bits guarantees one clean band).
- blocked Jaccard: exact pairwise Jaccard *within metadata blocks* —
  the quadratic step is bounded by the largest block, for when recall
  must be exact and a natural blocking key exists.
"""

from __future__ import annotations

import logging

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from snowflake_cdc_spark.functions.text import word_shingles, words
from snowflake_cdc_spark.operators.util import ensure_persisted, fan_out

HEX = "0123456789abcdef"

log = logging.getLogger(__name__)


def _drop_oversized_buckets(
    banded: DataFrame, keys: list[str], cap: int, what: str
) -> DataFrame:
    """Enforce a per-bucket membership ceiling on a band-bucket table.

    The band self-join is O(Σ bucket²): one mega-bucket (boilerplate /
    templated docs — the NORMAL case at 100 TB) turns it quadratic. Buckets
    over ``cap`` are dropped with a log line (the documented recall
    tradeoff production dedup pipelines take); everything surviving is
    O(cap²) per bucket by construction. The oversized list is ≤ n/cap rows
    by pigeonhole, so the anti-join side is always broadcastable."""
    sizes = banded.groupBy(*keys).agg(F.count(F.lit(1)).alias("__bn"))
    oversized = ensure_persisted(sizes.filter(F.col("__bn") > cap))
    stats = oversized.agg(
        F.count(F.lit(1)).alias("nb"), F.sum("__bn").alias("nm")
    ).head()
    if not stats["nb"]:
        oversized.unpersist()
        return banded
    log.warning(
        "%s: dropping %d band bucket(s) over cap=%d (%d members) — "
        "bounded-candidate tradeoff; raise bucket_cap to trade cost for recall",
        what, stats["nb"], cap, stats["nm"],
    )
    return banded.join(F.broadcast(oversized.select(*keys)), keys, "left_anti")


# --------------------------------------------------------------------------
# N1: exact dedup
# --------------------------------------------------------------------------


def content_hash(*cols: Column | str) -> Column:
    """md5 over the concatenated content (unit-separated)."""
    cs = [F.col(c) if isinstance(c, str) else c for c in cols]
    return F.md5(F.concat_ws("\x1f", *cs))


def exact_dedup(df: DataFrame, subset: list[str], id_col: str) -> DataFrame:
    """Keep the minimum-id representative per distinct content."""
    h = content_hash(*subset).alias("__h")
    return (
        df.select(h, F.col(id_col))
        .groupBy("__h")
        .agg(F.min(id_col).alias(id_col), F.count(F.lit(1)).alias("n_copies"))
        .drop("__h")
    )


def duplicate_groups(df: DataFrame, subset: list[str], id_col: str) -> DataFrame:
    """(hash, representative id, copy count) for groups with >1 member."""
    return (
        df.select(content_hash(*subset).alias("h"), F.col(id_col))
        .groupBy("h")
        .agg(F.min(id_col).alias("keep_id"), F.count(F.lit(1)).alias("n_copies"))
        .filter(F.col("n_copies") > 1)
    )


# --------------------------------------------------------------------------
# N2a: MinHash + LSH
# --------------------------------------------------------------------------


def hashed_shingle_set(shingles: Column) -> Column:
    """Shingle strings → distinct int64s (first 12 md5 hex chars, 48 bits).

    Set-similarity math over ints is ~10× cheaper than over 30-char
    strings, and because the hash is md5-derived it is *identical* in
    DuckDB/Snowflake — the oracle hashes the same values, so Jaccard over
    hashed sets is still bit-for-bit checkable (even a collision collides
    identically on both engines)."""
    return F.array_distinct(
        F.transform(shingles, lambda s: F.conv(F.substring(F.md5(s), 1, 12), 16, 10).cast("long"))
    )


def _seeded_md5(seed: int):
    """One-arg lambda factory. MUST stay one-arg: ``F.transform`` treats a
    two-arg lambda as (element, index) and silently passes the array index
    as the second argument — a ``lambda s, j=j:`` closure would receive the
    index as ``j`` and stringify a Column into the seed."""
    prefix = f"{seed}:"
    return lambda s: F.md5(F.concat(F.lit(prefix), s))


def minhash_signature(shingles: Column, k: int = 8) -> Column:
    """k-permutation MinHash approximated by k seeded md5s: the j-th hash
    of shingle s is md5('j:'||s); signature[j] = min over shingles.
    Computed per row with higher-order functions — zero shuffle."""
    return F.array(
        *[F.array_min(F.transform(shingles, _seeded_md5(j))) for j in range(k)]
    )


def lsh_bands(sig: Column, bands: int, rows_per_band: int) -> Column:
    """array of (band index, band value) structs; band value hashes the
    band's signature slice."""
    return F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.md5(
                    F.concat_ws(
                        "|", *[F.element_at(sig, b * rows_per_band + r + 1) for r in range(rows_per_band)]
                    )
                ).alias("band_val"),
            )
            for b in range(bands)
        ]
    )


def jaccard(a: Column, b: Column) -> Column:
    """Exact Jaccard over two (distinct-element) arrays, in double."""
    inter = F.size(F.array_intersect(a, b)).cast("double")
    union = F.size(F.array_union(a, b)).cast("double")
    return inter / union


def minhash_features(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 8,
    shingle_n: int = 3,
) -> DataFrame:
    """Per-document MinHash features ``(id, sig, hset)`` — the zero-shuffle
    half of the LSH pipeline, split out (round 3) so a caller can
    persist features once instead of recomputing text→shingles→signature
    per join. Rows whose shingle set
    is empty (texts shorter than ``shingle_n`` words) are excluded: they
    can never produce a candidate pair."""
    # cache barrier at the shingle level: downstream expressions reference
    # "shingles" 9 times (8 minhash transforms + the hashed set); without
    # the barrier Catalyst's projection collapse would inline — and
    # re-evaluate — the whole split/slice pipeline at every reference.
    sh_raw = ensure_persisted(
        fan_out(df.select(F.col(id_col).alias("id"), F.col(text_col).alias("__t")))
        .select("id", word_shingles("__t", shingle_n).alias("shingles"))
        .filter(F.size("shingles") > 0)
    )
    return sh_raw.select(
        "id",
        minhash_signature(F.col("shingles"), k).alias("sig"),
        hashed_shingle_set(F.col("shingles")).alias("hset"),
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 8,
    bands: int = 2,
    shingle_n: int = 3,
    threshold: float = 0.8,
    round_to: int | None = 4,
    bucket_cap: int | None = 10_000,
) -> DataFrame:
    """Near-duplicate pairs: LSH band-bucket candidates, verified with
    exact Jaccard ≥ threshold. Output (a, b, jaccard), a < b.

    Plan shape (the part that matters at 100 TB):
    - shingle/signature pipeline computed ONCE and persisted — a naive
      self-join would recompute it for both sides;
    - **exact pre-collapse**: documents with identical shingle sets (the
      boilerplate case — empty/templated docs dominating a 100 TB crawl)
      collapse to one min-id representative BEFORE banding, so they can
      never form a mega-bucket; their pairwise output (jaccard exactly
      1.0 by definition) is reconstructed from group membership after
      verification, making the collapse lossless;
    - **bucket cap**: surviving buckets over ``bucket_cap`` members are
      dropped with a log line (``_drop_oversized_buckets``), bounding the
      band self-join at O(cap²) per bucket — the data-dependent quadratic
      is gone. ``bucket_cap=None`` disables;
    - the band join carries only (id, band, band_val) — shingle arrays
      would otherwise be duplicated ×bands through the shuffle;
    - verification re-joins the persisted per-doc sets onto the (small)
      deduped candidate list, comparing int64 sets, not strings;
    - default banding is 2 bands × 4 rows: band-collision probability is
      jaccard⁴, which keeps candidate volume sane on low-entropy corpora
      (small shared vocabulary → high background jaccard). All banding is
      md5-seeded, so candidate sets are deterministic and engine-portable
      — LSH recall here is a fixed function of the data, not a coin flip.
    """
    # Lifecycle note: the caches are deliberately NOT unpersisted here
    # (the returned DataFrame still reads them lazily); long-lived drivers
    # looping over corpora should call spark.catalog.clearCache() between
    # calls, as bench.py does — LRU eviction otherwise reclaims them.
    sh = ensure_persisted(
        minhash_features(df, id_col, text_col, k=k, shingle_n=shingle_n)
    )
    return lsh_pairs_from_features(
        sh,
        k=k,
        bands=bands,
        threshold=threshold,
        round_to=round_to,
        bucket_cap=bucket_cap,
    )


def lsh_pairs_from_features(
    sh: DataFrame,
    k: int = 8,
    bands: int = 2,
    threshold: float = 0.8,
    round_to: int | None = 4,
    bucket_cap: int | None = 10_000,
) -> DataFrame:
    """`minhash_lsh_pairs` from precomputed ``(id, sig, hset)`` features
    (see :func:`minhash_features`); same plan shape and guards."""
    rows_per_band = k // bands

    # exact pre-collapse on the (sorted) hashed shingle set: identical sets
    # ⇒ identical signature AND identical verification outcome, so running
    # LSH on one representative per set is exact, not approximate
    set_key = F.md5(
        F.concat_ws(",", F.transform(F.array_sort("hset"), lambda x: x.cast("string")))
    )
    keyed = sh.withColumn("__key", set_key)
    grp = ensure_persisted(keyed.groupBy("__key").agg(F.min("id").alias("__rep")))
    members = ensure_persisted(
        keyed.select("__key", "id")
        .join(grp, "__key")
        .select(F.col("__rep").alias("rep"), "id")
    )
    rep_sh = keyed.join(
        grp.select(F.col("__rep").alias("id")), "id", "left_semi"
    ).select("id", "sig", "hset")

    banded = rep_sh.select(
        "id", F.explode(lsh_bands(F.col("sig"), bands, rows_per_band)).alias("bv")
    ).select("id", "bv.band", "bv.band_val")
    if bucket_cap is not None:
        banded = _drop_oversized_buckets(
            banded, ["band", "band_val"], bucket_cap, "minhash_lsh_pairs"
        )

    x, y = banded.alias("x"), banded.alias("y")
    cand = (
        x.join(
            y,
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.band_val") == F.col("y.band_val"))
            & (F.col("x.id") < F.col("y.id")),
        )
        .select(F.col("x.id").alias("a"), F.col("y.id").alias("b"))
        .dropDuplicates(["a", "b"])
    )
    sa = rep_sh.select(F.col("id").alias("a"), F.col("hset").alias("sa"))
    sb = rep_sh.select(F.col("id").alias("b"), F.col("hset").alias("sb"))
    j = jaccard(F.col("sa"), F.col("sb"))
    if round_to is not None:
        j = F.round(j, round_to)
    rep_pairs = (
        cand.join(sa, "a")
        .join(sb, "b")
        .select("a", "b", j.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )

    # expand representative pairs back to member pairs (sets identical ⇒
    # jaccard identical), plus intra-group pairs at exactly 1.0 — disjoint
    # by construction (cross = different groups, intra = same group)
    ma = members.select(F.col("rep").alias("a"), F.col("id").alias("__ia"))
    mb = members.select(F.col("rep").alias("b"), F.col("id").alias("__ib"))
    cross = (
        rep_pairs.join(ma, "a")
        .join(mb, "b")
        .select(
            F.least("__ia", "__ib").alias("a"),
            F.greatest("__ia", "__ib").alias("b"),
            "jaccard",
        )
    )
    u, v = members.alias("u"), members.alias("v")
    intra = u.join(
        v, (F.col("u.rep") == F.col("v.rep")) & (F.col("u.id") < F.col("v.id"))
    ).select(
        F.col("u.id").alias("a"), F.col("v.id").alias("b"), F.lit(1.0).alias("jaccard")
    )
    if threshold > 1.0:
        intra = intra.filter(F.lit(False))
    return cross.unionByName(intra).orderBy("a", "b")


# --------------------------------------------------------------------------
# N2b: SimHash
# --------------------------------------------------------------------------


def _hex32(c: Column) -> Column:
    """First 8 md5 hex chars → uint32 (fits in a long)."""
    return F.conv(F.substring(F.md5(c), 1, 8), 16, 10).cast("long")


def simhash32(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """32-bit SimHash over whitespace tokens, occurrence-weighted.

    Plan: explode tokens → 32 per-bit ±1 columns → ONE hash aggregation
    with 32 sums (map-side combined, single shuffle on id). The naive
    cross-join with a 32-row bit table would multiply the exploded token
    stream ×32 through two shuffles — measured 4× slower at sf0.1.
    Output (id, simhash).
    """
    tok = fan_out(df.select(F.col(id_col).alias("id"), F.col(text_col).alias("__t"))).select(
        "id", F.explode(words("__t")).alias("t")
    ).select("id", _hex32(F.col("t")).alias("hv"))
    contribs = tok.select(
        "id",
        *[
            F.when(F.shiftright(F.col("hv"), b).bitwiseAND(1) == 1, 1)
            .otherwise(-1)
            .alias(f"c{b}")
            for b in range(32)
        ],
    )
    sums = contribs.groupBy("id").agg(
        *[F.sum(f"c{b}").alias(f"s{b}") for b in range(32)]
    )
    simhash = None
    for b in range(32):
        term = F.when(F.col(f"s{b}") > 0, F.lit(1 << b).cast("long")).otherwise(F.lit(0))
        simhash = term if simhash is None else simhash + term
    return sums.select("id", simhash.alias("simhash"))


def simhash_near_dup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    bucket_cap: int | None = 10_000,
) -> DataFrame:
    """Pairs with hamming(simhash) ≤ max_hamming, found via 8-bit band
    blocking (4 bands over 32 bits; ≤3 differing bits → at least one band
    matches exactly, so blocking loses nothing). Output (a, b, hamming).

    Scale guards (round 3): documents sharing the SAME 32-bit simhash
    (boilerplate) collapse to a min-id representative before banding —
    lossless, since hamming is a function of the simhash alone (intra-group
    pairs are hamming 0, cross pairs inherit the representative distance) —
    and surviving buckets over ``bucket_cap`` are dropped with a log line,
    bounding the band self-join at O(cap²) per bucket."""
    sh = ensure_persisted(simhash32(df, id_col, text_col))
    grp = ensure_persisted(sh.groupBy("simhash").agg(F.min("id").alias("__rep")))
    members = ensure_persisted(
        sh.join(grp, "simhash")
        .select(F.col("__rep").alias("rep"), "id", "simhash")
    )
    reps = members.filter(F.col("id") == F.col("rep")).select("id", "simhash")

    bands = reps.select(
        "id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftright(F.col("simhash"), 8 * b).bitwiseAND(255).alias("band_val"),
                    )
                    for b in range(4)
                ]
            )
        ).alias("bv"),
    ).select("id", "simhash", "bv.band", "bv.band_val")
    if bucket_cap is not None:
        bands = _drop_oversized_buckets(
            bands, ["band", "band_val"], bucket_cap, "simhash_near_dup_pairs"
        )
    x, y = bands.alias("x"), bands.alias("y")
    ham = F.bit_count(F.col("x.simhash").bitwiseXOR(F.col("y.simhash")))
    rep_pairs = (
        x.join(
            y,
            (F.col("x.band") == F.col("y.band"))
            & (F.col("x.band_val") == F.col("y.band_val"))
            & (F.col("x.id") < F.col("y.id")),
        )
        .select(F.col("x.id").alias("a"), F.col("y.id").alias("b"), ham.alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
        .dropDuplicates(["a", "b"])
    )
    ma = members.select(F.col("rep").alias("a"), F.col("id").alias("__ia"))
    mb = members.select(F.col("rep").alias("b"), F.col("id").alias("__ib"))
    cross = (
        rep_pairs.join(ma, "a")
        .join(mb, "b")
        .select(
            F.least("__ia", "__ib").alias("a"),
            F.greatest("__ia", "__ib").alias("b"),
            "hamming",
        )
    )
    u, v = members.alias("u"), members.alias("v")
    intra = u.join(
        v, (F.col("u.rep") == F.col("v.rep")) & (F.col("u.id") < F.col("v.id"))
    ).select(
        F.col("u.id").alias("a"),
        F.col("v.id").alias("b"),
        F.lit(0).cast("integer").alias("hamming"),
    )
    return cross.unionByName(intra).orderBy("a", "b")


# --------------------------------------------------------------------------
# N2c: exact blocked n-gram Jaccard
# --------------------------------------------------------------------------


def blocked_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block_cols: list[str],
    shingle_n: int = 3,
    threshold: float = 0.6,
    round_to: int | None = 4,
) -> DataFrame:
    """Exact Jaccard for every pair *within a metadata block*, via an
    inverted index: explode shingle sets, equi-join on (block, shingle)
    to count shared shingles per pair, then jaccard = c/(|A|+|B|-c).

    Versus the naive pairwise array_intersect self-join this (a) only
    materializes pairs that actually share a shingle (a pair with c=0
    has jaccard 0 < threshold by definition — ``threshold`` must be > 0),
    and (b) turns per-pair array scans into one hash join + count with
    map-side combine — measured 2.4× faster on the documents fixture and
    asymptotically bounded by Σ (docs-per-shingle)² instead of Σ block².
    Output (a, b, jaccard), a < b."""
    assert threshold > 0, "inverted-index jaccard requires a positive threshold"
    sh = (
        fan_out(
            df.select(
                F.col(id_col).alias("id"),
                *[F.col(c) for c in block_cols],
                F.col(text_col).alias("__t"),
            )
        )
        .select("id", *block_cols, word_shingles("__t", shingle_n).alias("shingles"))
        .filter(F.size("shingles") > 0)
        .select("id", *block_cols, hashed_shingle_set(F.col("shingles")).alias("hset"))
    )
    sh = ensure_persisted(sh)  # barrier + reused by the index and the size lookup
    sizes = sh.select("id", F.size("hset").alias("n"))
    index = sh.select("id", *block_cols, F.explode("hset").alias("h"))
    x, y = index.alias("x"), index.alias("y")
    on = (F.col("x.h") == F.col("y.h")) & (F.col("x.id") < F.col("y.id"))
    for c in block_cols:
        on = on & (F.col(f"x.{c}") == F.col(f"y.{c}"))
    inter = (
        x.join(y, on)
        .groupBy(F.col("x.id").alias("a"), F.col("y.id").alias("b"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    sa = sizes.select(F.col("id").alias("a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("id").alias("b"), F.col("n").alias("nb"))
    j = F.col("c") / (F.col("na") + F.col("nb") - F.col("c"))
    if round_to is not None:
        j = F.round(j, round_to)
    return (
        inter.join(sa, "a")
        .join(sb, "b")
        .select("a", "b", j.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
        .orderBy("a", "b")
    )
