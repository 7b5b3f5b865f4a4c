"""Round-7 extension lanes — tokenizer-aware shaping and selection of
the training corpus:

- q209 BPE-token sequence packing (VERDICT r06 #6): the q114
  concat-and-chunk packer re-run at REAL trained-tokenizer
  granularity, composing the exact q145/q146 BPE lane;
- q210 stratified train/val/test split: per-source md5 rank + exact
  integer boundaries — stratum counts exact, not hash-approximate;
- q211 token-budget corpus selection: greedy quality-ranked knapsack
  prefix, sort-free (skewed_count_rank + the q203 bucketed cumsum);
- q212 intra-document repetition score: dup word-3-gram fraction —
  the within-doc complement of the corpus dedup family;
- q213 per-field stats report: A1 value distribution + A2
  first/last-seen together, in one aggregation;
- q214 train/test split contamination: per-test-doc fraction of
  5-gram shingles that leak from the train split — the
  decontamination audit composed on q210's deterministic split;
- q215 concurrency timeline: the q152 sweep line with the full bucket
  spine, so boundary-free hours report the carry running through
  them (closes the 'no boundaries' gap the r06 verdict named);
- q216 embedding hygiene: the vector-QA gate before every ANN lane —
  dim consistency, norm² range, zero-vector count, all exact BIGINTs;
- q217 exact-duplicate split leakage: test docs whose md5(text)
  appears verbatim in train — the hard contamination beyond q214's
  shingle overlap;
- q218 per-shard source-mixture audit: the well-mixedness check on
  q203's shard layout via the new shard_assignments per-doc relation;
- q219 train/test vocabulary drift: q190's exact nano-quantized KL
  pointed at the split boundary — the distributional leg of the
  split-audit family (q214 shingles, q217 exact dups, q219 drift).

All lanes keep the standing disciplines: token-identical DuckDB
oracles (exact integer/md5 algebra end to end), md5-only randomness,
no global sorts (per-source/per-bucket windows only; the one
unpartitioned window in q211 is the 256-row bucket-offsets table).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from snowflake_cdc_spark.functions.text import UNICODE_WORD
from snowflake_cdc_spark.operators.bpe import (
    _bpe_chain_ctes,
    apply_bpe,
    train_bpe,
    word_frequencies,
)
from snowflake_cdc_spark.operators.packing import packing_stats
from snowflake_cdc_spark.queries import _t, register
from snowflake_cdc_spark.operators.util import ckpt_eager

# --------------------------------------------------------------------------
# Q209 — tokenizer-aware sequence packing (q114 × q145/q146)
# --------------------------------------------------------------------------


def _bpe_packing_oracle(
    rounds: int = 8, capacity: int = 2048, n_buckets: int = 16
) -> str:
    """q114's packing decomposition with per-doc token counts from the
    q145/q146 BPE chain instead of whitespace splitting. Documents with
    no [a-z]+ words keep n_tokens = 0 via the LEFT join — every doc
    gets a shard assignment."""
    ctes = _bpe_chain_ctes(rounds, "documents")
    ctes.append(
        f"tok AS (SELECT word, CAST(len(string_split(w, chr(30))) - 1 AS BIGINT) "
        f"AS n_tok FROM w{rounds})"
    )
    ctes.append(
        "docw AS (SELECT doc_id, "
        "unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word "
        "FROM documents)"
    )
    ctes.append(
        "dw AS (SELECT doc_id, CAST(sum(n_tok) AS BIGINT) AS n_tokens "
        "FROM docw JOIN tok USING (word) GROUP BY 1)"
    )
    ctes.append(
        "perdoc AS (SELECT d.doc_id, coalesce(dw.n_tokens, 0) AS n_tokens, "
        "CAST(CAST('0x' || substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 4) "
        f"AS UBIGINT) % {n_buckets} AS BIGINT) AS bucket "
        "FROM documents d LEFT JOIN dw ON dw.doc_id = d.doc_id)"
    )
    ctes.append(
        "c AS (SELECT bucket, doc_id, n_tokens, "
        "sum(n_tokens) OVER (PARTITION BY bucket ORDER BY doc_id "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum "
        "FROM perdoc)"
    )
    ctes.append(
        "p AS (SELECT bucket, n_tokens, "
        f"CAST(floor((cum - n_tokens) / {capacity}.0) AS BIGINT) AS first_bin, "
        f"CAST(greatest(floor((cum - n_tokens) / {capacity}.0), "
        f"floor((cum - 1) / {capacity}.0)) AS BIGINT) AS last_bin "
        "FROM c)"
    )
    return (
        f"WITH {', '.join(ctes)} "
        "SELECT bucket, count(*) AS n_docs, "
        "CAST(sum(n_tokens) AS BIGINT) AS total_tokens, "
        f"CAST(ceil(sum(n_tokens) / {capacity}.0) AS BIGINT) AS n_bins, "
        "CAST(sum(CASE WHEN first_bin <> last_bin THEN 1 ELSE 0 END) AS BIGINT) "
        "AS n_split_docs, "
        f"CAST(CAST(ceil(sum(n_tokens) / {capacity}.0) AS BIGINT) * {capacity} "
        "- sum(n_tokens) AS BIGINT) AS pad_tokens "
        "FROM p GROUP BY bucket ORDER BY bucket"
    )


@register(
    "q209_bpe_packing",
    _bpe_packing_oracle(),
    "tokenizer-aware sequence packing (VERDICT r06 #6, q114 × "
    "q145/q146): shard and window budgets measured in REAL trained-"
    "tokenizer tokens — the number a training job actually consumes — "
    "instead of whitespace tokens. Eight BPE merges are learned on the "
    "word-frequency table (corpus scanned once; every training round "
    "touches vocab-sized relations), applied at VOCAB level, broadcast-"
    "joined back to per-doc word streams for exact per-document BIGINT "
    "token counts (docs with no [a-z]+ words keep count 0 via the LEFT "
    "join — every doc is packed), then the q114 packer assigns 2048-"
    "BPE-token context windows inside 16 md5 shards. The whole "
    "composition is exact integer algebra end to end, so the oracle "
    "re-derives the merges (q145 CTE chain), the tokenization, every "
    "per-doc count, and the identical packing prefix sums",
)
def q209(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    words = word_frequencies(docs)
    merges = train_bpe(words, rounds=8).collect()
    tok = apply_bpe(words, [tuple(m) for m in merges])
    docw = docs.select(
        "doc_id",
        F.explode(
            F.regexp_extract_all(F.lower(F.col("text")), F.lit("[a-z]+"), 0)
        ).alias("word"),
    )
    dw = (
        docw.join(F.broadcast(tok), "word")
        .groupBy("doc_id")
        .agg(F.sum("n_bpe_tokens").cast("bigint").alias("n_tokens"))
    )
    perdoc = (
        docs.select("doc_id")
        .join(dw, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_tokens"), F.lit(0)).cast("bigint").alias("n_toks"),
        )
    )
    return packing_stats(perdoc, "doc_id", "n_toks", capacity=2048, n_buckets=16)


# --------------------------------------------------------------------------
# Q210 — stratified train/val/test split assignment (exact boundaries)
# --------------------------------------------------------------------------

_SPLIT_ORACLE = """
WITH d AS (SELECT doc_id, source,
                  CAST(len(regexp_extract_all(lower(text), '[\\p{L}\\p{M}]+')) AS BIGINT)
                    AS n_toks,
                  md5(CAST(doc_id AS VARCHAR)) AS h
           FROM documents),
r AS (SELECT *,
             row_number() OVER (PARTITION BY source ORDER BY h, doc_id) AS rk,
             count(*) OVER (PARTITION BY source) AS n
      FROM d),
s AS (SELECT source, n_toks,
             CASE WHEN rk <= (8 * n) // 10 THEN 'train'
                  WHEN rk <= (9 * n) // 10 THEN 'val'
                  ELSE 'test' END AS split
      FROM r)
SELECT source, split,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_toks) AS BIGINT) AS n_tokens
FROM s GROUP BY source, split ORDER BY source, split
"""


@register(
    "q210_stratified_split",
    _SPLIT_ORACLE,
    "stratified train/val/test assignment: per SOURCE, documents rank "
    "by md5(doc_id) (deterministic shuffle within the stratum) and "
    "split at the exact integer boundaries rank <= 8n DIV 10 (train) "
    "and rank <= 9n DIV 10 (val) — unlike hash-threshold splitting "
    "(which only approximates ratios in expectation), the per-source "
    "counts are EXACT: train+val+test == n and each split is within "
    "one document of its ratio, per stratum. The only windows are "
    "per-source (partitioned — a stratum is never the whole corpus); "
    "the oracle re-derives ranks, boundaries, and per-(source, split) "
    "doc/token totals",
)
def q210(spark, sf_dir):
    from snowflake_cdc_spark.operators.splits import stratified_split

    docs = _t(spark, sf_dir, "documents")
    d = docs.select(
        "doc_id",
        "source",
        F.size(
            F.regexp_extract_all(F.lower(F.col("text")), F.lit(UNICODE_WORD), 0)
        )
        .cast("bigint")
        .alias("n_toks"),
        F.md5(F.col("doc_id").cast("string")).alias("h"),
    )
    return (
        stratified_split(d)
        .groupBy("source", "split")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_toks").cast("bigint").alias("n_tokens"),
        )
        .orderBy("source", "split")
    )


# --------------------------------------------------------------------------
# Q211 — token-budget corpus selection (greedy by quality rank, sort-free)
# --------------------------------------------------------------------------

_BUDGET = 20_000
_SEL_BUCKETS = 256

_BUDGET_ORACLE = f"""
WITH d AS (SELECT doc_id, source,
                  regexp_extract_all(lower(text), '[\\p{{L}}\\p{{M}}]+') AS ws
           FROM documents),
sc AS (SELECT doc_id, source,
              CAST(len(ws) AS BIGINT) AS n_toks,
              CAST(len(list_distinct(ws)) AS BIGINT) AS score
       FROM d),
f AS (SELECT * FROM sc WHERE score >= 1),
r AS (SELECT *,
             row_number() OVER (ORDER BY score DESC,
                                md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
      FROM f),
c AS (SELECT *,
             sum(n_toks) OVER (ORDER BY rk
                               ROWS BETWEEN UNBOUNDED PRECEDING
                               AND CURRENT ROW) AS cum
      FROM r),
sel AS (SELECT * FROM c WHERE cum <= {_BUDGET})
SELECT source,
       CAST(count(*) AS BIGINT) AS n_selected,
       CAST(sum(n_toks) AS BIGINT) AS tokens_selected,
       CAST(min(score) AS BIGINT) AS min_score
FROM sel GROUP BY source ORDER BY source
"""


@register(
    "q211_budget_selection",
    _BUDGET_ORACLE,
    "token-budget corpus selection: pick documents in quality order "
    "(score = distinct-word count, a vocabulary-richness proxy; ties "
    "by md5 then id) until the cumulative token budget is exhausted — "
    "the greedy knapsack every 'train on the best N tokens' job runs. "
    "Sort-free at scale: the quality order comes from "
    "operators/rank.py::skewed_count_rank (exact-count buckets + md5 "
    "sub-buckets — the q174/q188 machinery), and the running token "
    "total along that order uses the q203 range-bucket + broadcast-"
    "offset cumsum (256 fixed buckets; the only unpartitioned window "
    "is the 256-row offsets table). The md5 tie order INSIDE an equal-"
    "score block determines which of those docs make the budget cut, "
    "so the oracle uses the identical (score DESC, md5, id) order — "
    "hash-identical selection, never a coin flip",
)
def q211(spark, sf_dir):
    from pyspark.sql import Window

    from snowflake_cdc_spark.operators.rank import skewed_count_rank

    docs = _t(spark, sf_dir, "documents")
    ws = F.regexp_extract_all(F.lower(F.col("text")), F.lit(UNICODE_WORD), 0)
    sc = docs.select(
        "doc_id",
        "source",
        F.size(ws).cast("bigint").alias("n_toks"),
        F.size(F.array_distinct(ws)).cast("bigint").alias("score"),
    ).filter(F.col("score") >= 1)
    ranked = skewed_count_rank(
        sc, "score", "doc_id", ascending=False, rank_col="rk"
    )
    n = sc.agg(F.count(F.lit(1)).alias("__n"))
    keyed = (
        ranked.crossJoin(F.broadcast(n))
        .withColumn(
            "__rb",
            F.expr(f"CAST(((rk - 1) * {_SEL_BUCKETS}) DIV __n AS BIGINT)"),
        )
        .transform(ckpt_eager)  # both branches read the rank subtree
    )
    per_bucket = keyed.groupBy("__rb").agg(F.sum("n_toks").alias("__bt"))
    offsets = per_bucket.select(
        "__rb",
        (F.sum("__bt").over(Window.orderBy("__rb")) - F.col("__bt")).alias(
            "__off"
        ),
    )
    w_intra = (
        Window.partitionBy("__rb")
        .orderBy("rk")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    sel = (
        keyed.join(F.broadcast(offsets), "__rb")
        .withColumn("cum", F.col("__off") + F.sum("n_toks").over(w_intra))
        .filter(F.col("cum") <= _BUDGET)
    )
    return (
        sel.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_selected"),
            F.sum("n_toks").cast("bigint").alias("tokens_selected"),
            F.min("score").cast("bigint").alias("min_score"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# Q212 — intra-document repetition score (dup 3-gram fraction)
# --------------------------------------------------------------------------

_REP_ORACLE = """
WITH d AS (SELECT doc_id, regexp_extract_all(lower(text), '[\\p{L}\\p{M}]+') AS ws
           FROM documents),
g AS (SELECT doc_id,
             unnest(list_transform(generate_series(1, len(ws) - 2),
                    i -> array_to_string(ws[i:i+2], ' '))) AS gram
      FROM d WHERE len(ws) >= 3),
per AS (SELECT doc_id, gram, CAST(count(*) AS BIGINT) AS c
        FROM g GROUP BY 1, 2),
agg AS (SELECT doc_id,
               CAST(sum(c) AS BIGINT) AS n_grams,
               CAST(count(*) AS BIGINT) AS n_distinct
        FROM per GROUP BY 1)
SELECT doc_id, n_grams, n_distinct,
       n_grams - n_distinct AS n_repeats,
       CAST((n_grams - n_distinct) * 1000000 // n_grams AS BIGINT) AS rep_ppm
FROM agg WHERE n_grams - n_distinct > 0 ORDER BY doc_id
"""


@register(
    "q212_repetition_score",
    _REP_ORACLE,
    "intra-document repetition score — the within-doc complement of "
    "the corpus-level dedup family (q25-q28 find docs similar to OTHER "
    "docs; this finds docs that repeat THEMSELVES — boilerplate loops, "
    "template spam, degenerate generations; standard C4/Gopher-style "
    "quality filter). Per doc: total word-3-gram occurrences, distinct "
    "3-grams, repeated occurrences = total - distinct, and exact "
    "integer rep_ppm; only repeating docs are emitted. One corpus "
    "scan, one explode bounded by document length, two map-side-"
    "combined aggregations — no joins, no windows",
)
def q212(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    ws = F.regexp_extract_all(F.lower(F.col("text")), F.lit(UNICODE_WORD), 0)
    d = docs.select("doc_id", ws.alias("ws")).filter(F.size("ws") >= 3)
    grams = d.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("ws") - 2),
                lambda i: F.concat_ws(" ", F.slice("ws", i, F.lit(3))),
            )
        ).alias("gram"),
    )
    per = grams.groupBy("doc_id", "gram").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    agg = per.groupBy("doc_id").agg(
        F.sum("c").cast("bigint").alias("n_grams"),
        F.count(F.lit(1)).cast("bigint").alias("n_distinct"),
    )
    return (
        agg.select(
            "doc_id",
            "n_grams",
            "n_distinct",
            (F.col("n_grams") - F.col("n_distinct")).alias("n_repeats"),
            F.expr(
                "CAST((n_grams - n_distinct) * 1000000 DIV n_grams AS BIGINT)"
            ).alias("rep_ppm"),
        )
        .filter(F.col("n_repeats") > 0)
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# Q213 — per-field stats report (A1 + A2 in one aggregation)
# --------------------------------------------------------------------------

_FIELD_STATS_ORACLE = """
WITH src AS (SELECT event_type,
                    strftime(date_trunc('month', ts), '%Y-%m') AS month,
                    ts
             FROM events),
stacked AS (
  SELECT 'event_type' AS field, CAST(event_type AS VARCHAR) AS val, ts FROM src
  UNION ALL
  SELECT 'month', month, ts FROM src)
SELECT field, val,
       CAST(count(*) AS BIGINT) AS cnt,
       date_trunc('second', min(ts)) AS first_seen,
       date_trunc('second', max(ts)) AS last_seen
FROM stacked WHERE val IS NOT NULL
GROUP BY field, val ORDER BY field, val
"""


@register(
    "q213_field_stats_report",
    _FIELD_STATS_ORACLE,
    "per-field statistics report (operators/stats.py::"
    "field_stats_report — the A1+A2 surfaces computed TOGETHER): per "
    "(field, value), exact count plus first/last-seen event time, over "
    "a stacked multi-field projection — the reference's "
    "inspection service (add_output.py:264-274, 524-525) as one "
    "map-side-combined aggregation",
)
def q213(spark, sf_dir):
    from snowflake_cdc_spark.queries import ntz
    from snowflake_cdc_spark.operators.stats import field_stats_report

    ev = _t(spark, sf_dir, "events").select(
        "event_type",
        F.date_format(F.date_trunc("month", "ts"), "yyyy-MM").alias("month"),
        F.col("ts").cast("timestamp").alias("ts"),
    )
    rep = field_stats_report(ev, ["event_type", "month"], ts_col="ts")
    return ntz(
        rep.select(
            "field",
            "val",
            "cnt",
            F.date_trunc("second", "first_seen").alias("first_seen"),
            F.date_trunc("second", "last_seen").alias("last_seen"),
        )
    ).orderBy("field", "val")


# --------------------------------------------------------------------------
# Q214 — train/test split contamination (composes q210's split)
# --------------------------------------------------------------------------

_CONTAM_ORACLE = """
WITH d AS (SELECT doc_id, source, regexp_extract_all(lower(text), '[\\p{L}\\p{M}]+') AS ws,
                  md5(CAST(doc_id AS VARCHAR)) AS h
           FROM documents),
r AS (SELECT *, row_number() OVER (PARTITION BY source ORDER BY h, doc_id) AS rk,
             count(*) OVER (PARTITION BY source) AS n
      FROM d),
s AS (SELECT doc_id, source, ws,
             CASE WHEN rk <= (8 * n) // 10 THEN 'train'
                  WHEN rk <= (9 * n) // 10 THEN 'val'
                  ELSE 'test' END AS split
      FROM r),
g AS (SELECT split, doc_id, source,
             unnest(list_transform(generate_series(1, len(ws) - 4),
                    i -> array_to_string(ws[i:i+4], ' '))) AS gram
      FROM s WHERE len(ws) >= 5),
tr AS (SELECT DISTINCT gram FROM g WHERE split = 'train'),
te AS (SELECT DISTINCT doc_id, source, gram FROM g WHERE split = 'test'),
per AS (SELECT te.doc_id, te.source,
               CAST(count(*) AS BIGINT) AS n_grams,
               CAST(sum(CASE WHEN tr.gram IS NOT NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_contam
        FROM te LEFT JOIN tr USING (gram)
        GROUP BY 1, 2)
SELECT doc_id, source, n_grams, n_contam,
       CAST(n_contam * 1000000 // n_grams AS BIGINT) AS contam_ppm
FROM per ORDER BY doc_id
"""


@register(
    "q214_split_contamination",
    _CONTAM_ORACLE,
    "train/test contamination audit — the decontamination check every "
    "eval pipeline needs, composed directly on q210's deterministic "
    "split: for each TEST document, the fraction of its distinct "
    "word-5-gram shingles that also appear anywhere in the TRAIN "
    "split (a contaminated eval doc inflates benchmark scores; this "
    "lane finds them BEFORE the split ships). One shingle-keyed "
    "LEFT join of the test postings against the distinct train-gram "
    "relation — contamination is counted on the join key, never "
    "doc x doc — plus exact integer ppm. The oracle re-derives the "
    "split, both shingle sets, and every per-doc count",
)
def q214(spark, sf_dir):
    from snowflake_cdc_spark.operators.splits import stratified_split

    docs = _t(spark, sf_dir, "documents")
    ws = F.regexp_extract_all(F.lower(F.col("text")), F.lit(UNICODE_WORD), 0)
    d = docs.select(
        "doc_id",
        "source",
        ws.alias("ws"),
        F.md5(F.col("doc_id").cast("string")).alias("h"),
    )
    s = stratified_split(d).select("doc_id", "source", "ws", "split").filter(
        F.size("ws") >= 5
    )
    g = s.select(
        "split",
        "doc_id",
        "source",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("ws") - 4),
                lambda i: F.concat_ws(" ", F.slice("ws", i, F.lit(5))),
            )
        ).alias("gram"),
    )
    tr = g.filter("split = 'train'").select("gram").distinct()
    te = (
        g.filter("split = 'test'")
        .select("doc_id", "source", "gram")
        .distinct()
    )
    per = (
        te.join(tr.withColumn("__hit", F.lit(1)), "gram", "left")
        .groupBy("doc_id", "source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_grams"),
            F.sum(F.coalesce(F.col("__hit"), F.lit(0)))
            .cast("bigint")
            .alias("n_contam"),
        )
    )
    return per.select(
        "doc_id",
        "source",
        "n_grams",
        "n_contam",
        F.expr("CAST(n_contam * 1000000 DIV n_grams AS BIGINT)").alias(
            "contam_ppm"
        ),
    ).orderBy("doc_id")


# --------------------------------------------------------------------------
# Q215 — concurrency timeline with a full bucket spine (empty hours too)
# --------------------------------------------------------------------------

_TIMELINE_ORACLE = """
WITH iv AS (SELECT ts AS s, ts + INTERVAL 180 MINUTE AS e FROM events
            WHERE event_id % 997 = 0),
b AS (SELECT s AS t, 1 AS delta FROM iv UNION ALL SELECT e, -1 FROM iv),
pi AS (SELECT date_trunc('hour', t) AS bkt, t, sum(delta) AS delta,
              CAST(sum(CASE WHEN delta = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_starts
       FROM b GROUP BY 1, 2),
sw AS (SELECT bkt, t, delta, n_starts,
              sum(delta) OVER (PARTITION BY bkt ORDER BY t
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run
       FROM pi),
pb AS (SELECT bkt, max(run) AS max_run, min(t) AS t0, sum(delta) AS net,
              CAST(sum(n_starts) AS BIGINT) AS n_starts
       FROM sw GROUP BY 1),
spine AS (SELECT unnest(generate_series((SELECT min(bkt) FROM pb),
                                        (SELECT max(bkt) FROM pb),
                                        INTERVAL 1 HOUR)) AS bkt),
pbs AS (SELECT spine.bkt, pb.max_run, pb.t0,
               coalesce(pb.net, 0) AS net,
               coalesce(pb.n_starts, 0) AS n_starts
        FROM spine LEFT JOIN pb USING (bkt))
SELECT bucket_ts, n_starts,
       CAST(CASE WHEN max_run IS NULL THEN carry
                 WHEN t0 = bucket_ts THEN carry + max_run
                 ELSE greatest(carry, carry + max_run) END AS BIGINT) AS peak
FROM (SELECT bkt AS bucket_ts, t0, n_starts, max_run,
             coalesce(sum(net) OVER (ORDER BY bkt
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS carry
      FROM pbs)
ORDER BY bucket_ts
"""


@register(
    "q215_concurrency_timeline",
    _TIMELINE_ORACLE,
    "concurrency TIMELINE (q152's sweep line with "
    "include_empty_buckets=True): a sparse session sample (3-hour "
    "sessions) where most hours contain NO boundary — the default "
    "sweep output skips them even when sessions run straight through "
    "(the 'exact per-hour concurrency' gap the r06 verdict named); the "
    "spine mode emits every hour between the first and last boundary "
    "bucket, with peak = carry for boundary-free hours. The spine is "
    "sequence() over the bucket RANGE — timeline-sized like the carry "
    "window, never data-sized. The oracle re-derives the spine with "
    "generate_series and the identical carry/peak algebra",
)
def q215(spark, sf_dir):
    from snowflake_cdc_spark.operators.sweepline import (
        peak_concurrency_by_bucket,
    )
    from snowflake_cdc_spark.queries import ntz

    ev = _t(spark, sf_dir, "events").filter("event_id % 997 = 0")
    iv = ev.select(
        F.col("ts").cast("timestamp").alias("start_ts"),
        (F.col("ts").cast("timestamp") + F.expr("INTERVAL 180 MINUTES")).alias(
            "end_ts"
        ),
    )
    return ntz(
        peak_concurrency_by_bucket(iv, bucket="hour", include_empty_buckets=True)
    )


# --------------------------------------------------------------------------
# Q216 — embedding hygiene report (vector QA before any ANN/dedup lane)
# --------------------------------------------------------------------------

_HYGIENE_ORACLE = """
WITH sg AS (SELECT vec_id,
                   list_transform(embedding,
                     x -> CAST(floor(CAST(x AS DOUBLE) * 1000.0 + 0.5) AS BIGINT))
                     AS qc,
                   CAST(len(embedding) AS BIGINT) AS dim
            FROM embeddings),
n AS (SELECT vec_id, dim,
             -- coalesce: DuckDB list_sum([]) is NULL while Spark's
             -- F.aggregate fold with a 0 initializer returns 0 — a
             -- zero-length embedding must agree in the hygiene lane
             -- whose whole job is catching degenerate vectors.
             CAST(coalesce(list_sum(list_transform(qc, x -> x * x)), 0)
                  AS BIGINT) AS n2
      FROM sg)
SELECT CAST(count(*) AS BIGINT) AS n_vectors,
       CAST(count(DISTINCT dim) AS BIGINT) AS n_dims_seen,
       CAST(min(dim) AS BIGINT) AS min_dim,
       CAST(max(dim) AS BIGINT) AS max_dim,
       CAST(min(n2) AS BIGINT) AS min_n2,
       CAST(max(n2) AS BIGINT) AS max_n2,
       CAST(sum(CASE WHEN n2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero,
       CAST(sum(n2) AS BIGINT) AS sum_n2
FROM n
"""


@register(
    "q216_embedding_hygiene",
    _HYGIENE_ORACLE,
    "embedding hygiene report — the vector-QA gate that belongs BEFORE "
    "every ANN/SemDeDup lane (a zero vector has undefined cosine and "
    "silently matches nothing; a ragged dim corrupts unrolled "
    "distances — the exact failure ADVICE r06 flagged): corpus-wide "
    "dim consistency (distinct dims seen, min/max), integer norm² "
    "range on the q200 signed grid, zero-vector count, and the total "
    "norm² mass. One scan, one aggregation, every value an exact "
    "BIGINT — the oracle re-derives the grid and all eight numbers. "
    "n_dims_seen == 1 and n_zero == 0 are the preconditions "
    "ivf_exact._check_dim and the cosine lanes rely on",
)
def q216(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    qc = F.transform(
        "embedding",
        lambda x: F.floor(x.cast("double") * F.lit(1000.0) + F.lit(0.5)).cast(
            "bigint"
        ),
    )
    n2 = F.aggregate(
        qc, F.lit(0).cast("bigint"), lambda acc, v: acc + v * v
    )
    n = emb.select(
        F.size("embedding").cast("bigint").alias("dim"), n2.alias("n2")
    )
    return n.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vectors"),
        F.countDistinct("dim").cast("bigint").alias("n_dims_seen"),
        F.min("dim").cast("bigint").alias("min_dim"),
        F.max("dim").cast("bigint").alias("max_dim"),
        F.min("n2").cast("bigint").alias("min_n2"),
        F.max("n2").cast("bigint").alias("max_n2"),
        F.sum((F.col("n2") == 0).cast("bigint")).cast("bigint").alias("n_zero"),
        F.sum("n2").cast("bigint").alias("sum_n2"),
    )


# --------------------------------------------------------------------------
# Q217 — exact-duplicate split leakage (the hard contamination)
# --------------------------------------------------------------------------

_LEAK_ORACLE = """
WITH d AS (SELECT doc_id, source, md5(text) AS h,
                  md5(CAST(doc_id AS VARCHAR)) AS sh
           FROM documents),
r AS (SELECT *, row_number() OVER (PARTITION BY source ORDER BY sh, doc_id) AS rk,
             count(*) OVER (PARTITION BY source) AS n
      FROM d),
s AS (SELECT doc_id, source, h,
             CASE WHEN rk <= (8 * n) // 10 THEN 'train'
                  WHEN rk <= (9 * n) // 10 THEN 'val'
                  ELSE 'test' END AS split
      FROM r),
tr AS (SELECT DISTINCT h FROM s WHERE split = 'train'),
te AS (SELECT doc_id, source, h FROM s WHERE split = 'test')
SELECT te.source,
       CAST(count(*) AS BIGINT) AS n_test_docs,
       CAST(sum(CASE WHEN tr.h IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_leaked
FROM te LEFT JOIN tr USING (h)
GROUP BY te.source ORDER BY te.source
"""


@register(
    "q217_exact_dup_leakage",
    _LEAK_ORACLE,
    "exact-duplicate split leakage — the HARD contamination q214's "
    "shingle overlap generalizes: a test document whose md5(text) also "
    "appears verbatim in the train split is a memorization leak, not "
    "just an n-gram echo (the dedup-before-split mistake every corpus "
    "pipeline must audit for). Composes q22's content hash with "
    "q210's deterministic split: one hash-keyed LEFT join of test "
    "docs against DISTINCT train hashes, per-source leak counts. "
    "The oracle re-derives split, hashes, and counts",
)
def q217(spark, sf_dir):
    from snowflake_cdc_spark.operators.splits import stratified_split

    docs = _t(spark, sf_dir, "documents")
    d = docs.select(
        "doc_id",
        "source",
        F.md5("text").alias("h"),
        F.md5(F.col("doc_id").cast("string")).alias("sh"),
    )
    s = stratified_split(d, hash_col="sh").select(
        "doc_id", "source", "h", "split"
    )
    tr = s.filter("split = 'train'").select("h").distinct()
    te = s.filter("split = 'test'").select("doc_id", "source", "h")
    return (
        te.join(tr.withColumn("__hit", F.lit(1)), "h", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_test_docs"),
            F.sum(F.coalesce(F.col("__hit"), F.lit(0)))
            .cast("bigint")
            .alias("n_leaked"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# Q218 — per-shard source-mixture audit (composes q203's layout)
# --------------------------------------------------------------------------

_SHARD_MIX_ORACLE = """
WITH toks AS (SELECT doc_id, source,
                     CAST(len(regexp_extract_all(lower(text), '[\\p{L}\\p{M}]+'))
                          AS BIGINT) AS tok
              FROM documents),
r AS (SELECT doc_id, source, tok,
             row_number() OVER (
               ORDER BY md5('42:' || CAST(doc_id AS VARCHAR)), doc_id
             ) AS rank
      FROM toks),
c AS (SELECT doc_id, source, tok,
             coalesce(sum(tok) OVER (ORDER BY rank
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS before
      FROM r),
a AS (SELECT doc_id, source, tok,
             CAST(before // 2000 AS BIGINT) AS shard_id
      FROM c),
ps AS (SELECT shard_id, source,
              CAST(count(*) AS BIGINT) AS nd,
              CAST(sum(tok) AS BIGINT) AS st
       FROM a GROUP BY 1, 2)
SELECT shard_id,
       CAST(sum(nd) AS BIGINT) AS n_docs,
       CAST(sum(st) AS BIGINT) AS n_tokens,
       CAST(count(*) AS BIGINT) AS n_sources,
       min(struct_pack(nst := -st, src := source)).src AS top_source,
       CAST((-min(struct_pack(nst := -st, src := source)).nst) * 1000000
            // sum(st) AS BIGINT) AS top_share_ppm
FROM ps GROUP BY shard_id ORDER BY shard_id
"""


@register(
    "q218_shard_mixture",
    _SHARD_MIX_ORACLE,
    "per-shard source-mixture audit — the well-mixedness check on "
    "q203's training-shard layout (a shard dominated by one source "
    "gives the trainer correlated batches; the seeded md5 shuffle is "
    "SUPPOSED to prevent that, and this lane measures whether it "
    "did): per shard, doc/token totals, distinct sources, and the "
    "dominant source's exact token share in ppm (deterministic "
    "(-tokens, source) struct tie-break). Composes the new "
    "operators/sharding.py::shard_assignments per-doc relation with "
    "one join back to document attributes; the oracle re-derives the "
    "layout with the naive single-sort window (q203's check) plus the "
    "same rollup",
)
def q218(spark, sf_dir):
    from snowflake_cdc_spark.operators.sharding import shard_assignments

    docs = _t(spark, sf_dir, "documents")
    a = shard_assignments(docs, shard_tokens=2000, seed=42).join(
        docs.select("doc_id", "source"), "doc_id"
    )
    ps = a.groupBy("shard_id", "source").agg(
        F.count(F.lit(1)).cast("bigint").alias("nd"),
        F.sum("tok").cast("bigint").alias("st"),
    )
    top = F.min(F.struct((-F.col("st")).alias("nst"), F.col("source").alias("src")))
    return (
        ps.groupBy("shard_id")
        .agg(
            F.sum("nd").cast("bigint").alias("n_docs"),
            F.sum("st").cast("bigint").alias("n_tokens"),
            F.count(F.lit(1)).cast("bigint").alias("n_sources"),
            top["src"].alias("top_source"),
            F.expr(
                "CAST((-min(struct(-st AS nst, source AS src)).nst) * 1000000"
                " DIV sum(st) AS BIGINT)"
            ).alias("top_share_ppm"),
        )
        .orderBy("shard_id")
    )


# --------------------------------------------------------------------------
# Q219 — train/test vocabulary drift (q190's KL on q210's split)
# --------------------------------------------------------------------------

_SPLIT_KL_ORACLE = """
WITH d AS (SELECT doc_id, source, text, md5(CAST(doc_id AS VARCHAR)) AS h
           FROM documents),
r AS (SELECT *, row_number() OVER (PARTITION BY source ORDER BY h, doc_id) AS rk,
             count(*) OVER (PARTITION BY source) AS n
      FROM d),
s AS (SELECT text,
             CASE WHEN rk <= (8 * n) // 10 THEN 'train'
                  WHEN rk <= (9 * n) // 10 THEN 'val'
                  ELSE 'test' END AS split
      FROM r),
toks AS (SELECT split, unnest(regexp_extract_all(lower(text), '[\\p{L}\\p{M}]+')) AS w
         FROM s WHERE split <> 'val'),
c AS (SELECT w,
             CAST(count(*) FILTER (WHERE split = 'test') AS BIGINT) AS cp,
             CAST(count(*) FILTER (WHERE split = 'train') AS BIGINT) AS cq
      FROM toks GROUP BY 1),
t AS (SELECT CAST(sum(cp) AS BIGINT) AS np, CAST(sum(cq) AS BIGINT) AS nq,
             CAST(count(*) AS BIGINT) AS v
      FROM c),
terms AS (SELECT c.w, c.cp, c.cq,
                 CAST(floor(
                   (CAST(c.cp + 1 AS DOUBLE) / CAST(t.np + t.v AS DOUBLE))
                   * ln(CAST((c.cp + 1) * (t.nq + t.v) AS DOUBLE)
                        / CAST((c.cq + 1) * (t.np + t.v) AS DOUBLE))
                   * 1000000000.0) AS BIGINT) AS term_nano
          FROM c, t)
SELECT w, cp, cq, term_nano FROM terms
UNION ALL
SELECT '_TOTAL' AS w, t.np AS cp, t.nq AS cq,
       (SELECT CAST(sum(term_nano) AS BIGINT) FROM terms) AS term_nano
FROM t
ORDER BY w
"""


@register(
    "q219_split_vocab_drift",
    _SPLIT_KL_ORACLE,
    "train/test vocabulary drift — KL(test || train) with +1 smoothing "
    "over the union vocabulary, on q210's deterministic split (q190's "
    "exact nano-quantized KL algebra pointed at the split boundary "
    "instead of corpus halves): a high divergence means the held-out "
    "split is not representative of what the model trains on — the "
    "third leg of the split-audit family (q214 shingle contamination, "
    "q217 exact-dup leakage, THIS distributional drift). Each word's "
    "KL term spends its floats in one token-identical expression, "
    "quantized once to nano units, summed order-free; per-word terms "
    "plus the _TOTAL row. One corpus scan, vocab-sized aggregation "
    "with split-filtered counts, broadcast totals",
)
def q219(spark, sf_dir):
    from snowflake_cdc_spark.operators.splits import stratified_split

    docs = _t(spark, sf_dir, "documents")
    d = docs.select(
        "doc_id",
        "source",
        "text",
        F.md5(F.col("doc_id").cast("string")).alias("h"),
    )
    s = stratified_split(d).select("text", "split").filter("split <> 'val'")
    toks = s.select(
        "split",
        F.explode(
            F.regexp_extract_all(F.lower(F.col("text")), F.lit(UNICODE_WORD), 0)
        ).alias("w"),
    )
    c = toks.groupBy("w").agg(
        F.sum(F.when(F.col("split") == "test", 1).otherwise(0))
        .cast("bigint")
        .alias("cp"),
        F.sum(F.when(F.col("split") == "train", 1).otherwise(0))
        .cast("bigint")
        .alias("cq"),
    )
    t = c.agg(
        F.sum("cp").cast("bigint").alias("np"),
        F.sum("cq").cast("bigint").alias("nq"),
        F.count(F.lit(1)).cast("bigint").alias("v"),
    )
    terms = c.crossJoin(F.broadcast(t)).select(
        "w",
        "cp",
        "cq",
        F.expr(
            "CAST(floor("
            " (CAST(cp + 1 AS DOUBLE) / CAST(np + v AS DOUBLE))"
            " * ln(CAST((cp + 1) * (nq + v) AS DOUBLE)"
            "      / CAST((cq + 1) * (np + v) AS DOUBLE))"
            " * 1000000000.0) AS BIGINT)"
        ).alias("term_nano"),
    )
    total = (
        terms.agg(F.sum("term_nano").cast("bigint").alias("term_nano"))
        .crossJoin(F.broadcast(t))
        .select(
            F.lit("_TOTAL").alias("w"),
            F.col("np").alias("cp"),
            F.col("nq").alias("cq"),
            "term_nano",
        )
    )
    return terms.unionByName(total).orderBy("w")
