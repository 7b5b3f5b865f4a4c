"""Round-10 extension lanes — the end-to-end corpus-build composition
(VERDICT r09 #1) and the remaining multilingual edges.

The curation battery has every stage a real training-data pipeline runs
(NB quality filter q235, decontamination q223/q225, dedup q22/q116,
budget selection q211/q221, BPE packing q209) but round 9 shipped them
only as separate lanes; q239/q240 compose them into the artifact a user
actually ships:

    candidates --NB filter--> f1 --decontaminate--> f2 --exact dedup-->
    f3 --token-budget select--> f4 --BPE tokenize + pack--> shards

- q239 is the per-stage attrition funnel over the REAL stages (q229's
  report shape, but each gate is the actual operator, not a proxy);
- q240 is the final packed-shard manifest (q209's shape) over the
  composed pipeline's survivors, BPE trained on the SELECTED corpus.

Roles on q210's deterministic stratified split: the VAL split is the
curated SEED that trains the quality classifier (the CCNet posture —
a small trusted sample scores the big crawl), the TRAIN split is the
crawl being curated, the TEST split is the held-out benchmark that
decontamination protects. Two in-query plants give stages real,
deterministic attrition on the synthetic corpus (the q223/q229
precedent): candidates with doc_id % 11 == 0 share a sentinel sentence
with the test split (decontamination must drop them), and every
candidate with doc_id % 5 == 0 is re-ingested as an exact replica under
doc_id + 10_000_000 (exact dedup must collapse the pair to its
md5-smallest member).

Scale shapes are inherited from the component lanes: NB is vocab-keyed
joins (never doc x vocab), decontamination is shingle-keyed (never
doc x doc), dedup is a fingerprint groupBy, selection is the sort-free
skewed_count_rank + bucketed cumsum, packing is per-bucket prefix sums.
The oracle re-derives the ENTIRE composition — split, model, every
score, gram hits, dedup winners, the selection prefix, the BPE merges,
and the packing sums — in one CTE chain.

Checkpoint posture (r10 what's-wrong #5, wired round 12): the
per-stage materializations below run each stage once so the gate and
the next stage share one computation. They route through
``operators.util.ckpt_eager``/``ckpt_lazy``, whose default
(``localCheckpoint``) is cheap but NON-REPLICATED executor-local
state: on a real cluster an executor loss kills the query instead of
recomputing the lineage. The production escape hatch is the session
config ``spark.snowflake_cdc.checkpoint.mode`` = ``reliable``
(HDFS/S3-backed ``checkpoint()``, dir from
``spark.snowflake_cdc.checkpoint.dir``) — same plan shapes,
fault-tolerant storage, no operator-code changes.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from snowflake_cdc_spark.queries import _t, register
from snowflake_cdc_spark.operators.util import ckpt_eager, ckpt_lazy

# --------------------------------------------------------------------------
# Q239/Q240 — the end-to-end corpus build
# --------------------------------------------------------------------------

# planted contamination: appended to EVERY test doc and to candidates
# with doc_id % 11 == 0, so decontamination has deterministic attrition
_PLANT = "heldout benchmark sentinel sequence for the leakage audit lane"
_REPL_OFFSET = 10_000_000  # replica ids: doc_id + offset (exact-dup plant)
_CB_BUDGET = 2_000  # token budget — bites at every driver SF
_CB_CAPACITY = 512  # packing window, BPE tokens
_CB_BUCKETS = 8  # packing shards
_CB_ROUNDS = 8  # BPE merge rounds (the q209/q145 setting)
_SEL_BUCKETS = 256  # cumsum range-buckets for the sort-free selection

# The shared CTE chain: split -> NB model from the seed -> planted
# candidates -> f1 (NB survivors) -> f2 (decontaminated) -> f3 (deduped)
# -> f4 (budget-selected). NB algebra is _NB_CTES' (queries_round9_ext)
# with the seed role moved to the val split.
_CB_CTES = f"""
d AS (SELECT doc_id, source, (lang = 'en') AS pos, text,
             md5(CAST(doc_id AS VARCHAR)) AS h
      FROM documents),
r AS (SELECT *, row_number() OVER (PARTITION BY source ORDER BY h, doc_id) AS rk,
             count(*) OVER (PARTITION BY source) AS n
      FROM d),
s AS MATERIALIZED (SELECT doc_id, source, pos, text, h,
             CASE WHEN rk <= (8 * n) // 10 THEN 'train'
                  WHEN rk <= (9 * n) // 10 THEN 'val'
                  ELSE 'test' END AS split
      FROM r),
seed AS (SELECT doc_id, pos,
                regexp_extract_all(lower(text), '[\\p{{L}}\\p{{M}}]+') AS ws
         FROM s WHERE split = 'val'),
tr AS (SELECT doc_id, pos, unnest(ws) AS w FROM seed),
cls AS (SELECT CAST(sum(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS d1,
               CAST(sum(CASE WHEN pos THEN 0 ELSE 1 END) AS BIGINT) AS d0
        FROM seed),
wc AS (SELECT w,
              CAST(count(*) FILTER (WHERE pos) AS BIGINT) AS c1,
              CAST(count(*) FILTER (WHERE NOT pos) AS BIGINT) AS c0
       FROM tr GROUP BY 1),
nv AS (SELECT CAST(sum(c1) AS BIGINT) AS n1, CAST(sum(c0) AS BIGINT) AS n0,
              CAST(count(*) AS BIGINT) AS v
       FROM wc),
lr AS MATERIALIZED (SELECT w,
              CAST(floor(ln((CAST(c1 + 1 AS DOUBLE) * CAST(n0 + v AS DOUBLE))
                            / (CAST(c0 + 1 AS DOUBLE) * CAST(n1 + v AS DOUBLE)))
                         * 1000000.0 + 0.5) AS BIGINT) AS llr
       FROM wc CROSS JOIN nv),
k AS MATERIALIZED (SELECT CAST(floor(ln(CAST(d1 AS DOUBLE) / CAST(d0 AS DOUBLE))
                        * 1000000.0 + 0.5) AS BIGINT) AS prior,
             CAST(floor(ln(CAST(n0 + v AS DOUBLE) / CAST(n1 + v AS DOUBLE))
                        * 1000000.0 + 0.5) AS BIGINT) AS unseen
      FROM cls CROSS JOIN nv),
cand0 AS (SELECT doc_id, source,
                 text || CASE WHEN doc_id % 11 = 0
                              THEN ' {_PLANT}' ELSE '' END AS text
          FROM s WHERE split = 'train'),
cand AS (SELECT doc_id, source, text, md5(CAST(doc_id AS VARCHAR)) AS h,
                regexp_extract_all(lower(text), '[\\p{{L}}\\p{{M}}]+') AS ws
         FROM (SELECT doc_id, source, text FROM cand0
               UNION ALL
               SELECT doc_id + {_REPL_OFFSET}, source, text
               FROM cand0 WHERE doc_id % 5 = 0)),
candt AS MATERIALIZED (SELECT doc_id, source, text, h, ws,
                 CAST(len(ws) AS BIGINT) AS n_toks
          FROM cand),
cc AS (SELECT doc_id, w, CAST(count(*) AS BIGINT) AS c
       FROM (SELECT doc_id, unnest(ws) AS w FROM candt) GROUP BY 1, 2),
ww AS (SELECT cc.doc_id,
              CAST(sum(cc.c * coalesce(lr.llr, k.unseen)) AS BIGINT) AS wsum
       FROM cc LEFT JOIN lr ON lr.w = cc.w CROSS JOIN k
       GROUP BY 1),
f1 AS MATERIALIZED (SELECT candt.* FROM candt LEFT JOIN ww USING (doc_id) CROSS JOIN k
       WHERE (coalesce(ww.wsum, 0) + k.prior) > 0),
nte AS (SELECT regexp_extract_all(replace(lower(text || ' {_PLANT}'), '''', ''),
                                  '[\\p{{L}}\\p{{M}}0-9]+') AS nws
        FROM s WHERE split = 'test'),
teg AS MATERIALIZED (SELECT DISTINCT unnest(list_transform(generate_series(1, len(nws) - 4),
               i -> array_to_string(nws[i:i+4], ' '))) AS gram
        FROM nte WHERE len(nws) >= 5),
f1n AS (SELECT doc_id,
               regexp_extract_all(replace(lower(text), '''', ''),
                                  '[\\p{{L}}\\p{{M}}0-9]+') AS nws
        FROM f1),
f1g AS (SELECT doc_id,
               unnest(list_transform(generate_series(1, len(nws) - 4),
                      i -> array_to_string(nws[i:i+4], ' '))) AS gram
        FROM f1n WHERE len(nws) >= 5),
hits AS (SELECT DISTINCT f1g.doc_id FROM f1g JOIN teg USING (gram)),
f2 AS MATERIALIZED (SELECT f1.* FROM f1 LEFT JOIN hits USING (doc_id)
       WHERE hits.doc_id IS NULL),
fp AS (SELECT doc_id, md5(lower(text)) AS fp, h FROM f2),
keep AS (SELECT doc_id FROM (
           SELECT doc_id, row_number() OVER (PARTITION BY fp
                                             ORDER BY h, doc_id) AS rn
           FROM fp) WHERE rn = 1),
f3 AS MATERIALIZED (SELECT f2.* FROM f2 JOIN keep USING (doc_id)),
sc4 AS (SELECT doc_id, source, text, n_toks, h,
               CAST(len(list_distinct(ws)) AS BIGINT) AS score
        FROM f3 WHERE len(list_distinct(ws)) >= 1),
r4 AS (SELECT *, row_number() OVER (ORDER BY score DESC, h, doc_id) AS rk4
       FROM sc4),
c4 AS (SELECT *, sum(n_toks) OVER (ORDER BY rk4
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
       FROM r4),
f4 AS MATERIALIZED (SELECT doc_id, source, text, n_toks FROM c4 WHERE cum <= {_CB_BUDGET})
"""


def _cb_bpe_pack_ctes() -> str:
    """BPE trained on the SELECTED corpus (f4) + the q209 packing sums,
    as a CTE-chain suffix for _CB_CTES (the tokenizer a pipeline ships
    is trained on the corpus it ships)."""
    from snowflake_cdc_spark.operators.bpe import _bpe_chain_ctes

    ctes = _bpe_chain_ctes(_CB_ROUNDS, "f4")
    ctes.append(
        f"btok AS (SELECT word, CAST(len(string_split(w, chr(30))) - 1 AS BIGINT) "
        f"AS n_tok FROM w{_CB_ROUNDS})"
    )
    ctes.append(
        "docw AS (SELECT doc_id, "
        "unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word FROM f4)"
    )
    ctes.append(
        "dw AS (SELECT doc_id, CAST(sum(n_tok) AS BIGINT) AS n_bpe "
        "FROM docw JOIN btok USING (word) GROUP BY 1)"
    )
    ctes.append(
        "perdoc AS MATERIALIZED (SELECT f4.doc_id, coalesce(dw.n_bpe, 0) AS n_bpe, "
        "CAST(CAST('0x' || substring(md5(CAST(f4.doc_id AS VARCHAR)), 1, 4) "
        f"AS UBIGINT) % {_CB_BUCKETS} AS BIGINT) AS bucket "
        "FROM f4 LEFT JOIN dw ON dw.doc_id = f4.doc_id)"
    )
    return ", " + ", ".join(ctes)


_FUNNEL_ORACLE = (
    "WITH "
    + _CB_CTES
    + _cb_bpe_pack_ctes()
    + f"""
SELECT * FROM (
  SELECT 1 AS stage, 'nb_quality' AS gate,
         (SELECT CAST(count(*) AS BIGINT) FROM candt) AS n_in,
         (SELECT CAST(count(*) AS BIGINT) FROM f1) AS n_out,
         (SELECT CAST(coalesce(sum(n_toks), 0) AS BIGINT) FROM f1) AS tokens_out
  UNION ALL SELECT 2, 'decontaminate',
         (SELECT count(*) FROM f1), (SELECT count(*) FROM f2),
         (SELECT CAST(coalesce(sum(n_toks), 0) AS BIGINT) FROM f2)
  UNION ALL SELECT 3, 'exact_dedup',
         (SELECT count(*) FROM f2), (SELECT count(*) FROM f3),
         (SELECT CAST(coalesce(sum(n_toks), 0) AS BIGINT) FROM f3)
  UNION ALL SELECT 4, 'budget_select',
         (SELECT count(*) FROM f3), (SELECT count(*) FROM f4),
         (SELECT CAST(coalesce(sum(n_toks), 0) AS BIGINT) FROM f4)
  UNION ALL SELECT 5, 'bpe_pack',
         (SELECT count(*) FROM f4), (SELECT count(*) FROM perdoc),
         (SELECT CAST(coalesce(sum(n_bpe), 0) AS BIGINT) FROM perdoc))
ORDER BY stage"""
)

_MANIFEST_ORACLE = (
    "WITH "
    + _CB_CTES
    + _cb_bpe_pack_ctes()
    + f""",
c AS (SELECT bucket, doc_id, n_bpe,
             sum(n_bpe) OVER (PARTITION BY bucket ORDER BY doc_id
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND CURRENT ROW) AS cum
      FROM perdoc),
p AS (SELECT bucket, n_bpe,
             CAST(floor((cum - n_bpe) / {_CB_CAPACITY}.0) AS BIGINT) AS first_bin,
             CAST(greatest(floor((cum - n_bpe) / {_CB_CAPACITY}.0),
                           floor((cum - 1) / {_CB_CAPACITY}.0)) AS BIGINT) AS last_bin
      FROM c)
SELECT bucket, count(*) AS n_docs,
       CAST(sum(n_bpe) AS BIGINT) AS total_tokens,
       CAST(ceil(sum(n_bpe) / {_CB_CAPACITY}.0) AS BIGINT) AS n_bins,
       CAST(sum(CASE WHEN first_bin <> last_bin THEN 1 ELSE 0 END) AS BIGINT)
         AS n_split_docs,
       CAST(CAST(ceil(sum(n_bpe) / {_CB_CAPACITY}.0) AS BIGINT) * {_CB_CAPACITY}
            - sum(n_bpe) AS BIGINT) AS pad_tokens
FROM p GROUP BY bucket ORDER BY bucket"""
)


def _split(spark, sf_dir, docs=None):
    """q210's deterministic stratified split with the corpus columns the
    build needs; checkpointed once — seed/candidates/test all read it.
    ``docs``: any (doc_id, source, lang, text) relation replacing the
    driver parquet — e.g. a ParquetSnapshotSink generation view, so the
    curation consumes the SAME consistent cut the CDC pipeline
    committed (test_corpus_build.py wires that seam)."""
    if docs is None:
        docs = _t(spark, sf_dir, "documents")
    d = docs.select(
        "doc_id",
        "source",
        (F.col("lang") == "en").alias("pos"),
        "text",
        F.md5(F.col("doc_id").cast("string")).alias("h"),
    )
    from snowflake_cdc_spark.operators.splits import stratified_split

    return (
        stratified_split(d)
        .select("doc_id", "source", "pos", "text", "h", "split")
        .transform(ckpt_lazy)
    )


# the shared multilingual tokenization (functions/text.py) under the
# short local name the lanes and tests use
from snowflake_cdc_spark.functions.text import unicode_words as _uwords  # noqa: E402


def _norm_grams(df, text_col="text"):
    """Normalized 5-gram shingles (the q225 matching normalization:
    lowercase, apostrophe collapse, alphanumeric tokens)."""
    from snowflake_cdc_spark.functions.text import UNICODE_WORD_NUM

    nws = F.regexp_extract_all(
        F.replace(F.lower(F.col(text_col)), F.lit("'"), F.lit("")),
        F.lit(UNICODE_WORD_NUM),
        F.lit(0),
    )
    base = df.withColumn("__nws", nws).filter(F.size("__nws") >= 5)
    return base.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("__nws") - 4),
                lambda i: F.concat_ws(" ", F.slice("__nws", i, F.lit(5))),
            )
        ).alias("gram"),
    )


def _budget_select(sc_df, budget: int):
    """q211's sort-free greedy selection (skewed_count_rank + the
    256-bucket broadcast-offset cumsum) over (doc_id, score, n_toks,
    ...carry) — identical selection set to the oracle's single-sort
    (score DESC, md5, id) prefix."""
    from snowflake_cdc_spark.operators.rank import skewed_count_rank

    ranked = skewed_count_rank(
        sc_df, "score", "doc_id", ascending=False, rank_col="rk"
    )
    n = sc_df.agg(F.count(F.lit(1)).alias("__n"))
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
        (F.sum("__bt").over(Window.orderBy("__rb")) - F.col("__bt")).alias("__off"),
    )
    w_intra = (
        Window.partitionBy("__rb")
        .orderBy("rk")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        keyed.join(F.broadcast(offsets), "__rb")
        .withColumn("cum", F.col("__off") + F.sum("n_toks").over(w_intra))
        .filter(F.col("cum") <= budget)
    )


def _corpus_stages(spark, sf_dir, docs=None):
    """Run the composed pipeline; returns the per-stage DataFrames
    {candt, f1, f2, f3, f4}. ``docs``: an alternative corpus relation
    (see ``_split``) — the store-integration seam."""
    from snowflake_cdc_spark.operators.nb import nb_score, nb_train

    s = _split(spark, sf_dir, docs=docs)
    seed = s.filter(F.col("split") == "val").select(
        "doc_id", "pos", _uwords(F.col("text")).alias("ws")
    )
    lr, k = nb_train(seed)

    cand0 = s.filter(F.col("split") == "train").select(
        "doc_id",
        "source",
        F.concat(
            F.col("text"),
            F.when(F.col("doc_id") % 11 == 0, F.lit(" " + _PLANT)).otherwise(
                F.lit("")
            ),
        ).alias("text"),
    )
    replicas = cand0.filter(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + _REPL_OFFSET).alias("doc_id"), "source", "text"
    )
    candt = (
        cand0.unionByName(replicas)
        .select(
            "doc_id",
            "source",
            "text",
            F.md5(F.col("doc_id").cast("string")).alias("h"),
            _uwords(F.col("text")).alias("ws"),
        )
        .withColumn("n_toks", F.size("ws").cast("bigint"))
        .transform(ckpt_lazy)
    )

    # stage 1: NB quality filter (score > 0 against the seed model)
    scored = nb_score(candt.select("doc_id", "ws"), lr, k)
    f1 = candt.join(
        scored.filter(F.col("pred_pos")).select("doc_id"), "doc_id"
    ).transform(ckpt_lazy)

    # stage 2: decontaminate vs the (planted) test split — gram-keyed
    test_g = (
        _norm_grams(
            s.filter(F.col("split") == "test").select(
                "doc_id", F.concat(F.col("text"), F.lit(" " + _PLANT)).alias("text")
            )
        )
        .select("gram")
        .distinct()
    )
    hits = _norm_grams(f1).join(test_g, "gram").select("doc_id").distinct()
    f2 = f1.join(hits, "doc_id", "left_anti").transform(ckpt_lazy)

    # stage 3: exact dedup — fingerprint groupBy, md5-smallest survives
    w_fp = Window.partitionBy("fp").orderBy("h", "doc_id")
    keep = (
        f2.select("doc_id", F.md5(F.lower(F.col("text"))).alias("fp"), "h")
        .withColumn("rn", F.row_number().over(w_fp))
        .filter(F.col("rn") == 1)
        .select("doc_id")
    )
    f3 = f2.join(keep, "doc_id").transform(ckpt_lazy)

    # stage 4: token-budget selection (quality = distinct-word count)
    sc4 = f3.select(
        "doc_id",
        "source",
        "text",
        "n_toks",
        "h",
        F.size(F.array_distinct("ws")).cast("bigint").alias("score"),
    ).filter(F.col("score") >= 1)
    f4 = (
        _budget_select(sc4, _CB_BUDGET)
        .select("doc_id", "source", "text", "n_toks")
        .transform(ckpt_lazy)
    )
    return {"candt": candt, "f1": f1, "f2": f2, "f3": f3, "f4": f4}


def _bpe_perdoc(f4):
    """Train BPE on the selected corpus, tokenize it, return per-doc
    (doc_id, n_bpe) — q209's composition pointed at f4."""
    from snowflake_cdc_spark.operators.bpe import (
        apply_bpe,
        train_bpe,
        word_frequencies,
    )

    words = word_frequencies(f4)
    merges = train_bpe(words, rounds=_CB_ROUNDS).collect()
    tok = apply_bpe(words, [tuple(m) for m in merges])
    docw = f4.select(
        "doc_id",
        F.explode(
            F.regexp_extract_all(F.lower(F.col("text")), F.lit("[a-z]+"), 0)
        ).alias("word"),
    )
    dw = (
        docw.join(F.broadcast(tok), "word")
        .groupBy("doc_id")
        .agg(F.sum("n_bpe_tokens").cast("bigint").alias("n_bpe"))
    )
    return f4.select("doc_id").join(dw, "doc_id", "left").select(
        "doc_id", F.coalesce(F.col("n_bpe"), F.lit(0)).cast("bigint").alias("n_bpe")
    )


def _funnel_report(spark, stages, perdoc):
    """Five 1-row aggregates cross-joined into the q229-shaped funnel."""
    aggs = []
    for name in ("candt", "f1", "f2", "f3", "f4"):
        aggs.append(
            stages[name].agg(
                F.count(F.lit(1)).cast("bigint").alias(f"n_{name}"),
                F.coalesce(F.sum("n_toks"), F.lit(0))
                .cast("bigint")
                .alias(f"t_{name}"),
            )
        )
    aggs.append(
        perdoc.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_perdoc"),
            F.coalesce(F.sum("n_bpe"), F.lit(0)).cast("bigint").alias("t_bpe"),
        )
    )
    t = aggs[0]
    for a in aggs[1:]:
        t = t.crossJoin(F.broadcast(a))
    return t.selectExpr(
        "inline(array("
        "struct(CAST(1 AS BIGINT) AS stage, 'nb_quality' AS gate, "
        "  n_candt AS n_in, n_f1 AS n_out, t_f1 AS tokens_out),"
        "struct(CAST(2 AS BIGINT) AS stage, 'decontaminate' AS gate, "
        "  n_f1 AS n_in, n_f2 AS n_out, t_f2 AS tokens_out),"
        "struct(CAST(3 AS BIGINT) AS stage, 'exact_dedup' AS gate, "
        "  n_f2 AS n_in, n_f3 AS n_out, t_f3 AS tokens_out),"
        "struct(CAST(4 AS BIGINT) AS stage, 'budget_select' AS gate, "
        "  n_f3 AS n_in, n_f4 AS n_out, t_f4 AS tokens_out),"
        "struct(CAST(5 AS BIGINT) AS stage, 'bpe_pack' AS gate, "
        "  n_f4 AS n_in, n_perdoc AS n_out, t_bpe AS tokens_out)))"
    ).orderBy("stage")


@register(
    "q239_corpus_build_funnel",
    _FUNNEL_ORACLE,
    "END-TO-END corpus build, attrition report (VERDICT r09 #1): the "
    "real stages composed — NB quality filter (q235's operator, seed = "
    "the val split, the CCNet small-trusted-sample posture) -> "
    "normalized-shingle decontamination against the test split (q225) "
    "-> exact dedup (md5 fingerprint groupBy, md5-smallest survives) "
    "-> 2000-token greedy budget selection (q211's sort-free rank + "
    "bucketed cumsum) -> BPE tokenize-and-pack (q209, tokenizer "
    "trained on the SELECTED corpus). Output = q229's funnel shape "
    "with each gate the actual operator. Two deterministic in-query "
    "plants give dedup and decontamination real attrition (q223/q229 "
    "precedent): doc_id%11 candidates share a sentinel sentence with "
    "the test split; doc_id%5 candidates are re-ingested as exact "
    "replicas. The oracle re-derives the whole composition in one CTE "
    "chain. Scale: every stage keeps its component lane's shape — "
    "vocab-keyed NB joins, gram-keyed decontamination, fingerprint "
    "groupBy dedup, sort-free selection, per-bucket packing sums",
)
def q239(spark, sf_dir):
    stages = _corpus_stages(spark, sf_dir)
    perdoc = _bpe_perdoc(stages["f4"])
    return _funnel_report(spark, stages, perdoc)


# --------------------------------------------------------------------------
# Q241/Q242 — byte-level BPE (VERDICT r09 #4: the multilingual tokenizer)
# --------------------------------------------------------------------------

# Per-lang multilingual plant: Cyrillic + CJK on 'zh' rows, accented
# Latin on 'fr'/'de'/'es' — gives the byte lane real multi-byte UTF-8
# sequences and gives the character lane ([a-z]+) provable blind spots.
_ML_PLANTS = {
    "zh": " 模型 训练 数据 привет мир",
    "fr": " déjà été générées",
    "de": " übung größe",
    "es": " señal año",
}

_ML_CASE_SQL = "CASE lang " + " ".join(
    f"WHEN '{lang}' THEN '{plant}'" for lang, plant in _ML_PLANTS.items()
) + " ELSE '' END"

_ML_CORPUS_CTE = f"""
ml AS (SELECT doc_id, lang, text || {_ML_CASE_SQL} AS text FROM documents)
"""


def _ml_corpus(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    plant = F.lit("")
    for lang, p in _ML_PLANTS.items():
        plant = F.when(F.col("lang") == lang, F.lit(p)).otherwise(plant)
    return docs.select(
        "doc_id", "lang", F.concat(F.col("text"), plant).alias("text")
    )


def _byte_train_oracle() -> str:
    from snowflake_cdc_spark.operators.bpe import _byte_bpe_chain_ctes

    ctes = [_ML_CORPUS_CTE.strip()] + _byte_bpe_chain_ctes(_CB_ROUNDS, "ml")
    union = " UNION ALL ".join(
        f"SELECT merge_round, left_s, right_s, merged, pair_count FROM m{r}"
        for r in range(1, _CB_ROUNDS + 1)
    )
    return f"WITH {', '.join(ctes)} {union} ORDER BY merge_round"


@register(
    "q241_byte_bpe_train",
    _byte_train_oracle(),
    "BYTE-level BPE training (VERDICT r09 #4 — the multilingual path "
    "the functions/text.py ledger names): GPT-2-style bytes-as-symbols "
    "pre-tokenizer — every Unicode word becomes its UTF-8 byte "
    "sequence (lowercase hex pairs), and the q145 marker algebra "
    "learns 8 merges over the [0-9a-f]{2} alphabet unchanged (byte "
    "symbols can never collide with the \\x1e/\\x1f markers). Trained "
    "on the per-lang multilingual plant (Cyrillic+CJK on zh, accented "
    "Latin on fr/de/es), so any representable script contributes "
    "pairs — no unknown token exists. Same exact-integer winner order "
    "(count DESC, l, r), same greedy non-overlapping replace; the "
    "oracle re-derives all 8 rounds; hex(encode(w)) is the identical "
    "UTF-8 byte sequence in both engines",
)
def q241(spark, sf_dir):
    from snowflake_cdc_spark.operators.bpe import (
        byte_word_frequencies,
        train_byte_bpe,
    )

    words = byte_word_frequencies(_ml_corpus(spark, sf_dir))
    return train_byte_bpe(words, rounds=_CB_ROUNDS)


def _byte_coverage_oracle() -> str:
    from snowflake_cdc_spark.operators.bpe import (
        _bpe_chain_ctes,
        _byte_bpe_chain_ctes,
    )

    import re

    byte = _byte_bpe_chain_ctes(_CB_ROUNDS, "ml")
    # namespace the ascii chain's relation names (words, w0..wN, p*, m*)
    # so the two chains coexist in one WITH — token-level rewrite, so a
    # stray un-renamed reference binds to NOTHING (loud binder error)
    # rather than silently reading the byte chain's same-named CTE
    fixed = [
        re.sub(r"\b(words|[wpm]\d+)\b", r"a\1", c)
        for c in _bpe_chain_ctes(_CB_ROUNDS, "ml")
    ]
    ctes = [_ML_CORPUS_CTE.strip()] + byte + fixed
    ctes.append(
        f"btok AS (SELECT word, CAST(len(string_split(w, chr(30))) - 1 AS BIGINT) "
        f"AS n_tok FROM w{_CB_ROUNDS})"
    )
    ctes.append(
        f"atok AS (SELECT word, CAST(len(string_split(w, chr(30))) - 1 AS BIGINT) "
        f"AS n_tok FROM aw{_CB_ROUNDS})"
    )
    ctes.append(
        "udw AS (SELECT lang, unnest(regexp_extract_all(lower(text), "
        "'[\\p{L}\\p{M}]+')) AS word FROM ml)"
    )
    ctes.append(
        "adw AS (SELECT lang, unnest(regexp_extract_all(lower(text), "
        "'[a-z]+')) AS word FROM ml)"
    )
    ctes.append(
        "ub AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_uwords, "
        "CAST(sum(CASE WHEN NOT regexp_matches(word, '[a-z]') THEN 1 ELSE 0 END) "
        "AS BIGINT) AS dropped_uwords, "
        "CAST(sum(btok.n_tok) AS BIGINT) AS tokens_byte "
        "FROM udw JOIN btok USING (word) GROUP BY 1)"
    )
    ctes.append(
        "ab AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_ascii_runs, "
        "CAST(sum(atok.n_tok) AS BIGINT) AS tokens_ascii "
        "FROM adw JOIN atok USING (word) GROUP BY 1)"
    )
    return (
        f"WITH {', '.join(ctes)} "
        "SELECT ub.lang, n_uwords, dropped_uwords, tokens_byte, "
        "coalesce(n_ascii_runs, 0) AS n_ascii_runs, "
        "coalesce(tokens_ascii, 0) AS tokens_ascii, "
        "CAST(tokens_byte * 1000 // n_uwords AS BIGINT) AS fert_byte_milli "
        "FROM ub LEFT JOIN ab USING (lang) ORDER BY ub.lang"
    )


@register(
    "q242_byte_bpe_coverage",
    _byte_coverage_oracle(),
    "byte-BPE vs character-BPE coverage and fertility, per language "
    "(VERDICT r09 #4's done-criterion: the lane that PROVES "
    "operators/bpe.py's [a-z]+ contract drops tokens on non-Latin "
    "text): both tokenizers trained side by side on the multilingual "
    "plant corpus; per lang — Unicode word count, words with zero "
    "[a-z] content (invisible to the character lane; > 0 for zh's "
    "planted CJK/Cyrillic), total byte-BPE tokens (every word "
    "tokenized — the no-unknown-token guarantee), ascii-run count and "
    "char-BPE tokens (the q226 lane's view), and byte fertility in "
    "milli-tokens/word — the q226 comparison at language granularity. "
    "Scale shape: two vocab-sized training chains + two word-keyed "
    "broadcast joins + one 5-row rollup",
)
def q242(spark, sf_dir):
    from snowflake_cdc_spark.operators.bpe import (
        apply_bpe,
        apply_byte_bpe,
        byte_word_frequencies,
        train_bpe,
        train_byte_bpe,
        word_frequencies,
    )

    ml = _ml_corpus(spark, sf_dir).transform(ckpt_lazy)
    bwords = byte_word_frequencies(ml)
    bmerges = [tuple(m) for m in train_byte_bpe(bwords, rounds=_CB_ROUNDS).collect()]
    btok = apply_byte_bpe(bwords, bmerges)
    awords = word_frequencies(ml)
    amerges = [tuple(m) for m in train_bpe(awords, rounds=_CB_ROUNDS).collect()]
    atok = apply_bpe(awords, amerges)

    udw = ml.select(
        "lang", F.explode(_uwords(F.col("text"))).alias("word")
    )
    adw = ml.select(
        "lang",
        F.explode(
            F.regexp_extract_all(F.lower(F.col("text")), F.lit("[a-z]+"), 0)
        ).alias("word"),
    )
    ub = (
        udw.join(F.broadcast(btok), "word")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_uwords"),
            F.sum(
                (~F.col("word").rlike("[a-z]")).cast("bigint")
            )
            .cast("bigint")
            .alias("dropped_uwords"),
            F.sum("n_bpe_tokens").cast("bigint").alias("tokens_byte"),
        )
    )
    ab = (
        adw.join(F.broadcast(atok), "word")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_ascii_runs"),
            F.sum("n_bpe_tokens").cast("bigint").alias("tokens_ascii"),
        )
    )
    return (
        ub.join(ab, "lang", "left")
        .select(
            "lang",
            "n_uwords",
            "dropped_uwords",
            "tokens_byte",
            F.coalesce(F.col("n_ascii_runs"), F.lit(0))
            .cast("bigint")
            .alias("n_ascii_runs"),
            F.coalesce(F.col("tokens_ascii"), F.lit(0))
            .cast("bigint")
            .alias("tokens_ascii"),
            F.expr("CAST(tokens_byte * 1000 DIV n_uwords AS BIGINT)").alias(
                "fert_byte_milli"
            ),
        )
        .orderBy("lang")
    )


# --------------------------------------------------------------------------
# Q243 — script-aware multilingual language-ID (VERDICT r09 #6)
# --------------------------------------------------------------------------

_CYR_PLANT = "привет мир это тестовое предложение для аудита"
_CJK_PLANT = "模型 训练 数据 语料 评估 基准"

# q29's stopword lists, shared verbatim (the legacy lane is reproduced
# inside this query so the mislabel is visible in the output itself)
_SW243 = {
    "en": ["the", "a", "of", "and", "is"],
    "es": ["el", "la", "de", "y", "es"],
    "de": ["der", "die", "das", "und", "ist"],
    "fr": ["le", "la", "de", "et", "est"],
}


def _script_lid_oracle() -> str:
    sw = {
        k: "[" + ", ".join(f"'{w}'" for w in v) + "]" for k, v in _SW243.items()
    }
    legacy = """CASE WHEN s_en > 0 AND s_en >= s_es AND s_en >= s_de AND s_en >= s_fr THEN 'en'
                WHEN s_es > 0 AND s_es >= s_en AND s_es >= s_de AND s_es >= s_fr THEN 'es'
                WHEN s_de > 0 AND s_de >= s_en AND s_de >= s_es AND s_de >= s_fr THEN 'de'
                WHEN s_fr > 0 AND s_fr >= s_en AND s_fr >= s_es AND s_fr >= s_de THEN 'fr'
                ELSE 'zh' END"""
    return f"""
WITH base AS (
  SELECT doc_id, lang AS true_lang, text FROM documents
  UNION ALL
  SELECT doc_id + 20000000, 'ru', '{_CYR_PLANT}' FROM documents WHERE doc_id % 17 = 0
  UNION ALL
  SELECT doc_id + 30000000, 'zh', '{_CJK_PLANT}' FROM documents WHERE doc_id % 19 = 0),
w AS (SELECT doc_id, true_lang, string_split(text, ' ') AS ws,
             regexp_extract_all(lower(text), '[\\p{{L}}\\p{{M}}]+') AS uw
      FROM base),
sc AS (SELECT doc_id, true_lang,
         CAST(len(list_filter(uw, t -> unicode(t) < 1024)) AS BIGINT) AS n_lat,
         CAST(len(list_filter(uw, t -> unicode(t) >= 1024 AND unicode(t) < 1280))
              AS BIGINT) AS n_cyr,
         CAST(len(list_filter(uw, t -> unicode(t) >= 11904)) AS BIGINT) AS n_cjk,
         len(list_filter(ws, x -> list_contains({sw['en']}, x))) AS s_en,
         len(list_filter(ws, x -> list_contains({sw['es']}, x))) AS s_es,
         len(list_filter(ws, x -> list_contains({sw['de']}, x))) AS s_de,
         len(list_filter(ws, x -> list_contains({sw['fr']}, x))) AS s_fr
       FROM w),
p AS (SELECT doc_id, true_lang,
        CASE WHEN n_cyr > 0 AND n_cyr >= n_cjk AND n_cyr >= n_lat THEN 'cyrillic'
             WHEN n_cjk > 0 AND n_cjk >= n_lat THEN 'cjk'
             ELSE 'latin' END AS script,
        {legacy} AS legacy_lang,
        s_en, s_es, s_de, s_fr
      FROM sc),
r AS (SELECT true_lang, script,
        CASE WHEN script = 'cyrillic' THEN 'ru'
             WHEN script = 'cjk' THEN 'zh'
             WHEN s_en > 0 AND s_en >= s_es AND s_en >= s_de AND s_en >= s_fr THEN 'en'
             WHEN s_es > 0 AND s_es >= s_en AND s_es >= s_de AND s_es >= s_fr THEN 'es'
             WHEN s_de > 0 AND s_de >= s_en AND s_de >= s_es AND s_de >= s_fr THEN 'de'
             WHEN s_fr > 0 AND s_fr >= s_en AND s_fr >= s_es AND s_fr >= s_de THEN 'fr'
             ELSE 'und' END AS predicted_lang,
        legacy_lang
      FROM p)
SELECT true_lang, script, predicted_lang, legacy_lang,
       CAST(count(*) AS BIGINT) AS n_docs
FROM r GROUP BY 1, 2, 3, 4 ORDER BY 1, 2, 3, 4"""


@register(
    "q243_script_language_id",
    _script_lid_oracle(),
    "script-aware multilingual language-ID (VERDICT r09 #6): q29 "
    "scores only Latin stopword sets and routes EVERY no-hit doc to "
    "'zh' — planted Cyrillic rows prove the mislabel (the output "
    "contains (true_lang='ru', legacy_lang='zh') rows with the legacy "
    "lane reproduced verbatim alongside). The new router buckets by "
    "dominant script FIRST (functions/text.py::script_of per Unicode "
    "token: cyrillic -> 'ru', cjk -> 'zh'), then runs the stopword "
    "argmax only on Latin-dominant docs, and says an honest 'und' "
    "instead of a fake 'zh' when no evidence exists. Plants: pure "
    "Cyrillic rows (true 'ru') on doc_id%17, pure CJK (true 'zh') on "
    "doc_id%19. Output = (true_lang, script, predicted_lang, "
    "legacy_lang, n_docs) — the router comparison as one rollup. "
    "Shape: one scan, per-token script via a higher-order filter (no "
    "explode), one small groupBy",
)
def q243(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    base = (
        docs.select("doc_id", F.col("lang").alias("true_lang"), "text")
        .unionByName(
            docs.filter(F.col("doc_id") % 17 == 0).select(
                (F.col("doc_id") + 20_000_000).alias("doc_id"),
                F.lit("ru").alias("true_lang"),
                F.lit(_CYR_PLANT).alias("text"),
            )
        )
        .unionByName(
            docs.filter(F.col("doc_id") % 19 == 0).select(
                (F.col("doc_id") + 30_000_000).alias("doc_id"),
                F.lit("zh").alias("true_lang"),
                F.lit(_CJK_PLANT).alias("text"),
            )
        )
    )
    from snowflake_cdc_spark.functions.text import script_of

    ws = F.split("text", " ")
    uw = _uwords(F.col("text"))
    # per-token script via the SHARED functions/text.py::script_of
    # ranges (first char; Spark ascii == DuckDB unicode, probed) —
    # higher-order filters, no per-token explode
    # q243's published algebra is the THREE-way census (oracle ranges
    # n_lat < 0x400, n_cyr < 0x500, n_cjk >= 0x2E80); script_of has
    # since carved greek out of latin_ext and hangul out of cjk
    # (round 11), so the union sets keep this lane token-identical —
    # the EXTENDED router with its own per-script buckets is q245
    n_lat = F.size(
        F.filter(uw, lambda t: script_of(t).isin("latin", "latin_ext", "greek"))
    ).cast("bigint")
    n_cyr = F.size(
        F.filter(uw, lambda t: script_of(t) == "cyrillic")
    ).cast("bigint")
    n_cjk = F.size(
        F.filter(uw, lambda t: script_of(t).isin("cjk", "hangul"))
    ).cast("bigint")
    def _sw_score(sws):
        arr = F.array(*[F.lit(s) for s in sws])
        return F.size(F.filter(ws, lambda x: F.array_contains(arr, x)))

    scores = {lang: _sw_score(sws) for lang, sws in _SW243.items()}
    sc = base.select(
        "true_lang",
        n_lat.alias("n_lat"),
        n_cyr.alias("n_cyr"),
        n_cjk.alias("n_cjk"),
        *[scores[lang].alias(f"s_{lang}") for lang in _SW243],
    )
    script = (
        F.when(
            (F.col("n_cyr") > 0)
            & (F.col("n_cyr") >= F.col("n_cjk"))
            & (F.col("n_cyr") >= F.col("n_lat")),
            "cyrillic",
        )
        .when((F.col("n_cjk") > 0) & (F.col("n_cjk") >= F.col("n_lat")), "cjk")
        .otherwise("latin")
    )

    def _argmax(default):
        # q29's tie-ordered CASE cascade (en, es, de, fr) built inside-out
        order = ["en", "es", "de", "fr"]
        expr = F.lit(default)
        for lang in reversed(order):
            cond = F.col(f"s_{lang}") > 0
            for o in order:
                if o != lang:
                    cond = cond & (F.col(f"s_{lang}") >= F.col(f"s_{o}"))
            expr = F.when(cond, F.lit(lang)).otherwise(expr)
        return expr

    p = sc.withColumn("script", script).withColumn(
        "legacy_lang", _argmax("zh")
    )
    predicted = (
        F.when(F.col("script") == "cyrillic", "ru")
        .when(F.col("script") == "cjk", "zh")
        .otherwise(_argmax("und"))
    )
    return (
        p.withColumn("predicted_lang", predicted)
        .groupBy("true_lang", "script", "predicted_lang", "legacy_lang")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
        .orderBy("true_lang", "script", "predicted_lang", "legacy_lang")
    )


# --------------------------------------------------------------------------
# Q244 — SemDeDup with corpus-scaled cluster count (the 100-TB shape)
# --------------------------------------------------------------------------


def _semdedup_scaled_oracle(
    rounds: int = 2, grid: int = 1000, t_num: int = 9, t_den: int = 20,
    cell_cap: int = 4096,
) -> str:
    from snowflake_cdc_spark.queries_round9_ext import _kmeans_chain_dyn

    return _kmeans_chain_dyn(rounds) + f""",
sg AS (SELECT vec_id,
              list_transform(embedding,
                x -> CAST(floor(CAST(x AS DOUBLE) * {grid}.0 + 0.5) AS BIGINT)) AS qc
       FROM embeddings),
sgn AS (SELECT vec_id, qc,
               CAST(list_sum(list_transform(qc, x -> x * x)) AS BIGINT) AS n2
        FROM sg),
hot AS (SELECT cell FROM a{rounds} GROUP BY cell HAVING count(*) > {cell_cap}),
mem AS (SELECT a.vec_id, a.cell, s.qc, s.n2
        FROM a{rounds} a JOIN sgn s USING (vec_id)
        WHERE a.cell NOT IN (SELECT cell FROM hot)),
pr AS (SELECT x.cell, x.vec_id AS vec_a, y.vec_id AS vec_b,
              CAST(list_sum(list_transform(list_zip(x.qc, y.qc),
                     p -> p[1] * p[2])) AS BIGINT) AS dot,
              x.n2 AS na2, y.n2 AS nb2
       FROM mem x JOIN mem y
         ON x.cell = y.cell AND x.vec_id < y.vec_id)
SELECT cell, vec_a, vec_b, dot
FROM pr
WHERE dot > 0 AND dot * dot * {t_den * t_den} >= {t_num * t_num} * na2 * nb2
ORDER BY vec_a, vec_b
"""


@register(
    "q244_semdedup_scaled",
    _semdedup_scaled_oracle(),
    "SemDeDup with a CORPUS-SIZED cluster count (round 10 — the named "
    "fix the two-decade probe demanded): q200 runs the paper's "
    "cluster-then-compare at FIXED k=8, and the 100x probe showed "
    "exactly the documented failure mode — at 200k vectors every cell "
    "blows past cell_cap=4096 and the hot-cell guard drops ALL pairs "
    "(bounded cost, zero recall). This lane scales k_cells = max(8, "
    "ceil(sqrt(N))) via operators/ivf_relational.py (broadcast "
    "DataFrame centroids — the q192b discipline; plan-literal "
    "centroids blow the codegen budget at corpus-sized k), so "
    "per-cell population stays ~sqrt(N), Sigma|cell|^2 ~ N^1.5 "
    "candidate pairs, and the cap protects the anti-regime instead of "
    "firing on structured data. Same signed-grid integer cosine and "
    "BIGINT threshold predicate as q200; the oracle re-derives the "
    "dynamic-k k-means chain (scalar-subquery k, IEEE-exact "
    "ceil(sqrt)), the cap filter, and every surviving pair",
)
def q244(spark, sf_dir):
    import math

    from snowflake_cdc_spark.operators.ivf_relational import (
        relational_kmeans_fit,
    )
    from snowflake_cdc_spark.operators.semdedup import semantic_dup_pairs

    emb = _t(spark, sf_dir, "embeddings")
    n = emb.count()
    k_cells = max(8, math.ceil(math.sqrt(n)))
    _, assigned = relational_kmeans_fit(emb, k=k_cells, rounds=2)
    return semantic_dup_pairs(
        emb,
        t_num=9,
        t_den=20,
        dim=64,
        cell_cap=4096,
        assigned=assigned.select("vec_id", "cell"),
    ).orderBy("vec_a", "vec_b")


@register(
    "q240_corpus_build_manifest",
    _MANIFEST_ORACLE,
    "END-TO-END corpus build, shard manifest (VERDICT r09 #1): the "
    "artifact the q239 pipeline actually ships — the final selected "
    "corpus BPE-tokenized (8 merges trained on the survivors "
    "themselves) and packed into 512-token windows across 8 md5 "
    "shards; per-shard docs, BPE tokens, windows, split docs and "
    "padding (q209's manifest shape over the composed pipeline's "
    "output). Hash-matching this manifest pins every upstream stage: "
    "a single changed survivor anywhere in the funnel changes the "
    "packing sums",
)
def q240(spark, sf_dir):
    from snowflake_cdc_spark.operators.packing import packing_stats

    stages = _corpus_stages(spark, sf_dir)
    perdoc = _bpe_perdoc(stages["f4"])
    return packing_stats(
        perdoc, "doc_id", "n_bpe", capacity=_CB_CAPACITY, n_buckets=_CB_BUCKETS
    ).select(
        "bucket",
        F.col("n_docs").cast("bigint").alias("n_docs"),
        F.col("total_tokens").cast("bigint").alias("total_tokens"),
        F.col("n_bins").cast("bigint").alias("n_bins"),
        F.col("n_split_docs").cast("bigint").alias("n_split_docs"),
        F.col("pad_tokens").cast("bigint").alias("pad_tokens"),
    )
