"""End-to-end corpus-build lane (VERDICT r09 #1): the composed
filter -> decontaminate -> dedup -> select -> pack pipeline behind
q239/q240 — stage semantics on the planted fixture, and the same build
fed from a CDC-materialized store."""

from __future__ import annotations

from pyspark.sql import functions as F

from snowflake_cdc_spark.queries_round10_ext import (
    _CB_BUDGET,
    _REPL_OFFSET,
    _bpe_perdoc,
    _corpus_stages,
    _funnel_report,
    _split,
    _uwords,
)
from tests.conftest import SF_SMOKE

import pytest

# deep-soak lane: excluded from the default fast run (pytest.ini,
# VERDICT r11 item 7) — run with `pytest -m "" tests/`
pytestmark = pytest.mark.slow


def test_funnel_stage_semantics(spark):
    stages = _corpus_stages(spark, SF_SMOKE)
    perdoc = _bpe_perdoc(stages["f4"])
    rows = {
        r["stage"]: r
        for r in _funnel_report(spark, stages, perdoc).collect()
    }
    assert [rows[i]["gate"] for i in (1, 2, 3, 4, 5)] == [
        "nb_quality",
        "decontaminate",
        "exact_dedup",
        "budget_select",
        "bpe_pack",
    ]
    # the funnel is a real cascade: monotone, and every planted stage bites
    for i in (1, 2, 3, 4):
        assert rows[i]["n_out"] <= rows[i]["n_in"]
        assert rows[i + 1]["n_in"] == rows[i]["n_out"]
    assert rows[2]["n_out"] < rows[2]["n_in"]  # planted contamination dropped
    assert rows[3]["n_out"] < rows[3]["n_in"]  # planted replicas collapsed
    assert rows[4]["n_out"] < rows[4]["n_in"]  # budget bites
    assert rows[4]["tokens_out"] <= _CB_BUDGET
    # packing covers exactly the selected docs
    assert rows[5]["n_in"] == rows[5]["n_out"] == rows[4]["n_out"]


def test_decontaminated_set_shares_no_test_shingle(spark):
    """No f2 survivor shares a normalized 5-gram with the (planted)
    test split — the decontamination guarantee, checked directly."""
    from snowflake_cdc_spark.queries_round10_ext import _PLANT, _norm_grams

    stages = _corpus_stages(spark, SF_SMOKE)
    s = _split(spark, SF_SMOKE)
    test_g = (
        _norm_grams(
            s.filter(F.col("split") == "test").select(
                "doc_id",
                F.concat(F.col("text"), F.lit(" " + _PLANT)).alias("text"),
            )
        )
        .select("gram")
        .distinct()
    )
    leaked = _norm_grams(stages["f2"]).join(test_g, "gram").count()
    assert leaked == 0
    # and no planted-contamination candidate survived
    assert (
        stages["f2"]
        .filter((F.col("doc_id") % _REPL_OFFSET) % 11 == 0)
        .count()
        == 0
    )


def test_dedup_collapses_replicas_deterministically(spark):
    """Every doc_id%5 replica pair entering dedup leaves exactly one
    member, and the survivor is the md5-smallest of its group."""
    stages = _corpus_stages(spark, SF_SMOKE)
    f2, f3 = stages["f2"], stages["f3"]
    # no duplicate fingerprints in the output
    fps = f3.select(F.md5(F.lower(F.col("text"))).alias("fp"))
    assert fps.count() == fps.distinct().count()
    # attrition equals the number of collapsed members
    groups = (
        f2.select("doc_id", F.md5(F.lower(F.col("text"))).alias("fp"))
        .groupBy("fp")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    extra = groups.agg(F.sum(F.col("n") - 1)).first()[0] or 0
    assert f2.count() - f3.count() == extra
    assert extra > 0  # the plant guarantees real work
    # survivor choice: min (md5(id), id) within each fingerprint group
    w_min = (
        f2.select(
            "doc_id", "h", F.md5(F.lower(F.col("text"))).alias("fp")
        )
        .groupBy("fp")
        .agg(F.min_by("doc_id", F.struct("h", "doc_id")).alias("want"))
    )
    got = f3.select(
        F.md5(F.lower(F.col("text"))).alias("fp"), F.col("doc_id").alias("got")
    )
    assert w_min.join(got, "fp").filter("want <> got").count() == 0


def test_shipped_artifact_publishes_as_one_generation(spark, tmp_path):
    """The corpus build meets the storage layer: the selected corpus
    and its shard manifest land in a ParquetSnapshotSink and commit as
    ONE generation, so a consumer reading through the generation view
    gets corpus + manifest from the same build — never a corpus from
    one run with a manifest from another (the torn-artifact failure a
    nightly rebuild can hit with per-table reads)."""
    from snowflake_cdc_spark.engine import Engine
    from snowflake_cdc_spark.operators.packing import packing_stats
    from snowflake_cdc_spark.queries_round10_ext import (
        _CB_BUCKETS,
        _CB_CAPACITY,
    )
    from snowflake_cdc_spark.sinks.parquet_sink import ParquetSnapshotSink

    sink = ParquetSnapshotSink(str(tmp_path / "artifact"))

    def build_and_publish():
        stages = _corpus_stages(spark, SF_SMOKE)
        perdoc = _bpe_perdoc(stages["f4"])
        manifest = packing_stats(
            perdoc, "doc_id", "n_bpe",
            capacity=_CB_CAPACITY, n_buckets=_CB_BUCKETS,
        )
        corpus = stages["f4"].join(perdoc, "doc_id")
        v1 = sink.overwrite(corpus, "CORPUS")
        v2 = sink.overwrite(manifest, "SHARDS")
        return sink.publish_generation({"CORPUS": v1, "SHARDS": v2})

    g = build_and_publish()
    view = Engine(spark).at_generation(sink, gen=g)
    corpus = view.table("CORPUS")
    shards = view.table("SHARDS")
    # internal consistency: the manifest's totals equal the corpus's
    n_docs = corpus.count()
    assert shards.agg(F.sum("n_docs")).first()[0] == n_docs
    assert (
        shards.agg(F.sum("total_tokens")).first()[0]
        == corpus.agg(F.sum("n_bpe")).first()[0]
    )
    # a second build publishes a NEW generation; the old view still
    # reads the old artifact pair consistently
    g2 = build_and_publish()
    assert g2 == g + 1
    assert view.table("CORPUS").count() == n_docs
    new = Engine(spark).at_generation(sink)
    assert new.generation == g2
    assert new.table("CORPUS").count() == n_docs  # deterministic rebuild


def test_build_consumes_the_store_generation_view(spark, tmp_path):
    """The ingestion-to-curation seam: documents merged into a
    ParquetSnapshotSink and committed as a generation feed the SAME
    corpus build through the generation view — identical stages to the
    raw-parquet run, and the view pins the build's input even while
    the store keeps merging (no mid-build corpus drift)."""
    from snowflake_cdc_spark.engine import Engine
    from snowflake_cdc_spark.queries import _t
    from snowflake_cdc_spark.sinks.parquet_sink import ParquetSnapshotSink

    docs = _t(spark, SF_SMOKE, "documents")
    sink = ParquetSnapshotSink(str(tmp_path / "store"))
    sink.merge(
        docs.withColumn("seq", F.col("doc_id"))
        .withColumn("is_delete", F.lit(False)),
        "DOCS",
        key_cols=["doc_id"],
    )
    sink.publish_generation()
    view = Engine(spark).at_generation(sink)
    store_docs = view.table("DOCS").select("doc_id", "source", "lang", "text")

    # the store keeps moving after the view is taken (a later batch
    # deletes half the corpus) — the pinned build must not see it
    sink.merge(
        docs.filter(F.col("doc_id") % 2 == 0)
        .withColumn("seq", F.col("doc_id") + 1_000_000)
        .withColumn("is_delete", F.lit(True)),
        "DOCS",
        key_cols=["doc_id"],
    )

    from_store = _corpus_stages(spark, SF_SMOKE, docs=store_docs)
    from_parquet = _corpus_stages(spark, SF_SMOKE)
    for st in ("candt", "f1", "f2", "f3", "f4"):
        a = {r["doc_id"] for r in from_store[st].select("doc_id").collect()}
        b = {r["doc_id"] for r in from_parquet[st].select("doc_id").collect()}
        assert a == b, f"stage {st} diverged reading through the store"


def test_cdc_stream_to_corpus_build_end_to_end(spark, tmp_path):
    """The product's flagship composition (VERDICT r10 #6), one drive:
    CDC envelope events --availableNow stream--> upsert snapshot
    --per-batch generation publish--> generation view --corpus build-->
    shard manifest, equal to the batch build's manifest from the raw
    parquet.

    The CDC leg is REAL work, not a pass-through: stale earlier
    versions of doc_id%7 documents arrive in the same replay (the
    seq-guarded merge must resolve them away before curation reads the
    store) and a junk document is inserted then hard-deleted (the
    tombstone must keep it out of the generation view)."""
    from snowflake_cdc_spark.engine import Engine
    from snowflake_cdc_spark.operators.packing import packing_stats
    from snowflake_cdc_spark.plans.spec import DeleteStrategy, PipelineSpec
    from snowflake_cdc_spark.queries import _t
    from snowflake_cdc_spark.queries_round10_ext import (
        _CB_BUCKETS,
        _CB_CAPACITY,
    )
    from snowflake_cdc_spark.sinks.parquet_sink import ParquetSnapshotSink
    from snowflake_cdc_spark.streaming.pipeline import CdcPipeline

    docs = _t(spark, SF_SMOKE, "documents").select(
        "doc_id", "source", "lang", "text"
    )

    def envelope(df, seq, is_delete=False):
        row = F.struct("doc_id", "source", "lang", "text")
        return df.select(
            F.struct(
                F.lit("corpus").alias("database_name"),
                F.lit("documents").alias("table_name"),
                F.lit("corpus.documents").alias("full_table_name"),
                F.col("doc_id").cast("string").alias("primary_key"),
                F.when(F.lit(not is_delete), row).alias("row"),
                # deletes carry the before-image (the pipeline's key
                # fallback reads data.old_row.<key>); inserts carry none
                F.when(F.lit(is_delete), row).alias("old_row"),
                F.struct(F.lit(is_delete).alias("is_delete")).alias(
                    "metadata"
                ),
            ).alias("data"),
            seq.cast("bigint").alias("seq"),
        )

    final = envelope(docs, seq=F.col("doc_id") * 2)
    stale = envelope(
        docs.filter(F.col("doc_id") % 7 == 0).withColumn(
            "text", F.concat(F.lit("STALE DRAFT "), F.col("text"))
        ),
        seq=F.col("doc_id") * 2 - 1,
    )
    junk = docs.limit(3).select(
        (F.col("doc_id") + 5_000_000).alias("doc_id"),
        "source",
        "lang",
        F.lit("junk to be deleted").alias("text"),
    )
    events = (
        final.unionByName(envelope(junk, seq=F.lit(1)))
        .unionByName(stale)
        .unionByName(envelope(junk, seq=F.lit(10_000_000), is_delete=True))
    )
    raw = str(tmp_path / "raw_zone")
    events.withColumn("__c", F.col("seq") % 3).repartition(3, "__c").drop(
        "__c"
    ).write.mode("overwrite").parquet(raw)

    sink = ParquetSnapshotSink(str(tmp_path / "store"))
    pipe = CdcPipeline(
        spark,
        [
            PipelineSpec(
                full_table_name="corpus.documents",
                key_columns=["doc_id"],
                delete_strategy=DeleteStrategy.HARD,
            )
        ],
        sink,
    )
    q = pipe.start_stream(
        raw,
        checkpoint=str(tmp_path / "ckpt"),
        available_now=True,
        max_files_per_trigger=1,  # force several micro-batches
    )
    q.awaitTermination(300)
    assert sink.current_generation() >= 1  # one publish per micro-batch

    view = Engine(spark).at_generation(sink)
    store_docs = view.table("DOCUMENTS").select(
        "doc_id", "source", "lang", "text"
    )
    # the upsert resolved the CDC races before curation reads the cut
    assert store_docs.filter(F.col("text").startswith("STALE DRAFT")).count() == 0
    assert store_docs.filter(F.col("doc_id") >= 5_000_000).count() == 0
    assert store_docs.count() == docs.count()

    def manifest(stages):
        return sorted(
            map(
                tuple,
                packing_stats(
                    _bpe_perdoc(stages["f4"]),
                    "doc_id",
                    "n_bpe",
                    capacity=_CB_CAPACITY,
                    n_buckets=_CB_BUCKETS,
                ).collect(),
            )
        )

    through_cdc = manifest(_corpus_stages(spark, SF_SMOKE, docs=store_docs))
    batch = manifest(_corpus_stages(spark, SF_SMOKE))
    assert through_cdc == batch


def test_reject_ledger_reconciles_with_funnel(spark):
    """VERDICT r10 #7 done-criterion: q246's per-stage reject counts
    equal q239's n_in - n_out EXACTLY, reason strings are the typed
    vocabulary, and stage 5 (which rejects nothing by construction)
    has no ledger rows."""
    from snowflake_cdc_spark.queries import queries

    qs = queries()
    funnel = {
        r["stage"]: r
        for r in qs["q239_corpus_build_funnel"](spark, SF_SMOKE).collect()
    }
    ledger = qs["q246_corpus_reject_ledger"](spark, SF_SMOKE).collect()
    by_stage: dict[int, list] = {}
    for r in ledger:
        by_stage.setdefault(r["stage"], []).append(r)
    for stage in (1, 2, 3, 4):
        want = funnel[stage]["n_in"] - funnel[stage]["n_out"]
        got = len(by_stage.get(stage, []))
        assert got == want, f"stage {stage}: ledger {got} != funnel {want}"
        # every ledger row names the funnel's gate for its stage
        assert {r["gate"] for r in by_stage.get(stage, [])} <= {
            funnel[stage]["gate"]
        }
    assert 5 not in by_stage
    assert funnel[5]["n_in"] == funnel[5]["n_out"]
    # the typed reason vocabulary, and no doc rejected twice in a stage
    reasons = {r["reason"] for r in ledger}
    assert reasons <= {
        "nb_score_nonpositive",
        "test_contamination",
        "duplicate_fingerprint",
        "zero_quality_score",
        "over_token_budget",
    }
    keys = [(r["stage"], r["doc_id"]) for r in ledger]
    assert len(keys) == len(set(keys))
