"""End-to-end test for the incremental-ingest app: a batch containing an
exact duplicate of a corpus doc, a near-duplicate, a short junk doc and
a genuinely new doc must admit exactly the new doc (and drop each
reject at the right stage)."""

from __future__ import annotations

import pytest

from puma_matcher_spark.apps import run_incremental_ingest_app


def _corpus_and_batch(spark):
    corpus = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog near the river bank today", "en", "src0"),
            (2, "completely different corpus content about spark query engines and shuffles here", "en", "src0"),
        ],
        "doc_id LONG, text STRING, lang STRING, source STRING",
    )
    batch = spark.createDataFrame(
        [
            # exact dup of corpus doc 1
            (101, "the quick brown fox jumps over the lazy dog near the river bank today", "en", "src1"),
            # near-dup of corpus doc 2 (one word changed)
            (102, "completely different corpus content about spark query engines and exchanges here", "en", "src1"),
            # junk: below the token floor
            (103, "too short", "en", "src1"),
            # genuinely new
            (104, "entirely novel document text with plenty of fresh tokens to pass every quality gate applied", "en", "src1"),
        ],
        "doc_id LONG, text STRING, lang STRING, source STRING",
    )
    return corpus, batch


@pytest.mark.slow
def test_ingest_app_stages(spark):
    corpus, batch = _corpus_and_batch(spark)
    res = run_incremental_ingest_app(
        batch, corpus, jaccard_threshold=0.5, min_tokens=5
    )
    assert res.stage_counts["batch_in"] == 4
    assert res.stage_counts["after_exact"] == 3       # 101 dropped
    assert res.stage_counts["after_near_dup"] == 2    # 102 dropped
    assert res.stage_counts["accepted"] == 1          # 103 dropped
    assert [r["doc_id"] for r in res.accepted.collect()] == [104]


@pytest.mark.slow
def test_ingest_app_on_fixture_is_monotone(spark, sf_small):
    from pyspark.sql import functions as F

    from puma_matcher_spark.sources.testdata import load_tables

    docs = load_tables(spark, sf_small).llm_documents()
    batch = docs.where(F.col("doc_id") % 10 == 0)
    corpus = docs.where(F.col("doc_id") % 10 != 0)
    res = run_incremental_ingest_app(batch, corpus)
    c = res.stage_counts
    assert c["batch_in"] >= c["after_exact"] >= c["after_near_dup"] >= c["accepted"]
    assert c["accepted"] > 0


@pytest.mark.slow
def test_ingest_app_index_path_equals_text_path(spark, sf_small):
    """Round 8: the precomputed-DedupIndex corpus side must be
    result-identical to passing corpus text (same kernels) — the
    invariant the streaming ingest driver's per-batch index pattern
    rests on."""
    from pyspark.sql import functions as F

    from puma_matcher_spark.llmdata import dedup as dd
    from puma_matcher_spark.sources.testdata import load_tables

    docs = load_tables(spark, sf_small).llm_documents()
    batch = docs.where(F.col("doc_id") % 10 == 0)
    corpus = docs.where(F.col("doc_id") % 10 != 0)
    via_text = run_incremental_ingest_app(batch, corpus)
    idx = dd.build_dedup_index(corpus.select("doc_id", "text"))
    via_index = run_incremental_ingest_app(batch, corpus_index=idx)
    a = {r["doc_id"] for r in via_text.accepted.collect()}
    b = {r["doc_id"] for r in via_index.accepted.collect()}
    assert a == b and len(a) > 0
    assert via_text.stage_counts == via_index.stage_counts


@pytest.mark.parametrize("corpus_side", ["text", "corpus_index"])
def test_ingest_app_admission_plan_is_cut(spark, corpus_side):
    """The admission DAG is cut at its batch-sized fan-out points (exact-
    dedup survivors, LSH candidate pairs, near-dup ids), so the plan of
    ``accepted`` reads checkpointed frames instead of re-deriving each
    chain once per reference.  Measured on this 4-document batch: the
    lazily composed plan printed 868 ``Exchange`` tokens on both corpus
    paths; the cut plan prints 8.  A refactor that re-inlines the DAG
    lands back in the hundreds."""
    from puma_matcher_spark.llmdata import dedup as dd
    from puma_matcher_spark.plans import inspect as pi

    corpus, batch = _corpus_and_batch(spark)
    if corpus_side == "text":
        kw = {"corpus": corpus}
    else:
        kw = {"corpus_index": dd.build_dedup_index(corpus.select("doc_id", "text"))}
    res = run_incremental_ingest_app(
        batch, jaccard_threshold=0.5, min_tokens=5, collect_counts=False, **kw
    )
    assert pi.formatted_plan(res.accepted).count("Exchange") <= 12
    assert {r["doc_id"] for r in res.accepted.collect()} == {104}
