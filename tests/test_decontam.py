"""Benchmark-decontamination operator: detection semantics, hash/raw-gram
path agreement, and the broadcast plan gate."""

from __future__ import annotations

from pyspark.sql import functions as F

from parallelized_hybrid_sorting_using_quick_insertion_sort_for_big_data_spark.operators import (
    decontam,
)
from parallelized_hybrid_sorting_using_quick_insertion_sort_for_big_data_spark.plans import (
    inspect as PI,
)
from parallelized_hybrid_sorting_using_quick_insertion_sort_for_big_data_spark.suites.decontam import (
    _corpus_and_bench,
)
from tests.conftest import SF_DIR


def test_planted_contamination_detected(spark):
    corpus, bench = _corpus_and_bench(spark, SF_DIR)
    out = decontam.contamination_stats(corpus, bench, n=5, threshold=0.2).cache()
    try:
        planted = out.where(F.col("doc_id") >= 2_000_000)
        organic = out.where(
            (F.col("doc_id") < 2_000_000) & (F.col("doc_id") % 37 != 0)
        )
        n_bench = bench.count()
        # every planted doc is flagged, with high overlap
        assert planted.count() == n_bench
        assert planted.where("contaminated").count() == n_bench
        assert planted.agg(F.min("contamination_frac")).first()[0] >= 0.5
        # bench docs themselves (still in the corpus) are fully contaminated
        in_corpus_bench = out.where(
            (F.col("doc_id") < 2_000_000) & (F.col("doc_id") % 37 == 0)
        )
        assert in_corpus_bench.where("contamination_frac = 1.0").count() == n_bench
        # organic docs: near-zero flag rate (the tiny 30-word synthetic
        # vocabulary produces a couple of true 5-gram collisions — real
        # matches, not operator error; on real text this is ~0)
        assert organic.where("contaminated").count() <= 0.01 * organic.count()
        # verdict coverage: one row per corpus doc, including zero-gram docs
        assert out.count() == corpus.count()
    finally:
        out.unpersist()


def test_short_doc_reports_no_grams(spark):
    """A doc shorter than n tokens keeps its explode_outer NULL-gram row, so
    it gets a verdict row with n_grams=0 and n_overlap=0."""
    corpus = spark.createDataFrame(
        [(1, "too short"), (2, "this document has plenty of tokens to form grams")],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(1, "completely unrelated benchmark material goes here today")],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in decontam.contamination_stats(
        corpus, bench, n=5).collect()}
    assert rows[1]["n_grams"] == 0 and rows[1]["n_overlap"] == 0
    assert rows[2]["n_grams"] > 0


def test_short_doc_yields_empty_grams(spark):
    df = spark.createDataFrame([("a b c",), ("",)], "text string")
    rows = df.select(decontam.word_ngrams(F.col("text"), 5).alias("g")).collect()
    assert all(r["g"] == [] for r in rows)


def test_decontam_plan_broadcasts_benchmark(spark):
    corpus, bench = _corpus_and_bench(spark, SF_DIR)
    df = decontam.contamination_stats(corpus, bench)
    assert PI.has_broadcast_join(df)
    assert not PI.has_cartesian(df)


# r09 recency-guard backfill (test_session): in-session oracle parity for
# the decontam queries whose last driver row was r04/r05.
ORACLE_QUERIES = [
    "decontam_bloom_membership",
    "decontam_ngram_overlap",
]


import pytest as _pytest  # noqa: E402


@_pytest.mark.parametrize("name", ORACLE_QUERIES)
def test_oracle_parity(spark, name):
    import __spark_entry__ as entrymod
    from tests.conftest import assert_matches_oracle

    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    assert_matches_oracle(qs[name](spark, SF_DIR), oracles[name], SF_DIR)
