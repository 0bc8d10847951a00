"""Benchmark-decontamination queries over `documents` (extension layer).

The testdata has no real benchmark leakage, so the query PLANTS it: the
corpus is documents ∪ truncated copies of the benchmark subset (each copy =
the bench doc's first 120 chars plus a unique suffix token, simulating a
partially-leaked eval question). The benchmark side is the `doc_id % 37`
subset. Planted copies score high contamination, organic docs near zero —
the operator is exercised on true positives AND true negatives, and the
whole computation (n-gram construction, broadcast membership join, per-doc
aggregation) is replayed verbatim by the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import decontam
from ..queries import query
from ..sources.tables import load_table

_N = 5
_THRESH = 0.2
_PLANT_SHIFT = 2_000_000
_PLANT_CHARS = 120

_CORPUS_SQL = f"""
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + {_PLANT_SHIFT} AS doc_id,
         concat(substr(text, 1, {_PLANT_CHARS}), ' zzq', CAST(doc_id AS VARCHAR)) AS text
  FROM documents WHERE doc_id % 37 = 0
"""
_BENCH_SQL = "SELECT doc_id, text FROM documents WHERE doc_id % 37 = 0"

_DECONTAM_ORACLE = decontam.contamination_stats_sql(
    _CORPUS_SQL, _BENCH_SQL, n=_N, threshold=_THRESH
)


def _corpus_and_bench(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    bench = docs.where(F.col("doc_id") % 37 == 0)
    planted = bench.select(
        (F.col("doc_id") + _PLANT_SHIFT).alias("doc_id"),
        F.concat(
            F.substring(F.col("text"), 1, _PLANT_CHARS),
            F.lit(" zzq"),
            F.col("doc_id").cast("string"),
        ).alias("text"),
    )
    return docs.unionByName(planted), bench


@query("decontam_ngram_overlap", sql=_DECONTAM_ORACLE)
def decontam_ngram_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document benchmark contamination: distinct word 5-gram overlap
    against the broadcast benchmark gram set, joined on the raw gram
    strings the DuckDB oracle replays."""
    corpus, bench = _corpus_and_bench(spark, sf_dir)
    return decontam.contamination_stats(corpus, bench, n=_N, threshold=_THRESH)


_BLOOM_N = 8
_BLOOM_M = 65536
_BLOOM_K = 4

from ..operators import dedup as _dedup  # noqa: E402
from ..operators import sketch as _sketch  # noqa: E402

_BLOOM_ORACLE = _sketch.bloom_decontam_oracle_sql(
    _BENCH_SQL, _CORPUS_SQL, n=_BLOOM_N, m_bits=_BLOOM_M, k_hashes=_BLOOM_K
)


@query("decontam_bloom_membership", sql=_BLOOM_ORACLE)
def decontam_bloom_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter decontamination: the benchmark's char-8-gram shingles
    compressed into a 64Ki-bit filter (kilobytes regardless of eval-set
    size — what actually ships to every executor at 100 TB), corpus grams
    probed against it. NO false negatives by construction — a leaked doc
    cannot slip through; false positives only over-filter. Output per
    corpus doc: (doc_id, n_grams, n_bloom_hits, flagged); the oracle
    rebuilds the identical bit set and verdicts."""
    corpus, bench = _corpus_and_bench(spark, sf_dir)
    bench_sh = _dedup.shingles(bench, n=_BLOOM_N).select("shingle").distinct()
    bloom = _sketch.bloom_build(bench_sh, "shingle", m_bits=_BLOOM_M, k_hashes=_BLOOM_K)
    corpus_sh = _dedup.shingles(corpus, n=_BLOOM_N)
    hits = _sketch.bloom_contains(
        corpus_sh, bloom, "shingle", m_bits=_BLOOM_M, k_hashes=_BLOOM_K
    )
    return hits.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_grams"),
        F.sum(F.when(F.col("bloom_hit"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_bloom_hits"),
        (F.sum(F.when(F.col("bloom_hit"), 1).otherwise(0)) > 0).alias("flagged"),
    )
