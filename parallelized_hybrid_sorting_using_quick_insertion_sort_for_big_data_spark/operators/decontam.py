"""Benchmark decontamination: word-n-gram overlap between a training corpus
and an evaluation/benchmark set (extension layer, SURVEY §2c — the
training-data-pipeline step that keeps eval answers out of the training
set; the standard n-gram membership test from the GPT-3/PaLM data cards).

Scale shape (the only one that survives 100 TB):

- The benchmark side is SMALL (eval suites are 1e4-1e6 rows) — its distinct
  n-gram set is built once and **broadcast**; the corpus side never
  shuffles for the join. The corpus-side work is a narrow per-row map
  (tokenize → n-grams → explode) that pipelines into the parquet scan.
- The per-doc aggregation (`groupBy doc_id`) shuffles only
  (doc_id, gram-hit) pairs — bounded by corpus n-gram count, linear.
- N-grams are joined as raw strings, so a SQL oracle
  (``contamination_stats_sql``) replays the identical computation.

No Python UDFs anywhere: n-gram construction is ``transform`` over
``sequence`` + ``slice`` (JVM higher-order functions, whole-stage codegen).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .text import word_ngrams, word_ngrams_sql  # noqa: F401  (re-export)


def contamination_stats(
    corpus: DataFrame,
    benchmark: DataFrame,
    n: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_text_col: str = "text",
    threshold: float = 0.2,
    round_digits: int = 9,
) -> DataFrame:
    """Per-corpus-document contamination against ``benchmark``: how many of
    the document's distinct word ``n``-grams appear anywhere in the
    benchmark set.

    Output: (id_col, n_grams, n_overlap, contamination_frac, contaminated)
    — one row per corpus document, zero-overlap documents included (a
    decontamination pass must emit a verdict for every doc, not only hits).
    Grams are joined as raw strings; a document shorter than ``n`` tokens
    keeps one NULL-gram row, so it reports n_grams = 0.
    """
    bench_grams = benchmark.select(
        F.explode(word_ngrams(F.col(bench_text_col), n)).alias("__bg")
    ).distinct()
    from ..sources.tables import spread_scan

    doc_grams = spread_scan(corpus).select(
        F.col(id_col),
        F.explode_outer(word_ngrams(F.col(text_col), n)).alias("__dg"),
    ).distinct()

    hits = doc_grams.join(
        F.broadcast(bench_grams), F.col("__dg") == F.col("__bg"), "left"
    )
    per_doc = hits.groupBy(id_col).agg(
        F.count("__dg").alias("n_grams"),
        F.count("__bg").alias("n_overlap"),
    )
    frac = F.round(
        F.col("n_overlap").cast("double")
        / F.greatest(F.col("n_grams"), F.lit(1)).cast("double"),
        round_digits,
    )
    return per_doc.select(
        id_col,
        "n_grams",
        "n_overlap",
        frac.alias("contamination_frac"),
        (frac >= threshold).alias("contaminated"),
    )


def contamination_stats_sql(
    corpus_sql: str,
    benchmark_sql: str,
    n: int = 5,
    threshold: float = 0.2,
    round_digits: int = 9,
) -> str:
    """DuckDB SQL replaying :func:`contamination_stats` (the same raw-gram
    join). ``corpus_sql`` / ``benchmark_sql`` are subqueries yielding
    (doc_id, text)."""
    grams = word_ngrams_sql("text", n)
    return f"""
WITH bench_grams AS (
  SELECT DISTINCT unnest({grams}) AS bg
  FROM ({benchmark_sql})
),
doc_grams AS (
  SELECT DISTINCT doc_id, dg FROM (
    -- explode_outer: a doc with < n tokens keeps one NULL-gram row so it
    -- still reaches the per-doc aggregation with n_grams = 0
    SELECT doc_id,
           unnest(CASE WHEN len({grams}) = 0
                       THEN [CAST(NULL AS VARCHAR)] ELSE {grams} END) AS dg
    FROM ({corpus_sql})
  )
),
per_doc AS (
  SELECT d.doc_id,
         count(d.dg) AS n_grams,
         count(b.bg) AS n_overlap
  FROM doc_grams d LEFT JOIN bench_grams b ON d.dg = b.bg
  GROUP BY d.doc_id
)
SELECT doc_id,
       CAST(n_grams AS BIGINT) AS n_grams,
       CAST(n_overlap AS BIGINT) AS n_overlap,
       round(CAST(n_overlap AS DOUBLE) / greatest(n_grams, 1), {round_digits})
         AS contamination_frac,
       round(CAST(n_overlap AS DOUBLE) / greatest(n_grams, 1), {round_digits})
         >= {threshold} AS contaminated
FROM per_doc
"""
