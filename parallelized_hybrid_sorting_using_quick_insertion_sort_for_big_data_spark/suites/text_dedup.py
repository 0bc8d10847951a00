"""Extension-layer queries: text analysis + deduplication over `documents`
(SURVEY.md §2c), oracle-checked where the computation is portable SQL.

The testdata's 500 documents are all content-distinct, so the exact-dedup
query manufactures true duplicates by unioning the corpus with an id-shifted
copy of itself (mirrored identically in the oracle) — the operator is then
exercised on real duplicate groups instead of vacuously.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators import dedup, sampling, text as T
from ..queries import query
from ..sources.tables import load_table, spread_scan

# ---------------------------------------------------------------------------
# 1. Text analysis annotation (tokens, lang-id, quality, fingerprint)
# ---------------------------------------------------------------------------

_ANALYSIS_ORACLE = f"""
SELECT
  doc_id,
  CAST(len(regexp_extract_all(lower(text), '{T.TOKEN_RE}')) AS BIGINT) AS n_tokens,
  {T.lang_id_sql('text')} AS detected_lang,
  CAST(length(regexp_replace(lower(text), '[a-z0-9 ]', '', 'g')) AS DOUBLE)
    / greatest(length(text), 1) AS punct_ratio,
  CAST(length(array_to_string(regexp_extract_all(lower(text), '{T.TOKEN_RE}'), '')) AS DOUBLE)
    / greatest(len(regexp_extract_all(lower(text), '{T.TOKEN_RE}')), 1) AS mean_token_len,
  {T.quality_score_sql('text')} AS quality,
  {T.FINGERPRINT_SQL.format(t='text')} AS fingerprint
FROM documents
"""


@query("text_analysis", sql=_ANALYSIS_ORACLE)
def text_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document text metrics — one narrow JVM-side pass, no shuffle,
    tokenized ONCE per row (staged projections; see text.text_metrics)."""
    docs = load_table(spark, sf_dir, "documents")
    return T.text_metrics(docs)


# ---------------------------------------------------------------------------
# 2. Corpus token frequency (tokenize → explode → agg → ranked top 50)
# ---------------------------------------------------------------------------

_TOKFREQ_ORACLE = f"""
SELECT token, n, row_number() OVER (ORDER BY n DESC, token) AS rnk
FROM (
  SELECT token, count(*) AS n
  FROM (
    SELECT unnest(regexp_extract_all(lower(text), '{T.TOKEN_RE}')) AS token
    FROM documents
  )
  GROUP BY token
)
ORDER BY n DESC, token
LIMIT 50
"""


@query("text_token_frequency", sql=_TOKFREQ_ORACLE)
def text_token_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary histogram, top-50. Map-side partial counts make the
    shuffle carry one row per distinct token per partition; hot tokens are a
    skew concern at corpus scale — AQE handles, or pre-salt for extreme
    Zipf."""
    docs = load_table(spark, sf_dir, "documents")
    counts = (
        docs.select(F.explode(T.tokens(F.col("text"))).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    top = counts.orderBy(F.col("n").desc(), F.col("token")).limit(50)
    w = Window.orderBy(F.col("n").desc(), F.col("token"))
    return top.withColumn("rnk", F.row_number().over(w).cast("bigint"))


# ---------------------------------------------------------------------------
# 3. Exact dedup over corpus ∪ id-shifted copy (true duplicate groups)
# ---------------------------------------------------------------------------

_ID_SHIFT = 1_000_000

_EXACT_ORACLE = f"""
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + {_ID_SHIFT} AS doc_id, text FROM documents
)
SELECT
  {T.FINGERPRINT_SQL.format(t='text')} AS fingerprint,
  min(doc_id) AS canonical_id,
  count(*) AS n_dups
FROM corpus
GROUP BY 1
"""


@query("dedup_exact", sql=_EXACT_ORACLE)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact content dedup: md5-of-normalized-text hash-agg; canonical row =
    min id (deterministic winner). Only (fingerprint, id) pairs shuffle."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    shifted = docs.select((F.col("doc_id") + _ID_SHIFT).alias("doc_id"), "text")
    corpus = docs.unionAll(shifted)
    return dedup.exact_dedup_groups(corpus)


# ---------------------------------------------------------------------------
# 4. n-gram Jaccard near-dup pairs (exact, shared-shingle candidates)
# ---------------------------------------------------------------------------

_NGRAM_N = 8
_JACCARD_T = 0.5
# Stop-shingle cap: shingles appearing in more docs are dropped BEFORE the
# candidate join. A shingle in f docs yields O(f²) candidate pairs while
# carrying ~zero Jaccard signal ("tion of " is in every English doc) — at
# sf0.1 the uncapped join was 200+ s; capped it's seconds, and at corpus
# scale the cap is what makes shared-shingle joins possible at all (the
# standard trick in production dedup pipelines). Mirrored EXACTLY in the
# oracle: both engines compute the same pruned-shingle Jaccard.
_MAX_SHINGLE_DF = 256

# CTE chain shared by the pair query and the component-collapse query (so
# the two oracles can never drift apart on shingling/capping semantics)
_JACCARD_CTES = f"""
d AS (SELECT doc_id, trim(lower(text)) AS t FROM documents),
idx AS (SELECT doc_id, t, unnest(generate_series(1, greatest(length(t)-{_NGRAM_N - 1}, 1))) AS i FROM d),
sh0 AS (SELECT DISTINCT doc_id, substr(t, CAST(i AS INT), {_NGRAM_N}) AS shingle FROM idx),
keep AS (SELECT shingle FROM sh0 GROUP BY shingle HAVING count(*) <= {_MAX_SHINGLE_DF}),
sh AS (SELECT sh0.doc_id, sh0.shingle FROM sh0 JOIN keep USING (shingle)),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
shared AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_shared
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
jpairs AS (
  SELECT id_a, id_b,
         CAST(n_shared AS DOUBLE) / (sa.n_sh + sb.n_sh - n_shared) AS jaccard
  FROM shared
  JOIN sizes sa ON shared.id_a = sa.doc_id
  JOIN sizes sb ON shared.id_b = sb.doc_id
  WHERE CAST(n_shared AS DOUBLE) / (sa.n_sh + sb.n_sh - n_shared) >= {_JACCARD_T}
)"""

_JACCARD_ORACLE = f"""
WITH {_JACCARD_CTES}
SELECT id_a, id_b, jaccard FROM jpairs
"""


@query("dedup_ngram_jaccard", sql=_JACCARD_ORACLE)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Char-8-gram Jaccard near-duplicates at threshold 0.5 with doc-freq-
    capped shingles (see _MAX_SHINGLE_DF); candidate pairs only through the
    shared-shingle equi-join, identical pruning in the oracle."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.jaccard_pairs(
        docs, n=_NGRAM_N, threshold=_JACCARD_T, max_shingle_freq=_MAX_SHINGLE_DF
    )


# ---------------------------------------------------------------------------
# 5. MinHash + LSH banding (md5-prefix base hash, generated oracle)
# ---------------------------------------------------------------------------


_MINHASH_ORACLE = dedup.minhash_lsh_oracle_sql(
    n=_NGRAM_N, num_hashes=32, bands=8, threshold=_JACCARD_T, seed=42
)


@query("dedup_minhash_lsh", sql=_MINHASH_ORACLE)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(32 perms)+LSH(8 bands) near-dup candidates at est-Jaccard ≥
    0.5 — the sublinear near-dup path for corpus scale. Every signature
    value is reproducible in DuckDB, so the FULL approximate pipeline —
    shingles → signatures → banding → candidate join → agreement score —
    is value-hash-checked against DuckDB, not just property-tested."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.minhash_lsh_pairs(
        docs, n=_NGRAM_N, num_hashes=32, bands=8, threshold=_JACCARD_T, seed=42
    )


# Registry slot kept from when this was the oracle-checked twin of an
# xxhash64 fast path; both names now run the one MinHash implementation.
query("dedup_minhash_portable", sql=_MINHASH_ORACLE)(dedup_minhash_lsh)


_BATCH_SHIFT = 2_000_000
_BATCH_MOD = 23

_INCR_CORPUS_SQL = f"""(
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + {_BATCH_SHIFT} AS doc_id, text FROM documents
  WHERE doc_id % {_BATCH_MOD} = 0
) corpus"""

_INCR_ORACLE = f"""
SELECT id_a AS base_id, id_b AS batch_id, est_jaccard
FROM ({dedup.minhash_lsh_oracle_sql(table=_INCR_CORPUS_SQL, num_hashes=32, bands=8, threshold=0.5, seed=42)})
WHERE id_a < {_BATCH_SHIFT} AND id_b >= {_BATCH_SHIFT}
"""


@query("dedup_incremental_minhash", sql=_INCR_ORACLE)
def dedup_incremental_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental (cross-corpus) dedup — the reason a pipeline persists
    MinHash sketches: a NEW batch of documents (here a deterministic
    re-crawl: every 23rd doc, re-idded) is minhashed and band-joined
    against the existing corpus's signatures, so only the batch is
    shingled per increment; the historical lake is never re-read beyond
    its stored sketch (this demo recomputes the base signatures inline
    because the testdata has no sketch store — topology identical).
    Output: (base_id, batch_id, est_jaccard) links at est-Jaccard ≥ 0.5."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    batch = docs.where(F.col("doc_id") % _BATCH_MOD == 0).select(
        (F.col("doc_id") + _BATCH_SHIFT).alias("doc_id"), "text"
    )
    corpus = docs.unionAll(batch)
    pairs = dedup.minhash_lsh_pairs(
        corpus, num_hashes=32, bands=8, threshold=0.5, seed=42
    )
    return pairs.where(
        (F.col("id_a") < _BATCH_SHIFT) & (F.col("id_b") >= _BATCH_SHIFT)
    ).select(
        F.col("id_a").alias("base_id"),
        F.col("id_b").alias("batch_id"),
        "est_jaccard",
    )


@query(
    "text_minhash_doc_sketch",
    sql=dedup.minhash_sketch_oracle_sql(n=_NGRAM_N, num_hashes=32, seed=42),
)
def text_minhash_doc_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized per-document MinHash sketch: the 32-permutation
    signature exploded to (doc_id, sig_idx, minhash) rows — the artifact a
    pipeline persists so later corpora can be deduped AGAINST this one
    without re-shingling it (cross-corpus / incremental dedup). One shuffle
    (the per-doc min aggregation, map-side partial); every signature value
    is hash-checked against the generated DuckDB mirror."""
    docs = load_table(spark, sf_dir, "documents")
    sig = dedup.minhash_signatures(docs, n=_NGRAM_N, num_hashes=32, seed=42)
    return sig.select(
        "doc_id", F.posexplode("signature").alias("sig_idx", "minhash")
    ).select("doc_id", F.col("sig_idx").cast("bigint").alias("sig_idx"), "minhash")


@query(
    "text_winnow_fingerprints",
    sql=dedup.winnow_oracle_sql(k=_NGRAM_N, w=4, seed=42),
)
def text_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprints (MOSS): rolling k-gram hash + rightmost-min
    selection per w-window, deduped per doc BEFORE the explode — zero
    shuffle end to end. Detects shared SPANS (quotes, plagiarized passages)
    position-robustly, complementary to MinHash's whole-doc Jaccard; every
    (pos, fingerprint) row hash-checked against the generated mirror."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.winnow_fingerprints(docs, k=_NGRAM_N, w=4, seed=42)


_SIMHASH_ORACLE = dedup.simhash_pairs_oracle_sql(max_hamming=8)


@query("dedup_simhash", sql=_SIMHASH_ORACLE)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash-64 near-dup pairs at Hamming ≤ 8 (md5-prefix token hash, two
    32-bit signature halves) via the complete pigeonhole candidate join:
    any pair within distance 8 agrees on ≥1 of 9 pieces, so no qualifying
    pair can be missed. The whole approximate pipeline is value-hash-checked
    against generated DuckDB SQL."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.hamming_pairs(dedup.simhash(docs), "doc_id", 8)


query("dedup_simhash_portable", sql=_SIMHASH_ORACLE)(dedup_simhash)


# ---------------------------------------------------------------------------
# 7. End-to-end training-corpus cleaning pipeline: exact-dedup -> language
#    filter -> quality filter -> per-source stats. The composition a
#    production LLM-data pipeline runs before tokenization, with every
#    stage oracle-mirrored (fingerprint window, lang-ID heuristic, quality
#    score) so the WHOLE pipeline is value-hash-checked, not just stages.
# ---------------------------------------------------------------------------

_MIN_QUALITY = 0.5

_PIPELINE_ORACLE = f"""
WITH corpus AS (
  SELECT doc_id, source, text FROM documents
  UNION ALL
  SELECT doc_id + {_ID_SHIFT} AS doc_id, source, text FROM documents
),
w AS (
  SELECT doc_id, source, text,
         row_number() OVER (
           PARTITION BY {T.FINGERPRINT_SQL.format(t='text')} ORDER BY doc_id
         ) AS rn
  FROM corpus
),
ann AS (
  SELECT source,
         {T.lang_id_sql('text')} AS lang,
         {T.quality_score_sql('text')} AS q,
         len(regexp_extract_all(lower(text), '{T.TOKEN_RE}')) AS n_tok
  FROM w WHERE rn = 1
)
SELECT source,
       count(*) AS n_docs,
       CAST(sum(n_tok) AS BIGINT) AS total_tokens,
       round(min(q), 9) AS min_quality,
       round(max(q), 9) AS max_quality
FROM ann
WHERE q >= {_MIN_QUALITY} AND lang = 'en'
GROUP BY source
"""


@query("pipeline_clean_corpus", sql=_PIPELINE_ORACLE)
def pipeline_clean_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-cleaning pipeline over documents ∪ id-shifted copy: exact
    dedup (deterministic min-id winner), keep English docs with quality ≥
    0.5, report per-source doc/token counts and quality bounds. Shuffles:
    one for the dedup window (fingerprint), one for the final rollup —
    the lang/quality maps stay in the scan stage."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source", "text")
    shifted = docs.select(
        (F.col("doc_id") + _ID_SHIFT).alias("doc_id"), "source", "text"
    )
    kept = dedup.exact_dedup(docs.unionAll(shifted))
    t = F.col("text")
    ann = kept.select(
        "source",
        T.lang_id(t).alias("lang"),
        T.quality_score(t).alias("q"),
        T.token_count(t).alias("n_tok"),
    )
    return (
        ann.where((F.col("q") >= _MIN_QUALITY) & (F.col("lang") == "en"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("total_tokens"),
            F.round(F.min("q"), 9).alias("min_quality"),
            F.round(F.max("q"), 9).alias("max_quality"),
        )
    )


# ---------------------------------------------------------------------------
# 7b. FULL pretraining-corpus pipeline: exact dedup -> quality/language
#     gate -> benchmark decontamination -> deterministic split -> per-split
#     audit. The composition an LLM data pipeline runs end to end before
#     tokenization; the corpus's own doc_id % 37 subset plays the eval
#     benchmark, so decontamination drops real members (plus anything
#     overlapping them) from every split. Every stage reuses an
#     already-oracled operator and the WHOLE chain is value-hash-checked
#     as one statement.
# ---------------------------------------------------------------------------

_PRETRAIN_FRACTIONS = {"train": 0.9, "val": 0.05, "test": 0.05}
_PRETRAIN_SALT = "pretrain"
_PRETRAIN_N = 5
_PRETRAIN_CONTAM_T = 0.2

_PRETRAIN_DEDUP_SQL = f"""SELECT doc_id, text FROM (
  SELECT doc_id, text,
         row_number() OVER (
           PARTITION BY {T.FINGERPRINT_SQL.format(t='text')} ORDER BY doc_id
         ) AS rn
  FROM (SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + {_ID_SHIFT} AS doc_id, text FROM documents)
) WHERE rn = 1"""

_PRETRAIN_BENCH_SQL = "SELECT doc_id, text FROM documents WHERE doc_id % 37 = 0"


def _pretrain_oracle() -> str:
    from ..operators import decontam as _DC
    from ..operators import sampling as _SA

    cstats = _DC.contamination_stats_sql(
        _PRETRAIN_DEDUP_SQL, _PRETRAIN_BENCH_SQL,
        n=_PRETRAIN_N, threshold=_PRETRAIN_CONTAM_T,
    )
    case = _SA.split_case_sql("doc_id", _PRETRAIN_FRACTIONS, _PRETRAIN_SALT)
    return f"""
WITH cstats AS ({cstats}),
d AS ({_PRETRAIN_DEDUP_SQL}),
ann AS (
  SELECT d.doc_id,
         {T.lang_id_sql('text')} AS lang,
         {T.quality_score_sql('text')} AS q,
         CAST(len(regexp_extract_all(lower(text), '{T.TOKEN_RE}')) AS BIGINT) AS n_tok,
         cs.contaminated
  FROM d JOIN cstats cs ON d.doc_id = cs.doc_id
),
spl AS (
  SELECT *,
         {case} AS split,
         (lang = 'en' AND q >= {_MIN_QUALITY}) AS q_pass
  FROM ann
)
SELECT split,
       CAST(count(CASE WHEN q_pass AND NOT contaminated THEN 1 END) AS BIGINT) AS n_kept,
       CAST(count(CASE WHEN NOT q_pass THEN 1 END) AS BIGINT) AS n_dropped_quality,
       CAST(count(CASE WHEN q_pass AND contaminated THEN 1 END) AS BIGINT) AS n_dropped_contaminated,
       CAST(coalesce(sum(CASE WHEN q_pass AND NOT contaminated THEN n_tok END), 0) AS BIGINT) AS kept_tokens,
       round(min(CASE WHEN q_pass AND NOT contaminated THEN q END), 9) AS min_q_kept,
       round(max(CASE WHEN q_pass AND NOT contaminated THEN q END), 9) AS max_q_kept
FROM spl GROUP BY split
"""


@query("pipeline_pretraining_corpus", sql=_pretrain_oracle())
def pipeline_pretraining_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end pretraining-data pipeline as ONE query over the
    corpus ∪ planted exact duplicates: (1) exact dedup (md5 fingerprint
    window, min-id winner), (2) language + quality gate, (3) benchmark
    decontamination (distinct word-5-gram overlap ≥ 0.2 against the
    broadcast doc_id%37 'eval set' — its members self-overlap 100% and are
    dropped from training data, the actual point of decontamination),
    (4) deterministic md5 split 90/5/5, (5) per-split audit: kept docs,
    quality-dropped, contamination-dropped, kept token budget, and kept
    quality bounds. Scale shape: every stage is the already-audited
    operator it reuses — one fingerprint window exchange, scan-stage
    lang/quality maps, a broadcast benchmark gram join, a map-side split;
    the rollup is a 3-group aggregate. The oracle replays the whole chain
    as a single statement."""
    from ..operators import decontam as _DC
    from ..operators import sampling as _SA

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    corpus = docs.unionByName(
        docs.select((F.col("doc_id") + _ID_SHIFT).alias("doc_id"), "text")
    )
    deduped = dedup.exact_dedup(corpus)
    bench = docs.where(F.col("doc_id") % 37 == 0)
    stats = _DC.contamination_stats(
        deduped, bench, n=_PRETRAIN_N, threshold=_PRETRAIN_CONTAM_T
    )
    ann = deduped.join(stats.select("doc_id", "contaminated"), "doc_id").select(
        "doc_id",
        T.lang_id(F.col("text")).alias("lang"),
        T.quality_score(F.col("text")).alias("q"),
        T.token_count(F.col("text")).cast("bigint").alias("n_tok"),
        "contaminated",
    )
    spl = _SA.hash_split(ann, "doc_id", _PRETRAIN_FRACTIONS, salt=_PRETRAIN_SALT)
    q_pass = (F.col("lang") == "en") & (F.col("q") >= _MIN_QUALITY)
    kept = q_pass & ~F.col("contaminated")
    return spl.groupBy("split").agg(
        F.count(F.when(kept, 1)).alias("n_kept"),
        F.count(F.when(~q_pass, 1)).alias("n_dropped_quality"),
        F.count(F.when(q_pass & F.col("contaminated"), 1)).alias("n_dropped_contaminated"),
        F.coalesce(F.sum(F.when(kept, F.col("n_tok"))), F.lit(0)).cast("bigint").alias("kept_tokens"),
        F.round(F.min(F.when(kept, F.col("q"))), 9).alias("min_q_kept"),
        F.round(F.max(F.when(kept, F.col("q"))), 9).alias("max_q_kept"),
    )


# ---------------------------------------------------------------------------
# 8. Near-dup cluster collapse: pairs -> connected components -> canonical
#    survivor per cluster. Duplicates are transitive (a~b, b~c => one
#    survivor among {a,b,c}); pair lists alone over-delete or under-delete.
#    Oracle: the SAME Jaccard pair CTEs + a recursive transitive closure
#    (min reachable id == component id) — exact, not approximate.
# ---------------------------------------------------------------------------

_COMPONENTS_ORACLE = f"""
WITH RECURSIVE {_JACCARD_CTES},
edges AS (
  SELECT id_a AS a, id_b AS b FROM jpairs
  UNION
  SELECT id_b AS a, id_a AS b FROM jpairs
),
reach(node, r) AS (
  SELECT DISTINCT a, a FROM edges
  UNION
  SELECT reach.node, e.b FROM reach JOIN edges e ON reach.r = e.a
),
comp AS (SELECT node, min(r) AS component FROM reach GROUP BY node),
csize AS (SELECT component, count(*) AS cluster_size FROM comp GROUP BY component)
SELECT
  comp.node AS doc_id,
  comp.component AS component,
  csize.cluster_size AS cluster_size,
  comp.node = comp.component AS is_canonical
FROM comp JOIN csize USING (component)
"""


@query("dedup_components", sql=_COMPONENTS_ORACLE)
def dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup cluster collapse: char-8-gram Jaccard pairs (same params as
    ``dedup_ngram_jaccard``) -> alternating large-star/small-star connected
    components -> per-cluster canonical survivor (min doc_id). The CC loop
    is O(log n) rounds of (node, node) shuffles regardless of cluster
    diameter; the oracle recomputes the same clusters via a recursive
    transitive closure in DuckDB."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.jaccard_pairs(
        docs, n=_NGRAM_N, threshold=_JACCARD_T, max_shingle_freq=_MAX_SHINGLE_DF
    )
    cc = dedup.connected_components(pairs)
    sizes = cc.groupBy("component").agg(F.count(F.lit(1)).alias("cluster_size"))
    return cc.join(sizes, "component").select(
        F.col("node").alias("doc_id"),
        "component",
        "cluster_size",
        (F.col("node") == F.col("component")).alias("is_canonical"),
    )


# ---------------------------------------------------------------------------
# 8b. Leakage-safe train/val/test split: hash-splitting documents
#     INDEPENDENTLY leaks near-duplicates across the train/eval boundary
#     (the classic benchmark-contamination path: a paraphrase of a test
#     doc lands in train). The group-aware split keys the hash on the
#     near-dup COMPONENT id, so an entire duplicate cluster moves as one
#     unit. Oracle: the Jaccard pair CTEs + recursive closure (same chain
#     as dedup_components) + the generated split CASE — every assignment
#     value-checked.
# ---------------------------------------------------------------------------

_LEAK_FRACTIONS = {"train": 0.8, "val": 0.1, "test": 0.1}
_LEAK_SALT = "leakage"


def _leakage_split_oracle() -> str:
    from ..operators import sampling as _SA

    case = _SA.split_case_sql("group_key", _LEAK_FRACTIONS, _LEAK_SALT)
    return f"""
WITH RECURSIVE {_JACCARD_CTES},
edges AS (
  SELECT id_a AS a, id_b AS b FROM jpairs
  UNION
  SELECT id_b AS a, id_a AS b FROM jpairs
),
reach(node, r) AS (
  SELECT DISTINCT a, a FROM edges
  UNION
  SELECT reach.node, e.b FROM reach JOIN edges e ON reach.r = e.a
),
comp AS (SELECT node, min(r) AS component FROM reach GROUP BY node),
grouped AS (
  SELECT d.doc_id, coalesce(comp.component, d.doc_id) AS group_key
  FROM documents d LEFT JOIN comp ON comp.node = d.doc_id
)
SELECT doc_id, group_key, {case} AS split FROM grouped
"""


@query("pipeline_leakage_safe_split", sql=_leakage_split_oracle())
def pipeline_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-aware train/val/test split: near-dup pairs (char-8-gram
    Jaccard, same params as ``dedup_ngram_jaccard``) → connected
    components → every document keyed by its component id (its own id if
    unclustered) → deterministic md5 hash split on the GROUP key
    (``sampling.hash_split``). A duplicate cluster therefore lands wholly
    in one split — the property that keeps eval sets uncontaminated — and
    the assignment is stable under corpus growth (a group keeps its split
    forever). Scale shape: the pair join and the O(log n) star rounds are
    the same bounded machinery as ``dedup_components``; the split itself
    is one map-side md5 per doc. The no-pair-crosses-splits invariant is
    additionally pytest-pinned."""
    from ..operators import sampling as _SA

    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.jaccard_pairs(
        docs, n=_NGRAM_N, threshold=_JACCARD_T, max_shingle_freq=_MAX_SHINGLE_DF
    )
    cc = dedup.connected_components(pairs)
    grouped = docs.select("doc_id").join(
        cc, F.col("doc_id") == F.col("node"), "left"
    ).select(
        "doc_id", F.coalesce(F.col("component"), F.col("doc_id")).alias("group_key")
    )
    out = _SA.hash_split(grouped, "group_key", _LEAK_FRACTIONS, salt=_LEAK_SALT)
    return out.select("doc_id", "group_key", "split")


# ---------------------------------------------------------------------------
# 9. PII scrubbing. The synthetic corpus contains no organic PII, so the
#    query plants deterministic emails/IPs/phones on id-derived subsets
#    (mirrored identically in the oracle) — redaction and counting are then
#    exercised on real matches, and the scrubbed text is md5-checked so a
#    single mis-redacted character fails the value hash.
# ---------------------------------------------------------------------------

_PII_TEXT_SQL = """
  text ||
  CASE WHEN doc_id % 5 = 0
       THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com'
       ELSE '' END ||
  CASE WHEN doc_id % 3 = 0
       THEN ' from 10.' || CAST(doc_id % 200 AS VARCHAR) || '.3.' || CAST(doc_id % 250 AS VARCHAR)
       ELSE '' END ||
  CASE WHEN doc_id % 7 = 0
       THEN ' call 555-' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0') || '-1234'
       ELSE '' END
"""

_PII_ORACLE = f"""
WITH withpii AS (SELECT doc_id, {_PII_TEXT_SQL} AS t FROM documents)
SELECT doc_id,
       {T.pii_count_sql('t', 'email')} AS n_emails,
       {T.pii_count_sql('t', 'ip')} AS n_ips,
       {T.pii_count_sql('t', 'phone')} AS n_phones,
       md5({T.pii_scrub_sql('t')}) AS clean_md5,
       CAST(length({T.pii_scrub_sql('t')}) AS BIGINT) AS clean_len
FROM withpii
"""


@query("text_pii_scrub", sql=_PII_ORACLE)
def text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction over documents with planted emails/IPs/phone numbers:
    per-kind occurrence counts (on the raw text) + md5 and length of the
    scrubbed text. Pure JVM regexp chain in the scan stage — no shuffle, no
    UDF; patterns live in the Java∩RE2 syntax subset so the oracle runs the
    literally-identical regexes."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    did = F.col("doc_id")
    planted = F.concat(
        F.col("text"),
        F.when(
            did % 5 == 0,
            F.concat(F.lit(" contact user"), did.cast("string"), F.lit("@example.com")),
        ).otherwise(F.lit("")),
        F.when(
            did % 3 == 0,
            F.concat(
                F.lit(" from 10."),
                (did % 200).cast("string"),
                F.lit(".3."),
                (did % 250).cast("string"),
            ),
        ).otherwise(F.lit("")),
        F.when(
            did % 7 == 0,
            F.concat(
                F.lit(" call 555-"),
                F.lpad((did % 1000).cast("string"), 3, "0"),
                F.lit("-1234"),
            ),
        ).otherwise(F.lit("")),
    )
    withpii = docs.select("doc_id", planted.alias("t"))
    t = F.col("t")
    scrub = T.pii_scrub(t)
    return withpii.select(
        "doc_id",
        T.pii_count(t, "email").alias("n_emails"),
        T.pii_count(t, "ip").alias("n_ips"),
        T.pii_count(t, "phone").alias("n_phones"),
        F.md5(scrub).alias("clean_md5"),
        F.length(scrub).cast("bigint").alias("clean_len"),
    )


# ---------------------------------------------------------------------------
# 10. Sliding-window chunking: long docs -> overlapping context windows.
# ---------------------------------------------------------------------------

_CHUNK_TOKENS = 32
_CHUNK_STRIDE = 24


@query(
    "text_chunk_sliding",
    sql=T.chunk_sliding_sql(_CHUNK_TOKENS, _CHUNK_STRIDE),
)
def text_chunk_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token-window chunking (32-token windows, stride 24): the
    long-document preparation step before tokenization/packing. Pure JVM
    tokenize → sequence → explode → slice, zero shuffles; every chunk's
    text and token count are value-hash-checked against the DuckDB mirror."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return T.chunk_sliding(docs, chunk_tokens=_CHUNK_TOKENS, stride=_CHUNK_STRIDE)


# ---------------------------------------------------------------------------
# 11. Repetition metrics (Gopher-style quality rules). The corpus is salted
#     with synthetically repetitive docs (token floods + phrase loops) so
#     both verdicts of the `repetitive` flag are exercised.
# ---------------------------------------------------------------------------

_REP_NGRAM = 2
_REP_TOP_MAX = 0.2
_REP_DUP_MAX = 0.5
_REP_SHIFT = 3_000_000

_REP_EXPRS = T.repetition_metrics_sql(
    "text", ngram=_REP_NGRAM, top_share_max=_REP_TOP_MAX, dup_frac_max=_REP_DUP_MAX
)

_REPETITION_ORACLE = f"""
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + {_REP_SHIFT} AS doc_id,
         concat(text, ' ', repeat('spam ', 40), text) AS text
  FROM documents WHERE doc_id % 41 = 0
)
SELECT doc_id,
       {_REP_EXPRS['top_token_share']} AS top_token_share,
       {_REP_EXPRS['dup_ngram_frac']} AS dup_ngram_frac,
       {_REP_EXPRS['repetitive']} AS repetitive
FROM corpus
"""


@query("text_repetition", sql=_REPETITION_ORACLE)
def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document repetition metrics (top-token share, duplicate-bigram
    fraction) with the Gopher-style `repetitive` verdict. Pure per-row
    higher-order array arithmetic — zero shuffle, pipelines into the scan.
    Planted token-flood docs must be flagged; organic docs must not."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    flooded = docs.where(F.col("doc_id") % 41 == 0).select(
        (F.col("doc_id") + _REP_SHIFT).alias("doc_id"),
        F.concat(
            F.col("text"), F.lit(" "), F.lit("spam " * 40), F.col("text")
        ).alias("text"),
    )
    corpus = docs.unionByName(flooded)
    return T.repetition_metrics(
        corpus, n=_REP_NGRAM, top_share_max=_REP_TOP_MAX, dup_frac_max=_REP_DUP_MAX
    )


from ..operators import sketch as _SK  # noqa: E402

_CMS_DEPTH, _CMS_WIDTH, _CMS_TOPK = 4, 1024, 20


@query(
    "text_cms_counts",
    sql=_SK.cms_topk_oracle_sql(depth=_CMS_DEPTH, width=_CMS_WIDTH, topk=_CMS_TOPK),
)
def text_cms_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min Sketch over the corpus token stream (4×1024 counters),
    probed with the top-20 exact tokens: (token, exact_n, cms_est,
    overcount). The bounded-memory mergeable counter a streaming pipeline
    keeps when even a candidate set churns too fast; est ≥ exact always,
    est ≤ exact + εN w.h.p. Build AND estimates are cell-for-cell
    reproduced by the generated DuckDB oracle (md5-prefix cell hashes)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(F.explode(T.tokens(F.col("text"))).alias("token"))
    cms = _SK.cms_build(toks, "token", depth=_CMS_DEPTH, width=_CMS_WIDTH)
    exact = (
        toks.groupBy("token")
        .agg(F.count(F.lit(1)).alias("exact_n"))
        .orderBy(F.col("exact_n").desc(), "token")
        .limit(_CMS_TOPK)
    )
    est = _SK.cms_estimate(
        cms, exact, value_col="token", depth=_CMS_DEPTH, width=_CMS_WIDTH
    )
    return est.select(
        "token",
        "exact_n",
        "cms_est",
        (F.col("cms_est") - F.col("exact_n")).cast("bigint").alias("overcount"),
    )


# ---------------------------------------------------------------------------
# 12. BM25 keyword search: rank the corpus for a bag-of-words query.
# ---------------------------------------------------------------------------

_BM25_TERMS = ["spark", "merge", "window"]
_BM25_K = 20

from ..operators import search as _S  # noqa: E402


@query("text_bm25_topk", sql=_S.bm25_topk_sql(_BM25_TERMS, k=_BM25_K))
def text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 top-20 for the query {spark, merge, window}: per-doc term
    frequencies as per-row array arithmetic (no explode, no (doc,term)
    shuffle), corpus stats as a broadcast 1-row relation, ranking via
    TakeOrderedAndProject. Scores rounded before ranking so Spark and
    DuckDB order identical keys."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return _S.bm25_topk(docs, _BM25_TERMS, k=_BM25_K)


# ---------------------------------------------------------------------------
# 13. Keep-best cluster collapse: near-dup clusters keep the HIGHEST-QUALITY
#     member (not the min-id one) — the selection policy a production
#     training pipeline actually wants. Singleton docs survive untouched.
# ---------------------------------------------------------------------------

_KEEPBEST_ORACLE = f"""
WITH RECURSIVE {_JACCARD_CTES},
edges AS (
  SELECT id_a AS a, id_b AS b FROM jpairs
  UNION
  SELECT id_b AS a, id_a AS b FROM jpairs
),
reach(node, r) AS (
  SELECT DISTINCT a, a FROM edges
  UNION
  SELECT reach.node, e.b FROM reach JOIN edges e ON reach.r = e.a
),
comp AS (SELECT node, min(r) AS component FROM reach GROUP BY node),
member AS (
  SELECT d.doc_id,
         coalesce(comp.component, d.doc_id) AS component,
         round({{q}}, 9) AS quality
  FROM documents d LEFT JOIN comp ON d.doc_id = comp.node
),
ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY component ORDER BY quality DESC, doc_id) AS rn,
    count(*) OVER (PARTITION BY component) AS cluster_size
  FROM member
)
SELECT component, doc_id AS kept_doc_id, quality AS kept_quality,
       CAST(cluster_size AS BIGINT) AS cluster_size,
       CAST(cluster_size - 1 AS BIGINT) AS n_dropped
FROM ranked WHERE rn = 1
""".replace("{q}", T.quality_score_sql("d.text"))


@query("pipeline_dedup_keep_best", sql=_KEEPBEST_ORACLE)
def pipeline_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup collapse keeping the best-quality member per cluster:
    Jaccard pairs -> connected components -> left-join the full corpus
    (singletons = their own cluster) -> per-cluster argmax(quality, min id).
    One window over clusters; component ids and every kept doc are
    value-checked against the recursive-closure oracle."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.jaccard_pairs(
        docs, n=_NGRAM_N, threshold=_JACCARD_T, max_shingle_freq=_MAX_SHINGLE_DF
    )
    cc = dedup.connected_components(pairs)
    member = (
        docs.join(cc, docs["doc_id"] == cc["node"], "left")
        .select(
            "doc_id",
            F.coalesce(F.col("component"), F.col("doc_id")).alias("component"),
            F.round(T.quality_score(F.col("text")), 9).alias("quality"),
        )
    )
    w = Window.partitionBy("component")
    ranked = member.select(
        "*",
        F.row_number()
        .over(w.orderBy(F.col("quality").desc(), F.col("doc_id")))
        .alias("rn"),
        F.count(F.lit(1)).over(w).alias("cluster_size"),
    )
    return ranked.where(F.col("rn") == 1).select(
        "component",
        F.col("doc_id").alias("kept_doc_id"),
        F.col("quality").alias("kept_quality"),
        F.col("cluster_size").cast("bigint").alias("cluster_size"),
        (F.col("cluster_size") - 1).cast("bigint").alias("n_dropped"),
    )


# ---------------------------------------------------------------------------
# 14. Fuzzy vocabulary match: edit-distance self-join over the distinct
#     part-name vocabulary with SymSpell deletion-neighborhood blocking.
#     The oracle is the NAIVE O(n^2) cross join — so any pair the blocking
#     misses is a hash mismatch, i.e. the driver check IS the completeness
#     proof at data scale.
# ---------------------------------------------------------------------------

from ..operators import fuzzy as _FZ  # noqa: E402

_FUZZY_D = 2

_FUZZY_ORACLE = f"""
WITH names AS (
  SELECT p_name AS name, count(*) AS n_ids FROM part GROUP BY 1
)
SELECT a.name AS name_a, b.name AS name_b,
       CAST(levenshtein(a.name, b.name) AS INT) AS edit_distance,
       a.n_ids AS n_a, b.n_ids AS n_b
FROM names a JOIN names b
  ON a.name < b.name AND levenshtein(a.name, b.name) <= {_FUZZY_D}
"""


@query("fuzzy_name_match", sql=_FUZZY_ORACLE)
def fuzzy_name_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary-level fuzzy matching (entity resolution shape): distinct
    part names within edit distance 2, found via the complete
    deletion-neighborhood equi-join (operators/fuzzy.py), then re-weighted
    with per-name id counts via a broadcast join of the tiny vocabulary."""
    part = load_table(spark, sf_dir, "part")
    names = part.groupBy(F.col("p_name").alias("name")).agg(
        F.count(F.lit(1)).alias("n_ids")
    )
    pairs = _FZ.fuzzy_self_pairs(names, "name", max_dist=_FUZZY_D)
    counts = F.broadcast(names)
    return (
        pairs.join(counts.withColumnRenamed("name", "name_a"), "name_a")
        .withColumnRenamed("n_ids", "n_a")
        .join(counts.withColumnRenamed("name", "name_b"), "name_b")
        .withColumnRenamed("n_ids", "n_b")
        .select("name_a", "name_b", "edit_distance", "n_a", "n_b")
    )


_TOKEN_FUZZY_ORACLE = """
WITH names AS (
  SELECT DISTINCT p_name AS name FROM part
),
toks AS (
  SELECT name,
         list_sort(list_distinct(list_filter(
           string_split_regex(lower(trim(name)), '[^a-z0-9]+'), t -> t <> ''
         ))) AS ts
  FROM names
  WHERE len(list_filter(
           string_split_regex(lower(trim(name)), '[^a-z0-9]+'), t -> t <> ''
        )) > 0
),
pairs AS (
  SELECT a.name AS name_a, b.name AS name_b, a.ts AS ta, b.ts AS tb,
         list_filter(a.ts, t -> NOT list_contains(b.ts, t)) AS da,
         list_filter(b.ts, t -> NOT list_contains(a.ts, t)) AS db
  FROM toks a JOIN toks b ON a.name < b.name
)
SELECT name_a, name_b,
       CAST(CASE WHEN len(da) = 0 THEN 0
                 ELSE levenshtein(da[1], db[1]) END AS INT) AS token_distance
FROM pairs
WHERE len(ta) = len(tb) AND len(da) = len(db) AND len(da) <= 1
  AND (len(da) = 0 OR levenshtein(da[1], db[1]) <= 1)
"""


@query("fuzzy_token_match", sql=_TOKEN_FUZZY_ORACLE)
def fuzzy_token_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-level fuzzy matching of the part-name vocabulary (VERDICT r04
    next-round #7): pairs whose normalized token sets differ in at most one
    token within edit distance 1, word order ignored — found via the
    per-token symmetric-delete blocking in operators/fuzzy.py
    (sorted-others key + token deletion variants, complete by the SymSpell
    argument lifted to tokens). The oracle is the naive cross-join of the
    same relation, so the hash match proves the blocking dropped no pair
    ("cold bolt"/"old bolt" style single-token drifts at this data)."""
    part = load_table(spark, sf_dir, "part")
    return _FZ.token_fuzzy_self_pairs(part, "p_name", per_token_dist=1)


# ---------------------------------------------------------------------------
# 15. Heavy hitters: exact frequent tokens via bounded-state two-pass
#     (per-partition local pruning -> broadcast candidates -> exact counts).
#     The oracle is the direct full GROUP BY — so the hash check proves the
#     candidate pass dropped no true hitter.
# ---------------------------------------------------------------------------

from ..operators import heavy as _HH  # noqa: E402

_HH_K = 150

_HH_ORACLE = f"""
WITH toks AS (
  SELECT unnest(regexp_extract_all(lower(text), '{T.TOKEN_RE}')) AS value
  FROM documents
),
tot AS (SELECT count(*) AS n FROM toks)
SELECT value, count(*) AS n_occurrences,
       round(CAST(count(*) AS DOUBLE) / tot.n, 9) AS support
FROM toks, tot
GROUP BY value, tot.n
HAVING count(*) * {_HH_K} > tot.n
"""


@query("text_heavy_hitters", sql=_HH_ORACLE)
def text_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokens exceeding n/150 of all token occurrences, exact counts via
    the bounded-state two-pass (operators/heavy.py) — the distinct token
    universe never shuffles; the oracle's full GROUP BY double-checks
    candidate completeness at data scale."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(F.explode(T.tokens(F.col("text"))).alias("token"))
    return _HH.heavy_hitters(toks, "token", k=_HH_K)


# ---------------------------------------------------------------------------
# BPE merge-rule learning: the tokenizer-training step, oracle-checked
# round-for-round (unrolled-CTE oracle, the kmeans technique).
# ---------------------------------------------------------------------------

from ..operators import bpe as _BPE

_BPE_ROUNDS = 6


@query("text_bpe_merges", sql=_BPE.bpe_oracle_sql(rounds=_BPE_ROUNDS))
def text_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First 6 BPE merge rules learned from the documents corpus:
    (round, pair, merged, pair_freq). The corpus is scanned once for the
    token-frequency vocabulary; every merge round runs over the vocabulary
    relation only (one pair-count shuffle + a top-1 + a broadcast 1-row
    rewrite, lineage cut per round) — the at-scale shape for tokenizer
    training, where |vocab| is bounded regardless of corpus size. The
    DuckDB oracle unrolls the whole iterative fit as CTEs and matches
    every round's winner exactly (integer pair counts; lexicographic
    tie-break; expand/single-replace/collapse == greedy left-to-right
    merge, see operators/bpe.py)."""
    docs = load_table(spark, sf_dir, "documents")
    return _BPE.bpe_merges(docs, rounds=_BPE_ROUNDS)


@query("text_bpe_segmentation", sql=_BPE.bpe_segmentation_oracle_sql(rounds=_BPE_ROUNDS))
def text_bpe_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The learned merges' end-state over the WHOLE vocabulary: every
    distinct corpus token with its frequency and its space-joined subword
    pieces after the 6 merge rounds — one row per token, each value-checked
    against the oracle's independently-unrolled rewrite chain. This is the
    strong form of the BPE equivalence claim: not just the 6 winning pairs
    but every token's segmentation must agree across engines."""
    docs = load_table(spark, sf_dir, "documents")
    return _BPE.bpe_segmentation(docs, rounds=_BPE_ROUNDS)


@query("text_crossdup_coverage", sql=dedup.crossdup_coverage_oracle_sql(n=5, min_df=2))
def text_crossdup_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring-duplication signal (Lee et al. shape): per document,
    the fraction of tokens covered by 5-grams that also occur in >= 2
    distinct documents — positioned n-grams, md5 gram keys (only
    fixed-width rows shuffle), global doc-frequency, interval-union
    coverage. The per-doc scrub/keep decision a dedup pipeline makes on
    "how much of this doc is boilerplate copied elsewhere". Oracle:
    generated SQL running the identical tokenizer, gram keys, and window
    union in DuckDB."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.crossdup_coverage(docs, n=5, min_df=2)


_VOCAB_BUCKET = 50
_VOCAB_N = 3  # trigram vocabulary: the unigram vocab of this synthetic
# corpus saturates within the first bucket (31 words by doc 8); trigrams
# keep growing corpus-wide, which is what the curve exists to show

_VOCAB_ORACLE = f"""
WITH tok AS (
  SELECT doc_id, unnest({T.word_ngrams_sql("text", _VOCAB_N)}) AS tok
  FROM documents
),
first_seen AS (SELECT tok, min(doc_id) AS first_doc FROM tok GROUP BY tok),
by_bucket AS (
  SELECT first_doc // {_VOCAB_BUCKET} AS bucket, CAST(count(*) AS BIGINT) AS new_tokens
  FROM first_seen GROUP BY first_doc // {_VOCAB_BUCKET}
)
SELECT CAST(bucket AS BIGINT) AS bucket, new_tokens,
       CAST(sum(new_tokens) OVER (ORDER BY bucket
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
FROM by_bucket
"""


@query("text_vocab_growth", sql=_VOCAB_ORACLE)
def text_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary growth curve (Heaps-law observable, the statistic that
    sizes a tokenizer's vocab before training one): per 50-document corpus
    prefix bucket, how many NEVER-SEEN-BEFORE trigrams appear, plus the
    running cumulative vocabulary size. First-seen = min(doc_id) per gram
    (one fact-sized gram exchange — the same budget as any token
    aggregate), then a bucket rollup and a running-sum window over the
    tiny bucket relation. All counts integer-exact."""
    docs = spread_scan(load_table(spark, sf_dir, "documents"))
    first_seen = (
        docs.select(
            "doc_id", F.explode(T.word_ngrams(F.col("text"), _VOCAB_N)).alias("tok")
        )
        .groupBy("tok")
        .agg(F.min("doc_id").alias("first_doc"))
    )
    by_bucket = first_seen.groupBy(
        F.floor(F.col("first_doc") / _VOCAB_BUCKET).cast("bigint").alias("bucket")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("new_tokens"))
    w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    return by_bucket.select(
        "bucket",
        "new_tokens",
        F.sum("new_tokens").over(w).cast("bigint").alias("cum_tokens"),
    )


_FLUENCY_ORACLE = f"""
WITH g AS (
  SELECT doc_id, unnest({T.word_ngrams_sql("text", 2)}) AS gram FROM documents
),
counts AS (SELECT gram, CAST(count(*) AS BIGINT) AS cnt FROM g GROUP BY gram),
per_doc AS (
  SELECT g.doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
         CAST(sum(c.cnt) AS BIGINT) AS freq_mass
  FROM g JOIN counts c USING (gram) GROUP BY g.doc_id
)
SELECT d.doc_id,
       CAST(coalesce(p.n_bigrams, 0) AS BIGINT) AS n_bigrams,
       CAST(coalesce(p.freq_mass, 0) AS BIGINT) AS freq_mass,
       CAST(CASE WHEN p.n_bigrams > 0
                 THEN CAST(p.freq_mass AS DOUBLE) / p.n_bigrams
                 ELSE 0.0 END AS DOUBLE) AS mean_bigram_freq
FROM documents d LEFT JOIN per_doc p USING (doc_id)
"""


@query("text_bigram_fluency", sql=_FLUENCY_ORACLE)
def text_bigram_fluency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical-LM fluency proxy: per document, the mean corpus
    frequency of its word bigrams (a doc whose bigrams are common across
    the corpus reads "fluent"; rare-bigram docs are outliers/noise — the
    unigram-free core of an n-gram LM score, kept integer-exact: corpus
    counts and per-doc mass are BIGINTs, one final division). At scale:
    one gram-keyed exchange builds the count table, the doc⋈counts
    equi-join reuses the gram partitioning (counts are corpus-sized —
    never broadcast), and the per-doc rollup is one doc-keyed exchange."""
    docs = spread_scan(load_table(spark, sf_dir, "documents"))
    g = docs.select("doc_id", F.explode(T.word_ngrams(F.col("text"), 2)).alias("gram"))
    counts = g.groupBy("gram").agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    per_doc = (
        g.join(counts, "gram")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_bigrams"),
            F.sum("cnt").cast("bigint").alias("freq_mass"),
        )
    )
    return docs.select("doc_id").join(per_doc, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n_bigrams", F.lit(0)).cast("bigint").alias("n_bigrams"),
        F.coalesce("freq_mass", F.lit(0)).cast("bigint").alias("freq_mass"),
        F.when(
            F.col("n_bigrams") > 0,
            F.col("freq_mass").cast("double") / F.col("n_bigrams"),
        )
        .otherwise(F.lit(0.0))
        .cast("double")
        .alias("mean_bigram_freq"),
    )


# ---------------------------------------------------------------------------
# Containment near-dup: the asymmetric case Jaccard misses. The corpus has
# no planted truncations, so the query manufactures them (corpus ∪ first-
# half copies, id-shifted — mirrored identically in the oracle): the
# truncated twin's shingles are a subset of its source's, so containment
# ~1 while Jaccard ~0.5.
# ---------------------------------------------------------------------------

_CONT_SHIFT = 2_000_000
_CONT_T = 0.9

_CONTAINMENT_ORACLE = f"""
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + {_CONT_SHIFT} AS doc_id,
         substr(text, 1, CAST(length(text) // 2 AS INT)) AS text
  FROM documents WHERE length(text) >= 64
),
d AS (SELECT doc_id, trim(lower(text)) AS t FROM corpus),
idx AS (SELECT doc_id, t, unnest(generate_series(1, greatest(length(t)-{_NGRAM_N - 1}, 1))) AS i FROM d),
sh0 AS (SELECT DISTINCT doc_id, substr(t, CAST(i AS INT), {_NGRAM_N}) AS shingle FROM idx),
keep AS (SELECT shingle FROM sh0 GROUP BY shingle HAVING count(*) <= {_MAX_SHINGLE_DF}),
sh AS (SELECT sh0.doc_id, sh0.shingle FROM sh0 JOIN keep USING (shingle)),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
shared AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_shared
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT shared.id_a, shared.id_b,
       CAST(n_shared AS DOUBLE)/least(sa.n_sh, sb.n_sh) AS containment
FROM shared JOIN sizes sa ON shared.id_a = sa.doc_id
            JOIN sizes sb ON shared.id_b = sb.doc_id
WHERE CAST(n_shared AS DOUBLE)/least(sa.n_sh, sb.n_sh) >= {_CONT_T}
"""


@query("dedup_containment", sql=_CONTAINMENT_ORACLE)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Containment near-duplicates at 0.9 over corpus ∪ planted half-
    truncations: finds every truncation-of pair (and transitive cross
    pairs) that symmetric Jaccard at 0.5 would score ~0.5 and drop —
    the excerpt/quote dedup case. Same shared-shingle equi-join +
    doc-freq cap as dedup_ngram_jaccard; only the min denominator
    differs."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    halves = docs.where(F.length("text") >= 64).select(
        (F.col("doc_id") + _CONT_SHIFT).alias("doc_id"),
        F.expr("substring(text, 1, cast(length(text) div 2 as int))").alias("text"),
    )
    corpus = docs.unionByName(halves)
    return dedup.containment_pairs(
        corpus, n=_NGRAM_N, threshold=_CONT_T, max_shingle_freq=_MAX_SHINGLE_DF
    )


# ---------------------------------------------------------------------------
# Segment-level (line/paragraph) exact dedup — the C4/RefinedWeb tier that
# EDITS documents: every 15-word segment keeps only its first corpus
# occurrence; docs are rebuilt from their surviving segments in order.
# ---------------------------------------------------------------------------

_SEG_WORDS = 15


@query("dedup_segment_rewrite", sql=dedup.segment_dedup_oracle_sql(_SEG_WORDS))
def dedup_segment_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide segment dedup with document REWRITE (r08): split every
    document into 15-word segments, keep each segment's first corpus
    occurrence (lexicographic (doc_id, seg_idx) — deterministic, mirrored
    by the oracle's row_number), drop later occurrences, and rebuild every
    document from its surviving segments in original order. Output one
    row per input doc: (doc_id, n_segs, n_kept, cleaned_text) — the
    cleaned corpus itself is value-hashed against the oracle, proving the
    whole explode → keep-first → order-preserving reassembly exactly.
    Keep-first is a min-struct grouped aggregate (map-side partials, no
    hot-hash straggler); see operators/dedup.py:segment_dedup for the
    100 TB shape."""
    docs = spread_scan(
        load_table(spark, sf_dir, "documents").select("doc_id", "text")
    )
    return dedup.segment_dedup(docs, seg_words=_SEG_WORDS)


# ---------------------------------------------------------------------------
# Zipf-law slope: least-squares fit of log(freq) vs log(rank) over the
# top-R token frequency spectrum — the other half of the corpus-statistics
# pair (vocab growth = Heaps law). Engine-portable by the rel_moment_stats
# device: regression inputs are round(ln(.), 9) cast to exact decimals,
# the five power sums accumulate order-independently in DECIMAL(38,18),
# and slope/intercept are computed from the sums in a fixed double
# expression — identical IEEE ops from identical inputs on both engines.
# ---------------------------------------------------------------------------

_ZIPF_TOP_R = 1000

_ZIPF_ORACLE = f"""
WITH tok AS (
  SELECT unnest(string_split(lower(text), ' ')) AS t FROM documents
),
freq AS (
  SELECT t, count(*) AS f FROM tok WHERE t <> '' GROUP BY t
),
top AS (
  SELECT t, f FROM freq ORDER BY f DESC, t LIMIT {_ZIPF_TOP_R}
),
ranked AS (
  SELECT f, row_number() OVER (ORDER BY f DESC, t) AS r FROM top
),
pts AS (
  SELECT CAST(round(ln(r), 9) AS DECIMAL(18,9)) AS x,
         CAST(round(ln(f), 9) AS DECIMAL(18,9)) AS y
  FROM ranked
),
sums AS (
  -- x*y of DECIMAL(18,9) operands -> 18-fractional-digit product, exact
  -- and under width 38 in BOTH engines (a (38,18)x(38,18) multiply would
  -- hit each engine's own overflow/truncation policy and diverge)
  SELECT CAST(count(*) AS DOUBLE) AS n,
         CAST(sum(x) AS DOUBLE) AS sx,
         CAST(sum(y) AS DOUBLE) AS sy,
         CAST(sum(x * y) AS DOUBLE) AS sxy,
         CAST(sum(x * x) AS DOUBLE) AS sxx
  FROM pts
)
SELECT CAST(n AS BIGINT) AS n_points,
       (n * sxy - sx * sy) / (n * sxx - sx * sx) AS slope,
       (sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n AS intercept
FROM sums
"""


@query("text_zipf_slope", sql=_ZIPF_ORACLE)
def text_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf slope of the corpus token-frequency spectrum (r08): rank the
    top-{R} tokens by frequency, fit log(freq) = slope·log(rank) + b by
    least squares. A natural corpus fits slope ≈ −1; the statistic feeds
    tokenizer sizing and quality monitoring (a crawler stuck on
    boilerplate shows a flattened head). Scale shape: token counts are a
    two-phase agg; the top-R is ORDER BY … LIMIT (TakeOrdered — per-
    partition heaps, no global sort); only R rows ever reach the
    single-partition ranking window; the fit is five decimal power sums
    over R rows. Portability: ln() may differ in the last ulp across
    libms, so both engines round it to 9 digits BEFORE exact decimal
    accumulation; slope/intercept are fixed double expressions over
    identical sums."""
    from pyspark.sql import Window as W

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(F.split(F.lower(F.col("text")), " ")).alias("t")
    ).where(F.col("t") != "")
    freq = toks.groupBy("t").agg(F.count(F.lit(1)).alias("f"))
    top = freq.orderBy(F.desc("f"), "t").limit(_ZIPF_TOP_R)
    ranked = top.withColumn(
        "r", F.row_number().over(W.orderBy(F.desc("f"), "t"))
    )
    dec9 = "decimal(18,9)"
    pts = ranked.select(
        F.round(F.log(F.col("r").cast("double")), 9).cast(dec9).alias("x"),
        F.round(F.log(F.col("f").cast("double")), 9).cast(dec9).alias("y"),
    )
    # (18,9) x (18,9) multiply -> exact 18-fractional-digit decimal under
    # width 38 in both engines (see the oracle's comment)
    sums = pts.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(F.col("x")).cast("double").alias("sx"),
        F.sum(F.col("y")).cast("double").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("double").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("double").alias("sxx"),
    )
    n, sx, sy, sxy, sxx = (F.col(c) for c in ("n", "sx", "sy", "sxy", "sxx"))
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    return sums.select(
        n.cast("bigint").alias("n_points"),
        slope.alias("slope"),
        ((sy - slope * sx) / n).alias("intercept"),
    )


# ---------------------------------------------------------------------------
# Exact phrase search via positional postings — the retrieval tier BM25's
# bag-of-words scoring cannot express (see operators/search.py).
# ---------------------------------------------------------------------------

_PHRASE = "order fast"


@query("text_phrase_search", sql=_S.phrase_match_sql(_PHRASE))
def text_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count exact occurrences of the token phrase '{order fast}' per
    document via the positional-postings k-way adjacency join (r08):
    each query term's leg filters the postings to that term BEFORE any
    exchange, positions normalize to the phrase start, and the chain is
    plain equi-joins on (doc, start) — the inverted-index query
    topology, |query terms| posting lists instead of the corpus. Oracle:
    generated DuckDB SQL with identical tokenization and 1-based
    positions."""
    docs = spread_scan(
        load_table(spark, sf_dir, "documents").select("doc_id", "text")
    )
    return _S.phrase_match(docs, _PHRASE)


# ---------------------------------------------------------------------------
# TF-IDF keyword extraction: top-3 terms per document (r08).
# ---------------------------------------------------------------------------


@query("text_tfidf_keywords", sql=_S.tfidf_top_terms_sql(top=3))
def text_tfidf_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document keyword extraction: top-3 terms by smoothed TF-IDF
    (sklearn idf, rounded before ranking, term-ascending ties). One
    corpus explode with map-side partial counts + a broadcast term-df
    relation + a per-doc window top-k — the inverted-index build shape.
    Every (doc, term, tf, score, rank) row value-hashed by the oracle."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return _S.tfidf_top_terms(docs, top=3)


# ---------------------------------------------------------------------------
# PMI token co-occurrence: collocation mining over document presence (r08).
# ---------------------------------------------------------------------------


@query("text_pmi_cooccurrence", sql=T.pmi_cooccurrence_sql())
def text_pmi_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 token pairs by document-level PMI, vocabulary capped at the
    100 highest-df terms (broadcast semi-join — the fan-out bound that
    makes corpus co-occurrence scale), min support 5 docs. Integer counts
    end to end, one rounded ln before ranking; the generated oracle
    replays vocabulary, pairing, and ranking."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return T.pmi_cooccurrence(docs)


# ---------------------------------------------------------------------------
# Feature hashing: the schema-free text -> vector bridge (r08).
# ---------------------------------------------------------------------------


@query("text_hashed_bow", sql=T.hashed_bow_sql(dim=32))
def text_hashed_bow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signed hashing-trick vectorization of the whole corpus into 32
    buckets: two independent md5 coins per token (bucket + sign), signed
    token-count sums per (doc, bucket), nonzero buckets emitted as sparse
    BIGINT rows — the no-vocabulary featurizer whose assignments never
    change as the corpus grows. Every value exact against the generated
    oracle."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return T.hashed_bow_vectors(docs, dim=32)


# ---------------------------------------------------------------------------
# Sorted-Neighborhood Method dedup (r08): the dedup tier whose candidate
# generator IS the engine's distributed total sort — the reference repo's
# core primitive (QuickInsertionSort.c) repurposed as a blocking strategy.
# ---------------------------------------------------------------------------

_SNM_KEY_LEN = 24
_SNM_WINDOW = 10


@query(
    "dedup_sorted_neighborhood",
    sql=dedup.sorted_neighborhood_oracle_sql(
        key_len=_SNM_KEY_LEN, window=_SNM_WINDOW, n=_NGRAM_N, threshold=0.3
    ),
)
def dedup_sorted_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sorted-Neighborhood near-dup pairs: total-sort the corpus by a
    normalized 24-char prefix key (the engine's range-exchange sort with
    materialized global rank — no single-partition window), take every
    pair within 10 sort positions as a candidate (equi-join on rank via
    explode(sequence), exactly n·window candidates even under key skew —
    SNM's classic advantage over hot-block equi-joins), verify with exact
    char-8-gram Jaccard ≥ 0.3. Oracle replays key, order, window, and
    verify in SQL."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return dedup.sorted_neighborhood_pairs(
        docs, key_len=_SNM_KEY_LEN, window=_SNM_WINDOW, n=_NGRAM_N, threshold=0.3
    )


# ---------------------------------------------------------------------------
# Tokenizer fertility by language (r08): the per-language corpus statistics
# a tokenizer-training run reads first — docs, token mass, tokens/doc,
# chars/token (fertility), and type-token ratio (lexical diversity). All
# counts are exact bigints over the shared TOKEN_RE; the three ratios are
# single IEEE divisions of exact integers, identical operand order both
# engines, rounded to 9.
# ---------------------------------------------------------------------------

_FERTILITY_ORACLE = f"""
WITH tok AS (
  SELECT lang,
         CAST(len(regexp_extract_all(lower(text), '{T.TOKEN_RE}')) AS BIGINT) AS n_tok,
         CAST(length(text) AS BIGINT) AS n_chars
  FROM documents
),
agg AS (
  SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(n_tok) AS BIGINT) AS total_tokens,
         CAST(sum(n_chars) AS BIGINT) AS total_chars
  FROM tok GROUP BY lang
),
types AS (
  SELECT lang, CAST(count(DISTINCT t) AS BIGINT) AS n_types FROM (
    SELECT lang, unnest(regexp_extract_all(lower(text), '{T.TOKEN_RE}')) AS t
    FROM documents
  ) GROUP BY lang
)
SELECT a.lang, a.n_docs, a.total_tokens, ty.n_types,
       round(CAST(a.total_tokens AS DOUBLE) / a.n_docs, 9) AS tokens_per_doc,
       round(CAST(a.total_chars AS DOUBLE) / greatest(a.total_tokens, 1), 9)
         AS chars_per_token,
       round(CAST(ty.n_types AS DOUBLE) / greatest(a.total_tokens, 1), 9)
         AS type_token_ratio
FROM agg a JOIN types ty ON ty.lang = a.lang
"""


@query("text_fertility_by_lang", sql=_FERTILITY_ORACLE)
def text_fertility_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language tokenizer fertility statistics: exact doc/token/char
    masses plus tokens-per-doc, chars-per-token and type-token ratio. Two
    lang-keyed aggregations (one over per-doc counts — map-side partials;
    one over exploded tokens for the distinct-type count, the only
    token-sized shuffle) joined on the lang-sized result. The numbers that
    decide per-language vocab allocation before a BPE train
    (operators/bpe.py) and flag languages whose fertility makes them
    token-expensive."""
    docs = spread_scan(load_table(spark, sf_dir, "documents").select("lang", "text"))
    toks = docs.select(
        "lang",
        F.size(T.tokens(F.col("text"))).cast("bigint").alias("n_tok"),
        F.length("text").cast("bigint").alias("n_chars"),
    )
    agg = toks.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_tok").cast("bigint").alias("total_tokens"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
    )
    types = (
        docs.select("lang", F.explode(T.tokens(F.col("text"))).alias("t"))
        .groupBy("lang")
        .agg(F.countDistinct("t").cast("bigint").alias("n_types"))
    )
    return agg.join(types, "lang").select(
        "lang",
        "n_docs",
        "total_tokens",
        "n_types",
        F.round(F.col("total_tokens").cast("double") / F.col("n_docs"), 9).alias(
            "tokens_per_doc"
        ),
        F.round(
            F.col("total_chars").cast("double") / F.greatest(F.col("total_tokens"), F.lit(1)),
            9,
        ).alias("chars_per_token"),
        F.round(
            F.col("n_types").cast("double") / F.greatest(F.col("total_tokens"), F.lit(1)),
            9,
        ).alias("type_token_ratio"),
    )


# ---------------------------------------------------------------------------
# Dataset card (r08): the one-row corpus summary that heads every dataset
# release — doc/lang/source counts, token and char mass, exact-duplicate
# count and rate, median tokens per doc. Every number is either an exact
# bigint or one rounded IEEE expression over exact aggregates; the
# fingerprint is the shared exact-dedup key (operators/text.py), so the
# dup figures agree with dedup_exact by construction.
# ---------------------------------------------------------------------------

_CARD_ORACLE = f"""
WITH t AS (
  SELECT doc_id, lang, source,
         CAST(len(regexp_extract_all(lower(text), '{T.TOKEN_RE}')) AS BIGINT)
           AS n_tok,
         CAST(length(text) AS BIGINT) AS n_chars,
         {T.FINGERPRINT_SQL.format(t='text')} AS fp
  FROM documents
),
agg AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs,
         CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
         CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
         CAST(sum(n_tok) AS BIGINT) AS total_tokens,
         CAST(sum(n_chars) AS BIGINT) AS total_chars,
         round(quantile_cont(CAST(n_tok AS DOUBLE), 0.5), 6) AS median_tokens
  FROM t
),
d AS (
  SELECT CAST(COALESCE(sum(c - 1), 0) AS BIGINT) AS dup_docs
  FROM (SELECT fp, count(*) AS c FROM t GROUP BY fp) WHERE c > 1
)
SELECT a.n_docs, a.n_langs, a.n_sources, a.total_tokens, a.total_chars,
       a.median_tokens, d.dup_docs,
       round(CAST(d.dup_docs AS DOUBLE) / a.n_docs, 9) AS dup_rate
FROM agg a CROSS JOIN d
"""


@query("pipeline_dataset_card", sql=_CARD_ORACLE)
def pipeline_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-row dataset card: corpus masses, diversity counts, exact-dup
    figures and the median document length in tokens (exact interpolated
    percentile — swap percentile_approx at warehouse scale, documented in
    rel_percentiles). One pass computes the per-doc relation; the dup
    count is a fingerprint hash-agg (bodies never shuffle); the two 1-row
    aggregates meet in a broadcast cross join."""
    docs = spread_scan(
        load_table(spark, sf_dir, "documents").select("doc_id", "lang", "source", "text")
    )
    t = docs.select(
        "lang",
        "source",
        F.size(T.tokens(F.col("text"))).cast("bigint").alias("n_tok"),
        F.length("text").cast("bigint").alias("n_chars"),
        T.fingerprint_md5(F.col("text")).alias("fp"),
    )
    agg = t.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.countDistinct("lang").cast("bigint").alias("n_langs"),
        F.countDistinct("source").cast("bigint").alias("n_sources"),
        F.sum("n_tok").cast("bigint").alias("total_tokens"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
        F.round(F.expr("percentile(CAST(n_tok AS DOUBLE), 0.5D)"), 6).alias(
            "median_tokens"
        ),
    )
    d = (
        t.groupBy("fp")
        .agg(F.count(F.lit(1)).alias("c"))
        .where(F.col("c") > 1)
        .agg(
            F.coalesce(F.sum(F.col("c") - 1), F.lit(0)).cast("bigint").alias("dup_docs")
        )
    )
    return agg.crossJoin(F.broadcast(d)).select(
        "n_docs",
        "n_langs",
        "n_sources",
        "total_tokens",
        "total_chars",
        "median_tokens",
        "dup_docs",
        F.round(F.try_divide(F.col("dup_docs").cast("double"), F.col("n_docs")), 9).alias(
            "dup_rate"
        ),
    )


# ---------------------------------------------------------------------------
# MinHash-LSH recall/precision measurement (r08): the text-side twin of
# vec_ann_recall — how much of the TRUE near-dup pair set does the
# sublinear LSH path recover, and how clean is what it returns. Near-dups
# are planted deterministically (each doc re-appears id-shifted with a
# 3-char suffix, so true Jaccard sits just below 1.0 and varies with doc
# length — non-trivially catchable, unlike verbatim copies which collide
# on every band by construction).
# ---------------------------------------------------------------------------

# Planted-row id offset. Must stay far above every real doc_id at every
# registered scale factor or planted rows silently collide with real ids in
# BOTH engines (no parity failure) — pinned by
# test_session.test_planted_row_shifts_clear_real_id_ranges (ADVICE r08).
_RC_SHIFT = 3_000_000

# 1-in-5 deterministic sample: the measurement needs a representative
# pair population, not the whole corpus — this is the documented "exact
# leg runs on a SAMPLE" disposition applied at every scale (unsampled,
# the doubled-corpus exact+LSH legs measured 45 s at sf0.1; sampled they
# are seconds, with hundreds of planted pairs still measured at sf0.01).
_RC_MOD = 5

# r12 (VERDICT r11 item 5): on top of the mod-5 thinning, the measurement
# corpus is BOUNDED to an expected _RC_CAP base documents by the md5-coin
# sampler (operators/sampling.hash_bucket — the same coin the split/
# downsample/PQ-fit operators use, replayed bit-for-bit by the oracle):
# keep doc iff coin(doc_id) * n_base < _RC_CAP * DENOM, exact integer math
# in both engines. The planted twin inherits its base doc's coin (the twin
# is derived FROM the kept set), so planted pairs survive at the doc rate,
# not its square. Consequence at scale: recall/precision are measured on a
# deterministic ~_RC_CAP-doc pair sample, so the exact-Jaccard leg costs
# O(cap^2) REGARDLESS of corpus size — the measurement no longer grows
# with the corpus at all (sf1 was 41 s / slope 10.7x when the pair set
# scaled 1:1 with the corpus). _RC_CAP = 80 deliberately binds a little
# even at the driver's sf0.01 (100 base docs -> ~0.8 keep rate), so every
# driver round value-checks the coin replay itself, and a ~80-pair sample
# still pins recall to a few percent. The production LSH path
# (dedup_minhash_lsh / minhash_lsh_pairs) is untouched — full corpus.
_RC_CAP = 80

_RC_COIN = f"({sampling.bucket_sql('doc_id', 'lshrc')})"

_RECALL_CORPUS_SQL = f"""(
  WITH rc_base AS (
    SELECT doc_id, text FROM documents WHERE doc_id % {_RC_MOD} = 0
  ),
  rc_n AS (SELECT count(*) AS n_base FROM rc_base),
  rc_keep AS (
    SELECT doc_id, text FROM rc_base, rc_n
    WHERE {_RC_COIN} * n_base < {_RC_CAP} * {sampling.DENOM}
  )
  SELECT doc_id, text FROM rc_keep
  UNION ALL
  SELECT doc_id + {_RC_SHIFT} AS doc_id, text || ' qq' AS text FROM rc_keep
) corpus"""

_LSH_RECALL_ORACLE = f"""
WITH d AS (SELECT doc_id, trim(lower(text)) AS t FROM {_RECALL_CORPUS_SQL}),
idx AS (SELECT doc_id, t, unnest(generate_series(1, greatest(length(t)-{_NGRAM_N - 1}, 1))) AS i FROM d),
sh0 AS (SELECT DISTINCT doc_id, substr(t, CAST(i AS INT), {_NGRAM_N}) AS shingle FROM idx),
keep AS (SELECT shingle FROM sh0 GROUP BY shingle HAVING count(*) <= {_MAX_SHINGLE_DF}),
sh AS (SELECT sh0.doc_id, sh0.shingle FROM sh0 JOIN keep USING (shingle)),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
shared AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_shared
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
jpairs AS (
  SELECT id_a, id_b
  FROM shared
  JOIN sizes sa ON shared.id_a = sa.doc_id
  JOIN sizes sb ON shared.id_b = sb.doc_id
  WHERE CAST(n_shared AS DOUBLE) / (sa.n_sh + sb.n_sh - n_shared) >= {_JACCARD_T}
),
lsh AS (
  SELECT id_a, id_b FROM (
    {dedup.minhash_lsh_oracle_sql(n=_NGRAM_N, num_hashes=32, bands=8, threshold=_JACCARD_T, seed=42, table=_RECALL_CORPUS_SQL)}
  )
),
counts AS (
  SELECT (SELECT count(*) FROM jpairs) AS n_exact,
         (SELECT count(*) FROM lsh) AS n_lsh,
         (SELECT count(*) FROM jpairs JOIN lsh USING (id_a, id_b)) AS n_hit
)
SELECT CAST(n_exact AS BIGINT) AS n_exact, CAST(n_lsh AS BIGINT) AS n_lsh,
       CAST(n_hit AS BIGINT) AS n_hit,
       round(CAST(n_hit AS DOUBLE) / greatest(n_exact, 1), 9) AS recall,
       round(CAST(n_hit AS DOUBLE) / greatest(n_lsh, 1), 9) AS est_precision
FROM counts
"""


@query("dedup_lsh_recall", sql=_LSH_RECALL_ORACLE)
def dedup_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall and precision of the MinHash-LSH near-dup path
    against the exact capped-shingle Jaccard pair set, on a corpus with
    deterministically planted suffix-perturbed near-dups — one row
    (n_exact, n_lsh, n_hit, recall, est_precision), every leg and the
    intersection independently recomputed by the generated oracle.

    r12: the measurement corpus is BOUNDED — an expected ``_RC_CAP``-doc
    md5-coin sample of the mod-5 base (coin * n_base < cap * DENOM, exact
    integer math the oracle replays), twins derived from the kept set so
    planted pairs survive at the doc rate. The exact-Jaccard leg is the
    cell's entire cost and is O(cap^2) regardless of corpus size; the
    production LSH path itself stays full-corpus elsewhere. The only
    corpus-scale work left is the adaptive-fraction sizing count — a
    driver-side scalar over a doc_id-pruned scan (the same sizing-job
    disposition as exact_near_dup_pairs_blocked), turned into a literal so
    the coin filter stays a plain pushed-into-scan predicate instead of a
    per-leg 1-row broadcast join (the plan gate keeps this cell at zero
    nested-loop joins)."""
    base = (
        load_table(spark, sf_dir, "documents")
        .where(F.col("doc_id") % _RC_MOD == 0)
        .select("doc_id", "text")
    )
    n_base = base.count()
    docs = base.where(
        sampling.hash_bucket(F.col("doc_id"), "lshrc") * F.lit(n_base)
        < F.lit(_RC_CAP * sampling.DENOM)
    )
    corpus = docs.unionAll(
        docs.select(
            (F.col("doc_id") + _RC_SHIFT).alias("doc_id"),
            F.concat(F.col("text"), F.lit(" qq")).alias("text"),
        )
    )
    exact = (
        dedup.jaccard_pairs(
            corpus, n=_NGRAM_N, threshold=_JACCARD_T, max_shingle_freq=_MAX_SHINGLE_DF
        )
        .select("id_a", "id_b")
        .withColumn("__e", F.lit(1))
    )
    lsh = (
        dedup.minhash_lsh_pairs(
            corpus, n=_NGRAM_N, num_hashes=32, bands=8, threshold=_JACCARD_T,
            seed=42,
        )
        .select("id_a", "id_b")
        .withColumn("__l", F.lit(1))
    )
    # single full-outer join + one aggregate (r11): the triple-aggregate
    # crossJoin form evaluated BOTH pair legs twice — the exact-Jaccard
    # leg is this cell's entire cost, so the restructure halves it (the
    # vec_ann_recall double-evaluation class)
    hit = F.count(F.when(F.col("__e").isNotNull() & F.col("__l").isNotNull(), 1))
    return exact.join(lsh, ["id_a", "id_b"], "full_outer").agg(
        F.count("__e").cast("bigint").alias("n_exact"),
        F.count("__l").cast("bigint").alias("n_lsh"),
        hit.cast("bigint").alias("n_hit"),
        F.round(hit / F.greatest(F.count("__e"), F.lit(1)), 9).alias("recall"),
        F.round(hit / F.greatest(F.count("__l"), F.lit(1)), 9).alias(
            "est_precision"
        ),
    )


# ---------------------------------------------------------------------------
# Exact duplicated-span detection (r09): the post-document-dedup substring
# pass — maximal runs of globally-duplicated 8-token windows per document
# (verbatim boilerplate/quotes worth cutting even in unique documents).
# ---------------------------------------------------------------------------

_SPAN_L = 8


@query("dedup_duplicate_spans", sql=dedup.duplicate_spans_oracle_sql(l=_SPAN_L))
def dedup_duplicate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal duplicated token spans over the documents corpus: every
    8-token window occurring >= 2 times anywhere, merged per document
    into maximal runs via gaps-and-islands. One map-side window
    projection keyed by the xxhash64 of each 8-token array slice, one
    frequency hash-agg, one position equi-join, one doc-keyed window.
    The DuckDB oracle keys on the window string, so the oracle check
    value-hashes the hash-keyed plan against a string-keyed replay."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return dedup.duplicate_spans(docs, l=_SPAN_L)


# Registry slot kept from when this was the hash-keyed twin of a
# string-keyed span query; both names now run the one implementation.
query(
    "dedup_duplicate_spans_fast",
    sql=dedup.duplicate_spans_oracle_sql(l=_SPAN_L),
)(dedup_duplicate_spans)


@query(
    "pipeline_span_dedup_rewrite",
    sql=dedup.span_dedup_rewrite_oracle_sql(l=_SPAN_L),
)
def pipeline_span_dedup_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact substring DEDUPLICATION applied: duplicated 8-token windows
    keep their canonical (min packed doc,pos) occurrence and every other
    occurrence's tokens are cut from the rebuilt text — keep-first
    semantics at token granularity, one output row per document with the
    cleaned text and before/after token accounting. The clean_text itself
    is value-hashed against the oracle, so the whole rebuild — tokenizer,
    canonical choice, covered-token cut, ordered rejoin — is checked
    byte-for-byte. The canonical choice groups on the same xxhash64
    window key as dedup_duplicate_spans; the oracle groups on the window
    string. See operators/dedup.py span_dedup_rewrite for the 100 TB
    notes."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return dedup.span_dedup_rewrite(docs, l=_SPAN_L)
