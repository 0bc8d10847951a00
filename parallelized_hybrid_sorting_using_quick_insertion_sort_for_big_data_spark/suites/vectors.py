"""Extension-layer queries: similarity search over `embeddings` (SURVEY
§2c). Cosine values are rounded to 9 decimals on BOTH engines: Spark's
sequential fold and DuckDB's list_cosine_similarity agree to ≤1 ulp
(measured 2.2e-16), so round(9) makes them hash-identical.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import search as _search
from ..operators import similarity
from ..queries import query
from ..sources.tables import load_table

_K = 5
_N_QUERIES = 5

_TOPK_ORACLE = f"""
WITH sims AS (
  SELECT q.vec_id AS q_id, c.vec_id AS vec_id,
         round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                      CAST(c.embedding AS DOUBLE[])), 9) AS sim
  FROM embeddings q, embeddings c
  WHERE q.vec_id < {_N_QUERIES} AND q.vec_id <> c.vec_id
)
SELECT q_id, vec_id, sim, rnk FROM (
  SELECT q_id, vec_id, sim,
         row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rnk
  FROM sims
) WHERE rnk <= {_K}
"""


@query("vec_cosine_topk", sql=_TOPK_ORACLE)
def vec_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-5 for 5 query vectors against the corpus: broadcast
    queries, stream corpus once, per-query window top-k — the ANN baseline
    and the reference's sort capability (top-k) applied to similarity."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    return similarity.brute_force_topk(queries, emb, k=_K)


# The testdata embeddings are near-orthogonal random vectors (max pairwise
# cosine ≈0.51 at sf0.01), so near-dup pairs are planted by unioning an
# id-shifted copy of the corpus — mirrored identically in the oracle. The
# planted pairs have cosine exactly 1.0; threshold 0.98 finds exactly those.
_NEARDUP_T = 0.98
_VEC_SHIFT = 1_000_000

_NEARDUP_ORACLE = f"""
WITH corpus AS (
  SELECT vec_id, embedding FROM embeddings
  UNION ALL
  SELECT vec_id + {_VEC_SHIFT} AS vec_id, embedding FROM embeddings
)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                    CAST(b.embedding AS DOUBLE[])), 9) AS sim
FROM corpus a, corpus b
WHERE a.vec_id < b.vec_id
  AND round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                   CAST(b.embedding AS DOUBLE[])), 9) >= {_NEARDUP_T}
"""


def _dup_corpus(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, int]:
    """Corpus ∪ id-shifted copy, plus its row count. The count comes from
    the base parquet scan (metadata-only: footer row counts, no data read)
    ×2 — never a job over the derived union."""
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    shifted = emb.select((F.col("vec_id") + _VEC_SHIFT).alias("vec_id"), "embedding")
    n = 2 * load_table(spark, sf_dir, "embeddings").count()
    return emb.unionAll(shifted), n


@query("vec_exact_near_dup", sql=_NEARDUP_ORACLE)
def vec_exact_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (sim ≥ 0.98) over the corpus ∪
    id-shifted copy, exact — the correctness baseline for the LSH path.
    Executed as blocked GEMMs (applyInPandas), not per-pair expression
    folds: same exact result, ~100× less per-flop overhead."""
    corpus, n = _dup_corpus(spark, sf_dir)
    return similarity.exact_near_dup_pairs_blocked(
        corpus, threshold=_NEARDUP_T, n_rows=n
    )


# Max-width literal plane table; every query takes a prefix. make_planes
# rows depend only on (seed, p, i), so make_planes(24)[:8] == make_planes(8)
# — one table serves every width up to choose_nbits' 24-bit clamp.
_PLANES = similarity.make_planes(nbits=24, dim=64, seed=42)
# vec_ann_recall measures recall at a PINNED 8-bit configuration (a
# measurement query: the config under test is part of the question).
_ANN_PLANES = _PLANES[:8]

_DUP_CORPUS_SQL = f"""
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
  UNION ALL
  SELECT vec_id + {_VEC_SHIFT} AS vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
"""


@query(
    "vec_lsh_near_dup",
    sql=similarity.lsh_adaptive_oracle_sql(
        _PLANES, threshold=_NEARDUP_T, corpus_sql=_DUP_CORPUS_SQL, target_bucket_size=8
    ),
)
def vec_lsh_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs (sim ≥ 0.98) via random-hyperplane LSH buckets +
    multi-probe + exact re-rank — the non-quadratic corpus-scale path.
    nbits auto-scales with corpus size (choose_nbits: ~8 vectors/bucket —
    the fold re-rank pays per pair, so small buckets win). Oracle-checked
    end to end: DuckDB recomputes the width, the literal-plane signatures,
    the multi-probe candidates and the rounded cosine."""
    corpus, n = _dup_corpus(spark, sf_dir)
    return similarity.lsh_near_dup_pairs(
        corpus, _PLANES, threshold=_NEARDUP_T, n_rows=n, target_bucket_size=8
    )


# Adaptive width (r09 scale fix): the r09 fixed-8-bit table capped the
# bucket count at 256, so bucket population — and candidate pairs — grew
# ~quadratically with the corpus (SCALE_CHECK_r09 slope 7.96×/10× rows
# with tight reps). Width now scales as choose_nbits(n) ≈ log2(n/4),
# recomputed integer-exactly by the oracle from count(*), so per-bucket
# work stays constant and the probe fanout grows only logarithmically.
# target=4 keeps the sf0.01 corpus (1000 vectors) at exactly 8 bits, so
# previously recorded result sets are unchanged.
_LSH_PORTABLE_ORACLE = similarity.lsh_adaptive_oracle_sql(
    _PLANES, threshold=0.95, corpus_sql=_DUP_CORPUS_SQL
)


@query("vec_lsh_portable", sql=_LSH_PORTABLE_ORACLE)
def vec_lsh_portable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LSH near-dup pipeline at threshold 0.95 (vs 0.98 in
    ``vec_lsh_near_dup``, so the check also exercises non-twin matches)
    and ~4 vectors per bucket: end-to-end oracle-checked — DuckDB
    recomputes signatures, multi-probe candidates, and the rounded cosine
    re-rank from the same plane literals (md5 → Box-Muller, regenerable
    from the seed).

    Signature width is ``choose_nbits(n, 4)`` — integer-exact, recomputed
    by the oracle from count(*) — and the corpus count n comes from parquet
    footer metadata (no data job), so the plan embeds only the active
    prefix of the plane table."""
    corpus, n = _dup_corpus(spark, sf_dir)
    return similarity.lsh_near_dup_pairs(
        corpus, _PLANES, threshold=0.95, n_rows=n, target_bucket_size=4
    )


@query("vec_bucketed_near_dup", sql=_LSH_PORTABLE_ORACLE)
def vec_bucketed_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs with LSH-bucketed candidates AND per-bucket GEMM
    re-rank — the full corpus-scale composition: constant bucket
    population, logarithmic replication, one matrix product per bucket
    group, no corpus-wide O(n·B) shuffle and no sizing count() job.

    Oracle-checked end-to-end via the SAME shared-literal plane table (and
    therefore the same generated SQL) as ``vec_lsh_portable``: the two
    queries are independent physical strategies (per-pair fold re-rank vs
    per-bucket GEMM) that must produce the identical pair set and rounded
    sims — the strongest equivalence check the harness can express.

    Known oracle fragility (ADVICE r04): the GEMM side sums float64
    products in parallel order, DuckDB's ``list_cosine_similarity``
    sequentially; after round(...,9) equality is empirical, not
    guaranteed — a near-boundary pair could flap by one last digit on a
    testdata regeneration. See ``bucketed_near_dup_pairs``'s docstring;
    a flap here means float association, not a real pair-set bug."""
    corpus, n = _dup_corpus(spark, sf_dir)
    return similarity.bucketed_near_dup_pairs(
        corpus, _PLANES, threshold=0.95, n_rows=n, target_bucket_size=4
    )


_ANN_RECALL_T = 0.95

_ANN_RECALL_ORACLE = f"""
WITH corpus AS ({_DUP_CORPUS_SQL}),
sig AS (SELECT vec_id, v, {similarity.plane_bits_sql(_ANN_PLANES)} AS bucket FROM corpus),
exact AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b
  FROM corpus a JOIN corpus b ON a.vec_id < b.vec_id
  WHERE round(list_cosine_similarity(a.v, b.v), 9) >= {_ANN_RECALL_T}
),
ann AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b
  FROM sig a JOIN sig b
    ON a.vec_id < b.vec_id AND bit_count(xor(a.bucket, b.bucket)) <= 1
  WHERE round(list_cosine_similarity(a.v, b.v), 9) >= {_ANN_RECALL_T}
),
counts AS (
  SELECT (SELECT count(*) FROM exact) AS n_exact,
         (SELECT count(*) FROM ann) AS n_ann,
         (SELECT count(*) FROM exact JOIN ann USING (id_a, id_b)) AS n_hit
)
SELECT n_exact, n_ann, n_hit,
       round(CAST(n_hit AS DOUBLE) / greatest(n_exact, 1), 9) AS recall
FROM counts
"""


@query("vec_ann_recall", sql=_ANN_RECALL_ORACLE)
def vec_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN quality measurement — the pipeline-health query every ANN
    deployment runs: exact near-dup pairs (blocked GEMM baseline) vs the
    LSH approximate pairs at the same threshold, reduced to one
    row (n_exact, n_ann, n_hit, recall). Both sides and the set
    intersection are recomputed independently by the DuckDB oracle. At
    corpus scale the exact side runs on a SAMPLE; here the full corpus is
    small enough to measure recall exactly.

    Known oracle fragility (ADVICE r04): the exact side's numpy GEMM vs
    DuckDB's sequential cosine can disagree by one ulp at the 9th rounded
    digit for a pair sitting exactly on the 0.95 threshold — empirically
    green, but a flap on regenerated data indicates float association,
    not a recall bug.

    Pre-contracting bit-identical vectors before the exact leg measured
    slower here than the plain blocked GEMM: at this corpus's planted
    dup factor 2, the extra window shuffle and expansion joins cost more
    than the flops they save."""
    corpus, n = _dup_corpus(spark, sf_dir)
    exact = (
        similarity.exact_near_dup_pairs_blocked(
            corpus, threshold=_ANN_RECALL_T, n_rows=n
        )
        .select("id_a", "id_b")
        .withColumn("__e", F.lit(1))
    )
    ann = (
        similarity.lsh_near_dup_pairs(
            corpus, _ANN_PLANES, threshold=_ANN_RECALL_T, nbits=len(_ANN_PLANES)
        )
        .select("id_a", "id_b")
        .withColumn("__a", F.lit(1))
    )
    # One full-outer join + one aggregate: the r10 form cross-joined three
    # scalar aggregates (count(exact), count(ann), count(exact⋈ann)), which
    # evaluated the GEMM leg and the LSH leg TWICE each — exchange reuse
    # covers the shuffle write, not the post-shuffle applyInPandas/re-rank
    # work. This form runs each leg exactly once.
    #
    # PRECONDITION (ADVICE r11): both legs must be duplicate-free on
    # (id_a, id_b) — a duplicated row would multiply counts through the
    # full-outer join, where the old triple-aggregate counted legs
    # independently. Holds by construction today (the GEMM emits each
    # unordered pair once per unique pair_id; the LSH path distincts its
    # band-bucket candidates) and is pytest-pinned at SF_DIR by
    # tests/test_vectors.py::test_recall_leg_pairs_are_distinct, so an
    # operator change dropping the dedup can't silently skew recall.
    return exact.join(ann, ["id_a", "id_b"], "full_outer").agg(
        F.count("__e").alias("n_exact"),
        F.count("__a").alias("n_ann"),
        F.count(F.when(F.col("__e").isNotNull() & F.col("__a").isNotNull(), 1)).alias(
            "n_hit"
        ),
        F.round(
            F.count(F.when(F.col("__e").isNotNull() & F.col("__a").isNotNull(), 1))
            / F.greatest(F.count("__e"), F.lit(1)),
            9,
        ).alias("recall"),
    )


# IVF serve section shared by the label-codebook and k-means-codebook
# oracles: assign each vector to its rounded-argmax cell (ties -> lowest
# cell, mirroring the struct-max), probe the 2 best cells per query,
# exact-rank inside them. Expects prior CTEs `e (vec_id, v)` and
# `cent (cell, cv)`.
_IVF_SERVE_SQL = f"""scored AS (
  SELECT e.vec_id, e.v, c.cell,
         round(list_cosine_similarity(e.v, c.cv), 9) AS s
  FROM e, cent c
),
assign AS (
  SELECT vec_id, v, cell FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cell) AS rn
    FROM scored
  ) WHERE rn = 1
),
q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < {_N_QUERIES}),
probes AS (
  SELECT q_id, qv, cell FROM (
    SELECT q.q_id, q.qv, c.cell,
           row_number() OVER (
             PARTITION BY q.q_id
             ORDER BY round(list_cosine_similarity(q.qv, c.cv), 9) DESC, c.cell
           ) AS pr
    FROM q, cent c
  ) WHERE pr <= 2
),
pairs AS (
  SELECT p.q_id, a.vec_id, round(list_cosine_similarity(p.qv, a.v), 9) AS sim
  FROM probes p JOIN assign a USING (cell)
  WHERE a.vec_id <> p.q_id
)
SELECT q_id, vec_id, sim, rnk FROM (
  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rnk
  FROM pairs
) WHERE rnk <= {_K}"""

_IVF_ORACLE = f"""
WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
ex AS (SELECT label, unnest(generate_series(1, len(v))) AS i, v FROM e),
comp AS (
  SELECT label, i,
         round(CAST(sum(CAST(v[CAST(i AS INT)] AS DECIMAL(38,12))) AS DOUBLE) / count(*), 9) AS c
  FROM ex GROUP BY label, i
),
cent AS (SELECT label AS cell, list(c ORDER BY i) AS cv FROM comp GROUP BY label),
{_IVF_SERVE_SQL}
"""


_KMEANS_IVF_ORACLE = f"""
WITH {similarity.kmeans_ctes_sql(k=8, iters=3)},
cent AS (SELECT cell, cv FROM c3),
{_IVF_SERVE_SQL}
"""


@query("vec_kmeans_ivf_topk", sql=_KMEANS_IVF_ORACLE)
def vec_kmeans_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN top-5 served through the k-means codebook (build → assign →
    probe 2 cells → exact re-rank): the full production composition, every
    stage — including all three Lloyd rounds — recomputed by the generated
    oracle. Same serving plan as vec_ivf_topk (broadcast codebook, map-side
    assignment, probe-bounded exact ranking)."""
    emb = load_table(spark, sf_dir, "embeddings")
    cents = similarity.kmeans_fit(emb, k=8, iters=3)
    assigned = similarity.ivf_assign(emb, cents)
    queries = emb.where(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    return similarity.ivf_topk(queries, assigned, cents, k=_K, nprobe=2)


@query("vec_ivf_topk", sql=_IVF_ORACLE)
def vec_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN top-5 for 5 query vectors: coarse-quantize the corpus into
    label-seeded centroid cells, probe the 2 nearest cells per query, exact
    re-rank inside them — cost ≈ nprobe/cells of the brute-force scan.
    Oracle: DuckDB rebuilds the identical rounded centroids, assignment,
    probes and ranking; full-probe==exact equivalence additionally
    pytest-asserted."""
    emb = load_table(spark, sf_dir, "embeddings")
    # r13: the codebook feeds both the assignment and the probe ranking;
    # unpinned, each consumer re-ran the corpus-wide centroid aggregation.
    # Eager pin on the k-row codebook (same fix as vec_ivf_nprobe_recall).
    cents = similarity.centroid_vectors(emb).localCheckpoint(eager=True)
    assigned = similarity.ivf_assign(emb, cents)
    queries = emb.where(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    return similarity.ivf_topk(queries, assigned, cents, k=_K, nprobe=2)


@query("vec_kmeans_centroids", sql=similarity.kmeans_oracle_sql(k=8, iters=3))
def vec_kmeans_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic k-means codebook (k=8, 3 Lloyd rounds) over the
    embeddings — the production IVF build path (vec_ivf_topk's label
    codebook is the no-iteration stand-in). Every Lloyd round is
    reproduced by the generated DuckDB oracle (unrolled assign/update
    CTEs), so the full ITERATIVE fit is value-hash-checked, not just the
    final aggregation shape."""
    emb = load_table(spark, sf_dir, "embeddings")
    cents = similarity.kmeans_fit(emb, k=8, iters=3)
    return cents.select(
        "cell", F.posexplode("centroid").alias("dim_idx", "centroid")
    ).select("cell", F.col("dim_idx").cast("bigint").alias("dim_idx"), "centroid")


_CENTROID_ORACLE = """
WITH e AS (
  SELECT label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
),
ex AS (
  SELECT label, unnest(generate_series(1, len(v))) AS i, v FROM e
)
SELECT label, CAST(i - 1 AS BIGINT) AS dim_idx,
       round(CAST(sum(CAST(v[CAST(i AS INT)] AS DECIMAL(38,12))) AS DOUBLE) / count(*), 9) AS centroid
FROM ex
GROUP BY label, i
"""


@query("vec_label_centroids", sql=_CENTROID_ORACLE)
def vec_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid components (label, dim_idx, centroid) — the
    aggregation half of IVF index building; decimal-exact accumulation."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.label_centroids(emb)


# ---------------------------------------------------------------------------
# Cross-modal join: similarity hits enriched with document metadata — the
# retrieval shape (ANN top-k -> fetch document fields). embeddings.vec_id
# is 1:1 with documents.doc_id in the testdata.
# ---------------------------------------------------------------------------

_TOPK_META_ORACLE = f"""
WITH sims AS (
  SELECT q.vec_id AS q_id, c.vec_id AS vec_id,
         round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                      CAST(c.embedding AS DOUBLE[])), 9) AS sim
  FROM embeddings q, embeddings c
  WHERE q.vec_id < {_N_QUERIES} AND q.vec_id <> c.vec_id
),
topk AS (
  SELECT q_id, vec_id, sim, rnk FROM (
    SELECT q_id, vec_id, sim,
           row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rnk
    FROM sims
  ) WHERE rnk <= {_K}
)
SELECT t.q_id, t.vec_id, t.sim, t.rnk, d.source,
       CAST(len(regexp_extract_all(lower(d.text), '[a-z0-9]+')) AS BIGINT) AS n_tokens
FROM topk t JOIN documents d ON t.vec_id = d.doc_id
"""


@query("vec_topk_with_metadata", sql=_TOPK_META_ORACLE)
def vec_topk_with_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval join: brute-force cosine top-5 per query, hits enriched
    with the matching document's source and token count. The top-k side is
    tiny (queries × k rows) so it broadcasts into the documents join — no
    shuffle of the documents table."""
    from ..operators import text as T

    emb = load_table(spark, sf_dir, "embeddings")
    queries_df = emb.where(F.col("vec_id") < _N_QUERIES).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    topk = similarity.brute_force_topk(queries_df, emb, k=_K)
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", T.token_count(F.col("text")).alias("n_tokens")
    )
    return F.broadcast(topk).join(docs, topk["vec_id"] == docs["doc_id"]).select(
        "q_id", "vec_id", "sim", "rnk", "source", "n_tokens"
    )


# ---------------------------------------------------------------------------
# Scalar quantization: int8 codes for the whole corpus, value-checked per
# dimension (all-BIGINT output -> exact cross-engine compare).
# ---------------------------------------------------------------------------


@query("vec_quantize_int8", sql=similarity.quantize_int8_sql())
def vec_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric per-vector int8 quantization of every embedding (the 4x
    memory cut before ANN serving), emitted as (vec_id, dim, q) rows. Zero
    shuffle; every quantized code is compared exactly against the generated
    DuckDB mirror."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.quantize_int8(emb)


# ---------------------------------------------------------------------------
# Semantic dedup (SemDeDup-shape): the one LLM-pipeline dedup family the
# exact/MinHash/SimHash/ANN battery didn't yet name — embeddings → k-means
# clusters → within-cluster cosine dominance prune. Runs over the corpus ∪
# id-shifted copy (same planting trick as vec_exact_near_dup: natural max
# pairwise cosine is ≈0.5-0.6, planted copies are exactly 1.0), so with
# tau=0.9 the expected decision is: every base vector kept, every shifted
# copy dropped (identical vector → same cell and same cos_c → tie broken
# to the LOWER id).
# ---------------------------------------------------------------------------

_SEMDEDUP_TAU = 0.9
_SEMDEDUP_UNION = (
    f"(SELECT vec_id, embedding FROM embeddings "
    f"UNION ALL SELECT vec_id + {_VEC_SHIFT} AS vec_id, embedding FROM embeddings)"
)


@query(
    "vec_semantic_dedup",
    sql=similarity.semantic_dedup_oracle_sql(
        k=8, iters=3, tau=_SEMDEDUP_TAU, table=_SEMDEDUP_UNION
    ),
)
def vec_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup over the planted-duplicate corpus: fit the k=8 / 3-round
    deterministic k-means codebook, assign every vector to its cell, and
    within each cell drop any vector with a higher-priority duplicate
    (rounded cosine > 0.9; priority = farther from centroid, then lower
    id). Output is the FULL flagged relation (vec_id, cell, cos_c, kept) —
    value-checking it pins the fit, the assignment, and every per-cell
    dominance decision in one hash. The generated oracle recomputes all of
    it, Lloyd rounds included."""
    corpus, _n = _dup_corpus(spark, sf_dir)
    return similarity.semantic_dedup(
        corpus, k=8, iters=3, tau=_SEMDEDUP_TAU
    )


# ---------------------------------------------------------------------------
# Product quantization: the IVF-PQ compression stage — m per-subspace L2
# codebooks, every vector reduced to m 1-byte codes. All-BIGINT output, so
# the whole fit (every Lloyd round, every assignment) is exact-compared.
# ---------------------------------------------------------------------------

_PQ_M, _PQ_K, _PQ_ITERS, _PQ_DIM = 4, 8, 2, 64


@query(
    "vec_pq_codes",
    sql=similarity.pq_codes_sql(m=_PQ_M, k=_PQ_K, iters=_PQ_ITERS, dim=_PQ_DIM),
)
def vec_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization codes for the whole corpus: 4 subspaces of 16
    dims, each fit with a deterministic 2-round L2 Lloyd (init = the 8
    lowest-id subvectors, rounded distances, ties to the lowest cell,
    decimal-exact centroid means) and every vector assigned its nearest
    code per subspace. 64 doubles -> 4 codes per vector — the compression
    that lets a 100 TB embedding corpus serve ANN from memory. Packed
    broadcast codebooks: zero corpus shuffle per round."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.pq_codes(
        emb, m=_PQ_M, k=_PQ_K, iters=_PQ_ITERS, dim=_PQ_DIM
    )


@query(
    "vec_pq_adc_topk",
    sql=similarity.pq_adc_topk_sql(
        query_id=7, m=_PQ_M, k=_PQ_K, iters=_PQ_ITERS, dim=_PQ_DIM, topk=10
    ),
)
def vec_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ serving by asymmetric distance computation: fit the 4-subspace
    codebooks, quantize the corpus to 4 codes/vector, build the query's
    4×8 lookup table of per-subspace partial dot products, and rank the
    corpus by the table-lookup sum — the scan touches codes, never raw
    vectors. Partials are rounded then decimal-summed, so the approximate
    scores (and the ranking) are engine-exact; the oracle replays the fit,
    the codes, the LUT, and the final top-10."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.pq_adc_topk(
        emb, query_id=7, m=_PQ_M, k=_PQ_K, iters=_PQ_ITERS, dim=_PQ_DIM, topk=10
    )


@query(
    "vec_ivfpq_topk",
    sql=similarity.ivfpq_topk_sql(
        query_id=7, cells=8, cell_iters=3, nprobe=2,
        m=_PQ_M, k=_PQ_K, iters=_PQ_ITERS, dim=_PQ_DIM, topk=10,
    ),
)
def vec_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ: the full modern ANN serving stack — k-means coarse cells
    restrict the search to the query's 2 nearest cells, PQ asymmetric
    distance scores the candidates from 4-byte codes (the raw vectors are
    never touched after quantization). Every stage — both codebook fits
    (3 Lloyd rounds coarse, 2 per PQ subspace), the cell assignment, the
    probe, the LUT, and the decimal score sum — is replayed by one
    generated DuckDB statement. Scan cost ≈ nprobe/cells of the corpus ×
    m byte-lookups per candidate."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.ivfpq_topk(
        emb, query_id=7, cells=8, cell_iters=3, nprobe=2,
        m=_PQ_M, k=_PQ_K, iters=_PQ_ITERS, dim=_PQ_DIM, topk=10,
    )


_PQ_RECALL_K = 10

_PQ_RECALL_ORACLE = f"""
WITH exact AS (
  SELECT vec_id FROM (
    SELECT c.vec_id,
           row_number() OVER (
             ORDER BY round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                                   CAST(c.embedding AS DOUBLE[])), 9)
               DESC, c.vec_id
           ) AS rnk
    FROM embeddings q, embeddings c
    WHERE q.vec_id = 7 AND c.vec_id <> 7
  ) WHERE rnk <= {_PQ_RECALL_K}
),
adc AS (
  SELECT vec_id FROM (
    {similarity.pq_adc_topk_sql(query_id=7, m=_PQ_M, k=_PQ_K, iters=_PQ_ITERS, dim=_PQ_DIM, topk=_PQ_RECALL_K)}
  )
),
counts AS (
  SELECT (SELECT count(*) FROM exact) AS n_exact,
         (SELECT count(*) FROM adc) AS n_adc,
         (SELECT count(*) FROM exact JOIN adc USING (vec_id)) AS n_hit
)
SELECT n_exact, n_adc, n_hit,
       round(CAST(n_hit AS DOUBLE) / greatest(n_exact, 1), 9) AS recall
FROM counts
"""


@query("vec_pq_recall", sql=_PQ_RECALL_ORACLE)
def vec_pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ quality measurement — recall@10 of the ADC ranking against the
    exact cosine top-10 for the same query, reduced to one row
    (n_exact, n_adc, n_hit, recall). The lossy-compression health check a
    PQ deployment publishes next to its codes: at corpus scale the exact
    side runs on a sampled query set; here the corpus is small enough to
    measure exactly. Both rankings and the intersection are recomputed
    independently by the oracle (the whole PQ fit included)."""
    emb = load_table(spark, sf_dir, "embeddings")
    qdf = emb.where(F.col("vec_id") == 7).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    exact = (
        similarity.brute_force_topk(qdf, emb, k=_PQ_RECALL_K)
        .select("vec_id")
        .withColumn("__e", F.lit(1))
    )
    adc = (
        similarity.pq_adc_topk(
            emb, query_id=7, m=_PQ_M, k=_PQ_K, iters=_PQ_ITERS, dim=_PQ_DIM,
            topk=_PQ_RECALL_K,
        )
        .select("vec_id")
        .withColumn("__a", F.lit(1))
    )
    # single full-outer join + one aggregate (r11): the triple-aggregate
    # crossJoin form evaluated both rankings twice (the vec_ann_recall
    # double-evaluation class — exchange reuse covers the shuffle write,
    # not the post-shuffle fit/ranking work)
    return exact.join(adc, ["vec_id"], "full_outer").agg(
        F.count("__e").alias("n_exact"),
        F.count("__a").alias("n_adc"),
        F.count(F.when(F.col("__e").isNotNull() & F.col("__a").isNotNull(), 1)).alias(
            "n_hit"
        ),
        F.round(
            F.count(F.when(F.col("__e").isNotNull() & F.col("__a").isNotNull(), 1))
            / F.greatest(F.count("__e"), F.lit(1)),
            9,
        ).alias("recall"),
    )


# PQ design sweep: recall@10 across m (subspaces) × k (codes per subspace).
# VERDICT r08 item 5: the single-config vec_pq_recall reads 0.4 at m=4/k=8,
# which is a MEASURED compression trade-off, not a broken stack — this sweep
# makes that legible by publishing the whole m/k recall surface the way a PQ
# deployment chooses its operating point. Each config is an independent fit
# + ADC ranking; the oracle replays all four end to end.
_PQ_SWEEP = ((4, 8), (4, 16), (8, 8), (8, 16))
# r11 (VERDICT r10 item 2): each sweep config fits its codebooks on the
# deterministic 25% md5-coin sample (bucket < 250k of 1e6) instead of the
# full corpus — the sampler is the engine-portable hash_bucket family, so
# the oracle replays the identical training subset. Code assignment and the
# ADC scan stay full-corpus. At 100 TB this is the only sane fit shape;
# here it cuts the registry's most expensive cell's Lloyd passes 4×.
_PQ_FIT_SAMPLE = 250_000


def _pq_sweep_oracle() -> str:
    legs = []
    for m, k in _PQ_SWEEP:
        legs.append(
            f"""SELECT {m} AS m, {k} AS k, n_hit,
       round(CAST(n_hit AS DOUBLE) / {_PQ_RECALL_K}, 9) AS recall
FROM (
  SELECT (SELECT count(*) FROM exact JOIN (
    {similarity.pq_adc_topk_sql(query_id=7, m=m, k=k, iters=_PQ_ITERS, dim=_PQ_DIM, topk=_PQ_RECALL_K, fit_sample=_PQ_FIT_SAMPLE)}
  ) adc USING (vec_id)) AS n_hit
)"""
        )
    exact = f"""WITH exact AS (
  SELECT vec_id FROM (
    SELECT c.vec_id,
           row_number() OVER (
             ORDER BY round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                                   CAST(c.embedding AS DOUBLE[])), 9)
               DESC, c.vec_id
           ) AS rnk
    FROM embeddings q, embeddings c
    WHERE q.vec_id = 7 AND c.vec_id <> 7
  ) WHERE rnk <= {_PQ_RECALL_K}
)
"""
    return exact + "\nUNION ALL\n".join(legs)


@query("vec_pq_recall_sweep", sql=_pq_sweep_oracle())
def vec_pq_recall_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of PQ-ADC vs the exact cosine top-10 across the
    m × k design grid {4,8} subspaces × {8,16} codes — one row per
    config (m, k, n_hit, recall). The exact leg runs ONCE; each config
    refits its codebooks and reranks by ADC. On THIS corpus the surface
    is flat-low and non-monotone (sf0.01: 0.2–0.4 across the grid):
    the synthetic embeddings are random near-orthogonal vectors, the
    hardest case for PQ — no low-dim subspace structure for the
    codebooks to exploit — so the single-config 0.4 is data-inherent,
    not a defect of m=4/k=8. A clustered real corpus climbs toward 1.0
    with m·log2(k); the sweep is the evidence either way. The oracle
    replays every fit, code assignment, LUT, and intersection."""
    emb = load_table(spark, sf_dir, "embeddings")
    qdf = emb.where(F.col("vec_id") == 7).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    # The exact top-10 is shared by all four legs; without the pin each
    # leg's join would re-run the brute-force ranking (lazy plans) — 4x the
    # most expensive stage for a 10-row relation. r13: the pin is LAZY so
    # the exact ranking materializes inside the same single job as the four
    # fits + ADC rankings (one driver-blocking job for the whole sweep)
    # instead of paying its own job boundary first.
    exact = (
        similarity.brute_force_topk(qdf, emb, k=_PQ_RECALL_K)
        .select("vec_id")
        .localCheckpoint(eager=False)
    )
    out = None
    for m, k in _PQ_SWEEP:
        # checkpoint=False + a LAZY localCheckpoint on the codebook: no
        # eager per-round pins, so all four configs' fits+ADC rankings
        # execute inside the ONE materializing job with stage-level
        # parallelism (8 sequential driver-blocking jobs otherwise — the
        # r10 cell's 11.7 s was mostly that serial chain, not data
        # volume); the lazy checkpoint materializes each config's fit
        # once in-job and both its consumers (code assignment + LUT)
        # reuse it instead of re-deriving the Lloyd rounds. Measured
        # 11.7 -> 7.6 s with a tight spread.
        books = similarity.pq_fit(
            emb, m=m, k=k, iters=_PQ_ITERS, dim=_PQ_DIM,
            fit_sample=_PQ_FIT_SAMPLE, checkpoint=False,
        ).localCheckpoint(eager=False)
        adc = similarity.pq_adc_topk(
            emb, query_id=7, m=m, k=k, iters=_PQ_ITERS, dim=_PQ_DIM,
            topk=_PQ_RECALL_K, books=books,
        ).select("vec_id")
        leg = (
            exact.join(adc, ["vec_id"])
            .agg(F.count(F.lit(1)).alias("n_hit"))
            .select(
                F.lit(m).alias("m"),
                F.lit(k).alias("k"),
                "n_hit",
                F.round(F.col("n_hit") / F.lit(_PQ_RECALL_K), 9).alias("recall"),
            )
        )
        out = leg if out is None else out.unionAll(leg)
    return out


# ---------------------------------------------------------------------------
# Hybrid retrieval: BM25 (lexical) + exact cosine (dense) fused with
# reciprocal-rank fusion — the standard two-tower serving composition.
# Both legs are top-k relations, so the fusion is constant cost.
# ---------------------------------------------------------------------------

_HYBRID_TERMS = ["spark", "merge", "window"]
_HYBRID_K = 20
_HYBRID_QVEC = 7  # the dense query = this vec_id's embedding

_HYBRID_DENSE_SQL = f"""
SELECT vec_id AS doc_id, rnk AS rank FROM (
  SELECT c.vec_id,
         row_number() OVER (
           ORDER BY round(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                                 CAST(c.embedding AS DOUBLE[])), 9)
             DESC, c.vec_id
         ) AS rnk
  FROM embeddings q, embeddings c
  WHERE q.vec_id = {_HYBRID_QVEC} AND c.vec_id <> {_HYBRID_QVEC}
) WHERE rnk <= {_HYBRID_K}
"""


@query(
    "search_hybrid_rrf",
    sql=_search.rrf_fuse_sql(
        {
            "bm25": f"SELECT doc_id, rank FROM ({_search.bm25_topk_sql(_HYBRID_TERMS, k=_HYBRID_K)})",
            "dense": _HYBRID_DENSE_SQL,
        }
    ),
)
def search_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval over documents∪embeddings (vec_id ≡ doc_id): BM25
    top-20 for {spark, merge, window} fused with the exact-cosine top-20
    for query vector 7 via reciprocal-rank fusion (k=60). Each leg is the
    already-oracled operator; the fusion is a full outer join of two ≤20-row
    lists plus one ≤40-row window — the corpus-scale cost stays in the legs.
    Output pins both legs' ranks AND every fused score/rank in one hash."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    lex = _search.bm25_topk(docs, _HYBRID_TERMS, k=_HYBRID_K).select("doc_id", "rank")
    emb = load_table(spark, sf_dir, "embeddings")
    qdf = emb.where(F.col("vec_id") == _HYBRID_QVEC).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    den = similarity.brute_force_topk(qdf, emb, k=_HYBRID_K).select(
        F.col("vec_id").alias("doc_id"), F.col("rnk").alias("rank")
    )
    return _search.rrf_fuse({"bm25": lex, "dense": den})


# ---------------------------------------------------------------------------
# Embedding-space decontamination: max cosine of every corpus vector against
# a broadcast benchmark set (label 0 = "the eval set, embedded"), plus
# planted exact contaminants (10 benchmark vectors re-inserted under shifted
# ids, sim exactly 1.0) so the query demonstrably catches real leakage. The
# semantic complement to decontam_ngram_overlap: n-gram overlap misses
# paraphrases; embedding cosine catches them. τ=0.40 sits above the random
# background (p99 ≈ 0.43 max-sim at sf0.01) and below the planted 1.0s.
# ---------------------------------------------------------------------------

_DECON_T = 0.40
# Planted-row id offset — must clear every real vec_id at every registered
# scale factor; pinned by
# test_session.test_planted_row_shifts_clear_real_id_ranges (ADVICE r08).
_DECON_SHIFT = 2_000_000

_DECON_EMB_ORACLE = f"""
WITH bench AS (
  SELECT CAST(embedding AS DOUBLE[]) AS bv FROM embeddings WHERE label = 0
),
corpus AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE label <> 0
  UNION ALL
  SELECT vec_id + {_DECON_SHIFT} AS vec_id, CAST(embedding AS DOUBLE[]) AS v
  FROM embeddings WHERE label = 0 AND vec_id % 5 = 0
)
SELECT c.vec_id,
       max(round(list_cosine_similarity(c.v, b.bv), 9)) AS max_sim,
       max(round(list_cosine_similarity(c.v, b.bv), 9)) >= {_DECON_T} AS contaminated
FROM corpus c CROSS JOIN bench b
GROUP BY c.vec_id
"""


@query("decontam_embedding", sql=_DECON_EMB_ORACLE)
def decontam_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-based benchmark decontamination: per corpus vector, the
    max cosine against the broadcast benchmark set and a contamination
    flag at τ=0.40. Norms are computed ONCE per row on each side (never
    per pair); the pair stage is corpus ⨯ broadcast(bench) with a map-side
    max — the decontam shape (the benchmark is small BY DEFINITION, so the
    corpus is never shuffled, exactly like the n-gram variant). Max over
    ROUNDED sims keeps the aggregate order-independent across engines."""
    emb = load_table(spark, sf_dir, "embeddings")
    bench = (
        emb.where(F.col("label") == 0)
        .select(F.col("embedding").cast("array<double>").alias("bv"))
        .withColumn("__bn", similarity.norm(F.col("bv")))
    )
    corpus = (
        emb.where(F.col("label") != 0)
        .select("vec_id", "embedding")
        .unionByName(
            emb.where((F.col("label") == 0) & (F.col("vec_id") % 5 == 0)).select(
                (F.col("vec_id") + _DECON_SHIFT).alias("vec_id"), "embedding"
            )
        )
        .select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
        .withColumn("__cn", similarity.norm(F.col("v")))
    )
    sim = F.round(
        similarity.dot(F.col("v"), F.col("bv")) / (F.col("__cn") * F.col("__bn")), 9
    )
    return (
        corpus.crossJoin(F.broadcast(bench))
        .select("vec_id", sim.alias("__s"))
        .groupBy("vec_id")
        .agg(
            F.max("__s").alias("max_sim"),
            (F.max("__s") >= F.lit(_DECON_T)).alias("contaminated"),
        )
    )


# ---------------------------------------------------------------------------
# Matryoshka (MRL) truncation recall: top-k by the 16-dim PREFIX of each
# 64-dim embedding vs the full-dim exact top-k — the measurement behind the
# standard "truncate the embedding to cut ANN cost 4×" decision. Both
# rankings and their intersection are recomputed independently by the
# oracle, per query.
# ---------------------------------------------------------------------------

_MRL_K = 10
_MRL_DIM = 16
_MRL_QMOD = 50

_MRL_ORACLE = f"""
WITH q AS (
  SELECT vec_id AS q_id,
         CAST(embedding AS DOUBLE[]) AS v,
         CAST(embedding[1:{_MRL_DIM}] AS DOUBLE[]) AS vp
  FROM embeddings WHERE vec_id % {_MRL_QMOD} = 0
),
c AS (
  SELECT vec_id,
         CAST(embedding AS DOUBLE[]) AS v,
         CAST(embedding[1:{_MRL_DIM}] AS DOUBLE[]) AS vp
  FROM embeddings
),
full_rnk AS (
  SELECT q.q_id, c.vec_id,
         row_number() OVER (
           PARTITION BY q.q_id
           ORDER BY round(list_cosine_similarity(q.v, c.v), 9) DESC, c.vec_id
         ) AS rnk
  FROM q JOIN c ON q.q_id <> c.vec_id
),
pre_rnk AS (
  SELECT q.q_id, c.vec_id,
         row_number() OVER (
           PARTITION BY q.q_id
           ORDER BY round(list_cosine_similarity(q.vp, c.vp), 9) DESC, c.vec_id
         ) AS rnk
  FROM q JOIN c ON q.q_id <> c.vec_id
),
hits AS (
  SELECT f.q_id, count(*) AS n_hit
  FROM (SELECT q_id, vec_id FROM full_rnk WHERE rnk <= {_MRL_K}) f
  JOIN (SELECT q_id, vec_id FROM pre_rnk WHERE rnk <= {_MRL_K}) p
    USING (q_id, vec_id)
  GROUP BY f.q_id
)
SELECT q.q_id, CAST(COALESCE(h.n_hit, 0) AS BIGINT) AS n_hit,
       round(CAST(COALESCE(h.n_hit, 0) AS DOUBLE) / {_MRL_K}, 9) AS recall
FROM (SELECT DISTINCT q_id FROM q) q LEFT JOIN hits h USING (q_id)
"""


@query("vec_matryoshka_recall", sql=_MRL_ORACLE)
def vec_matryoshka_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-query recall@10 of 16-dim-prefix cosine ranking vs the full
    64-dim exact ranking (Matryoshka truncation quality). Both rankings
    run the broadcast-queries top-k device (brute_force_topk); the prefix
    side slices BEFORE casting, identically to the oracle's
    ``embedding[1:16]``. At corpus scale the full-dim side is the one you
    sample; the prefix side is the 4×-cheaper production candidate — this
    query IS the measurement that justifies the swap."""
    emb = load_table(spark, sf_dir, "embeddings")
    q_full = emb.where(F.col("vec_id") % _MRL_QMOD == 0).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    q_pre = emb.where(F.col("vec_id") % _MRL_QMOD == 0).select(
        F.col("vec_id").alias("q_id"),
        F.slice(F.col("embedding"), 1, _MRL_DIM).alias("q_emb"),
    )
    c_pre = emb.select(
        "vec_id", F.slice(F.col("embedding"), 1, _MRL_DIM).alias("embedding")
    )
    fullk = similarity.brute_force_topk(q_full, emb, k=_MRL_K).select("q_id", "vec_id")
    prek = similarity.brute_force_topk(q_pre, c_pre, k=_MRL_K).select("q_id", "vec_id")
    hits = fullk.join(prek, ["q_id", "vec_id"]).groupBy("q_id").agg(
        F.count(F.lit(1)).alias("__h")
    )
    qids = q_full.select("q_id").distinct()
    return qids.join(hits, "q_id", "left").select(
        "q_id",
        F.coalesce(F.col("__h"), F.lit(0)).cast("bigint").alias("n_hit"),
        F.round(
            F.coalesce(F.col("__h"), F.lit(0)).cast("double") / F.lit(_MRL_K), 9
        ).alias("recall"),
    )


# ---------------------------------------------------------------------------
# Cluster-balanced sampling: k-means cells as diversity strata, per-cell cap
# by lowest md5 — "don't let one dense embedding cluster dominate the
# training mix", the diversity-preserving counterpart of per-source mixture
# sampling (operators/sampling.py). The whole chain — 2 Lloyd rounds, final
# assignment, capped keep — is ONE oracle-checked statement via the
# generated unrolled-CTE kmeans oracle.
# ---------------------------------------------------------------------------

_CB_K = 8
_CB_ITERS = 2
_CB_CAP = 40

_CLUSTER_BALANCED_ORACLE = f"""
WITH {similarity.kmeans_ctes_sql(k=_CB_K, iters=_CB_ITERS)},
final_assign AS (
  SELECT vec_id, cell FROM (
    SELECT e.vec_id, c.cell,
           row_number() OVER (
             PARTITION BY e.vec_id
             ORDER BY round(list_cosine_similarity(e.v, c.cv), 9) DESC, c.cell
           ) AS rn
    FROM e, c{_CB_ITERS} c
  ) WHERE rn = 1
),
ranked AS (
  SELECT vec_id, cell,
         CAST(row_number() OVER (
           PARTITION BY cell ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
         ) AS BIGINT) AS rnk
  FROM final_assign
)
SELECT vec_id, cell, rnk FROM ranked WHERE rnk <= {_CB_CAP}
"""


@query("sample_cluster_balanced", sql=_CLUSTER_BALANCED_ORACLE)
def sample_cluster_balanced(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diversity-balanced corpus sample: fit the k-means codebook (2
    deterministic Lloyd rounds, k=8), assign every vector map-side against
    the broadcast packed codebook (zero corpus shuffle — ivf_assign), then
    keep at most 40 per cell by lowest md5(vec_id) — the engine's standard
    unbiased deterministic coin. Dense clusters are trimmed, sparse ones
    survive whole: the embedding-space analogue of stratified sampling
    when no stratum column exists. One (cell)-keyed window over the
    node-sized assignment is the only shuffle after the fit."""
    emb = load_table(spark, sf_dir, "embeddings")
    cents = similarity.kmeans_fit(emb, k=_CB_K, iters=_CB_ITERS)
    assigned = similarity.ivf_assign(emb, cents).select("vec_id", "cell")
    from pyspark.sql import Window

    w = Window.partitionBy("cell").orderBy(
        F.md5(F.col("vec_id").cast("string")), F.col("vec_id")
    )
    return (
        assigned.withColumn("rnk", F.row_number().over(w).cast("bigint"))
        .where(F.col("rnk") <= _CB_CAP)
        .select("vec_id", "cell", "rnk")
    )


# ---------------------------------------------------------------------------
# Embedding drift per label (r08): split the corpus into two deterministic
# halves (vec_id parity — stand-ins for "last week's embeddings vs this
# week's"), compute each label's decimal-exact mean vector per half, and
# report the cosine between the two half-means. Drift monitoring for
# embedding pipelines: a re-trained/re-versioned encoder shifts class
# centroids long before top-k quality visibly degrades.
# ---------------------------------------------------------------------------

_DRIFT_ORACLE = """
WITH half AS (
  SELECT vec_id, label, vec_id % 2 AS part, CAST(embedding AS DOUBLE[]) AS v
  FROM embeddings
),
comps AS (
  SELECT label, part, i,
         round(CAST(sum(CAST(v[CAST(i AS INT)] AS DECIMAL(38,12))) AS DOUBLE)
               / count(*), 9) AS c
  FROM (SELECT label, part, unnest(generate_series(1, len(v))) AS i, v FROM half)
  GROUP BY 1, 2, 3
),
means AS (
  SELECT label, part, list(c ORDER BY i) AS mv FROM comps GROUP BY 1, 2
),
counts AS (SELECT label, part, CAST(count(*) AS BIGINT) AS n FROM half GROUP BY 1, 2)
SELECT m0.label, c0.n AS n_a, c1.n AS n_b,
       round(list_cosine_similarity(m0.mv, m1.mv), 9) AS centroid_cosine
FROM means m0
JOIN means m1 ON m1.label = m0.label AND m0.part = 0 AND m1.part = 1
JOIN counts c0 ON c0.label = m0.label AND c0.part = 0
JOIN counts c1 ON c1.label = m1.label AND c1.part = 1
"""


@query("vec_label_drift", sql=_DRIFT_ORACLE)
def vec_label_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid drift between the two vec_id-parity halves:
    (label, n_a, n_b, centroid_cosine). Means are the kmeans-update device
    (per-dimension decimal-exact mean rounded to 9 — order-independent
    across engines and partitionings); the final cosine is the sequential
    fold vs DuckDB's list_cosine_similarity, rounded to 9. One (label,
    part, dim) partial-sum shuffle; everything after is label-sized."""
    emb = load_table(spark, sf_dir, "embeddings")
    half = emb.select(
        "label",
        (F.col("vec_id") % 2).alias("part"),
        F.col("embedding").cast("array<double>").alias("v"),
    )
    comps = (
        half.select("label", "part", F.posexplode("v").alias("dim_idx", "e"))
        .groupBy("label", "part", "dim_idx")
        .agg(
            F.round(
                F.sum(F.col("e").cast("decimal(38,12)")).cast("double")
                / F.count(F.lit(1)),
                9,
            ).alias("c")
        )
    )
    means = (
        comps.groupBy("label", "part")
        .agg(F.array_sort(F.collect_list(F.struct("dim_idx", "c"))).alias("__cs"))
        .select(
            "label", "part", F.transform("__cs", lambda s: s["c"]).alias("mv")
        )
    )
    counts = half.groupBy("label", "part").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    m0 = means.where(F.col("part") == 0).select("label", F.col("mv").alias("mv0"))
    m1 = means.where(F.col("part") == 1).select(
        F.col("label").alias("__l1"), F.col("mv").alias("mv1")
    )
    c0 = counts.where(F.col("part") == 0).select(
        F.col("label").alias("__l2"), F.col("n").alias("n_a")
    )
    c1 = counts.where(F.col("part") == 1).select(
        F.col("label").alias("__l3"), F.col("n").alias("n_b")
    )
    return (
        m0.join(m1, m0["label"] == m1["__l1"])
        .join(c0, m0["label"] == c0["__l2"])
        .join(c1, m0["label"] == c1["__l3"])
        .select(
            "label",
            "n_a",
            "n_b",
            F.round(similarity.cosine(F.col("mv0"), F.col("mv1")), 9).alias(
                "centroid_cosine"
            ),
        )
    )


# ---------------------------------------------------------------------------
# IVF nprobe ↔ recall sweep (r08): THE production ANN tuning decision —
# how much recall does each extra probed cell buy — measured in one
# oracle-checked statement: per query and per nprobe ∈ {1, 2, 4}, the
# overlap of IVF top-10 with the exact top-10.
# ---------------------------------------------------------------------------

_NPROBE_VALUES = (1, 2, 4)
_NPROBE_K = 10
_NPROBE_QMOD = 50


def _nprobe_oracle() -> str:
    nl = ",\n"
    blocks, finals = [], []
    for np_ in _NPROBE_VALUES:
        blocks.append(f"""ann{np_} AS (
  SELECT q_id, vec_id FROM (
    SELECT p.q_id, a.vec_id,
           row_number() OVER (
             PARTITION BY p.q_id
             ORDER BY round(list_cosine_similarity(p.qv, a.v), 9) DESC, a.vec_id
           ) AS rnk
    FROM (SELECT q_id, qv, cell FROM prob WHERE pr <= {np_}) p
    JOIN assign a USING (cell)
    WHERE a.vec_id <> p.q_id
  ) WHERE rnk <= {_NPROBE_K}
),
hit{np_} AS (
  SELECT x.q_id, count(*) AS n_hit
  FROM exact x JOIN ann{np_} a USING (q_id, vec_id) GROUP BY x.q_id
)""")
        finals.append(
            f"SELECT CAST({np_} AS BIGINT) AS nprobe, q.q_id, "
            f"CAST(COALESCE(h.n_hit, 0) AS BIGINT) AS n_hit, "
            f"round(CAST(COALESCE(h.n_hit, 0) AS DOUBLE) / {_NPROBE_K}, 9) AS recall "
            f"FROM (SELECT DISTINCT q_id FROM q) q LEFT JOIN hit{np_} h USING (q_id)"
        )
    return f"""
WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
ex AS (SELECT label, unnest(generate_series(1, len(v))) AS i, v FROM e),
comp AS (
  SELECT label, i,
         round(CAST(sum(CAST(v[CAST(i AS INT)] AS DECIMAL(38,12))) AS DOUBLE)
               / count(*), 9) AS c
  FROM ex GROUP BY label, i
),
cent AS (SELECT label AS cell, list(c ORDER BY i) AS cv FROM comp GROUP BY label),
scored AS (
  SELECT e.vec_id, e.v, c.cell,
         round(list_cosine_similarity(e.v, c.cv), 9) AS s
  FROM e, cent c
),
assign AS (
  SELECT vec_id, v, cell FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, cell) AS rn
    FROM scored
  ) WHERE rn = 1
),
q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id % {_NPROBE_QMOD} = 0),
exact AS (
  SELECT q_id, vec_id FROM (
    SELECT q.q_id, c2.vec_id,
           row_number() OVER (
             PARTITION BY q.q_id
             ORDER BY round(list_cosine_similarity(q.qv, c2.v), 9) DESC, c2.vec_id
           ) AS rnk
    FROM q JOIN e c2 ON c2.vec_id <> q.q_id
  ) WHERE rnk <= {_NPROBE_K}
),
prob AS (
  SELECT q_id, qv, cell,
         row_number() OVER (
           PARTITION BY q_id
           ORDER BY round(list_cosine_similarity(qv, cv), 9) DESC, cell
         ) AS pr
  FROM q, cent
),
{nl.join(blocks)}
{" UNION ALL ".join(finals)}
"""


@query("vec_ivf_nprobe_recall", sql=_nprobe_oracle())
def vec_ivf_nprobe_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of IVF serving at nprobe ∈ {1, 2, 4} against the exact
    top-10, per query — the cost/recall curve that picks production
    nprobe. All three sweeps share ONE codebook, ONE assignment and ONE
    exact baseline (the exact leg is computed once and joined three
    times); each ann leg scans only its probed cells. The oracle rebuilds
    codebook, assignment, probes, all three rankings and the overlaps."""
    emb = load_table(spark, sf_dir, "embeddings")
    # r13: the docstring's sharing claim is now enforced in the plan. The
    # codebook is consumed SIX times per run (once by the assignment, once
    # by each leg's probe ranking, plus the assignment's own reference) and
    # the corpus-wide assignment THREE times (one join per nprobe leg);
    # unpinned, each consumer re-derived the centroid aggregation and the
    # packed argmax from the parquet scan — the before plan carries 84
    # Exchanges / 30 embeddings scans and zero planned reuse. Eager pin on
    # the k-row codebook (trivial), lazy pin on the assignment so all three
    # legs materialize it once inside the single measuring job (the
    # vec_pq_recall_sweep lazy-checkpoint pattern). Results are identical —
    # pinning changes execution, not the computation.
    cents = similarity.centroid_vectors(emb).localCheckpoint(eager=True)
    assigned = similarity.ivf_assign(emb, cents).localCheckpoint(eager=False)
    queries = emb.where(F.col("vec_id") % _NPROBE_QMOD == 0).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    exact = (
        similarity.brute_force_topk(queries, emb, k=_NPROBE_K)
        .select("q_id", "vec_id")
        .localCheckpoint(eager=True)  # shared by all three sweeps
    )
    qids = queries.select("q_id").distinct()
    parts = []
    for np_ in _NPROBE_VALUES:
        ann = similarity.ivf_topk(
            queries, assigned, cents, k=_NPROBE_K, nprobe=np_
        ).select("q_id", "vec_id")
        hits = exact.join(ann, ["q_id", "vec_id"]).groupBy("q_id").agg(
            F.count(F.lit(1)).alias("__h")
        )
        parts.append(
            qids.join(hits, "q_id", "left").select(
                F.lit(np_).cast("bigint").alias("nprobe"),
                "q_id",
                F.coalesce(F.col("__h"), F.lit(0)).cast("bigint").alias("n_hit"),
                F.round(
                    F.coalesce(F.col("__h"), F.lit(0)).cast("double") / F.lit(_NPROBE_K),
                    9,
                ).alias("recall"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out
