"""Similarity-search tests: oracle parity + LSH recall vs exact."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entrymod
from parallelized_hybrid_sorting_using_quick_insertion_sort_for_big_data_spark.operators import (
    similarity,
)
from parallelized_hybrid_sorting_using_quick_insertion_sort_for_big_data_spark.suites.vectors import (
    _PLANES as PLANES,
)
from tests.conftest import SF_DIR, assert_matches_oracle

ORACLE_QUERIES = [
    "vec_cosine_topk",
    "vec_exact_near_dup",
    "vec_label_centroids",
    "vec_lsh_portable",
    "vec_lsh_near_dup",
    "vec_kmeans_centroids",
    "vec_ann_recall",
    "search_hybrid_rrf",
    "vec_pq_codes",
    "vec_pq_adc_topk",
    "vec_pq_recall",
    "vec_pq_recall_sweep",
    "vec_ivfpq_topk",
    # r08 third-session adds
    "decontam_embedding",
    "vec_matryoshka_recall",
    "sample_cluster_balanced",
    "vec_label_drift",
    "vec_ivf_nprobe_recall",
    # r09 recency-guard backfill
    "vec_ivf_topk",
]


def test_pq_adc_reconstruction_sane(spark):
    """ADC scores are dot products against PQ reconstructions — for the
    codebook-init vectors (vec_id < k, which sit AT a centroid only when
    they form singleton cells) the ADC score of any vector against itself-
    as-query must be within the corpus's max |dot| envelope; concretely,
    every returned score must be finite and the ranking strictly ordered."""
    qs = entrymod.queries()
    rows = qs["vec_pq_adc_topk"](spark, SF_DIR).collect()
    assert len(rows) == 10
    scores = [r["adc_score"] for r in rows]
    assert all(s == s for s in scores)  # no NaN
    assert scores == sorted(scores, reverse=True)


def test_pq_codes_shape(spark):
    """Every vector gets exactly m codes, one per subspace, each in [0, k);
    identical vectors (the k init ids vs themselves) get identical codes."""
    qs = entrymod.queries()
    rows = qs["vec_pq_codes"](spark, SF_DIR).collect()
    n_vec = len({r["vec_id"] for r in rows})
    assert len(rows) == 4 * n_vec
    assert {r["sub"] for r in rows} == {0, 1, 2, 3}
    assert all(0 <= r["code"] < 8 for r in rows)


@pytest.mark.slow
def test_pq_recall_sweep_surface(spark):
    """The m×k sweep (VERDICT r08 item 5) emits one row per design point
    with a well-formed recall, and the m=4/k=8 row agrees exactly with a
    directly-computed ADC ranking under the SAME sample-fit codebooks
    (r11: the sweep fits on the 25% md5-coin sample, so it no longer
    shares the full-corpus fit of the single-config vec_pq_recall — the
    cross-check recomputes the sample-fit leg instead). No monotonicity
    pin: this corpus is random near-orthogonal vectors (PQ-hard, flat-low
    surface by construction); the value check is the DuckDB oracle
    parity."""
    from parallelized_hybrid_sorting_using_quick_insertion_sort_for_big_data_spark.suites import (
        vectors as VQ,
    )

    qs = entrymod.queries()
    rows = {(r["m"], r["k"]): r for r in qs["vec_pq_recall_sweep"](spark, SF_DIR).collect()}
    assert set(rows) == {(4, 8), (4, 16), (8, 8), (8, 16)}
    for r in rows.values():
        assert 0 <= r["n_hit"] <= 10
        assert abs(r["recall"] - r["n_hit"] / 10) < 1e-9
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    exact = {
        r["vec_id"]
        for r in similarity.brute_force_topk(
            emb.where(F.col("vec_id") == 7).select(
                F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
            ),
            emb,
            k=10,
        ).collect()
    }
    adc = {
        r["vec_id"]
        for r in similarity.pq_adc_topk(
            emb, query_id=7, m=4, k=8, iters=VQ._PQ_ITERS, dim=VQ._PQ_DIM,
            topk=10, fit_sample=VQ._PQ_FIT_SAMPLE,
        ).collect()
    }
    assert rows[(4, 8)]["n_hit"] == len(exact & adc)


def test_rrf_fused_ranks_contiguous(spark):
    """The fused rank must be a 1..n permutation over the union of leg
    candidates, and every doc present in both legs must outscore a doc
    ranked equally in only one leg (the RRF monotonicity property)."""
    qs = entrymod.queries()
    rows = qs["search_hybrid_rrf"](spark, SF_DIR).collect()
    ranks = sorted(r["fused_rank"] for r in rows)
    assert ranks == list(range(1, len(rows) + 1))
    by_id = {r["doc_id"]: r for r in rows}
    for r in rows:
        both = r["bm25_rank"] is not None and r["dense_rank"] is not None
        if both:
            # a doc holding rank k in BOTH legs beats any doc holding rank
            # k in exactly one leg
            k1, k2 = r["bm25_rank"], r["dense_rank"]
            for o in rows:
                if o["doc_id"] == r["doc_id"]:
                    continue
                if o["bm25_rank"] == min(k1, k2) and o["dense_rank"] is None:
                    assert r["rrf_score"] > o["rrf_score"]


@pytest.mark.parametrize("name", ORACLE_QUERIES)
def test_oracle_parity(spark, name):
    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    assert_matches_oracle(qs[name](spark, SF_DIR), oracles[name], SF_DIR)


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet")


def _perturbed_corpus(spark, emb, eps=0.02, shift=50_000):
    """Corpus ∪ slightly-perturbed copy (cos ≈ 0.998): the realistic near-dup
    case LSH must recover (identical copies would be trivial)."""
    import numpy as np
    import pandas as pd

    pdf = emb.select("vec_id", "embedding").toPandas()
    rng = np.random.default_rng(42)
    pert = pdf.copy()
    pert["vec_id"] = pert["vec_id"] + shift
    pert["embedding"] = pert["embedding"].map(
        lambda v: (np.asarray(v, dtype="float64") + eps * rng.standard_normal(len(v))).tolist()
    )
    both = pd.concat([pdf, pert], ignore_index=True)
    both["embedding"] = both["embedding"].map(lambda v: [float(x) for x in v])
    return spark.createDataFrame(both, schema="vec_id long, embedding array<double>")


def test_lsh_recall_vs_exact_on_perturbed(spark, emb):
    corpus = _perturbed_corpus(spark, emb.limit(200))
    exact = {
        (r["id_a"], r["id_b"])
        for r in similarity.exact_near_dup_pairs(corpus, threshold=0.95).collect()
    }
    approx = {
        (r["id_a"], r["id_b"])
        for r in similarity.lsh_near_dup_pairs(
            corpus, PLANES, threshold=0.95, nbits=10
        ).collect()
    }
    assert len(exact) >= 150, f"expected ~200 planted pairs, got {len(exact)}"
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.8, f"LSH recall {recall} ({len(exact & approx)}/{len(exact)})"
    # precision is 1.0 by construction (exact re-rank): no false positives
    assert approx <= exact


def test_blocked_gemm_matches_naive_exact(spark, emb):
    """The blocked-GEMM exact pair join returns the identical pair set and
    round(9) sims as the per-pair expression-fold form."""
    corpus = _perturbed_corpus(spark, emb.limit(150))
    naive = {
        (r["id_a"], r["id_b"], r["sim"])
        for r in similarity.exact_near_dup_pairs(corpus, threshold=0.95).collect()
    }
    blocked = {
        (r["id_a"], r["id_b"], r["sim"])
        for r in similarity.exact_near_dup_pairs_blocked(
            corpus, threshold=0.95, block_size=64
        ).collect()
    }
    assert blocked == naive
    assert len(blocked) >= 100


def test_recall_leg_pairs_are_distinct(spark):
    """ADVICE r11: vec_ann_recall's single-pass full-outer form assumes both
    pair legs are duplicate-free on (id_a, id_b) — a duplicated row would
    multiply counts through the join, where the old triple-aggregate form
    counted legs independently. The invariant holds by construction today;
    this pin makes an operator change that drops the dedup fail loudly
    instead of silently skewing recall."""
    from parallelized_hybrid_sorting_using_quick_insertion_sort_for_big_data_spark.suites import (
        vectors as V,
    )

    corpus, n = V._dup_corpus(spark, SF_DIR)
    exact = similarity.exact_near_dup_pairs_blocked(
        corpus, threshold=V._ANN_RECALL_T, n_rows=n
    )
    ann = similarity.lsh_near_dup_pairs(
        corpus, V._ANN_PLANES, threshold=V._ANN_RECALL_T, nbits=len(V._ANN_PLANES)
    )
    for label, leg in (("exact", exact), ("ann", ann)):
        worst = (
            leg.groupBy("id_a", "id_b")
            .count()
            .agg(F.max("count").alias("m"))
            .collect()[0]["m"]
        )
        assert worst == 1, f"{label} leg emits duplicated pairs (max count {worst})"


def test_ivf_full_probe_equals_brute_force(spark, emb):
    """Probing EVERY cell makes IVF exhaustive: must equal the brute-force
    top-k exactly."""
    corpus = emb.limit(200)
    cents = similarity.centroid_vectors(corpus)
    n_cells = cents.count()
    assigned = similarity.ivf_assign(corpus, cents)
    queries = corpus.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    full = {
        tuple(r)
        for r in similarity.ivf_topk(queries, assigned, cents, k=5, nprobe=n_cells).collect()
    }
    brute = {tuple(r) for r in similarity.brute_force_topk(queries, corpus, k=5).collect()}
    assert full == brute and len(full) == 25


def test_ivf_finds_planted_twin(spark, emb):
    """A query identical to a corpus vector lands in that vector's cell, so
    even nprobe=1 must return the twin at rank 1 with sim 1.0."""
    corpus = _perturbed_corpus(spark, emb.limit(100), eps=0.0)
    cents = similarity.centroid_vectors(
        corpus.join(emb.select("vec_id", "label"), "vec_id", "left").fillna(0, ["label"])
    )
    assigned = similarity.ivf_assign(corpus, cents)
    queries = corpus.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    top = similarity.ivf_topk(queries, assigned, cents, k=1, nprobe=1).collect()
    assert len(top) == 5
    for r in top:
        assert r["vec_id"] == r["q_id"] + 50_000 and r["sim"] == 1.0


def test_kmeans_improves_on_init_and_is_deterministic(spark, emb):
    """Lloyd iterations must not WORSEN the mean assignment similarity vs
    the raw init codebook, and the fit is a pure function of the input."""
    from pyspark.sql import functions as F

    def mean_sim(cents):
        assigned = similarity.ivf_assign(emb, cents)
        joined = assigned.join(
            F.broadcast(cents.select(F.col("cell"), F.col("centroid"))), "cell"
        )
        sim = similarity.cosine(
            F.col("embedding").cast("array<double>"), F.col("centroid")
        )
        return joined.agg(F.avg(sim)).first()[0]

    init = emb.where(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("cell"), F.col("embedding").cast("array<double>").alias("centroid")
    )
    fit = similarity.kmeans_fit(emb, k=8, iters=3)
    assert mean_sim(fit) >= mean_sim(init) - 1e-9
    a = {(r["cell"], tuple(r["centroid"])) for r in fit.collect()}
    b = {
        (r["cell"], tuple(r["centroid"]))
        for r in similarity.kmeans_fit(emb, k=8, iters=3).collect()
    }
    assert a == b and len(a) > 0


def test_lsh_signature_deterministic(spark, emb):
    def buckets():
        sig = similarity.lsh_signature_planes(emb.limit(30), PLANES[:12])
        return sorted(sig.select("vec_id", "bucket").collect())

    a, b = buckets(), buckets()
    assert a == b


def test_cosine_self_is_one(spark, emb):
    v = F.col("embedding").cast("array<double>")
    out = emb.limit(20).select(F.round(similarity.cosine(v, v), 9).alias("c")).collect()
    assert all(abs(r["c"] - 1.0) < 1e-9 for r in out)


def test_topk_rank_is_dense_per_query(spark, emb):
    queries = emb.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    out = similarity.brute_force_topk(queries, emb, k=4).toPandas()
    for qid, grp in out.groupby("q_id"):
        assert sorted(grp["rnk"].tolist()) == [1, 2, 3, 4]
        assert grp.sort_values("rnk")["sim"].is_monotonic_decreasing


def test_choose_nbits_tracks_corpus_size():
    """Auto nbits keeps expected bucket population ~constant: grows with
    log2(n), clamped to [6, 24]."""
    assert similarity.choose_nbits(0) == 6
    assert similarity.choose_nbits(1_000) == 6          # clamp floor
    assert similarity.choose_nbits(100_000) == 12       # 100k/32 -> 2^12
    assert similarity.choose_nbits(10_000_000) == 19
    assert similarity.choose_nbits(10**12) == 24        # clamp ceiling
    for small, big in ((10_000, 1_000_000), (1_000_000, 100_000_000)):
        assert similarity.choose_nbits(small) < similarity.choose_nbits(big)
    # expected bucket population within 2x of target at an unclamped point
    n = 2_000_000
    nb = similarity.choose_nbits(n)
    assert n / 2**nb <= 32 <= 2 * (n / 2**nb) + 32


def test_choose_nbits_matches_sql_mirror():
    """The LSH width (r09 scale fix) must be CROSS-ENGINE EXACT: the
    integer-arithmetic Python form and the generated DuckDB form
    (``nbits_sql``) agree at every count, including exact powers of two
    where a float log2 could flip the last ulp — at the defaults and at
    the ~4-vectors-per-bucket, 16-bit setting."""
    import duckdb

    counts = [0, 1, 4, 5, 255, 256, 257, 999, 1000, 1001, 1023, 1024,
              1025, 4000, 40000, 262143, 262144, 262145, 10**7]
    for kw in ({}, {"target_bucket_size": 4, "max_bits": 16}):
        sql = similarity.nbits_sql("c", **kw)
        for n in counts:
            got = duckdb.sql(f"WITH c AS (SELECT * FROM range({n})) {sql}").fetchone()[0]
            assert similarity.choose_nbits(n, **kw) == got, (n, kw)
    # clamp floor / ceiling and monotonicity
    assert similarity.choose_nbits(0, 4) == 6
    assert similarity.choose_nbits(10**12, 4, max_bits=16) == 16
    assert similarity.choose_nbits(1_000, 4) == 8  # sf0.01 corpus: unchanged vs r09
    for small, big in ((1_000, 40_000), (40_000, 200_000)):
        assert similarity.choose_nbits(small, 4) < similarity.choose_nbits(big, 4)


def test_make_planes_prefix_stable():
    """One max-width literal plane table serves every adaptive width:
    row p depends only on (seed, p, i), never on nbits."""
    assert similarity.make_planes(16, 64, 42)[:8] == similarity.make_planes(8, 64, 42)


def test_adaptive_oracle_rejects_short_plane_table():
    """The adaptive oracle gates bits up to max_bits, so a plane table
    shorter than max_bits would silently zero the high bits on the oracle
    side only — it must be rejected loudly instead."""
    import pytest as _pytest

    planes = similarity.make_planes(8, 4, 42)
    with _pytest.raises(ValueError):
        similarity.lsh_adaptive_oracle_sql(planes, 0.95, "SELECT 1", max_bits=16)


def test_bucketed_gemm_equals_lsh_path(spark, emb):
    """bucketed_near_dup_pairs must return the IDENTICAL pair set (and
    round-9 sims) as lsh_near_dup_pairs at equal nbits — same candidates,
    GEMM re-rank instead of per-pair folds — and stay a subset of the
    exact pairs. (The two paths default to different bucket-size targets,
    so the shared target is explicit here.)"""
    for limit in (100, 200):
        corpus = _perturbed_corpus(spark, emb.limit(limit))
        n = 2 * limit
        lsh = {
            (r["id_a"], r["id_b"], r["sim"])
            for r in similarity.lsh_near_dup_pairs(
                corpus, PLANES, threshold=0.95, n_rows=n, target_bucket_size=16
            ).collect()
        }
        bucketed = {
            (r["id_a"], r["id_b"], r["sim"])
            for r in similarity.bucketed_near_dup_pairs(
                corpus, PLANES, threshold=0.95, n_rows=n, target_bucket_size=16
            ).collect()
        }
        assert bucketed == lsh, f"limit={limit}"
        exact = {
            (r["id_a"], r["id_b"])
            for r in similarity.exact_near_dup_pairs(corpus, threshold=0.95).collect()
        }
        found = {(a, b) for a, b, _ in bucketed}
        assert found <= exact
        recall = len(found & exact) / len(exact)
        assert recall >= 0.8, f"limit={limit} recall {recall}"


def test_bucketed_gemm_sub_blocks_invariant(spark, emb):
    """The sub-block straggler guard must not change the result."""
    corpus = _perturbed_corpus(spark, emb.limit(80))
    base = {
        tuple(r)
        for r in similarity.bucketed_near_dup_pairs(
            corpus, PLANES, threshold=0.95, nbits=6, sub_blocks=1
        ).collect()
    }
    split = {
        tuple(r)
        for r in similarity.bucketed_near_dup_pairs(
            corpus, PLANES, threshold=0.95, nbits=6, sub_blocks=3
        ).collect()
    }
    assert base == split and len(base) >= 40


# ---------------------------------------------------------------------------
# int8 scalar quantization
# ---------------------------------------------------------------------------


def test_quantize_int8_oracle_parity(spark):
    import __spark_entry__ as entrymod
    from tests.conftest import SF_DIR, assert_matches_oracle

    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    assert_matches_oracle(
        qs["vec_quantize_int8"](spark, SF_DIR), oracles["vec_quantize_int8"], SF_DIR
    )


def test_quantize_int8_properties(spark):
    rows = [
        (1, [1.0, -1.0, 0.5, -0.25]),   # extremes map to ±127
        (2, [0.0, 0.0, 0.0, 0.0]),      # zero vector -> all zeros
        (3, [3.0, 1.5, -3.0, 0.1]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {(r["vec_id"], r["dim"]): r["q"] for r in similarity.quantize_int8(df).collect()}
    assert out[(1, 0)] == 127 and out[(1, 1)] == -127
    assert all(out[(2, d)] == 0 for d in range(4))
    assert out[(3, 0)] == 127 and out[(3, 2)] == -127
    # bounds + reconstruction error <= half a quantization step
    for (vid, dim), q in out.items():
        assert -127 <= q <= 127
    orig = {r[0]: r[1] for r in rows}
    for (vid, dim), q in out.items():
        xs = orig[vid]
        maxabs = max(abs(v) for v in xs)
        if maxabs:
            assert abs(xs[dim] - q * maxabs / 127) <= maxabs / 127 / 2 + 1e-9


def test_semantic_dedup_oracle_parity(spark):
    import __spark_entry__ as entrymod
    from tests.conftest import SF_DIR, assert_matches_oracle

    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    assert_matches_oracle(
        qs["vec_semantic_dedup"](spark, SF_DIR), oracles["vec_semantic_dedup"], SF_DIR
    )


def test_semantic_dedup_drops_exactly_the_planted_copies(spark):
    """Planted completeness: over corpus ∪ id-shifted copy every base
    vector must survive and every shifted copy must be dropped (identical
    vector → same cell, same cos_c, tie to the lower id) — the end-to-end
    guarantee the operator exists for."""
    from parallelized_hybrid_sorting_using_quick_insertion_sort_for_big_data_spark.suites import (
        vectors as V,
    )
    from tests.conftest import SF_DIR

    corpus, n = V._dup_corpus(spark, SF_DIR)
    out = similarity.semantic_dedup(corpus, k=8, iters=3, tau=V._SEMDEDUP_TAU)
    rows = {r["vec_id"]: r["kept"] for r in out.collect()}
    assert len(rows) == n
    base = {i for i, kept in rows.items() if i < V._VEC_SHIFT}
    assert all(rows[i] for i in base), "a base vector was dropped"
    assert not any(rows[i + V._VEC_SHIFT] for i in base), "a planted copy survived"


def test_semantic_dedup_greedy_small_case(spark):
    """Hand-checkable 1-cluster case with a duplicate CHAIN (a~b, b~c but
    not a~c): dominance semantics keep the highest-priority member and
    drop everything dominated by a kept-or-dropped higher-priority mate —
    pinned so the documented single-pass semantics can't silently drift
    toward the iterative variant."""
    import math

    # unit vectors in 2D at angles 0, 10, 20, 80 degrees; tau=0.98 ->
    # duplicates are pairs 10 degrees apart (cos 10deg = .9848 > .98,
    # cos 20deg = .9397 < .98): (0,1) and (1,2) only.
    vecs = {
        0: 0.0,
        1: math.radians(10),
        2: math.radians(20),
        3: math.radians(80),
    }
    rows = [(i, [math.cos(t), math.sin(t)]) for i, t in vecs.items()]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = similarity.semantic_dedup(df, k=1, iters=1, tau=0.98)
    kept = {r["vec_id"]: r["kept"] for r in out.collect()}
    # centroid is the mean direction (~25.8 deg): priorities (farther
    # from centroid first): 3 (54.2 off), 0 (25.8), 1 (15.8), 2 (5.8).
    # 3 has no duplicate -> kept. 0~1: 0 outranks 1 -> 1 dropped.
    # 1~2: 1 outranks 2 -> 2 dropped by its dominated-by-1 edge even
    # though 1 itself is dropped — the documented single-pass dominance
    # rule (an iterative sweep would re-admit 2).
    assert kept == {0: True, 1: False, 2: False, 3: True}


@pytest.mark.slow
def test_zero_norm_vectors_never_raise(spark):
    """r09: a zero-norm vector in the corpus must yield NULL sim (dropped
    by thresholds / ranked last), never an ANSI DIVIDE_BY_ZERO task
    failure — pins the try_divide fix in exact_near_dup_pairs,
    brute_force_topk, and the LSH candidate re-rank."""
    df = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 0.0]), (2, [1.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    pairs = similarity.exact_near_dup_pairs(df, threshold=0.5).collect()
    assert {(r["id_a"], r["id_b"]) for r in pairs} == {(0, 2)}
    qs = df.where("vec_id = 1").select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    topk = similarity.brute_force_topk(
        qs, df, k=2, query_id="q_id", query_vec="q_emb"
    ).collect()
    assert len(topk) == 2 and all(r["sim"] is None for r in topk)
    planes = similarity.make_planes(4, 2, 42)
    lsh = similarity.lsh_near_dup_pairs(df, planes, threshold=0.5, nbits=4).collect()
    assert {(r["id_a"], r["id_b"]) for r in lsh} <= {(0, 2)}


def test_semantic_dedup_null_and_zero_norm(spark):
    """ADVICE r07 pins: (a) rows with NULL or empty embeddings are
    EXCLUDED from the output (np.stack on a ragged/None cell would raise
    mid-task — the operator filters them as a precondition); (b) a
    zero-norm vector has pairwise sim 0 to everything, so it is always
    kept and never dominates a mate, and its cos_c is NULL (the ANSI-safe
    try_divide fold yields NULL; pandas sorts the NaN image last — lowest
    keep priority — and Arrow writes it back as NULL) — the documented
    divergence from the old raising/NaN expression path."""
    rows = [
        (0, [1.0, 0.0]),
        (1, [1.0, 0.0]),            # exact dup of 0 -> one of them drops
        (2, [0.0, 0.0]),            # zero-norm: kept, dominates nobody
        (3, None),                  # null embedding: excluded
        (4, []),                    # empty embedding: excluded
        (5, [0.0, 1.0]),            # orthogonal: kept
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = similarity.semantic_dedup(df, k=1, iters=1, tau=0.9)
    got = {r["vec_id"]: r for r in out.collect()}
    assert set(got) == {0, 1, 2, 5}, "null/empty rows must be excluded"
    assert got[2]["kept"] is True
    assert got[2]["cos_c"] is None
    # zero vector never dominates: both unit vectors behave as if it
    # were absent — the 0/1 dup pair still resolves to exactly one kept
    assert sorted([got[0]["kept"], got[1]["kept"]]) == [False, True]
    assert got[5]["kept"] is True


def test_semantic_dedup_rounding_margin(spark):
    """ADVICE r07 guard: oracle parity of the GEMM sweep relies on
    round(sim, 9) agreeing with DuckDB's sequential-fold cosine AT THE
    DECISION POINT. Sims reach the output only through `rounded > tau`,
    so the kept flag can flap between engines only if an UNROUNDED sim
    sits within engine-divergence (float64 association differences, a few
    ulp ~1e-15) of the one boundary where the rounded value crosses tau:
    tau + 0.5e-9. Assert no in-cell pair's sim is within 1e-12 of that
    point on the actual dedup corpus — turning the docstring's 'empirical
    agreement' into a checked invariant. (Proximity to OTHER rounding
    boundaries is harmless: both engines' rounded values stay on the same
    side of tau.)"""
    import numpy as np

    from parallelized_hybrid_sorting_using_quick_insertion_sort_for_big_data_spark.suites import (
        vectors as V,
    )

    corpus, _ = V._dup_corpus(spark, SF_DIR)
    cents = similarity.kmeans_fit(corpus, 8, 3)
    assigned = similarity.ivf_assign(corpus, cents)
    by_cell = {}
    for r in assigned.select("vec_id", "cell").join(
        corpus, "vec_id"
    ).collect():
        by_cell.setdefault(r["cell"], []).append(r["embedding"])
    decision_boundary = V._SEMDEDUP_TAU + 0.5e-9
    margin = 1e-12  # >= 3 orders above worst-case float64 fold divergence
    checked = 0
    for vecs in by_cell.values():
        if len(vecs) < 2:
            continue
        v = np.array(vecs, dtype=np.float64)
        nrm = np.linalg.norm(v, axis=1, keepdims=True)
        nrm[nrm == 0.0] = 1.0
        sims = (v @ v.T) / (nrm * nrm.T)
        iu = np.triu_indices(len(v), k=1)
        s = sims[iu]
        dist = np.abs(s - decision_boundary)
        assert dist.min() > margin, (
            f"a pair sim sits {dist.min():.2e} from the tau+0.5e-9 "
            "decision boundary — the kept flag could flap between engines"
        )
        checked += len(s)
    assert checked > 100, "vacuous: too few in-cell pairs checked"


def test_decontam_embedding_catches_planted_contaminants(spark):
    """Every planted copy (shifted id >= 2M, an exact benchmark vector)
    must flag contaminated with max_sim exactly 1.0; the background
    corpus (random near-orthogonal vectors) must be mostly clean."""
    rows = entrymod.queries()["decontam_embedding"](spark, SF_DIR).collect()
    planted = [r for r in rows if r["vec_id"] >= 2_000_000]
    assert planted and all(r["contaminated"] and r["max_sim"] == 1.0 for r in planted)
    background = [r for r in rows if r["vec_id"] < 2_000_000]
    clean = sum(not r["contaminated"] for r in background)
    assert clean > len(background) * 0.5


def test_matryoshka_recall_bounds_and_self_consistency(spark):
    rows = entrymod.queries()["vec_matryoshka_recall"](spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert 0 <= r["n_hit"] <= 10
        assert r["recall"] == round(r["n_hit"] / 10, 9)


@pytest.mark.slow
def test_cluster_balanced_sample_caps_every_cell(spark):
    rows = entrymod.queries()["sample_cluster_balanced"](spark, SF_DIR).collect()
    from collections import Counter

    per_cell = Counter(r["cell"] for r in rows)
    assert per_cell and max(per_cell.values()) <= 40
    # ranks are 1..n_kept within each cell (dense, no gaps)
    by_cell = {}
    for r in rows:
        by_cell.setdefault(r["cell"], []).append(r["rnk"])
    for ranks in by_cell.values():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))


@pytest.mark.slow
def test_nprobe_recall_monotone_in_probes(spark):
    """More probed cells can only ADD candidates, so per-query recall is
    non-decreasing in nprobe — the property that makes the sweep a valid
    tuning curve."""
    rows = entrymod.queries()["vec_ivf_nprobe_recall"](spark, SF_DIR).collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r["q_id"], {})[r["nprobe"]] = r["recall"]
    assert by_q
    for q, rec in by_q.items():
        assert rec[1] <= rec[2] <= rec[4], (q, rec)
