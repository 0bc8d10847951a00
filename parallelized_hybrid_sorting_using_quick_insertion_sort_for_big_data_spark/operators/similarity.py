"""Similarity search over embedding columns (extension layer, SURVEY §2c):
brute-force cosine top-k baseline, LSH-bucketed ANN scale path, exact
near-dup pairs, per-label centroids.

Scale design:
- brute-force top-k BROADCASTS the (small) query set and streams the corpus
  once — a broadcast nested-loop join followed by per-query top-k; no corpus
  shuffle, no driver collect. Right answer for "a handful of queries against
  100 TB of vectors".
- the ANN path reduces each vector to an nbits-bit random-hyperplane
  signature (sign of dot with a shared literal plane table, ``make_planes``
  — the same literals the generated DuckDB oracle embeds) and equi-joins on
  bucket; candidates are re-ranked exactly. Probe radius 1 (flip each bit)
  trades recall vs cost without ever going quadratic.
- all vector math is built-in higher-order functions (zip_with/aggregate/
  transform) on array<double> — JVM-side, no UDF.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda s, v: s + v)


def norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda s, v: s + v))


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity of two array<double> columns (sequential fold —
    deterministic order, engine-portable to 1 ulp). ``try_divide`` makes
    it TOTAL under ANSI mode (Spark 4 default): a zero-norm vector yields
    NULL — which never exceeds a threshold and never dominates — instead
    of a DIVIDE_BY_ZERO task failure. Bitwise-identical to plain division
    for every nonzero denominator."""
    return F.try_divide(dot(a, b), norm(a) * norm(b))


def _as_double(col: Column) -> Column:
    return col.cast("array<double>")


def brute_force_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    query_id: str = "q_id",
    query_vec: str = "q_emb",
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    round_digits: int | None = 9,
    exclude_self: bool = True,
) -> DataFrame:
    """Exact cosine top-k per query: broadcast(queries) ⨯ corpus → window
    top-k partitioned by query. Output: (q_id, vec_id, sim, rnk)."""
    # norms once per row on each side — never per pair: the naive
    # cosine(a,b) recomputes both norms inside every pair's expression,
    # tripling the fold work on the |queries|×|corpus| hot path
    q = queries.withColumn("__qn", norm(_as_double(F.col(query_vec))))
    c = corpus.withColumn("__cn", norm(_as_double(F.col(corpus_vec))))
    sim = F.try_divide(
        dot(_as_double(F.col(query_vec)), _as_double(F.col(corpus_vec))),
        F.col("__qn") * F.col("__cn"),
    )
    if round_digits is not None:
        sim = F.round(sim, round_digits)
    pairs = F.broadcast(q).crossJoin(c).select(
        F.col(query_id), F.col(corpus_id), sim.alias("sim")
    )
    if exclude_self:
        pairs = pairs.where(F.col(query_id) != F.col(corpus_id))
    w = Window.partitionBy(query_id).orderBy(F.col("sim").desc(), F.col(corpus_id))
    return (
        pairs.withColumn("rnk", F.row_number().over(w).cast("bigint"))
        .where(F.col("rnk") <= k)
        .select(query_id, corpus_id, "sim", "rnk")
    )


def exact_near_dup_pairs(
    df: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int | None = 9,
) -> DataFrame:
    """All pairs with cosine ≥ threshold — exact, via self cross join.
    Quadratic: correct baseline at test scale; at corpus scale use
    ``lsh_near_dup_pairs`` (bucketed candidates) instead.

    Zero-norm edge: ``try_divide`` (here, in ``brute_force_topk``, and in
    the LSH re-rank) makes a zero-norm vector's sim NULL instead of an
    ANSI DIVIDE_BY_ZERO task failure (Spark 4 default — a plain ``/``
    raised; caught and fixed r09). NULL never crosses the threshold, the
    same OUTCOME as the GEMM paths (``exact_near_dup_pairs_blocked``,
    semantic dedup), which define zero-norm pairwise cosine as 0: both
    conventions drop the pair, only the intermediate differs.
    ``try_divide`` is bitwise-identical to ``/`` for every nonzero
    denominator, so oracle hashes are unaffected. Pinned by
    ``test_zero_norm_vectors_never_raise`` and
    ``test_semantic_dedup_null_and_zero_norm``."""
    withn = df.withColumn("__n", norm(_as_double(F.col(vec_col))))
    a = withn.select(
        F.col(id_col).alias("id_a"), F.col(vec_col).alias("__va"), F.col("__n").alias("__na")
    )
    b = withn.select(
        F.col(id_col).alias("id_b"), F.col(vec_col).alias("__vb"), F.col("__n").alias("__nb")
    )
    sim = F.try_divide(
        dot(_as_double(F.col("__va")), _as_double(F.col("__vb"))),
        F.col("__na") * F.col("__nb"),
    )
    if round_digits is not None:
        sim = F.round(sim, round_digits)
    return (
        a.crossJoin(b)
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", sim.alias("sim"))
        .where(F.col("sim") >= threshold)
    )


def exact_near_dup_pairs_blocked(
    df: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_size: int = 512,
    round_digits: int | None = 9,
    n_rows: int | None = None,
) -> DataFrame:
    """All pairs with cosine ≥ threshold — exact, via blocked matrix multiply.

    Same O(n²) flops as the naive cross join, but executed as B·(B+1)/2
    block-pair GEMMs (numpy, Arrow-batched ``applyInPandas``) instead of
    per-pair ``zip_with`` folds — two orders of magnitude faster per flop,
    and each task is one cache-friendly (block × block) matrix product.

    Topology: rows are hashed into B blocks; each block is shipped to the
    B block-pairs it participates in (shuffle volume O(n·B) rows), then
    each (bi ≤ bj) group computes its GEMM independently. This is the
    standard exact-similarity-join decomposition; at corpus scale you
    bound B by running it per LSH bucket or IVF cell
    (``lsh_near_dup_pairs``) rather than corpus-wide.

    Block sizing (r11): ``block_size`` is a FLOOR, not the divisor — the
    effective block grows with the corpus so B stays ≈64 (replication —
    and therefore shuffle volume per row — stops growing linearly with n)
    until blocks hit the 4096-row ceiling that bounds each task's sims
    matrix at ≤128 MB; past that point B grows again (inherent to the
    O(n²) decomposition — the docstring's per-bucket prescription is the
    real scale path). Block count affects only the physical grouping:
    the pair set and every rounded sim are block-layout-independent.

    ``n_rows`` (an UPPER bound is fine — blocks just run underfull) skips
    the sizing count.
    """
    import pandas as pd

    spark = df.sparkSession
    if n_rows is None:
        # metadata-only for a plain parquet scan; a real job for derived
        # frames — callers at scale should pass n_rows (or use
        # ``bucketed_near_dup_pairs``, which never needs a corpus-wide B)
        n_rows = df.count()
    eff_block = min(max(block_size, -(-n_rows // 64)), 4096)
    n_blocks = max(1, -(-n_rows // eff_block))

    vecs = df.select(
        F.col(id_col).alias("__id"),
        _as_double(F.col(vec_col)).alias("__v"),
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_blocks)).cast("int").alias("__blk"),
    )
    pair_rows = [
        (bi * n_blocks + bj, bi, bj)
        for bi in range(n_blocks)
        for bj in range(bi, n_blocks)
    ]
    pairs = spark.createDataFrame(pair_rows, "pair_id int, blk_a int, blk_b int")

    side_a = vecs.join(F.broadcast(pairs), vecs["__blk"] == pairs["blk_a"]).select(
        "pair_id", F.lit(0).alias("side"), "__id", "__v"
    )
    side_b = vecs.join(F.broadcast(pairs), vecs["__blk"] == pairs["blk_b"]).select(
        "pair_id", F.lit(1).alias("side"), "__id", "__v"
    )
    tagged = side_a.unionAll(side_b)

    def _gemm(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        a = pdf[pdf["side"] == 0]
        b = pdf[pdf["side"] == 1]
        if a.empty or b.empty:
            return pd.DataFrame({"id_a": [], "id_b": [], "sim": []}).astype(
                {"id_a": "int64", "id_b": "int64", "sim": "float64"}
            )
        ids_a = a["__id"].to_numpy()
        ids_b = b["__id"].to_numpy()
        ma = np.stack(a["__v"].to_numpy())
        mb = np.stack(b["__v"].to_numpy())
        ma /= np.linalg.norm(ma, axis=1, keepdims=True)
        mb /= np.linalg.norm(mb, axis=1, keepdims=True)
        sims = ma @ mb.T
        if round_digits is not None:
            sims = np.round(sims, round_digits)
        ia, ib = np.nonzero(sims >= threshold)
        id_a, id_b, s = ids_a[ia], ids_b[ib], sims[ia, ib]
        pair_id = int(pdf["pair_id"].iloc[0])
        if pair_id // n_blocks == pair_id % n_blocks:
            # same-block group: GEMM yields both orientations plus the
            # diagonal — keep the canonical half
            keep = id_a < id_b
            id_a, id_b, s = id_a[keep], id_b[keep], s[keep]
        else:
            # cross-block group: each unordered pair occurs exactly once,
            # in block-side orientation — canonicalize to (min, max)
            lo = np.minimum(id_a, id_b)
            hi = np.maximum(id_a, id_b)
            id_a, id_b = lo, hi
        return pd.DataFrame({"id_a": id_a, "id_b": id_b, "sim": s})

    return (
        tagged.groupBy("pair_id")
        .applyInPandas(_gemm, "id_a bigint, id_b bigint, sim double")
        # a pair co-bucketed twice (same-block pair seen from (bi,bi)) can't
        # occur — pair_id is unique per (bi,bj) — so no distinct needed
    )


# ---------------------------------------------------------------------------
# Random-hyperplane LSH
# ---------------------------------------------------------------------------


def make_planes(nbits: int, dim: int, seed: int = 42) -> list[list[float]]:
    """Deterministic hyperplane table (md5 → Box-Muller) as plain floats.

    Unlike the shingle hashes in ``dedup`` — which hash DATA and therefore
    must be recomputed by whatever engine audits the result — hyperplanes
    are data-independent, so the signature uses a SHARED LITERAL table:
    both the Spark plan and the generated oracle SQL embed these exact
    binary64 values. That removes the two hazards of deriving planes
    in-engine (libm ``log``/``cos`` differing in the last ulp across
    engines, and two hashes plus ``log``/``cos`` per row, plane and
    dimension), while staying reproducible: anyone can regenerate the
    table from (seed, nbits, dim) with stdlib hashlib. Row p depends only
    on (seed, p), so ``make_planes(24)[:8] == make_planes(8)``."""
    import hashlib

    planes: list[list[float]] = []
    for p in range(nbits):
        row: list[float] = []
        for i in range(dim):
            h1 = int(hashlib.md5(f"{seed}|{p}|{i}".encode()).hexdigest()[:8], 16) % (1 << 30)
            h2 = int(hashlib.md5(f"{seed + 1}|{p}|{i}".encode()).hexdigest()[:8], 16) % (1 << 30)
            u1 = (h1 + 1) / float(1 << 30)
            u2 = (h2 + 1) / float(1 << 30)
            row.append(math.sqrt(-2.0 * math.log(u1)) * math.cos(2.0 * math.pi * u2))
        planes.append(row)
    return planes


def lsh_signature_planes(
    df: DataFrame, planes: list[list[float]], vec_col: str = "embedding"
) -> DataFrame:
    """Append an nbits-bit random-hyperplane signature column ``bucket``,
    one bit per row of the literal plane table: bit p = sign(v · plane_p).
    Same-bucket vectors are cosine-close with probability rising in cos —
    the standard SimHash-for-angles scheme. Projections are rounded to 9
    digits before the sign test so any engine summing the same products in
    a different order lands on the same bit."""
    from ..sources.tables import spread_scan

    df = spread_scan(df)
    v = _as_double(F.col(vec_col))
    bucket = F.lit(0).cast("long")
    for p, row in enumerate(planes):
        lit = F.array(*[F.lit(c) for c in row])
        proj = F.round(
            F.aggregate(
                F.zip_with(v, lit, lambda x, c: x * c), F.lit(0.0), lambda s, x: s + x
            ),
            9,
        )
        bucket = bucket.bitwiseOR(F.when(proj >= 0, F.lit(1 << p)).otherwise(F.lit(0)))
    return df.withColumn("bucket", bucket)


def plane_bits_sql(
    planes: list[list[float]], vec_expr: str = "v", gate_expr: str | None = None
) -> str:
    """DuckDB expression assembling the literal-plane signature bucket from
    ``vec_expr`` (DOUBLE[]): bit p = sign of the 9-rounded projection —
    exactly what ``lsh_signature_planes`` computes. With ``gate_expr`` (an
    integer SQL expression for the active signature width) bit p
    contributes only when ``p < gate_expr`` — the SQL mirror of taking a
    prefix of the plane table, used by the adaptive-width oracle."""
    parts = []
    for p, row in enumerate(planes):
        gate = f"{p} < {gate_expr} AND " if gate_expr is not None else ""
        parts.append(
            f"(CASE WHEN {gate}round(list_dot_product({vec_expr}, ["
            + ", ".join(repr(c) for c in row)
            + f"]), 9) >= 0 THEN CAST({1 << p} AS BIGINT) ELSE 0 END)"
        )
    return " + ".join(parts)


def choose_nbits(
    n_rows: int,
    target_bucket_size: int = 32,
    min_bits: int = 6,
    max_bits: int = 24,
) -> int:
    """Signature width that keeps the EXPECTED bucket population near
    ``target_bucket_size``: the smallest b with 2^b buckets ≥
    ceil(n / target), clamped to [min_bits, max_bits].

    This is the scale dial for ``lsh_near_dup_pairs`` /
    ``bucketed_near_dup_pairs``: a fixed nbits caps the bucket count, so at
    100× the corpus each bucket is 100× larger and the in-bucket re-rank
    goes quadratic (the r09 finding: a fixed 8-bit table grew candidate
    pairs ~7.96× per 10× rows). Scaling nbits with log2(n) keeps
    per-bucket work constant; the multi-probe join fans out by (nbits+1),
    i.e. only logarithmically in corpus size. Above ``max_bits`` (16M
    buckets) single-bit probing starts missing too much — switch to banded
    LSH (``dedup.minhash`` style multi-table) beyond that.

    Computed with INTEGER arithmetic only (ceil-divide then bit-length, no
    float ``log2`` whose last ulp could differ between engines at exact
    powers of two): the generated oracle recomputes the identical value
    from ``count(*)`` (``nbits_sql``), so Spark and DuckDB can never
    disagree on the width."""
    if n_rows <= 0:
        return min_bits
    need_buckets = (n_rows + target_bucket_size - 1) // target_bucket_size
    b = max(0, need_buckets - 1).bit_length()
    return max(min_bits, min(max_bits, b))


def nbits_sql(
    corpus_rel: str = "corpus",
    target_bucket_size: int = 32,
    min_bits: int = 6,
    max_bits: int = 24,
) -> str:
    """DuckDB CTE body computing ``choose_nbits(count(*))`` with the same
    integer arithmetic (ceil-divide; smallest b with 1<<b ≥ need; clamp) —
    one scalar row named ``nbits``."""
    t = target_bucket_size
    return f"""SELECT greatest({min_bits}, least({max_bits}, coalesce(
    (SELECT min(t.b) FROM range(0, {max_bits + 1}) t(b)
     WHERE (CAST(1 AS BIGINT) << t.b) >= (p.cnt + {t - 1}) // {t}),
    {max_bits}))) AS nbits
  FROM (SELECT count(*) AS cnt FROM {corpus_rel}) p"""


def lsh_adaptive_oracle_sql(
    planes: list[list[float]],
    threshold: float,
    corpus_sql: str,
    id_col: str = "vec_id",
    target_bucket_size: int = 4,
    min_bits: int = 6,
    max_bits: int = 24,
) -> str:
    """DuckDB SQL reproducing ``lsh_near_dup_pairs`` (and the candidate set
    of ``bucketed_near_dup_pairs``) EXACTLY over ``corpus_sql`` (any SELECT
    yielding (id, v DOUBLE[])), generated from the same plane table the
    Spark plan embeds: the oracle recomputes ``choose_nbits(count(*))`` in
    SQL (integer-exact, see ``nbits_sql``) and gates each literal plane's
    bit on ``p < nbits`` — the exact mirror of the Spark side taking
    ``planes[:nbits]``. Candidates are bucket pairs at Hamming distance ≤ 1
    (the multi-probe set; bits ≥ nbits are zero on both sides, so the
    predicate needs no gating), re-ranked by the same rounded cosine.
    ``planes`` must carry at least ``max_bits`` rows (``make_planes`` rows
    are prefix-stable in nbits, so one max-width table serves every
    width)."""
    if len(planes) < max_bits:
        raise ValueError(f"need ≥{max_bits} planes, got {len(planes)}")
    plane_bits = plane_bits_sql(planes[:max_bits], gate_expr="nb.nbits")
    nb = nbits_sql("corpus", target_bucket_size, min_bits, max_bits)
    return f"""
WITH corpus AS ({corpus_sql}),
nb AS ({nb}),
sig AS (SELECT {id_col}, v, {plane_bits} AS bucket FROM corpus, nb)
SELECT a.{id_col} AS id_a, b.{id_col} AS id_b,
       round(list_cosine_similarity(a.v, b.v), 9) AS sim
FROM sig a JOIN sig b
  ON a.{id_col} < b.{id_col}
 AND bit_count(xor(a.bucket, b.bucket)) <= 1
WHERE round(list_cosine_similarity(a.v, b.v), 9) >= {threshold}
"""


def lsh_near_dup_pairs(
    df: DataFrame,
    planes: list[list[float]],
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nbits: int | None = None,
    round_digits: int | None = 9,
    n_rows: int | None = None,
    target_bucket_size: int = 8,
) -> DataFrame:
    """Near-dup pairs via LSH buckets: candidates = same bucket OR buckets
    at Hamming distance 1 (multi-probe), re-ranked by exact cosine. Never
    quadratic in corpus size; bucket-key join only.

    The signature takes the first ``nbits`` rows of the literal plane table
    ``planes`` (``make_planes``), so the whole pipeline is reproducible by
    the generated DuckDB oracle (``lsh_adaptive_oracle_sql``).
    ``nbits=None`` auto-selects via ``choose_nbits`` so bucket population
    stays ~constant as the corpus grows (pass ``n_rows`` to avoid the
    sizing count; for a plain parquet scan the count is metadata-only).
    The default ``target_bucket_size`` is SMALL (8): this path re-ranks with
    per-pair expression folds, whose cost per vector is
    ≈ (nbits+1)·bucket_size element-wise fold evaluations — interpreted,
    not codegen'd — so shrinking buckets buys back far more re-rank time
    than the extra probe fanout costs (fanout grows only with log2 n).
    The GEMM re-rank (``bucketed_near_dup_pairs``) inverts that trade."""
    if nbits is None:
        nbits = choose_nbits(df.count() if n_rows is None else n_rows, target_bucket_size)
    if nbits > len(planes):
        raise ValueError(f"need ≥{nbits} planes, got {len(planes)}")
    from pyspark.storagelevel import StorageLevel

    # both join sides read the signature relation; persist so the nbits
    # hyperplane projections (and the per-vector norm — computed once HERE,
    # never per candidate pair) run once per vector
    sig = lsh_signature_planes(df, planes[:nbits], vec_col).select(
        F.col(id_col),
        F.col(vec_col),
        "bucket",
        norm(_as_double(F.col(vec_col))).alias("__n"),
    ).persist(StorageLevel.MEMORY_AND_DISK)
    # multi-probe: emit own bucket + each 1-bit flip
    probes = F.array(
        F.col("bucket"), *[F.col("bucket").bitwiseXOR(F.lit(1 << p)) for p in range(nbits)]
    )
    lhs = sig.select(
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("__va"),
        F.col("__n").alias("__na"),
        F.col("bucket").alias("bkey"),
    )
    rhs = sig.select(
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("__vb"),
        F.col("__n").alias("__nb"),
        F.explode(probes).alias("bkey"),
    )
    sim = F.try_divide(
        dot(_as_double(F.col("__va")), _as_double(F.col("__vb"))),
        F.col("__na") * F.col("__nb"),
    )
    if round_digits is not None:
        sim = F.round(sim, round_digits)
    return (
        lhs.join(rhs, "bkey")
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", sim.alias("sim"))
        .where(F.col("sim") >= threshold)
        .distinct()
    )


def bucketed_near_dup_pairs(
    df: DataFrame,
    planes: list[list[float]],
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nbits: int | None = None,
    sub_blocks: int = 1,
    round_digits: int | None = 9,
    n_rows: int | None = None,
    target_bucket_size: int = 128,
) -> DataFrame:
    """Near-dup pairs: LSH-bucketed candidate generation + per-bucket blocked
    GEMM re-rank — the composition ``exact_near_dup_pairs_blocked``'s
    docstring prescribes for corpus scale.

    Candidate set is identical to ``lsh_near_dup_pairs`` (same bucket or
    1-bit-flip neighbor), but the exact re-rank inside each bucket group is
    one numpy matrix product per group (Arrow-batched ``applyInPandas``)
    instead of per-pair ``zip_with`` folds. Versus the corpus-wide blocked
    GEMM: replication is (nbits + 2·sub_blocks − 1) rows per vector —
    logarithmic in corpus size via ``choose_nbits`` — not O(n/block_size),
    and there is no sizing ``count()`` job when ``n_rows`` is passed.

    ``sub_blocks`` is the straggler guard: each bucket's GEMM is split into
    sub_blocks × sub_blocks independent tile products, bounding per-task
    memory when a bucket comes out hot (skewed embedding spaces). With
    auto-nbits keeping buckets ≈128 vectors, 1 is right; raise it only if
    bucket-size skew shows up in task-time metrics.

    The default ``target_bucket_size`` is LARGE (128, vs 8 on the fold
    path): a matrix product amortizes per-pair cost to ~nothing, so bigger
    buckets mean fewer probe-replicated rows and fewer tiny numpy calls.
    Note the candidate set equals ``lsh_near_dup_pairs``'s only at equal
    nbits — pass the same explicit nbits/target to compare the two. The
    signature takes the same ``planes[:nbits]`` prefix, so the generated
    DuckDB oracle (``lsh_adaptive_oracle_sql``) replays the candidates
    exactly: Hamming-distance-≤1 bucket pairs, same rounded cosine.

    Oracle-equality caveat: the numpy GEMM sums float64 products in a
    different association order than a sequential engine's per-pair fold
    (DuckDB ``list_cosine_similarity``). After ``round(sim, 9)`` the two
    agree empirically on the test corpora, but a pair whose 9th digit sits
    within an ulp of a rounding boundary — or within an ulp of
    ``threshold`` — could diverge by one last-digit step under a testdata
    regeneration. That is a float-association artifact, not a candidate-set
    or ranking bug; a tolerant compare (±1 ulp at 9 digits) is the right
    oracle relation if exact hashing ever flaps."""
    import pandas as pd

    from pyspark.storagelevel import StorageLevel

    if nbits is None:
        nbits = choose_nbits(df.count() if n_rows is None else n_rows, target_bucket_size)
    if nbits > len(planes):
        raise ValueError(f"need ≥{nbits} planes, got {len(planes)}")
    signed = lsh_signature_planes(df, planes[:nbits], vec_col)
    S = max(1, sub_blocks)

    sig = (
        signed
        .select(
            F.col(id_col).alias("__id"),
            _as_double(F.col(vec_col)).alias("__v"),
            "bucket",
            F.pmod(F.xxhash64(F.col(id_col)), F.lit(S)).cast("int").alias("__sub"),
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    all_subs = F.array(*[F.lit(i) for i in range(S)])
    # side 0: own bucket only; side 1: own bucket + every 1-bit flip.
    # Every qualifying pair (hamming ≤ 1 between buckets) appears in ≥1
    # group with its smaller id on side 0, by symmetry of the probe set.
    side0 = sig.select(
        F.col("bucket").alias("bkey"),
        F.col("__sub").alias("sa"),
        F.explode(all_subs).alias("sb"),
        F.lit(0).alias("side"),
        "__id",
        "__v",
    )
    probes = F.array(
        F.col("bucket"), *[F.col("bucket").bitwiseXOR(F.lit(1 << p)) for p in range(nbits)]
    )
    side1 = sig.select(
        F.explode(probes).alias("bkey"),
        F.explode(all_subs).alias("sa"),
        F.col("__sub").alias("sb"),
        F.lit(1).alias("side"),
        "__id",
        "__v",
    )
    tagged = side0.unionByName(side1)

    def _gemm(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        a = pdf[pdf["side"] == 0]
        b = pdf[pdf["side"] == 1]
        if a.empty or b.empty:
            return pd.DataFrame({"id_a": [], "id_b": [], "sim": []}).astype(
                {"id_a": "int64", "id_b": "int64", "sim": "float64"}
            )
        ids_a = a["__id"].to_numpy()
        ids_b = b["__id"].to_numpy()
        ma = np.stack(a["__v"].to_numpy())
        mb = np.stack(b["__v"].to_numpy())
        ma /= np.linalg.norm(ma, axis=1, keepdims=True)
        mb /= np.linalg.norm(mb, axis=1, keepdims=True)
        sims = ma @ mb.T
        if round_digits is not None:
            sims = np.round(sims, round_digits)
        ia, ib = np.nonzero(sims >= threshold)
        id_a, id_b, s = ids_a[ia], ids_b[ib], sims[ia, ib]
        keep = id_a < id_b  # canonical orientation; the mirror group has the rest
        return pd.DataFrame({"id_a": id_a[keep], "id_b": id_b[keep], "sim": s[keep]})

    return (
        tagged.groupBy("bkey", "sa", "sb")
        .applyInPandas(_gemm, "id_a bigint, id_b bigint, sim double")
        # a pair can surface from several probe groups (own-bucket + flip
        # orientations); sims are bitwise-identical across groups (same
        # normalized dot, same rounding), so distinct dedups exactly
        .distinct()
    )


def label_centroids(
    df: DataFrame,
    label_col: str = "label",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-label centroid components: (label, dim_idx, centroid). posexplode
    → partial-agg sums — one shuffle of (label, dim) partial sums. Decimal
    accumulation keeps the result order-independent and oracle-exact."""
    exploded = df.select(
        F.col(label_col), F.posexplode(_as_double(F.col(vec_col))).alias("dim_idx", "e")
    )
    return (
        exploded.groupBy(label_col, "dim_idx")
        .agg(
            F.round(
                F.sum(F.col("e").cast("decimal(38,12)")).cast("double") / F.count(F.lit(1)), 9
            ).alias("centroid")
        )
        .withColumn("dim_idx", F.col("dim_idx").cast("bigint"))
    )


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN: coarse quantize → probe nprobe cells → exact rank
# ---------------------------------------------------------------------------


def centroid_vectors(df: DataFrame, label_col: str = "label", vec_col: str = "embedding") -> DataFrame:
    """(cell, centroid array<double>) — the coarse quantizer codebook,
    rebuilt from the per-dimension centroid aggregation. In production the
    codebook comes from k-means; any assignment of training vectors to cells
    (here: the label column) yields a valid quantizer."""
    comps = label_centroids(df, label_col, vec_col)
    return (
        comps.groupBy(F.col(label_col).alias("cell"))
        .agg(
            F.array_sort(F.collect_list(F.struct("dim_idx", "centroid"))).alias("__cs")
        )
        .select("cell", F.transform("__cs", lambda s: s["centroid"]).alias("centroid"))
    )


def ivf_assign(
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int | None = 9,
    strategy: str = "packed",
) -> DataFrame:
    """Assign every vector to its nearest (max-cosine) centroid cell.
    Output: corpus columns + ``cell``.

    ``strategy="packed"`` (default): the whole codebook is aggregated into
    ONE row — array<struct(cell, centroid)> — broadcast, and the argmax is
    a per-row ``array_max(transform(...))`` over it: ZERO corpus shuffle
    and no row fan-out. The broadcast-join + groupBy(id) form
    (``strategy="grouped"``) replicates every vector k times and then
    re-shuffles the WHOLE corpus to pick the max — once per call, i.e.
    once per Lloyd round inside ``kmeans_fit``; at 100 TB the packed form
    deletes 3 full-corpus exchanges from the fit (and measures ~1.6x
    faster locally). ``grouped`` remains for codebooks too large to pack
    into one broadcast row (k*dim beyond ~100M doubles), where paying the
    shuffle is the honest cost of the codebook size. (A third form —
    unrolling the codebook into k literal-array expressions — was tried
    and rejected: 30-60% SLOWER than either, the per-row expression tree
    grows with k and falls out of efficient evaluation.)

    Deterministic and engine-portable: the similarity is rounded before the
    argmax and exact ties resolve to the LOWEST cell id (struct-max on
    (sim, -cell)), matching the DuckDB oracle's ORDER BY sim DESC, cell.
    Both strategies compute the identical rounded sequential-fold cosine,
    so results are bitwise-equal (pytest-pinned)."""

    def sim_of(c):
        s = cosine(_as_double(F.col(vec_col)), c)
        return F.round(s, round_digits) if round_digits is not None else s

    if strategy == "packed":
        packed = centroids.agg(
            F.collect_list(F.struct("cell", "centroid")).alias("__cb")
        )
        best = F.array_max(
            F.transform(
                F.col("__cb"),
                lambda c: F.struct(
                    sim_of(c["centroid"]).alias("s"),
                    (-c["cell"].cast("long")).alias("nc"),
                    c["cell"].alias("c"),
                ),
            )
        )
        return corpus.crossJoin(F.broadcast(packed)).select(
            F.col(id_col), F.col(vec_col), best["c"].alias("cell")
        )
    if strategy != "grouped":
        raise ValueError(f"unknown strategy {strategy!r}")
    scored = corpus.join(
        F.broadcast(centroids.select(F.col("cell").alias("__cell"), F.col("centroid").alias("__cent")))
    ).select(
        F.col(id_col),
        F.col(vec_col),
        F.struct(
            sim_of(F.col("__cent")).alias("s"),
            (-F.col("__cell").cast("long")).alias("nc"),
            F.col("__cell").alias("c"),
        ).alias("__sc"),
    )
    return (
        scored.groupBy(id_col)
        .agg(F.max("__sc").alias("__best"), F.first(vec_col).alias(vec_col))
        .select(F.col(id_col), F.col(vec_col), F.col("__best.c").alias("cell"))
    )



def kmeans_fit(
    df: DataFrame,
    k: int = 8,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 9,
) -> DataFrame:
    """Deterministic spherical k-means (Lloyd's algorithm) — the production
    IVF codebook builder (``centroid_vectors`` over a label column is the
    degenerate no-iteration form). Returns (cell, centroid array<double>).

    Determinism + engine portability by construction, so the WHOLE
    iterative fit is oracle-checkable:
    - init = the ``k`` lowest-id vectors (no RNG);
    - assignment = argmax of the 9-rounded cosine, exact ties to the
      LOWEST cell (struct-max, mirrored by ORDER BY sim DESC, cell);
    - centroid update = decimal-exact per-dimension mean rounded to 9
      (order-independent across partitionings and engines).

    Scale shape per iteration: the codebook is broadcast (k·dim doubles),
    assignment is map-side argmax over the corpus (no corpus shuffle), and
    the update shuffles only (cell, dim) partial sums — the standard
    k-means-on-Spark topology. Cells that lose all members drop out (both
    engines aggregate only over occupied cells).

    Each round's codebook is pinned with a LAZY ``localCheckpoint`` (the
    same lineage cut ``connected_components`` applies to its edge set):
    without it the logical plan nests one full assign+update under the
    next, growing the plan — and Catalyst's analysis time — geometrically
    with ``iters``. Lazy (r13, the pq_fit lesson) instead of eager: the
    plan truncation is identical, but each round materializes inside the
    next consumer's own job (the broadcast collect that ships the codebook)
    rather than paying a separate driver-blocking checkpoint job per round.
    The residue is ``iters`` checkpointed RDDs of k rows
    each (kilobytes) that stay registered for the session under classic
    PySpark (py4j never detaches the JVM dataset) — the right trade for a
    codebook; long-running apps fitting many models should checkpoint to a
    checkpoint dir instead. The returned codebook's plan is a
    constant-size RDD scan regardless of ``iters`` (plan-size gate in
    test_plans.py)."""
    from ..sources.tables import spread_scan

    # each Lloyd round evaluates k cosine folds per corpus row map-side —
    # widen degenerate few-partition scans once, before iterating
    df = spread_scan(df)
    cents = df.where(F.col(id_col) < k).select(
        F.col(id_col).alias("cell"), _as_double(F.col(vec_col)).alias("centroid")
    )
    for _ in range(iters):
        assigned = ivf_assign(df, cents, id_col, vec_col, round_digits)
        cents = centroid_vectors(
            assigned, label_col="cell", vec_col=vec_col
        ).localCheckpoint(eager=False)
    return cents


def kmeans_ctes_sql(
    k: int = 8,
    iters: int = 3,
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> str:
    """The WITH-body CTE chain for the unrolled Lloyd rounds: ``e`` (the
    corpus as (id, v DOUBLE[])), ``c0`` (init) through ``c{iters}`` (the
    final codebook as (cell, cv)). Shared by the codebook oracle and the
    k-means IVF serving oracle."""
    ctes = [
        f"e AS (SELECT {id_col}, CAST({vec_col} AS DOUBLE[]) AS v FROM {table})",
        f"c0 AS (SELECT {id_col} AS cell, v AS cv FROM e WHERE {id_col} < {k})",
    ]
    for it in range(1, iters + 1):
        prev = f"c{it - 1}"
        ctes.append(
            f"""a{it} AS (
  SELECT {id_col}, v, cell FROM (
    SELECT e.{id_col}, e.v, c.cell,
           row_number() OVER (
             PARTITION BY e.{id_col}
             ORDER BY round(list_cosine_similarity(e.v, c.cv), 9) DESC, c.cell
           ) AS rn
    FROM e, {prev} c
  ) WHERE rn = 1
)"""
        )
        ctes.append(
            f"""c{it} AS (
  SELECT cell, list(cc ORDER BY i) AS cv FROM (
    SELECT cell, i,
           round(CAST(sum(CAST(v[CAST(i AS INT)] AS DECIMAL(38,12))) AS DOUBLE)
                 / count(*), 9) AS cc
    FROM (SELECT cell, unnest(generate_series(1, len(v))) AS i, v FROM a{it})
    GROUP BY cell, i
  ) GROUP BY cell
)"""
        )
    return ",\n".join(ctes)


def kmeans_oracle_sql(
    k: int = 8,
    iters: int = 3,
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> str:
    """DuckDB SQL reproducing :func:`kmeans_fit` exactly — the ``iters``
    Lloyd rounds unrolled as (assign, update) CTE pairs, emitted as
    (cell, dim_idx, centroid) rows. Generated, so constants and tie rules
    can never drift from the Spark side."""
    return f"""
WITH {kmeans_ctes_sql(k, iters, table, id_col, vec_col)}
SELECT cell,
       CAST(generate_subscripts(cv, 1) - 1 AS BIGINT) AS dim_idx,
       unnest(cv) AS centroid
FROM c{iters}
"""


def ivf_topk(
    queries: DataFrame,
    corpus_assigned: DataFrame,
    centroids: DataFrame,
    k: int = 5,
    nprobe: int = 2,
    query_id: str = "q_id",
    query_vec: str = "q_emb",
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    round_digits: int | None = 9,
    exclude_self: bool = True,
) -> DataFrame:
    """IVF ANN top-k: each query probes its ``nprobe`` nearest cells and is
    exactly ranked against only those cells' vectors — the corpus-scale
    alternative to the brute-force scan (cost fraction ≈ nprobe/cells).
    Output: (q_id, vec_id, sim, rnk)."""
    qsim = cosine(_as_double(F.col(query_vec)), F.col("__cent"))
    if round_digits is not None:
        qsim = F.round(qsim, round_digits)
    probes = (
        F.broadcast(queries)
        .join(
            F.broadcast(
                centroids.select(F.col("cell").alias("__cell"), F.col("centroid").alias("__cent"))
            )
        )
        .select(
            F.col(query_id),
            F.col(query_vec),
            F.col("__cell"),
            F.row_number()
            .over(Window.partitionBy(query_id).orderBy(F.desc(qsim), F.col("__cell")))
            .alias("__pr"),
        )
        .where(F.col("__pr") <= nprobe)
        .select(query_id, query_vec, F.col("__cell").alias("cell"))
    )
    sim = cosine(_as_double(F.col(query_vec)), _as_double(F.col(corpus_vec)))
    if round_digits is not None:
        sim = F.round(sim, round_digits)
    pairs = F.broadcast(probes).join(corpus_assigned, "cell").select(
        F.col(query_id), F.col(corpus_id), sim.alias("sim")
    )
    if exclude_self:
        pairs = pairs.where(F.col(query_id) != F.col(corpus_id))
    w = Window.partitionBy(query_id).orderBy(F.col("sim").desc(), F.col(corpus_id))
    return (
        pairs.withColumn("rnk", F.row_number().over(w).cast("bigint"))
        .where(F.col("rnk") <= k)
        .select(query_id, corpus_id, "sim", "rnk")
    )


# ---------------------------------------------------------------------------
# Scalar quantization (int8) — the 4x memory cut applied before ANN serving
# ---------------------------------------------------------------------------


def quantize_int8(
    df: DataFrame, vec_col: str = "embedding", id_col: str = "vec_id"
) -> DataFrame:
    """Per-vector symmetric int8 quantization: q_i = round(127·x_i/max|x|),
    emitted as exploded (id, dim, q) rows.

    This is the standard scalar-quantization step before ANN serving —
    int8 codes cut vector memory 4× (64 GB of float32 embeddings → 16 GB)
    at ~1-2% recall cost, which at 100 TB decides whether the corpus fits
    executor memory at all. Per-row arithmetic only (zero shuffle; the
    explode is a pipelined 1→N fan-out).

    Cross-engine exactness: max|x| uses only abs/max (no FP rounding, so
    it is order-independent), and the rounding is floor(x·scale + 0.5) —
    one identically-parenthesized IEEE expression in the generated oracle,
    avoiding the engines' differing round-half conventions on negatives.
    All outputs are BIGINT."""
    xs = F.transform(F.col(vec_col), lambda v: v.cast("double"))
    maxabs = F.array_max(F.transform(xs, lambda v: F.abs(v)))
    with_scale = df.select(
        F.col(id_col),
        xs.alias("__xs"),
        F.when(maxabs > 0, F.lit(127.0) / maxabs).otherwise(F.lit(0.0)).alias("__scale"),
    )
    q = F.transform(
        F.col("__xs"), lambda v: F.floor(v * F.col("__scale") + F.lit(0.5)).cast("long")
    )
    return with_scale.select(
        F.col(id_col), F.posexplode(q).alias("dim", "q")
    ).select(F.col(id_col), F.col("dim").cast("bigint").alias("dim"), "q")


def quantize_int8_sql(table: str = "embeddings") -> str:
    """DuckDB mirror of :func:`quantize_int8` (generated, same constants
    and parenthesization)."""
    return f"""
WITH x AS (
  SELECT vec_id, list_transform(embedding, v -> CAST(v AS DOUBLE)) AS xs FROM {table}
),
s AS (
  SELECT vec_id, xs, list_max(list_transform(xs, v -> abs(v))) AS maxabs FROM x
),
qs AS (
  SELECT vec_id,
         list_transform(xs, v -> CAST(floor(v * (CASE WHEN maxabs > 0
           THEN 127.0 / maxabs ELSE 0.0 END) + 0.5) AS BIGINT)) AS ql
  FROM s
)
SELECT vec_id,
       CAST(generate_subscripts(ql, 1) - 1 AS BIGINT) AS dim,
       unnest(ql) AS q
FROM qs
"""


# ---------------------------------------------------------------------------
# Product quantization (PQ): split each vector into m subspaces, k-means
# each subspace under L2, emit per-subspace codes — the compression that
# makes billion-vector ANN (IVF-PQ) fit in memory: m codes/vector instead
# of dim floats (64-dim float64 -> 4 bytes at m=4/k=8).
# ---------------------------------------------------------------------------


def _l2sq(a: Column, b: Column, round_digits: int | None = 9) -> Column:
    """Sequential-fold squared L2 distance (same fold shape as ``dot``)."""
    d = F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return F.round(d, round_digits) if round_digits is not None else d


def _pq_sub_expand(
    df: DataFrame, m: int, dl: int, id_col: str, vec_col: str
) -> DataFrame:
    """Explode each vector into its m subspace slices: (id, sub, __sv).
    A pipelined 1→m per-row fan-out (no shuffle, same total bytes) that
    lets every Lloyd round be ONE pass over the corpus for ALL subspaces —
    instead of m sequential per-subspace jobs."""
    vec = _as_double(F.col(vec_col))
    subs = F.array(
        *[
            F.struct(
                F.lit(j).cast("bigint").alias("sub"),
                F.slice(vec, j * dl + 1, dl).alias("sv"),
            )
            for j in range(m)
        ]
    )
    return df.select(F.col(id_col), F.explode(subs).alias("__e")).select(
        id_col, F.col("__e.sub").alias("sub"), F.col("__e.sv").alias("__sv")
    )


def _pq_assign(
    sub: DataFrame,
    cents: DataFrame,
    id_col: str,
    round_digits: int,
) -> DataFrame:
    """Nearest-centroid (min rounded L2²) assignment of the exploded
    (id, sub, __sv) relation against the (sub, cell, centroid) codebook.
    The codebook is re-packed per subspace (m rows of k structs) and
    broadcast-joined on ``sub`` — ZERO corpus shuffle; ties to the LOWEST
    cell via lexicographic struct-min on (d, cell)."""
    packed = cents.groupBy("sub").agg(
        F.collect_list(F.struct("cell", "centroid")).alias("__cb")
    )
    best = F.array_min(
        F.transform(
            F.col("__cb"),
            lambda c: F.struct(
                _l2sq(F.col("__sv"), c["centroid"], round_digits).alias("d"),
                c["cell"].alias("c"),
            ),
        )
    )
    return sub.join(F.broadcast(packed), "sub").select(
        F.col(id_col), F.col("sub"), F.col("__sv"), best["c"].alias("cell")
    )


def _pq_update(assigned: DataFrame) -> DataFrame:
    """Per-(sub, cell) centroid update: decimal-exact per-dimension mean
    rounded to 9 (order-independent across partitionings and engines) —
    ONE (sub, cell, dim) partial-sum shuffle for all m subspaces."""
    exploded = assigned.select(
        "sub", "cell", F.posexplode(F.col("__sv")).alias("dim_idx", "e")
    )
    comps = exploded.groupBy("sub", "cell", "dim_idx").agg(
        F.round(
            F.sum(F.col("e").cast("decimal(38,12)")).cast("double") / F.count(F.lit(1)),
            9,
        ).alias("cc")
    )
    return (
        comps.groupBy("sub", "cell")
        .agg(F.array_sort(F.collect_list(F.struct("dim_idx", "cc"))).alias("__cs"))
        .select(
            "sub", "cell", F.transform("__cs", lambda s: s["cc"]).alias("centroid")
        )
    )


def pq_fit(
    df: DataFrame,
    m: int = 4,
    k: int = 8,
    iters: int = 2,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 9,
    fit_sample: int | None = None,
    fit_salt: str = "pqfit",
    checkpoint: bool = True,
) -> DataFrame:
    """Train the m per-subspace PQ codebooks (deterministic L2 Lloyd,
    init = the k lowest-id subvectors) as ONE (sub, cell, centroid)
    relation. Subspaces train concurrently inside shared jobs: each Lloyd
    round is one corpus pass (broadcast codebook join + argmin) plus one
    (sub, cell, dim) partial-sum shuffle — m never multiplies the job
    count. The codebook (m·k rows) is pinned with localCheckpoint per
    round so downstream plans stay constant-size regardless of ``iters``.

    ``fit_sample`` (r11, VERDICT r10 item 2): train each Lloyd round on
    the deterministic md5-coin sample ``hash_bucket(id) < fit_sample``
    (bucket space 1e6 — sampling.DENOM), exactly the sampler the split/
    downsample operators use, so the DuckDB oracle replays the SAME
    training subset bit-for-bit. Init stays the k lowest-id subvectors of
    the FULL corpus (engine-trivial either way); only the assign/update
    rounds shrink. This is how a 100 TB PQ deployment actually fits:
    codebooks converge on a few million training vectors — a full-corpus
    Lloyd pass per round is pure waste at scale.

    ``checkpoint=False`` (r11) returns the codebook as a LAZY plan instead
    of eagerly pinning each round: zero driver-blocking jobs at build time,
    so independent fits (e.g. a design sweep's 4 configs) all execute
    inside ONE downstream action with stage-level parallelism. The
    downstream plan then embeds ``iters`` nested rounds and each consumer
    subtree re-derives the codebook — right when iters is small and the
    training relation is a sample; keep the default (eager pin) for deep
    fits or when the codebook feeds many consumers."""
    if dim % m:
        raise ValueError("dim must divide evenly into m subspaces")
    dl = dim // m
    from ..sources.tables import spread_scan
    from .sampling import hash_bucket

    sub = _pq_sub_expand(spread_scan(df), m, dl, id_col, vec_col)
    train = sub
    if fit_sample is not None:
        train = sub.where(hash_bucket(F.col(id_col), fit_salt) < fit_sample)
    cents = sub.where(F.col(id_col) < k).select(
        "sub", F.col(id_col).alias("cell"), F.col("__sv").alias("centroid")
    )
    for _ in range(iters):
        assigned = _pq_assign(train, cents, id_col, round_digits)
        cents = _pq_update(assigned)
        if checkpoint:
            cents = cents.localCheckpoint(eager=True)
    return cents


def pq_codes(
    df: DataFrame,
    m: int = 4,
    k: int = 8,
    iters: int = 2,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 9,
    books: DataFrame | None = None,
    fit_sample: int | None = None,
) -> DataFrame:
    """Train an m-subspace PQ codebook (deterministic L2 Lloyd, init = the
    k lowest-id subvectors) and emit every vector's codes:
    (id, sub, code) — all BIGINT, so the entire fit+assignment is
    exact-comparable cross-engine.

    Determinism mirrors ``kmeans_fit``: distances rounded to 9 before the
    argmin, exact ties to the LOWEST cell, centroid update = decimal-exact
    per-dimension mean rounded to 9. Scale shape per Lloyd round — for ALL
    m subspaces together: packed codebook broadcast (m·k·dim/m doubles),
    map-side argmin over the exploded (id, sub) relation (no corpus
    shuffle), update shuffles only (sub, cell, dim) partial sums. Codes
    for the serving tier are then one more map-side assignment pass."""
    dl = dim // m
    from ..sources.tables import spread_scan

    if books is None:
        books = pq_fit(
            df, m, k, iters, dim, id_col, vec_col, round_digits,
            fit_sample=fit_sample,
        )
    sub = _pq_sub_expand(spread_scan(df), m, dl, id_col, vec_col)
    return _pq_assign(sub, books, id_col, round_digits).select(
        F.col(id_col), F.col("sub"), F.col("cell").cast("bigint").alias("code")
    )


def pq_adc_topk(
    df: DataFrame,
    query_id: int,
    m: int = 4,
    k: int = 8,
    iters: int = 2,
    dim: int = 64,
    topk: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 9,
    fit_sample: int | None = None,
    checkpoint: bool = True,
    books: DataFrame | None = None,
) -> DataFrame:
    """PQ serving via asymmetric distance computation (ADC): the query
    stays exact, every corpus vector is its reconstruction x̂ = ⊕_j
    codeword_j(code_j), and score(q, x) ≈ dot(q, x̂) = Σ_j
    dot(q_j, codeword_j) — i.e. ONE m×k lookup table per query, then a
    per-vector table lookup + sum. Output: (id, adc_score, rnk) top-k,
    query excluded.

    This is how a 100 TB ANN tier actually serves: codes are 4 bytes/vector
    (not 512), the LUT is m·k doubles broadcast with the query, and the
    scan never touches the raw vectors. Exactness: per-(sub, code) partials
    are rounded then summed as DECIMAL (order-independent), so the fused
    score — and therefore the ranking — is engine-exact.

    ``fit_sample``: md5-coin training sample for the codebook fit (see
    :func:`pq_fit`); the final code assignment and the ADC scan always
    cover the full corpus. ``books``: a pre-built codebook relation
    (``pq_fit`` output) — the codebook feeds TWO consumers here (the code
    assignment and the LUT), so callers composing several configs can
    hand in ``pq_fit(..., checkpoint=False).localCheckpoint(eager=False)``:
    the lazy checkpoint materializes once inside the first action and both
    consumers reuse it, with no driver-blocking job at build time."""
    if books is None:
        books = pq_fit(
            df, m, k, iters, dim, id_col, vec_col, round_digits,
            fit_sample=fit_sample, checkpoint=checkpoint,
        )
    codes = pq_codes(
        df, m, k, iters, dim, id_col, vec_col, round_digits, books=books
    )
    dl = dim // m
    qvec = _as_double(F.col(vec_col))
    qrow = df.where(F.col(id_col) == query_id).select(
        F.array(*[F.slice(qvec, j * dl + 1, dl) for j in range(m)]).alias("__qs")
    )
    lut = books.crossJoin(F.broadcast(qrow)).select(
        F.col("sub"),
        F.col("cell").cast("bigint").alias("code"),
        F.round(
            dot(F.element_at(F.col("__qs"), (F.col("sub") + 1).cast("int")),
                F.col("centroid")),
            round_digits,
        ).alias("partial"),
    )
    scored = (
        codes.join(F.broadcast(lut), ["sub", "code"])
        .groupBy(id_col)
        .agg(
            F.round(
                F.sum(F.col("partial").cast("decimal(38,12)")).cast("double"), round_digits
            ).alias("adc_score")
        )
        .where(F.col(id_col) != query_id)
    )
    w = Window.orderBy(F.col("adc_score").desc(), F.col(id_col))
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("bigint"))
        .where(F.col("rnk") <= topk)
        .select(id_col, "adc_score", "rnk")
    )


def pq_adc_topk_sql(
    query_id: int,
    m: int = 4,
    k: int = 8,
    iters: int = 2,
    dim: int = 64,
    topk: int = 10,
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    fit_sample: int | None = None,
) -> str:
    """DuckDB mirror of :func:`pq_adc_topk` — the PQ fit/assignment CTE
    chain from :func:`pq_codes_sql` plus the per-subspace LUT (identical
    sequential-fold dot, rounded) and the decimal-exact score sum."""
    dl = dim // m
    base = pq_codes_sql(
        m, k, iters, dim, table, id_col, vec_col, fit_sample=fit_sample
    )
    # split the generated "WITH <ctes>\n<union of finals>" into parts
    ctes_txt, _, finals_txt = base.partition("\nSELECT")
    finals_txt = "SELECT" + finals_txt
    dotj = (
        "round(list_sum(list_transform(generate_series(1, {n}), "
        "i -> q.qv[CAST(i AS INT)] * c.cv[CAST(i AS INT)])), 9)"
    ).format(n=dl)
    luts = []
    for j in range(m):
        lo, hi = j * dl + 1, (j + 1) * dl
        luts.append(
            f"""SELECT CAST({j} AS BIGINT) AS sub, CAST(c.cell AS BIGINT) AS code,
       {dotj} AS partial
FROM c{j}_{iters} c,
     (SELECT CAST({vec_col}[{lo}:{hi}] AS DOUBLE[]) AS qv FROM {table}
      WHERE {id_col} = {query_id}) q"""
        )
    return f"""{ctes_txt},
codes AS ({finals_txt}),
lut AS ({' UNION ALL '.join(luts)}),
scored AS (
  SELECT c.{id_col},
         round(CAST(sum(CAST(l.partial AS DECIMAL(38,12))) AS DOUBLE), 9)
           AS adc_score
  FROM codes c JOIN lut l ON l.sub = c.sub AND l.code = c.code
  WHERE c.{id_col} <> {query_id}
  GROUP BY c.{id_col}
)
SELECT {id_col}, adc_score, rnk FROM (
  SELECT {id_col}, adc_score,
         CAST(row_number() OVER (ORDER BY adc_score DESC, {id_col}) AS BIGINT)
           AS rnk
  FROM scored
) WHERE rnk <= {topk}
"""


def pq_codes_sql(
    m: int = 4,
    k: int = 8,
    iters: int = 2,
    dim: int = 64,
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    fit_sample: int | None = None,
    fit_salt: str = "pqfit",
) -> str:
    """DuckDB mirror of :func:`pq_codes` — every subspace's Lloyd rounds
    unrolled as (assign, update) CTE pairs, L2² written as the identical
    (x-y)*(x-y) sum, same decimal-mean update as ``kmeans_ctes_sql``.
    ``fit_sample`` mirrors :func:`pq_fit`'s md5-coin training sample via
    ``sampling.bucket_sql`` — generated from the same constants, so the
    training subset is bit-identical across engines."""
    from .sampling import bucket_sql

    dl = dim // m
    l2 = (
        "round(list_sum(list_transform(generate_series(1, {n}), "
        "i -> (e.v[CAST(i AS INT)] - c.cv[CAST(i AS INT)])"
        " * (e.v[CAST(i AS INT)] - c.cv[CAST(i AS INT)]))), 9)"
    ).format(n=dl)
    ctes = []
    finals = []
    for j in range(m):
        lo, hi = j * dl + 1, (j + 1) * dl
        ctes.append(
            f"e{j} AS (SELECT {id_col}, CAST({vec_col}[{lo}:{hi}] AS DOUBLE[]) AS v "
            f"FROM {table})"
        )
        train = f"e{j}"
        if fit_sample is not None:
            train = f"f{j}"
            ctes.append(
                f"f{j} AS (SELECT * FROM e{j} "
                f"WHERE {bucket_sql(id_col, fit_salt)} < {fit_sample})"
            )
        ctes.append(
            f"c{j}_0 AS (SELECT {id_col} AS cell, v AS cv FROM e{j} WHERE {id_col} < {k})"
        )
        for it in range(1, iters + 1):
            ctes.append(
                f"""a{j}_{it} AS (
  SELECT {id_col}, v, cell FROM (
    SELECT e.{id_col}, e.v, c.cell,
           row_number() OVER (
             PARTITION BY e.{id_col}
             ORDER BY {l2} ASC, c.cell
           ) AS rn
    FROM {train} e, c{j}_{it - 1} c
  ) WHERE rn = 1
)"""
            )
            ctes.append(
                f"""c{j}_{it} AS (
  SELECT cell, list(cc ORDER BY i) AS cv FROM (
    SELECT cell, i,
           round(CAST(sum(CAST(v[CAST(i AS INT)] AS DECIMAL(38,12))) AS DOUBLE)
                 / count(*), 9) AS cc
    FROM (SELECT cell, unnest(generate_series(1, len(v))) AS i, v FROM a{j}_{it})
    GROUP BY cell, i
  ) GROUP BY cell
)"""
            )
        finals.append(
            f"""SELECT {id_col}, CAST({j} AS BIGINT) AS sub, CAST(cell AS BIGINT) AS code
FROM (
  SELECT e.{id_col}, c.cell,
         row_number() OVER (
           PARTITION BY e.{id_col}
           ORDER BY {l2} ASC, c.cell
         ) AS rn
  FROM e{j} e, c{j}_{iters} c
) WHERE rn = 1"""
        )
    return "WITH " + ",\n".join(ctes) + "\n" + "\nUNION ALL\n".join(finals)


def semantic_dedup(
    corpus: DataFrame,
    k: int = 8,
    iters: int = 3,
    tau: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 9,
) -> DataFrame:
    """Semantic deduplication, SemDeDup-shape (Abbas et al. 2023): k-means
    cluster the embeddings, compare pairs ONLY within a cluster, and drop
    every vector that has a higher-keep-priority semantic duplicate
    (rounded cosine > ``tau``) in its cluster. Returns the full corpus
    relation flagged: (id, cell, cos_c, kept).

    Keep rule (deterministic, single pass): priority = LOWER similarity to
    the cluster centroid first (SemDeDup keeps the most diverse member),
    ties to the LOWER id. A vector is dropped iff SOME strictly
    higher-priority cluster-mate is a duplicate of it — dominance pruning,
    the non-iterative form of the paper's per-cluster sweep. All compares
    are on ``round_digits``-rounded doubles, so the decision is
    engine-portable at the boundary and the whole operator (k-means fit
    included) is reproduced exactly by the generated DuckDB oracle.

    Scale shape: the cluster IS the LSH bucket — candidate generation is a
    cell group, never an all-pairs cross join (plan-gated). Per-cell
    pairwork is O(Σ|cell|²·dim); k is the knob that bounds it (SemDeDup
    runs k ≈ n/1000 at web scale so cells stay ~10³ — here k=8 matches the
    oracle-checkable fit). The codebook broadcasts (k·dim doubles) and the
    corpus shuffles once on cell. The within-cell dominance sweep is ONE
    numpy matrix product per cell (Arrow-batched ``applyInPandas``, tiled
    to bound per-task memory) — the same GEMM re-rank trade
    ``bucketed_near_dup_pairs`` makes: the earlier per-pair expression-fold
    self-join re-evaluated an interpreted dim-length fold per candidate
    pair and was the whole-bench hot spot (46 s → ~4 s at sf0.1). With
    production k the cell key is high-cardinality, so the join skew story
    is the generic salted-join one (operators/skew.py), not a new
    mechanism; a pathologically hot cell is bounded by the row-tiled GEMM
    (tile × |cell| doubles per task, not |cell|²).

    Oracle-equality caveat (same as ``bucketed_near_dup_pairs``): the GEMM
    sums float64 products in a different association order than DuckDB's
    sequential ``list_cosine_similarity``; after round(...,9) the two agree
    empirically (pinned by ``test_semantic_dedup_rounding_margin``, which
    asserts no in-cell pair's unrounded sim sits near a rounding boundary
    or near tau), and ``cos_c`` (centroid similarity, the priority key)
    stays on the sequential-fold path so the ordering itself can't flap.

    Preconditions (enforced here, not assumed): rows whose embedding is
    NULL or empty are EXCLUDED from the output — they cannot be assigned a
    cell, and np.stack on a ragged/None batch would raise mid-task. A
    zero-norm (all-zero) vector is defined to have PAIRWISE cosine 0 to
    everything: it is always kept and never dominates a mate. Its cos_c
    (centroid similarity) is NULL from the try_divide fold — pandas sees
    NaN, which sorts last, so the zero vector gets the lowest keep
    priority deterministically, and the sweep's NaN round-trips to NULL
    through Arrow.
    Both facts are pinned by ``test_semantic_dedup_null_and_zero_norm``."""
    import pandas as pd

    corpus = corpus.where(
        F.col(vec_col).isNotNull() & (F.size(F.col(vec_col)) > 0)
    )
    cents = kmeans_fit(corpus, k, iters, id_col, vec_col, round_digits)
    assigned = ivf_assign(corpus, cents, id_col, vec_col, round_digits)
    # Pin the scored assignment with an eager localCheckpoint: the codebook
    # scoring (a k-way nested-loop per corpus row) must run once, not once
    # per consumer — measured ~2x end-to-end at sf0.1.
    scored = (
        assigned.join(F.broadcast(cents), "cell")
        .select(
            F.col(id_col),
            _as_double(F.col(vec_col)).alias("__v"),
            F.col("cell"),
            F.round(
                cosine(_as_double(F.col(vec_col)), F.col("centroid")), round_digits
            ).alias("cos_c"),
        )
        .localCheckpoint(eager=True)
    )
    cell_type = dict(scored.dtypes)["cell"]
    id_type = dict(scored.dtypes)[id_col]
    out_schema = f"{id_col} {id_type}, cell {cell_type}, cos_c double, kept boolean"
    tile = 1024

    def _sweep(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        # priority order: lower cos_c first (most diverse kept first),
        # ties to the lower id — identical to the SQL oracle's dominance
        # predicate. After sorting, row i is dropped iff some j < i has
        # rounded sim > tau.
        pdf = pdf.sort_values(["cos_c", id_col], ignore_index=True)
        v = np.stack(pdf["__v"].to_numpy()).astype(np.float64)
        # sims as dot/(norm_a*norm_b) — dividing AFTER the raw-dot GEMM
        # keeps the arithmetic one association step closer to the oracle's
        # sequential-fold cosine than pre-normalizing the rows would
        # (ADVICE r07: fewer divergent operations before the round()).
        nrm = np.linalg.norm(v, axis=1, keepdims=True)
        nrm[nrm == 0.0] = 1.0  # zero vector: pairwise sim defined as 0
        n = len(pdf)
        dropped = np.zeros(n, dtype=bool)
        for lo in range(0, n, tile):
            hi = min(lo + tile, n)
            # raw-dot GEMM, then divide by the norms IN PLACE (two
            # broadcast divisions) — same dot/(na*nb) structure without
            # materializing the tile×n outer-product and quotient
            # temporaries (measured ~0.5 s at sf0.1). Last-ulp
            # association differences vs a fused divide are covered by
            # the decision-boundary margin test.
            sims = v[lo:hi] @ v.T
            sims /= nrm[lo:hi]
            sims /= nrm.T
            np.round(sims, round_digits, out=sims)
            # strictly-higher-priority mates only: columns j < row index
            mask = np.arange(n)[None, :] < np.arange(lo, hi)[:, None]
            dropped[lo:hi] = ((sims > tau) & mask).any(axis=1)
        return pd.DataFrame(
            {
                id_col: pdf[id_col],
                "cell": pdf["cell"],
                "cos_c": pdf["cos_c"],
                "kept": ~dropped,
            }
        )

    return scored.groupBy("cell").applyInPandas(_sweep, out_schema)


def semantic_dedup_oracle_sql(
    k: int = 8,
    iters: int = 3,
    tau: float = 0.9,
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> str:
    """DuckDB SQL reproducing :func:`semantic_dedup` exactly: the unrolled
    k-means CTE chain, the same argmax assignment, and the dominance sweep
    as a NOT EXISTS over cluster-mates. ``assign`` is MATERIALIZED — it is
    referenced from both sides of the self-join and DuckDB would otherwise
    inline (re-run) the whole Lloyd chain per reference."""
    return f"""
WITH {kmeans_ctes_sql(k, iters, table, id_col, vec_col)},
cent AS (SELECT cell, cv FROM c{iters}),
assign AS MATERIALIZED (
  SELECT {id_col}, v, cell, cos_c FROM (
    SELECT e.{id_col}, e.v, c.cell,
           round(list_cosine_similarity(e.v, c.cv), 9) AS cos_c,
           row_number() OVER (
             PARTITION BY e.{id_col}
             ORDER BY round(list_cosine_similarity(e.v, c.cv), 9) DESC, c.cell
           ) AS rn
    FROM e, cent c
  ) WHERE rn = 1
)
SELECT a.{id_col}, a.cell, a.cos_c,
       NOT EXISTS (
         SELECT 1 FROM assign b
         WHERE b.cell = a.cell AND b.{id_col} <> a.{id_col}
           AND round(list_cosine_similarity(a.v, b.v), 9) > {tau}
           AND (b.cos_c < a.cos_c
                OR (b.cos_c = a.cos_c AND b.{id_col} < a.{id_col}))
       ) AS kept
FROM assign a
"""


def ivfpq_topk(
    df: DataFrame,
    query_id: int,
    cells: int = 8,
    cell_iters: int = 3,
    nprobe: int = 2,
    m: int = 4,
    k: int = 8,
    iters: int = 2,
    dim: int = 64,
    topk: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int = 9,
) -> DataFrame:
    """IVF-PQ serving — the full modern ANN stack in one plan: a k-means
    coarse quantizer restricts the search to the query's ``nprobe``
    nearest cells, and candidates are scored by PQ asymmetric distance
    (codes + the query's m×k LUT), never by their raw vectors. Output:
    (id, cell, adc_score, rnk) top-k over the probed cells.

    This variant quantizes raw vectors (IVF-Flat cells + PQ codes) rather
    than residuals — residual encoding buys accuracy at the cost of an
    engine-divergent subtract-then-fit chain; the raw form keeps every
    stage (both codebook fits, the assignment, the probe, the LUT, the
    decimal score sum) exactly replayable cross-engine. At 100 TB the
    scan cost is (nprobe/cells) of the corpus × m byte-lookups per
    candidate — the memory/IO shape a billion-vector tier actually runs.
    """
    cents = kmeans_fit(df, k=cells, iters=cell_iters, id_col=id_col, vec_col=vec_col)
    assigned = ivf_assign(df, cents, id_col, vec_col, round_digits).select(
        id_col, "cell"
    )
    qvec_row = df.where(F.col(id_col) == query_id)
    qsim = cosine(_as_double(F.col(vec_col)), F.col("__cent"))
    if round_digits is not None:
        qsim = F.round(qsim, round_digits)
    probes = (
        F.broadcast(qvec_row)
        .join(
            F.broadcast(
                cents.select(F.col("cell").alias("__cell"), F.col("centroid").alias("__cent"))
            )
        )
        .select(
            F.col("__cell").alias("cell"),
            F.row_number()
            .over(Window.orderBy(F.desc(qsim), F.col("__cell")))
            .alias("__pr"),
        )
        .where(F.col("__pr") <= nprobe)
        .select("cell")
    )
    cand = assigned.join(F.broadcast(probes), "cell").where(
        F.col(id_col) != query_id
    )
    books = pq_fit(df, m, k, iters, dim, id_col, vec_col, round_digits)
    codes = pq_codes(df, m, k, iters, dim, id_col, vec_col, round_digits, books=books)
    dl = dim // m
    qvec = _as_double(F.col(vec_col))
    qrow = qvec_row.select(
        F.array(*[F.slice(qvec, j * dl + 1, dl) for j in range(m)]).alias("__qs")
    )
    lut = books.crossJoin(F.broadcast(qrow)).select(
        F.col("sub"),
        F.col("cell").cast("bigint").alias("code"),
        F.round(
            dot(F.element_at(F.col("__qs"), (F.col("sub") + 1).cast("int")),
                F.col("centroid")),
            round_digits,
        ).alias("partial"),
    )
    scored = (
        codes.join(F.broadcast(cand), id_col)
        .join(F.broadcast(lut), ["sub", "code"])
        .groupBy(id_col, "cell")
        .agg(
            F.round(
                F.sum(F.col("partial").cast("decimal(38,12)")).cast("double"), round_digits
            ).alias("adc_score")
        )
    )
    w = Window.orderBy(F.col("adc_score").desc(), F.col(id_col))
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("bigint"))
        .where(F.col("rnk") <= topk)
        .select(id_col, F.col("cell").cast("bigint").alias("cell"), "adc_score", "rnk")
    )


def ivfpq_topk_sql(
    query_id: int,
    cells: int = 8,
    cell_iters: int = 3,
    nprobe: int = 2,
    m: int = 4,
    k: int = 8,
    iters: int = 2,
    dim: int = 64,
    topk: int = 10,
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> str:
    """DuckDB mirror of :func:`ivfpq_topk`: the k-means coarse chain
    (kmeans_ctes_sql), the PQ fit/code chain (pq_codes_sql), the probe,
    and the decimal ADC scoring — one generated statement, every stage's
    constants shared with the Spark side."""
    dl = dim // m
    km = kmeans_ctes_sql(cells, cell_iters, table, id_col, vec_col)
    base = pq_codes_sql(m, k, iters, dim, table, id_col, vec_col)
    pq_ctes, _, finals = base.partition("\nSELECT")
    pq_ctes = pq_ctes[len("WITH "):]
    finals = "SELECT" + finals
    dotj = (
        "round(list_sum(list_transform(generate_series(1, {n}), "
        "i -> q.qv[CAST(i AS INT)] * c.cv[CAST(i AS INT)])), 9)"
    ).format(n=dl)
    luts = []
    for j in range(m):
        lo, hi = j * dl + 1, (j + 1) * dl
        luts.append(
            f"""SELECT CAST({j} AS BIGINT) AS sub, CAST(c.cell AS BIGINT) AS code,
       {dotj} AS partial
FROM c{j}_{iters} c,
     (SELECT CAST({vec_col}[{lo}:{hi}] AS DOUBLE[]) AS qv FROM {table}
      WHERE {id_col} = {query_id}) q"""
        )
    return f"""WITH {km},
{pq_ctes},
codes AS ({finals}),
ivfassign AS (
  SELECT {id_col}, cell FROM (
    SELECT e.{id_col}, c.cell,
           row_number() OVER (
             PARTITION BY e.{id_col}
             ORDER BY round(list_cosine_similarity(e.v, c.cv), 9) DESC, c.cell
           ) AS rn
    FROM e, c{cell_iters} c
  ) WHERE rn = 1
),
probe AS (
  SELECT cell FROM (
    SELECT c.cell,
           row_number() OVER (
             ORDER BY round(list_cosine_similarity(q.v, c.cv), 9) DESC, c.cell
           ) AS pr
    FROM c{cell_iters} c, (SELECT v FROM e WHERE {id_col} = {query_id}) q
  ) WHERE pr <= {nprobe}
),
cand AS (
  SELECT a.{id_col}, a.cell FROM ivfassign a JOIN probe p ON p.cell = a.cell
  WHERE a.{id_col} <> {query_id}
),
lut AS ({' UNION ALL '.join(luts)}),
adc AS (
  SELECT cd.{id_col}, cand.cell,
         round(CAST(sum(CAST(l.partial AS DECIMAL(38,12))) AS DOUBLE), 9)
           AS adc_score
  FROM codes cd
  JOIN cand ON cand.{id_col} = cd.{id_col}
  JOIN lut l ON l.sub = cd.sub AND l.code = cd.code
  GROUP BY cd.{id_col}, cand.cell
)
SELECT {id_col}, CAST(cell AS BIGINT) AS cell, adc_score, rnk FROM (
  SELECT {id_col}, cell, adc_score,
         CAST(row_number() OVER (ORDER BY adc_score DESC, {id_col}) AS BIGINT)
           AS rnk
  FROM adc
) WHERE rnk <= {topk}
"""
