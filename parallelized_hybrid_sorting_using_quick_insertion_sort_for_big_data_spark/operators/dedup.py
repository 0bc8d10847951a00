"""Deduplication operators for LLM-data pipelines (extension layer, SURVEY
§2c): exact, char-n-gram Jaccard, MinHash + LSH banding, SimHash.

Scale design (the whole point of these at 100 TB):
- exact dedup is a hash-aggregate on a fingerprint — one shuffle of
  (fingerprint, doc_id), never of document bodies;
- n-gram Jaccard enumerates candidate pairs ONLY through a shared-shingle
  equi-join (never a cross join); at petabyte scale the shared-shingle join
  itself is bounded by first dropping ultra-frequent shingles (stop-shingles)
  — exposed via ``max_shingle_freq``;
- MinHash/LSH reduces each doc to a k-int signature, bands it, and
  equi-joins on (band, band-hash) — candidate count is controlled by the
  banding parameters, independent of corpus size;
- SimHash reduces each doc to one 64-bit int; near-dup = small Hamming
  distance, bucketed by bit-chunks for join-based candidate generation;
- substring dedup (``duplicate_spans``, ``span_dedup_rewrite``) shares one
  L-token window relation keyed by ``xxhash64`` of the token slice
  (``_span_windows``): 8 bytes per window occurrence in the shuffle,
  replayed by string-keyed DuckDB oracles.

MinHash has one hash family: an md5-prefix base hash and per-slot
permutations drawn from the seed with stdlib hashlib, so its DuckDB oracle
SQL is GENERATED from the same constants (``minhash_lsh_oracle_sql``,
``minhash_sketch_oracle_sql``) and the near-dup decision is auditable
bit-for-bit by any SQL engine over the same lake. SimHash keeps two: the
``xxhash64`` path (rows-only in the oracle harness, property-tested in
tests/test_text_dedup.py) and ``simhash_pairs_portable``, whose oracle is
``simhash_pairs_oracle_sql``.

The candidate-pair operators ``persist()`` their signature/band relations
for the duration of the returned DataFrame's consumption (both join sides
read them). Long-lived sessions issuing MANY near-dup queries should call
``spark.catalog.clearCache()`` between them (as bench.py does) — persisted
blocks otherwise accumulate across calls.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from . import text as T

# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------


def exact_dedup_groups(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Group identical (normalized) texts: one row per distinct content with
    the canonical (minimum) id and the duplicate count. Shuffles only
    (fingerprint, id) pairs — document bodies never cross the wire."""
    fp = df.select(
        T.fingerprint_md5(F.col(text_col)).alias("fingerprint"),
        F.col(id_col),
    )
    return fp.groupBy("fingerprint").agg(
        F.min(id_col).alias("canonical_id"),
        F.count(F.lit(1)).alias("n_dups"),
    )


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep exactly the canonical row per distinct content (deterministic:
    min id wins) — the `dropDuplicates` semantics but with a defined winner."""
    w = Window.partitionBy(T.fingerprint_md5(F.col(text_col))).orderBy(F.col(id_col))
    return df.withColumn("__rn", F.row_number().over(w)).where(F.col("__rn") == 1).drop("__rn")


# ---------------------------------------------------------------------------
# Char-n-gram shingles + exact Jaccard near-dup
# ---------------------------------------------------------------------------


def shingles(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
    distinct: bool = True,
) -> DataFrame:
    """Char-n-gram shingles per document: (id, shingle) — distinct per doc
    by default. Lowercased; documents shorter than n contribute their whole
    text. The input is spread across cores first (no-op on already-parallel
    scans) — shingling is per-row CPU work that otherwise runs on however
    few partitions the corpus file produced.

    ``distinct=False`` (r14, guide §2.4) skips the dedup ENTIRELY — and with
    it a full shuffle of the corpus-sized shingle relation — for consumers
    whose aggregation is duplicate-insensitive: MinHash takes a MIN per
    (doc, permutation), and min over a multiset equals min over its support
    set, so the signatures are bit-identical either way. Set-semantics
    consumers (exact Jaccard counts shared shingles) keep the default."""
    from ..sources.tables import spread_scan

    df = spread_scan(df)
    t = F.trim(F.lower(F.col(text_col)))
    idx = F.sequence(F.lit(1), F.greatest(F.length(t) - (n - 1), F.lit(1)))
    sh = df.select(F.col(id_col), t.alias("__t"), F.explode(idx).alias("__i")).select(
        F.col(id_col), F.expr(f"substring(__t, __i, {n})").alias("shingle")
    )
    return sh.distinct() if distinct else sh


def jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
    threshold: float = 0.5,
    max_shingle_freq: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard near-duplicate pairs (id_a < id_b, jaccard ≥
    threshold).

    Candidates come from a shared-shingle equi-join; ``max_shingle_freq``
    drops shingles appearing in more than that many docs before the join
    (stop-shingle pruning — at corpus scale a shingle shared by millions of
    docs generates quadratic candidates while carrying ~zero Jaccard
    signal). Default None keeps the result exact."""
    from pyspark.sql import Window
    from pyspark.storagelevel import StorageLevel

    sh = shingles(df, text_col, id_col, n)
    if max_shingle_freq is not None:
        # doc-frequency via a window over shingle: ONE extra shuffle and no
        # second traversal of the shingle pipeline (a groupBy+join formulation
        # recomputes the explode+distinct); it also leaves the data hash-
        # partitioned by shingle, which the candidate self-join below reuses.
        w = Window.partitionBy("shingle")
        sh = (
            sh.withColumn("__df", F.count(F.lit(1)).over(w))
            .where(F.col("__df") <= max_shingle_freq)
            .drop("__df")
        )
    # consumed three times (sizes + both join sides): persist so the scan →
    # explode → distinct [→ prune] pipeline runs once. Bounded by corpus
    # shingle count; at cluster scale prefer DISK_ONLY or a staged write.
    sh = sh.persist(StorageLevel.MEMORY_AND_DISK)
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))

    a = sh.select(F.col(id_col).alias("id_a"), "shingle")
    b = sh.select(F.col(id_col).alias("id_b"), "shingle")
    shared = (
        a.join(b, "shingle")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("n_sh").alias("n_b"))
    return (
        shared.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "jaccard",
            F.col("shared").cast("double")
            / (F.col("n_a") + F.col("n_b") - F.col("shared")).cast("double"),
        )
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


# ---------------------------------------------------------------------------
# MinHash + LSH banding
# ---------------------------------------------------------------------------

# 31-bit Mersenne prime. a, h and b are all below 2^31, so a*h + b stays
# below 2^63 and ANSI overflow checks can never fire.
_MH_PRIME = (1 << 31) - 1


def _shingle_hash(seed: int):
    """32-bit base hash from the md5 hex prefix — bit-identical in any
    engine with md5 (DuckDB: CAST('0x'||substr(md5(s),1,8) AS BIGINT))."""
    h32 = F.conv(F.substring(F.md5(F.col("shingle")), 1, 8), 16, 10).cast("long")
    return F.pmod(h32 + F.lit(seed), F.lit(_MH_PRIME))


def _minhash_permutations(num_hashes: int, seed: int) -> list[tuple[int, int]]:
    """(a_j, b_j) of slot j's permutation h_j(x) = (a_j*x + b_j) mod p, with
    a_j uniform in [1, p) and b_j uniform in [0, p), drawn from md5 of
    (seed, j) like ``similarity.make_planes`` draws its planes. Independent
    uniform draws are what MinHash's min-wise independence assumes (Broder
    et al., STOC'98): with small structured multipliers, a document's
    smallest base hash never wraps mod p and wins most slots at once."""
    import hashlib

    def draw(tag: str, j: int, mod: int) -> int:
        return int(hashlib.md5(f"{seed}|{tag}|{j}".encode()).hexdigest()[:16], 16) % mod

    p = _MH_PRIME
    return [(1 + draw("a", j, p - 1), draw("b", j, p)) for j in range(num_hashes)]


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
    num_hashes: int = 32,
    seed: int = 42,
) -> DataFrame:
    """k-permutation MinHash signatures as (id, array<long>[k]).

    h_j(s) = (a_j * base(s) + b_j) mod p, with base = the md5-prefix
    shingle hash and (a_j, b_j) from ``_minhash_permutations``. One
    aggregation over the shingle relation computes all k mins at once
    (map-side partial min — the shuffle carries k longs per doc, not the
    shingles). Every signature value is reproducible in any SQL engine
    with md5 (``minhash_sketch_oracle_sql``)."""
    # distinct=False (r14, guide §2.4): min is duplicate-insensitive, so the
    # shingle relation never shuffles at all — the only exchange left in the
    # signature stage is the k-longs-per-doc partial-min aggregation. The
    # former .distinct() was a full shuffle of the corpus-sized (id, shingle)
    # relation purely to drop rows the min ignores.
    sh = shingles(df, text_col, id_col, n, distinct=False).withColumn(
        "__h", _shingle_hash(seed)
    )
    mins = [
        F.min((F.col("__h") * F.lit(a) + F.lit(b)) % F.lit(_MH_PRIME)).alias(f"h{j}")
        for j, (a, b) in enumerate(_minhash_permutations(num_hashes, seed))
    ]
    agg = sh.groupBy(id_col).agg(*mins)
    return agg.select(F.col(id_col), F.array(*[f"h{j}" for j in range(num_hashes)]).alias("signature"))


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
    seed: int = 42,
) -> DataFrame:
    """Near-dup pairs via MinHash banding: signature → ``bands`` bands of
    r = num_hashes/bands rows; docs colliding on any (band, band-slice) are
    candidates; candidates are scored by estimated Jaccard (signature
    agreement fraction) and filtered at ``threshold``.

    Only (band-key → id) pairs are joined — never documents, never a cross
    join; this is the 100 TB near-dup path. The band key is the band's
    values as a comma-joined decimal string, which any engine concatenates
    identically, so the result is exactly reproducible in DuckDB — see
    ``minhash_lsh_oracle_sql``."""
    if num_hashes % bands:
        raise ValueError("bands must divide num_hashes")
    r = num_hashes // bands
    sig = minhash_signatures(df, text_col, id_col, n, num_hashes, seed)

    def band_key(bi: int):
        return F.concat_ws(",", *[F.col("signature")[bi * r + j] for j in range(r)])

    band_rows = sig.select(
        F.col(id_col),
        F.col("signature"),
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(bi).alias("band"), band_key(bi).alias("bkey"))
                    for bi in range(bands)
                ]
            )
        ).alias("b"),
    ).select(F.col(id_col), "signature", F.col("b.band").alias("band"), F.col("b.bkey").alias("bkey"))

    # both join sides read band_rows: persist (docs × bands rows — tiny
    # next to the shingle relation) so the scan → shingle → minhash-agg
    # pipeline executes once, not twice
    from pyspark.storagelevel import StorageLevel

    band_rows = band_rows.persist(StorageLevel.MEMORY_AND_DISK)

    lhs = band_rows.select(
        F.col(id_col).alias("id_a"), F.col("signature").alias("sig_a"), "band", "bkey"
    )
    rhs = band_rows.select(
        F.col(id_col).alias("id_b"), F.col("signature").alias("sig_b"), "band", "bkey"
    )
    # r14 (guide §2.3): score and threshold BEFORE the candidate dedup, so
    # the distinct shuffles (id_a, id_b, est_jaccard) — 3 fixed-width
    # values — instead of two full signature arrays per row (2×num_hashes
    # longs). est_jaccard is a pure function of the pair (signatures are
    # per-id constants), so distinct-then-score and score-then-distinct
    # produce the same rows; scoring per collision instead of per distinct
    # pair re-runs the zip_with on band-duplicate candidates, a bounded
    # (≤ bands×) map-side cost traded for a several-fold narrower shuffle.
    agree = F.size(
        F.filter(F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda eq: eq)
    )
    return (
        lhs.join(rhs, ["band", "bkey"])
        .where(F.col("id_a") < F.col("id_b"))
        .withColumn("est_jaccard", agree.cast("double") / F.lit(float(num_hashes)))
        .where(F.col("est_jaccard") >= threshold)
        .select("id_a", "id_b", "est_jaccard")
        .distinct()
    )


def minhash_lsh_oracle_sql(
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
    seed: int = 42,
) -> str:
    """DuckDB SQL reproducing ``minhash_lsh_pairs``
    EXACTLY: same shingles, same md5-prefix base hash, same (a_j, b_j)
    permutations, same band keys, same candidate join and agreement score.
    Generated, not handwritten, so the constants can never drift from the
    Spark side."""
    p = _MH_PRIME
    r = num_hashes // bands
    mins = ",\n         ".join(
        f"min((h0 * {a} + {b}) % {p}) AS h{j}"
        for j, (a, b) in enumerate(_minhash_permutations(num_hashes, seed))
    )
    band_selects = "\n  UNION ALL\n  ".join(
        f"SELECT {id_col}, {bi} AS band, concat_ws(',', "
        + ", ".join(f"h{bi * r + j}" for j in range(r))
        + ") AS bkey FROM sig"
        for bi in range(bands)
    )
    agree = " + ".join(
        f"CASE WHEN sa.h{j} = sb.h{j} THEN 1 ELSE 0 END" for j in range(num_hashes)
    )
    return f"""
WITH d AS (SELECT {id_col}, trim(lower({text_col})) AS t FROM {table}),
idx AS (SELECT {id_col}, t,
               unnest(generate_series(1, greatest(length(t) - {n - 1}, 1))) AS i
        FROM d),
sh AS (SELECT DISTINCT {id_col}, substr(t, CAST(i AS INT), {n}) AS shingle FROM idx),
h AS (SELECT {id_col},
             (CAST('0x' || substr(md5(shingle), 1, 8) AS BIGINT) + {seed}) % {p} AS h0
      FROM sh),
sig AS (SELECT {id_col},
         {mins}
        FROM h GROUP BY {id_col}),
bandrows AS (
  {band_selects}
),
cand AS (
  SELECT DISTINCT a.{id_col} AS id_a, b.{id_col} AS id_b
  FROM bandrows a
  JOIN bandrows b ON a.band = b.band AND a.bkey = b.bkey AND a.{id_col} < b.{id_col}
),
scored AS (
  SELECT id_a, id_b, ({agree}) AS agree
  FROM cand
  JOIN sig sa ON cand.id_a = sa.{id_col}
  JOIN sig sb ON cand.id_b = sb.{id_col}
)
SELECT id_a, id_b, CAST(agree AS DOUBLE) / {num_hashes} AS est_jaccard
FROM scored
WHERE CAST(agree AS DOUBLE) / {num_hashes} >= {threshold}
"""


def winnow_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    w: int = 4,
    seed: int = 42,
    strategy: str = "pandas",
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson, Aiken,
    "Winnowing: Local Algorithms for Document Fingerprinting", SIGMOD'03 —
    the MOSS scheme): hash every char ``k``-gram, then from each window of
    ``w`` consecutive k-gram hashes select the minimum (rightmost on ties),
    dedup the selections. Output: (id, pos, fingerprint) — ``pos`` is the
    1-based k-gram position the fingerprint was taken from.

    Guarantee: any shared substring of length ≥ k + w - 1 between two
    documents yields at least one shared fingerprint — the local, position-
    robust containment detector (plagiarism / quote / near-dup span
    detection), complementary to MinHash's whole-document Jaccard.

    Scale shape: the k-gram hash array is built with JVM built-ins (md5 —
    reproducible in any SQL engine, see ``winnow_oracle_sql``); the window
    selection is O(len · w) per row. Fingerprints dedup per row BEFORE the
    explode — ZERO shuffle end to end, both strategies.

    ``strategy``:
    - ``"pandas"`` (default): the selection runs as an Arrow-batched
      ``mapInPandas`` over (id, hash-array) rows — numpy sliding-window
      min over position-encoded keys. Higher-order-function expressions
      are interpreted (no whole-stage codegen), so the per-window
      slice/fold machinery costs ~10 s at sf0.1 where the numpy kernel
      costs ~1 s; this is the sanctioned escape hatch: JVM built-ins for
      what they express well (the scan + hashes), a vectorized kernel for
      the part they don't.
    - ``"expr"``: pure built-in expressions end to end (the SQL-portable
      reference form). Byte-identical output — equality is pytest-pinned.
    """
    if k < 1 or w < 1:
        raise ValueError(f"k and w must be >= 1, got k={k}, w={w}")
    if strategy not in ("pandas", "expr"):
        raise ValueError(f"unknown strategy {strategy!r}")
    from ..sources.tables import spread_scan

    t = F.trim(F.lower(F.col(text_col)))
    prepared = spread_scan(df).select(F.col(id_col), t.alias("__t"))
    prepared = prepared.withColumn(
        "__hs",
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.length("__t") - (k - 1), F.lit(1))),
            lambda i: F.pmod(
                F.conv(
                    F.substring(F.md5(F.col("__t").substr(i, F.lit(k))), 1, 8), 16, 10
                ).cast("long")
                + F.lit(seed),
                F.lit(_MH_PRIME),
            ),
        ),
    ).select(F.col(id_col), "__hs")

    if strategy == "pandas":
        return _winnow_select_pandas(prepared, id_col, w)

    n = F.size(F.col("__hs"))
    win_len = F.least(F.lit(w), n)
    starts = F.sequence(F.lit(1), F.greatest(n - (w - 1), F.lit(1)))

    def pick(j):
        sl = F.slice(F.col("__hs"), j, win_len)
        min_h = F.array_min(sl)
        rel = F.array_max(
            F.zip_with(
                sl,
                F.sequence(F.lit(1), F.size(sl)),
                lambda h, idx: F.when(h == min_h, idx).otherwise(F.lit(0)),
            )
        )
        return F.struct((j - 1 + rel).cast("bigint").alias("pos"), min_h.alias("fp"))

    selected = F.array_distinct(F.transform(starts, pick))
    return (
        prepared.select(F.col(id_col), F.explode(selected).alias("__s"))
        .select(
            F.col(id_col),
            F.col("__s.pos").alias("pos"),
            F.col("__s.fp").alias("fingerprint"),
        )
    )


def _winnow_select_pandas(prepared: DataFrame, id_col: str, w: int) -> DataFrame:
    """Window-minimum selection as a vectorized numpy kernel over Arrow
    batches of (id, hash-array) rows. Rightmost-min tie rule via position-
    encoded keys: key = h·2^32 + (2^32−1−pos); min key ⇒ min hash, then
    max pos. Hashes < 2^31 (pmod 2^31−1) keep keys < 2^63 — exact in
    int64 end to end (keys never round-trip through float). The position
    budget of 2^32 k-grams can never be exceeded: a JVM string holds at
    most 2^31−1 chars, so n ≤ 2^31−1 by construction."""
    import pandas as pd

    pos_bits = 32
    pos_mod = 1 << pos_bits

    def gen(batches):
        import numpy as np

        for pdf in batches:
            out_id, out_pos, out_fp = [], [], []
            for doc, hs in zip(pdf[id_col].to_numpy(), pdf["__hs"].to_numpy()):
                h = np.asarray(hs, dtype=np.int64)
                n = len(h)
                if n == 0:
                    continue
                if n >= pos_mod:  # unreachable (JVM string cap), defensive
                    raise ValueError(
                        f"document too long for winnow position encoding: {n}"
                    )
                keys = h * pos_mod + (pos_mod - 1 - np.arange(1, n + 1))
                we = min(w, n)
                wins = np.lib.stride_tricks.sliding_window_view(keys, we)
                mins = np.unique(wins.min(axis=1))
                out_id.extend([doc] * len(mins))
                out_pos.extend((pos_mod - 1 - (mins % pos_mod)).tolist())
                out_fp.extend((mins // pos_mod).tolist())
            yield pd.DataFrame(
                {id_col: out_id, "pos": out_pos, "fingerprint": out_fp}
            ).astype({id_col: "int64", "pos": "int64", "fingerprint": "int64"})

    return prepared.mapInPandas(gen, f"{id_col} bigint, pos bigint, fingerprint bigint")


def winnow_oracle_sql(
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    w: int = 4,
    seed: int = 42,
) -> str:
    """DuckDB SQL reproducing :func:`winnow_fingerprints` exactly (same
    md5-prefix hashes, same rightmost-min window rule, same dedup)."""
    p = _MH_PRIME
    return f"""
WITH d AS (SELECT {id_col}, trim(lower({text_col})) AS t FROM {table}),
hs AS (
  SELECT {id_col},
         list_transform(
           generate_series(1, greatest(length(t) - {k - 1}, 1)),
           i -> (CAST('0x' || substr(md5(substr(t, CAST(i AS INT), {k})), 1, 8) AS BIGINT)
                 + {seed}) % {p}
         ) AS h
  FROM d
),
wins AS (
  SELECT {id_col}, h,
         unnest(generate_series(1, greatest(len(h) - {w - 1}, 1))) AS j
  FROM hs
),
sel AS (
  SELECT {id_col}, j,
         h[CAST(j AS INT):CAST(j + least({w}, len(h)) - 1 AS INT)] AS sl
  FROM wins
),
pick AS (
  SELECT {id_col},
         CAST(j - 1 + list_max(list_transform(generate_series(1, len(sl)),
              idx -> CASE WHEN sl[CAST(idx AS INT)] = list_min(sl)
                          THEN idx ELSE 0 END)) AS BIGINT) AS pos,
         list_min(sl) AS fingerprint
  FROM sel
)
SELECT DISTINCT {id_col}, pos, fingerprint FROM pick
"""


def minhash_sketch_oracle_sql(
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
    num_hashes: int = 32,
    seed: int = 42,
) -> str:
    """DuckDB SQL reproducing ``minhash_signatures``
    exploded to (id, sig_idx, minhash) rows — the sketch-materialization
    oracle. Shares every constant with ``minhash_lsh_oracle_sql`` by
    construction (same shingle CTE, base hash, and permutations)."""
    p = _MH_PRIME
    mins = ",\n         ".join(
        f"min((h0 * {a} + {b}) % {p}) AS h{j}"
        for j, (a, b) in enumerate(_minhash_permutations(num_hashes, seed))
    )
    sig_list = ", ".join(f"h{j}" for j in range(num_hashes))
    return f"""
WITH d AS (SELECT {id_col}, trim(lower({text_col})) AS t FROM {table}),
idx AS (SELECT {id_col}, t,
               unnest(generate_series(1, greatest(length(t) - {n - 1}, 1))) AS i
        FROM d),
sh AS (SELECT DISTINCT {id_col}, substr(t, CAST(i AS INT), {n}) AS shingle FROM idx),
h AS (SELECT {id_col},
             (CAST('0x' || substr(md5(shingle), 1, 8) AS BIGINT) + {seed}) % {p} AS h0
      FROM sh),
sig AS (SELECT {id_col},
         {mins}
        FROM h GROUP BY {id_col}),
lists AS (SELECT {id_col}, [{sig_list}] AS l FROM sig)
SELECT {id_col},
       CAST(generate_subscripts(l, 1) - 1 AS BIGINT) AS sig_idx,
       unnest(l) AS minhash
FROM lists
"""


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def simhash(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """64-bit SimHash over word tokens: per-bit majority vote of token
    hashes, entirely with built-in expressions (explode → 64 conditional
    sums → bit reassembly). Returns (id, simhash BIGINT)."""
    def mask(b: int) -> int:
        # bit 63 of a signed long is the sign bit: 1<<63 overflows, use its
        # two's-complement value
        return (1 << b) if b < 63 else -(1 << 63)

    from ..sources.tables import spread_scan

    tok = spread_scan(df).select(
        F.col(id_col), F.explode(T.tokens(F.col(text_col))).alias("tok")
    ).withColumn("__h", F.xxhash64("tok"))
    votes = tok.groupBy(id_col).agg(
        *[
            F.sum(
                F.when(F.col("__h").bitwiseAND(F.lit(mask(b))) != 0, 1).otherwise(-1)
            ).alias(f"v{b}")
            for b in range(64)
        ]
    )
    bits = None
    for b in range(64):
        bit = F.when(F.col(f"v{b}") > 0, F.lit(mask(b))).otherwise(F.lit(0))
        bits = bit if bits is None else bits.bitwiseOR(bit)
    return votes.select(F.col(id_col), bits.cast("long").alias("simhash"))


def simhash_portable(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """64-bit SimHash carried as TWO 32-bit halves (sim_hi, sim_lo), built
    from the md5-prefix token hash — every bit reproducible in DuckDB (no
    xxhash64, no signed-64 assembly; both halves stay non-negative).
    Same per-bit majority-vote construction as :func:`simhash`."""
    from ..sources.tables import spread_scan

    md5 = F.md5(F.col("tok"))
    tok = spread_scan(df).select(
        F.col(id_col), F.explode(T.tokens(F.col(text_col))).alias("tok")
    ).select(
        F.col(id_col),
        F.conv(F.substring(md5, 1, 8), 16, 10).cast("long").alias("__hi"),
        F.conv(F.substring(md5, 9, 8), 16, 10).cast("long").alias("__lo"),
    )
    votes = tok.groupBy(id_col).agg(
        *[
            F.sum(
                F.when(F.shiftright(F.col(part), b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
            ).alias(f"v{name}{b}")
            for part, name in (("__lo", "l"), ("__hi", "h"))
            for b in range(32)
        ]
    )

    def assemble(name: str):
        acc = F.lit(0).cast("long")
        for b in range(32):
            acc = acc + F.when(F.col(f"v{name}{b}") > 0, F.lit(1 << b)).otherwise(F.lit(0))
        return acc

    return votes.select(
        F.col(id_col), assemble("h").alias("sim_hi"), assemble("l").alias("sim_lo")
    )


def simhash_pairs_portable(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 8,
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance ≤ max_hamming, fully
    engine-portable: nibble pieces (16 chunks of 4 bits — no half-straddle,
    complete for max_hamming ≤ 15 by pigeonhole) over the two-half
    signature; hamming = bit_count(hi⊕hi) + bit_count(lo⊕lo). The DuckDB
    twin is :func:`simhash_pairs_oracle_sql`."""
    if max_hamming > 15:
        raise ValueError("nibble pigeonhole is complete only for max_hamming <= 15")
    sh = simhash_portable(df, text_col, id_col)

    def piece(ci: int):
        part = F.col("sim_lo") if ci < 8 else F.col("sim_hi")
        return F.shiftright(part, 4 * (ci % 8)).bitwiseAND(F.lit(15))

    pieces = sh.select(
        F.col(id_col),
        "sim_hi",
        "sim_lo",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(ci).alias("chunk"), piece(ci).alias("piece"))
                    for ci in range(16)
                ]
            )
        ).alias("p"),
    ).select(
        F.col(id_col), "sim_hi", "sim_lo",
        F.col("p.chunk").alias("chunk"), F.col("p.piece").alias("piece"),
    )

    from pyspark.storagelevel import StorageLevel

    pieces = pieces.persist(StorageLevel.MEMORY_AND_DISK)
    lhs = pieces.select(
        F.col(id_col).alias("id_a"), F.col("sim_hi").alias("hi_a"),
        F.col("sim_lo").alias("lo_a"), "chunk", "piece",
    )
    rhs = pieces.select(
        F.col(id_col).alias("id_b"), F.col("sim_hi").alias("hi_b"),
        F.col("sim_lo").alias("lo_b"), "chunk", "piece",
    )
    cand = (
        lhs.join(rhs, ["chunk", "piece"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "hi_a", "lo_a", "hi_b", "lo_b")
        .distinct()
    )
    hamming = F.bit_count(F.col("hi_a").bitwiseXOR(F.col("hi_b"))) + F.bit_count(
        F.col("lo_a").bitwiseXOR(F.col("lo_b"))
    )
    return (
        cand.withColumn("hamming", hamming.cast("long"))
        .where(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def simhash_pairs_oracle_sql(
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 8,
    token_re: str = "[a-z0-9]+",
) -> str:
    """DuckDB SQL reproducing ``simhash_pairs_portable`` exactly — generated
    alongside the Spark form so the bit layout cannot drift."""
    votes = ",\n         ".join(
        f"sum(CASE WHEN ({part} >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS v{n}{b}"
        for part, n in (("lo", "l"), ("hi", "h"))
        for b in range(32)
    )

    def assemble(n: str) -> str:
        return " + ".join(
            f"CASE WHEN v{n}{b} > 0 THEN {1 << b} ELSE 0 END" for b in range(32)
        )

    piece_selects = "\n  UNION ALL\n  ".join(
        f"SELECT {id_col}, sim_hi, sim_lo, {ci} AS chunk, "
        f"({'sim_lo' if ci < 8 else 'sim_hi'} >> {4 * (ci % 8)}) & 15 AS piece FROM sig"
        for ci in range(16)
    )
    return f"""
WITH tok AS (
  SELECT {id_col},
         unnest(regexp_extract_all(lower({text_col}), '{token_re}')) AS tok
  FROM {table}
),
h AS (
  SELECT {id_col},
         CAST('0x' || substr(md5(tok), 1, 8) AS BIGINT) AS hi,
         CAST('0x' || substr(md5(tok), 9, 8) AS BIGINT) AS lo
  FROM tok
),
v AS (SELECT {id_col},
         {votes}
      FROM h GROUP BY {id_col}),
sig AS (
  SELECT {id_col},
         CAST({assemble('h')} AS BIGINT) AS sim_hi,
         CAST({assemble('l')} AS BIGINT) AS sim_lo
  FROM v
),
pieces AS (
  {piece_selects}
),
cand AS (
  SELECT DISTINCT a.{id_col} AS id_a, b.{id_col} AS id_b,
         a.sim_hi AS hi_a, a.sim_lo AS lo_a, b.sim_hi AS hi_b, b.sim_lo AS lo_b
  FROM pieces a
  JOIN pieces b ON a.chunk = b.chunk AND a.piece = b.piece AND a.{id_col} < b.{id_col}
)
SELECT id_a, id_b,
       CAST(bit_count(xor(hi_a, hi_b)) + bit_count(xor(lo_a, lo_b)) AS BIGINT) AS hamming
FROM cand
WHERE bit_count(xor(hi_a, hi_b)) + bit_count(xor(lo_a, lo_b)) <= {max_hamming}
"""


def _simhash_piece_bounds(chunks: int) -> list[tuple[int, int]]:
    """Split 64 bits into ``chunks`` contiguous pieces as evenly as possible
    (the first ``64 % chunks`` pieces get the extra bit). Returns
    (shift, width) per piece."""
    base, extra = divmod(64, chunks)
    bounds, shift = [], 0
    for ci in range(chunks):
        width = base + (1 if ci < extra else 0)
        bounds.append((shift, width))
        shift += width
    return bounds


def simhash_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 8,
    chunks: int | None = None,
    agree_pieces: int = 1,
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance ≤ max_hamming.

    Candidate generation is the block-split pigeonhole (Manku et al.,
    WWW'07 "Detecting near-duplicates for web crawling"): split the 64-bit
    hash into ``chunks`` contiguous pieces; a pair with ≤ ``max_hamming``
    differing bits can corrupt at most ``max_hamming`` pieces, so it agrees
    on ≥ ``chunks − max_hamming`` pieces. Joining on every
    ``agree_pieces``-sized piece-combination therefore finds ALL qualifying
    pairs iff ``chunks − max_hamming ≥ agree_pieces``; anything less is
    approximate-recall and raises unless the caller split the bits that way
    explicitly.

    Defaults: ``chunks=None`` auto-selects ``max_hamming + agree_pieces``
    (the minimal complete split). ``agree_pieces=1`` is a plain per-piece
    equi-join; larger values concatenate ``agree_pieces`` piece values into
    one wider key — C(chunks, agree_pieces)× row replication traded for
    exponentially smaller candidate buckets (the scale lever for small
    distance thresholds, e.g. d=3, chunks=6, agree=3 → 20 combos of
    ~32-bit keys).

    Scale note: candidate volume per piece-key bucket is ~n²/2^key_width,
    so loose thresholds (max_hamming ≳ 12 of 64) force narrow pieces and
    drift toward quadratic — keep max_hamming small at corpus scale or
    raise agree_pieces.
    """
    from itertools import combinations

    if chunks is None:
        chunks = max_hamming + agree_pieces
    if chunks - max_hamming < agree_pieces:
        raise ValueError(
            f"incomplete candidate generation: chunks={chunks}, "
            f"max_hamming={max_hamming}, agree_pieces={agree_pieces} — "
            "pigeonhole completeness needs chunks - max_hamming >= "
            "agree_pieces (pairs spreading their differing bits across all "
            "pieces would be silently dropped). Pass chunks=None to "
            "auto-select, or lower max_hamming."
        )
    if chunks > 64:
        raise ValueError(f"chunks={chunks} > 64 bits: max_hamming too loose for a 64-bit signature")

    sh = simhash(df, text_col, id_col)
    bounds = _simhash_piece_bounds(chunks)

    def piece_expr(ci: int):
        shift, width = bounds[ci]
        return F.shiftrightunsigned(F.col("simhash"), shift).bitwiseAND(
            F.lit((1 << width) - 1)
        )

    # one key per agree_pieces-sized combination: combo id + concatenated
    # piece values (as a string key — widths vary per piece)
    combos = list(combinations(range(chunks), agree_pieces))
    keys = sh.select(
        F.col(id_col),
        F.col("simhash"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(gi).alias("combo"),
                        F.concat_ws(
                            ":", *[piece_expr(ci).cast("string") for ci in combo]
                        ).alias("key"),
                    )
                    for gi, combo in enumerate(combos)
                ]
            )
        ).alias("p"),
    ).select(F.col(id_col), "simhash", F.col("p.combo").alias("combo"), F.col("p.key").alias("key"))

    # both join sides read keys (docs × C(chunks, agree) rows): persist so
    # the token → simhash pipeline executes once
    from pyspark.storagelevel import StorageLevel

    keys = keys.persist(StorageLevel.MEMORY_AND_DISK)

    lhs = keys.select(F.col(id_col).alias("id_a"), F.col("simhash").alias("h_a"), "combo", "key")
    rhs = keys.select(F.col(id_col).alias("id_b"), F.col("simhash").alias("h_b"), "combo", "key")
    cand = (
        lhs.join(rhs, ["combo", "key"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "h_a", "h_b")
        .distinct()
    )
    return (
        cand.withColumn("hamming", F.bit_count(F.col("h_a").bitwiseXOR(F.col("h_b"))))
        .where(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


# ---------------------------------------------------------------------------
# Connected components (near-dup cluster collapse)
# ---------------------------------------------------------------------------


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_rounds: int = 25,
) -> DataFrame:
    """Collapse a pair list into connected components: returns
    ``(node, component)`` for every node appearing in ``pairs``, where
    ``component`` is the MINIMUM node id reachable through the pair graph.

    This is the step that turns near-dup PAIRS (Jaccard / MinHash / SimHash
    output) into dedup DECISIONS: duplicates are transitive in practice
    (a~b, b~c => keep one of {a,b,c}), so the canonical survivor must be
    chosen per component, not per pair.

    Algorithm: alternating large-star / small-star (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", SoCC'14) expressed as
    pure DataFrame joins/aggregations:

    - large-star: every neighbor v > u is re-pointed at
      m(u) = min(neighborhood(u) + u);
    - small-star: every neighbor v <= u (edges oriented large->small) is
      re-pointed at m(u), and (u, m(u)) is kept.

    Both steps preserve connectivity and monotonically contract each
    component toward a star rooted at its minimum; convergence takes
    O(log n) rounds (vs O(diameter) for naive min-label propagation — the
    difference between 5 and 500 shuffles on a 100 TB chain-shaped
    cluster). Each round is 2 groupBy + 2 join shuffles on (node, node)
    pairs only — document bodies never enter the graph.

    Scale notes:
    - the edge list is ``localCheckpoint``-ed every round: iterative
      DataFrame loops otherwise accumulate lineage and re-execute the
      whole history each round (on a cluster, prefer
      ``spark.sparkContext.setCheckpointDir`` + ``.checkpoint()`` for
      executor-loss resilience; localCheckpoint is the single-node form);
    - convergence is detected by an O(1)-row checksum aggregate
      (count + bit_xor of xxhash64(u, v) — overflow-free under ANSI mode
      and reduction-order-independent), not by materializing a diff.
    """
    ua, ub = F.col(id_a), F.col(id_b)
    # canonical undirected edge set, oriented (hi, lo), no self loops/nulls
    edges = (
        pairs.select(
            F.greatest(ua, ub).alias("u"), F.least(ua, ub).alias("v")
        )
        .where(F.col("u").isNotNull() & F.col("v").isNotNull() & (F.col("u") != F.col("v")))
        .distinct()
        .localCheckpoint(eager=True)
    )

    def _checksum(e: DataFrame) -> tuple[int, int]:
        row = e.agg(
            F.count(F.lit(1)).alias("n"),
            F.coalesce(F.expr("bit_xor(xxhash64(u, v))"), F.lit(0)).alias("h"),
        ).collect()[0]
        return int(row["n"]), int(row["h"])

    prev = _checksum(edges)
    for _ in range(max_rounds):
        # -- large-star: both directions; larger neighbors link to the min
        nbr = edges.select("u", "v").unionAll(
            edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
        m = nbr.groupBy("u").agg(F.least(F.col("u"), F.min("v")).alias("m"))
        large = (
            nbr.join(m, "u")
            .where(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
        )
        # large-star output keeps orientation u > v (v = m(u) <= u < old v).
        # No distinct here (r07): duplicate edges are harmless to the
        # small-star min-aggregation and join that consume this relation,
        # and the round's closing distinct bounds growth before the next
        # iteration — dropping the intermediate dedup saves one full
        # shuffle per round in a loop whose cost is round-overhead-bound
        # on all three consumer queries (components, keep-best, frame
        # collapse). Duplicate inflation is bounded: |large| <= |nbr| = 2|E|.
        edges = large.where(F.col("u") != F.col("v"))

        # -- small-star: edges already oriented (hi, lo); all lo-side
        #    neighbors plus hi itself link to the min neighbor
        m2 = edges.groupBy("u").agg(F.least(F.col("u"), F.min("v")).alias("m"))
        small = (
            edges.join(m2, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .unionAll(m2.select(F.col("u"), F.col("m").alias("v")))
        )
        edges = (
            small.where(F.col("u") != F.col("v"))
            .select(
                F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
            )
            .distinct()
            # lazy: the checksum aggregate right below is the materializing
            # action, so each round pays ONE job (checkpoint + convergence
            # check together) instead of two — on small edge sets the loop
            # is job-overhead-bound, not data-bound
            .localCheckpoint(eager=False)
        )

        cur = _checksum(edges)
        if cur == prev:
            break
        prev = cur
    else:
        # Exhausting max_rounds without the checksum stabilizing means the
        # edge set never reached the star fixpoint — labels would be
        # silently WRONG (some nodes still pointing at non-roots). Fail
        # loudly; callers with adversarial graphs should raise max_rounds
        # (convergence is O(log n) rounds, so 25 covers ~2^25 nodes).
        raise RuntimeError(
            f"connected_components did not converge in {max_rounds} rounds; "
            "raise max_rounds (rounds needed grow as O(log n))"
        )

    # fixpoint: every edge is (member, root-of-component)
    roots = edges.select(F.col("v").alias("node")).distinct()
    return (
        edges.select(F.col("u").alias("node"), F.col("v").alias("component"))
        .unionAll(roots.select("node", F.col("node").alias("component")))
        .distinct()
    )


# ---------------------------------------------------------------------------
# Cross-document duplicated-span coverage (exact-substring-dedup signal)
# ---------------------------------------------------------------------------


def crossdup_coverage(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
    min_df: int = 2,
) -> DataFrame:
    """Per-document fraction of tokens covered by word ``n``-grams that
    also occur in at least ``min_df`` DISTINCT documents — the
    exact-substring-duplication signal (the Lee et al. "Deduplicating
    Training Data" suffix-array criterion, re-expressed as a bounded
    n-gram relation instead of an unbounded suffix array, which is the
    Spark-friendly form).

    Pipeline: positioned n-grams (posexplode of the same tokenizer as
    every text operator) → the gram key is the md5 prefix split into TWO
    32-bit BIGINT halves (gk1, gk2) so only fixed-width integer rows
    shuffle — the gram text never leaves the map side, the halves give an
    effective 64-bit key (collisions would merge grams identically in
    both engines — deterministic, ~2^-64·n² ≈ 10^-7 even at billions of
    grams), and integer keys group/join measurably faster than 32-char
    hex strings (the r06 bench showed the string-keyed form 2× the other
    dedup heads) → global distinct-doc frequency per gram → spans of
    qualifying grams → classic interval-union per document (running
    max(end) window) → covered-token count and fraction.

    Exactness: everything is integer until the single final division
    (covered/n_tokens, one IEEE op). The DuckDB oracle is GENERATED from
    the same constants by :func:`crossdup_coverage_oracle_sql`.

    At 100 TB: two gram-keyed exchanges (doc-frequency aggregate +
    qualifying-span join — the same budget class as the shared-shingle
    jaccard join) and one doc-keyed exchange that BOTH the interval
    window and the final per-doc sum reuse. min_df prunes the span join's
    build side; hot grams (boilerplate) fan out bounded spans per doc,
    not candidate pairs, so there is no quadratic blowup anywhere.
    """
    if n < 1 or min_df < 2:
        raise ValueError(f"need n >= 1 and min_df >= 2, got n={n}, min_df={min_df}")
    from ..sources.tables import spread_scan

    df = spread_scan(df)
    base = df.select(
        F.col(id_col), T.token_count(F.col(text_col)).cast("bigint").alias("n_tokens")
    )
    md5 = F.md5("gram")
    hits = df.select(
        F.col(id_col),
        F.posexplode(T.word_ngrams(F.col(text_col), n)).alias("pos", "gram"),
    ).select(
        F.col(id_col),
        (F.col("pos") + 1).alias("s"),
        F.conv(F.substring(md5, 1, 8), 16, 10).cast("long").alias("gk1"),
        F.conv(F.substring(md5, 9, 8), 16, 10).cast("long").alias("gk2"),
    )
    dup = (
        hits.groupBy("gk1", "gk2")
        .agg(F.countDistinct(id_col).alias("df"))
        .where(F.col("df") >= min_df)
        .select("gk1", "gk2")
    )
    spans = hits.join(dup, ["gk1", "gk2"]).select(
        F.col(id_col), F.col("s"), (F.col("s") + n).alias("e")
    )
    w = (
        Window.partitionBy(id_col)
        .orderBy("s")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    covered = (
        spans.withColumn("pm", F.max("e").over(w))
        .select(
            F.col(id_col),
            F.greatest(
                F.col("e") - F.greatest(F.col("s"), F.coalesce(F.col("pm"), F.lit(0))),
                F.lit(0),
            ).alias("contrib"),
        )
        .groupBy(id_col)
        .agg(F.sum("contrib").cast("bigint").alias("covered_tokens"))
    )
    return base.join(covered, id_col, "left").select(
        F.col(id_col),
        "n_tokens",
        F.coalesce(F.col("covered_tokens"), F.lit(0)).cast("bigint").alias("covered_tokens"),
        F.when(
            F.col("n_tokens") > 0,
            F.coalesce(F.col("covered_tokens"), F.lit(0)).cast("double")
            / F.col("n_tokens"),
        )
        .otherwise(F.lit(0.0))
        .cast("double")
        .alias("dup_frac"),
    )


def crossdup_coverage_oracle_sql(
    n: int = 5, min_df: int = 2, table: str = "documents"
) -> str:
    """DuckDB oracle for :func:`crossdup_coverage`, generated from the
    same tokenizer regex, gram length, and split-md5 keying (parallel
    unnests zip positionally in DuckDB, giving the same 1-based positions
    as Spark's posexplode + 1; the two 32-bit halves match Spark's
    conv(substring(md5, ...), 16, 10))."""
    toks = f"regexp_extract_all(lower(text), '{T.TOKEN_RE}')"
    grams = T.word_ngrams_sql("text", n)
    return f"""
WITH toks AS (
  SELECT doc_id, CAST(len({toks}) AS BIGINT) AS n_tokens, {grams} AS grams
  FROM {table}
),
hits0 AS (
  SELECT doc_id,
         unnest(generate_series(1, len(grams))) AS s,
         unnest(grams) AS gram
  FROM toks
),
hits AS (
  SELECT doc_id, s,
         CAST('0x' || substr(md5(gram), 1, 8) AS BIGINT) AS gk1,
         CAST('0x' || substr(md5(gram), 9, 8) AS BIGINT) AS gk2
  FROM hits0
),
dup AS (
  SELECT gk1, gk2
  FROM (SELECT gk1, gk2, count(DISTINCT doc_id) AS df FROM hits GROUP BY gk1, gk2)
  WHERE df >= {min_df}
),
spans AS (SELECT h.doc_id, h.s, h.s + {n} AS e FROM hits h JOIN dup USING (gk1, gk2)),
cov AS (
  SELECT doc_id,
         CAST(sum(greatest(e - greatest(s, coalesce(pm, 0)), 0)) AS BIGINT) AS covered
  FROM (SELECT doc_id, s, e,
               max(e) OVER (PARTITION BY doc_id ORDER BY s
                            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pm
        FROM spans) t
  GROUP BY doc_id
)
SELECT t.doc_id, t.n_tokens,
       CAST(coalesce(c.covered, 0) AS BIGINT) AS covered_tokens,
       CAST(CASE WHEN t.n_tokens > 0
                 THEN CAST(coalesce(c.covered, 0) AS DOUBLE) / t.n_tokens
                 ELSE 0.0 END AS DOUBLE) AS dup_frac
FROM toks t LEFT JOIN cov c USING (doc_id)
"""


def containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
    threshold: float = 0.9,
    max_shingle_freq: int | None = None,
) -> DataFrame:
    """Exact n-gram CONTAINMENT near-duplicate pairs: shared /
    min(|A|, |B|) >= threshold, id_a < id_b. The asymmetric complement of
    :func:`jaccard_pairs` — a short document fully embedded in a long one
    scores containment ~1 while its Jaccard is only |short|/|long| (the
    quote/excerpt/truncation case every dedup pipeline also needs, per
    the Broder resemblance-vs-containment distinction).

    Same machinery and scale shape as jaccard_pairs (shared-shingle
    equi-join, optional stop-shingle prune, one persist of the shingle
    relation, ratio = one double division of exact ints); only the
    denominator differs."""
    from pyspark.sql import Window
    from pyspark.storagelevel import StorageLevel

    sh = shingles(df, text_col, id_col, n)
    if max_shingle_freq is not None:
        w = Window.partitionBy("shingle")
        sh = (
            sh.withColumn("__df", F.count(F.lit(1)).over(w))
            .where(F.col("__df") <= max_shingle_freq)
            .drop("__df")
        )
    sh = sh.persist(StorageLevel.MEMORY_AND_DISK)
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))
    a = sh.select(F.col(id_col).alias("id_a"), "shingle")
    b = sh.select(F.col(id_col).alias("id_b"), "shingle")
    shared = (
        a.join(b, "shingle")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("n_sh").alias("n_b"))
    return (
        shared.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "containment",
            F.col("shared").cast("double")
            / F.least(F.col("n_a"), F.col("n_b")).cast("double"),
        )
        .where(F.col("containment") >= threshold)
        .select("id_a", "id_b", "containment")
    )


def segment_dedup(
    docs: DataFrame,
    seg_words: int = 15,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Line/paragraph-granular exact dedup that REWRITES documents — the
    C4 / RefinedWeb "remove duplicated lines across the corpus" step (the
    one dedup tier that edits documents instead of dropping them whole).
    Documents are split into segments (the testdata has no newlines, so
    the unit is a fixed ``seg_words``-word window — on a corpus with real
    lines, split on the newline instead: the mechanics are identical from
    the explode on), every segment's FIRST corpus occurrence (lexicographic
    min (id, seg_idx)) is kept, later occurrences are dropped, and each
    document is rebuilt from its surviving segments in original order.

    Output: (id, n_segs, n_kept, cleaned_text) — one row per input doc;
    a fully-duplicated doc survives as an empty string (count it, don't
    lose it).

    Scale shape: one narrow explode (segments carry their text once),
    keep-first as a MIN-STRUCT grouped aggregate on the segment hash
    (map-side partials — a corpus-hot segment never funnels a reducer,
    unlike the window row_number() formulation), an equi-join of winners
    back on (hash, id, idx), and one shuffle on id to reassemble. The
    rebuild necessarily moves segment text (the output IS the cleaned
    corpus); the dedup DECISION itself moves only fixed-width
    (hash, id, idx) triples."""
    toks = F.split(F.col(text_col), " ")
    n_segs = F.ceil(F.size(toks) / F.lit(seg_words)).cast("int")
    segs = (
        docs.select(
            F.col(id_col),
            toks.alias("__w"),
            F.posexplode(F.sequence(F.lit(0), n_segs - 1)).alias("__i", "__seg_idx"),
        )
        .select(
            id_col,
            F.col("__seg_idx").cast("long").alias("seg_idx"),
            F.array_join(
                F.slice(F.col("__w"), F.col("__seg_idx") * seg_words + 1, seg_words),
                " ",
            ).alias("seg"),
        )
        .withColumn("h", F.md5(F.col("seg")))
    )
    winners = segs.groupBy("h").agg(
        F.min(F.struct(F.col(id_col), F.col("seg_idx"))).alias("__first")
    )
    kept = segs.join(winners, "h").where(
        (F.col(id_col) == F.col("__first")[id_col])
        & (F.col("seg_idx") == F.col("__first.seg_idx"))
    )
    rebuilt = kept.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("seg_idx", "seg"))),
                lambda s: s["seg"],
            ),
            " ",
        ).alias("cleaned_text"),
    )
    totals = segs.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_segs"))
    return (
        totals.join(rebuilt, id_col, "left")
        .select(
            id_col,
            "n_segs",
            F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
            F.coalesce("cleaned_text", F.lit("")).alias("cleaned_text"),
        )
    )


def segment_dedup_oracle_sql(seg_words: int = 15, table: str = "documents") -> str:
    """DuckDB mirror of :func:`segment_dedup`: same single-space
    tokenization, same fixed-window segmentation, keep-first by
    lexicographic (doc_id, seg_idx) (a window row_number — fine at oracle
    scale), same space-joined rebuild."""
    return f"""
WITH tok AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM {table}
),
seg AS (
  SELECT t.doc_id,
         CAST(gs.i AS BIGINT) AS seg_idx,
         array_to_string(w[gs.i * {seg_words} + 1 : (gs.i + 1) * {seg_words}], ' ') AS seg
  FROM tok t
  CROSS JOIN LATERAL (
    SELECT unnest(range(CAST(ceil(len(w) / {seg_words}.0) AS BIGINT))) AS i
  ) gs
),
ranked AS (
  SELECT doc_id, seg_idx, seg,
         row_number() OVER (
           PARTITION BY md5(seg) ORDER BY doc_id, seg_idx
         ) AS rn
  FROM seg
),
rebuilt AS (
  SELECT doc_id,
         count(*) AS n_kept,
         string_agg(seg, ' ' ORDER BY seg_idx) AS cleaned_text
  FROM ranked WHERE rn = 1 GROUP BY doc_id
),
totals AS (SELECT doc_id, count(*) AS n_segs FROM seg GROUP BY doc_id)
SELECT t.doc_id, t.n_segs,
       coalesce(r.n_kept, 0) AS n_kept,
       coalesce(r.cleaned_text, '') AS cleaned_text
FROM totals t LEFT JOIN rebuilt r USING (doc_id)
"""


# ---------------------------------------------------------------------------
# Sorted-Neighborhood Method (SNM)
# ---------------------------------------------------------------------------


def sorted_neighborhood_pairs(
    docs: DataFrame,
    key_len: int = 24,
    window: int = 10,
    n: int = 8,
    threshold: float = 0.3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Sorted-Neighborhood Method near-duplicate detection (Hernández &
    Stolfo, SIGMOD'95) — the dedup family whose candidate generator IS a
    distributed total sort, i.e. the reference repo's core primitive
    (QuickInsertionSort.c:sort pipeline) repurposed as a blocking strategy:

      1. blocking key: the first ``key_len`` chars of the
         alphanumeric-normalized text (near-identical docs normalize to the
         same prefix and become sort-adjacent);
      2. TOTAL SORT by (key, id) with a materialized global rank — the
         engine's own range-exchange sort (:func:`..operators.sorting.ranked`,
         no single-partition window, scales to any corpus);
      3. candidate pairs = every pair within ``window`` positions of the
         sorted order — generated as an EQUI-join on rank via
         ``explode(sequence(1, window))`` (never a range/cross join:
         exactly n·window candidates, linear in the corpus);
      4. verify with exact char-n-gram Jaccard, computed only for the
         candidate pairs.

    Output: (id_a, id_b, rank_gap, jaccard) with id_a the lower-ranked doc,
    jaccard ≥ threshold.

    100 TB shape: the sort is one range exchange (the same machinery as the
    flagship sort query); candidates are O(corpus × window) regardless of
    key skew — SNM's classic advantage over blocking-key equi-joins, where
    one hot block goes quadratic. The verify computes each doc's DISTINCT
    shingle set as a per-row array (``transform`` over a substring index —
    zero shuffles, no explode) and intersects the two arrays per candidate
    pair with ``array_intersect`` (hash-set, linear per pair). The exploded
    shared-shingle formulation (see :func:`jaccard_pairs`) was 4× slower
    here: with candidates already bounded to n·window, expanding every pair
    by |shingles(a)| rows costs more than shipping each doc's array the ≤2·
    window times it appears in a pair."""
    if window < 1 or key_len < 1 or n < 1:
        raise ValueError(
            f"window/key_len/n must be >= 1, got {window}, {key_len}, {n}"
        )
    if not (0.0 < threshold <= 1.0):
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    from pyspark.storagelevel import StorageLevel

    from ..sources.tables import spread_scan
    from .sorting import ranked

    # ONE pass over the text computes the blocking key AND the per-row
    # distinct shingle set (same semantics as shingles(): trim + lower,
    # short docs contribute their whole text) — then persists the slim
    # (id, key, shingle-array) projection. Everything downstream (the range
    # partitioner's SAMPLE pass, the rank exchange, both pair-join sides)
    # reads the persisted projection instead of re-running scan + regex +
    # shingling; before this, ranked()'s boundary sampling alone recomputed
    # the text pipeline and dominated the runtime. Per-row CPU work is
    # widened across cores first (spread_scan — no-op on parallel inputs).
    docs = spread_scan(docs)
    t = F.trim(F.lower(F.col(text_col)))
    # The key is normalized from a bounded 256-char prefix, not the full
    # text — a megabyte document must not pay a full-body regex for a
    # 24-char blocking key. Mirrored in the oracle, so parity holds even
    # for the pathological doc whose first 256 chars contain < key_len
    # alphanumerics.
    key = F.substring(
        F.regexp_replace(
            F.substring(F.lower(F.col(text_col)), 1, 256), "[^a-z0-9]", ""
        ),
        1,
        key_len,
    )
    sh = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.length(t) - (n - 1), F.lit(1))),
            lambda i: t.substr(i, F.lit(n)),
        )
    )
    slim = docs.select(
        F.col(id_col), key.alias("__key"), sh.alias("__sh"), F.size(sh).alias("__n")
    ).persist(StorageLevel.MEMORY_AND_DISK)
    keyed = ranked(
        slim.select(F.col(id_col), "__key"), ["__key", id_col], rank_col="__rnk"
    )
    a = keyed.select(F.col(id_col).alias("id_a"), F.col("__rnk").alias("__ra"))
    b = keyed.select(F.col(id_col).alias("id_b"), F.col("__rnk").alias("__rb"))
    cand = (
        a.select(
            "id_a",
            "__ra",
            F.explode(F.sequence(F.lit(1), F.lit(window))).alias("rank_gap"),
        )
        .withColumn("__rb", F.col("__ra") + F.col("rank_gap"))
        .join(b, "__rb")
        .select("id_a", "id_b", F.col("rank_gap").cast("bigint").alias("rank_gap"))
    )
    pa = slim.select(
        F.col(id_col).alias("id_a"),
        F.col("__sh").alias("__sha"),
        F.col("__n").alias("__na"),
    )
    pb = slim.select(
        F.col(id_col).alias("id_b"),
        F.col("__sh").alias("__shb"),
        F.col("__n").alias("__nb"),
    )
    # Size-ratio prune BEFORE the per-pair intersect: jaccard(a,b) can never
    # exceed min(|a|,|b|)/max(|a|,|b|), so pairs failing that bound are
    # dropped without touching the arrays. Pure pruning — algebraically
    # implied by the threshold filter below, so the oracle needs no mirror.
    ratio_ok = (
        F.least("__na", "__nb").cast("double")
        >= F.greatest("__na", "__nb").cast("double") * F.lit(threshold)
    )
    return (
        cand.join(pa, "id_a")
        .join(pb, "id_b")
        .where(ratio_ok)
        .withColumn("__shared", F.size(F.array_intersect("__sha", "__shb")))
        .withColumn(
            "jaccard",
            F.col("__shared").cast("double")
            / (F.col("__na") + F.col("__nb") - F.col("__shared")).cast("double"),
        )
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "rank_gap", "jaccard")
    )


def sorted_neighborhood_oracle_sql(
    key_len: int = 24,
    window: int = 10,
    n: int = 8,
    threshold: float = 0.3,
    table: str = "documents",
) -> str:
    """DuckDB mirror of :func:`sorted_neighborhood_pairs`: same normalized
    prefix key, same (key, doc_id) total order (row_number — fine at oracle
    scale), same window-bounded candidates, same n-gram Jaccard verify."""
    return f"""
WITH d AS (
  SELECT doc_id, trim(lower(text)) AS t,
         substr(regexp_replace(substr(lower(text), 1, 256), '[^a-z0-9]', '', 'g'), 1, {key_len}) AS key
  FROM {table}
),
keyed AS (
  SELECT doc_id, row_number() OVER (ORDER BY key, doc_id) AS rnk FROM d
),
cand AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, b.rnk - a.rnk AS rank_gap
  FROM keyed a JOIN keyed b ON b.rnk > a.rnk AND b.rnk <= a.rnk + {window}
),
idx AS (SELECT doc_id, t, unnest(generate_series(1, greatest(length(t)-{n - 1}, 1))) AS i FROM d),
sh AS (SELECT DISTINCT doc_id, substr(t, CAST(i AS INT), {n}) AS shingle FROM idx),
sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
shared AS (
  SELECT c.id_a, c.id_b, c.rank_gap, count(*) AS n_shared
  FROM cand c
  JOIN sh sa ON sa.doc_id = c.id_a
  JOIN sh sb ON sb.doc_id = c.id_b AND sb.shingle = sa.shingle
  GROUP BY 1, 2, 3
)
SELECT s.id_a, s.id_b, s.rank_gap,
       CAST(s.n_shared AS DOUBLE) / (za.n_sh + zb.n_sh - s.n_shared) AS jaccard
FROM shared s
JOIN sizes za ON s.id_a = za.doc_id
JOIN sizes zb ON s.id_b = zb.doc_id
WHERE CAST(s.n_shared AS DOUBLE) / (za.n_sh + zb.n_sh - s.n_shared) >= {threshold}
"""


# ---------------------------------------------------------------------------
# Exact duplicated-span detection (r09): the "exact substring dedup" pass an
# LLM corpus pipeline runs AFTER document-level dedup — find every maximal
# run of duplicated L-token shingles inside each document, i.e. the verbatim
# boilerplate/quote spans worth cutting even when the documents as wholes
# are unique. (Suffix arrays give the sequential form; the distributed shape
# is shingle → global frequency → gaps-and-islands merge, which finds
# exactly the maximal runs of globally-duplicated L-grams.)
# ---------------------------------------------------------------------------


def _span_windows(toks: DataFrame, l: int, id_col: str) -> DataFrame:
    """(id_col, pos, __h) for every ``l``-token window of the pinned
    ``__toks`` relation: ``__h`` is ``xxhash64`` of the L-token ARRAY
    slice, so each occurrence shuffles a fixed 8-byte key and the window
    string is never assembled. Two distinct windows collide in 64 bits
    with odds ≈ k²/2⁶⁵ (~3% at 10¹² corpus windows); a collision only
    over-marks one window as duplicated. Documents shorter than ``l``
    tokens yield no windows."""
    return toks.where(F.size("__toks") >= l).select(
        F.col(id_col),
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.size("__toks") - l),
                lambda k: F.xxhash64(F.slice("__toks", k + 1, l)),
            )
        ).alias("pos", "__h"),
    )


def duplicate_spans(
    docs: DataFrame,
    l: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Maximal duplicated token spans per document: every position window
    of ``l`` word tokens (operators/text.py tokenizer) that occurs >= 2
    times anywhere in the corpus, merged into maximal per-document runs
    (gaps-and-islands over positions). Output one row per span:
    (doc_id, span_start, span_end, span_tokens, n_dup_shingles), token
    positions 0-based inclusive.

    Semantics note: a merged run certifies every L-window inside it is
    duplicated SOMEWHERE — adjacent windows may match different partners,
    so the run as a whole need not be a verbatim copy of one source (the
    standard over-merge of shingle-based substring dedup; the cut
    decision only needs "this text is duplicated material").

    Scale shape: windowing is a map-side projection (one row per token
    position, the text itself never replicated per window) keyed by the
    64-bit window hash from :func:`_span_windows`. The frequency pass is one hash
    agg on that key, the position join one equi-shuffle, the island
    merge one window keyed by doc. The DuckDB oracle keys on the window
    string, so the oracle check value-hashes this plan against a
    string-keyed replay.

    The tokenized relation is pinned eagerly: the window relation feeds
    both the frequency agg and the position join, and without the pin
    each side re-runs tokenization + windowing from the raw text (the
    both-join-sides re-evaluation ahash_near_dup_pairs documents).
    Pinning the token arrays (one row per doc) is far cheaper than
    pinning the L-times-larger window expansion, which recomputes
    map-side from the pinned tokens."""
    toks = (
        docs.select(F.col(id_col), T.tokens(F.col(text_col)).alias("__toks"))
        .where(F.size("__toks") >= l)
        .localCheckpoint(eager=True)
    )
    sh = _span_windows(toks, l, id_col)
    freq = sh.groupBy("__h").agg(F.count(F.lit(1)).alias("__cnt"))
    dup = sh.join(freq.where(F.col("__cnt") >= 2), "__h").select(id_col, "pos")
    w = Window.partitionBy(id_col).orderBy("pos")
    isl = dup.withColumn("__g", F.col("pos") - F.row_number().over(w))
    return (
        isl.groupBy(id_col, "__g")
        .agg(
            F.min("pos").cast("bigint").alias("span_start"),
            (F.max("pos") + l - 1).cast("bigint").alias("span_end"),
            (F.max("pos") - F.min("pos") + l).cast("bigint").alias("span_tokens"),
            F.count(F.lit(1)).cast("bigint").alias("n_dup_shingles"),
        )
        .drop("__g")
    )


def duplicate_spans_oracle_sql(l: int = 8, table: str = "documents") -> str:
    """DuckDB mirror of :func:`duplicate_spans` — same tokenizer regex,
    same 0-based windows, same global >=2 frequency rule, same
    gaps-and-islands merge. It keys each window on its string where the
    Spark plan keys on the slice's xxhash64."""
    return f"""
WITH toks AS (
  SELECT doc_id, regexp_extract_all(lower(text), '{T.TOKEN_RE}') AS t
  FROM {table}
),
occ AS (
  SELECT doc_id, CAST(k AS BIGINT) AS pos,
         array_to_string(t[CAST(k + 1 AS INT):CAST(k + {l} AS INT)], ' ') AS sh
  FROM toks, unnest(generate_series(0, len(t) - {l})) AS u(k)
  WHERE len(t) >= {l}
),
freq AS (SELECT sh FROM occ GROUP BY sh HAVING count(*) >= 2),
dup AS (SELECT o.doc_id, o.pos FROM occ o JOIN freq USING (sh)),
isl AS (
  SELECT doc_id, pos,
         pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS g
  FROM dup
)
SELECT doc_id,
       CAST(min(pos) AS BIGINT) AS span_start,
       CAST(max(pos) + {l} - 1 AS BIGINT) AS span_end,
       CAST(max(pos) - min(pos) + {l} AS BIGINT) AS span_tokens,
       CAST(count(*) AS BIGINT) AS n_dup_shingles
FROM isl GROUP BY doc_id, g
"""


# doc_id * 2^32 + window position. Precondition: 0 <= doc_id < 2^31 and
# pos < 2^32, else the packed key overflows signed BIGINT (an ANSI runtime
# error on Spark). Corpora with wider ids should pack into DECIMAL(38,0) or
# a (doc_id, pos) struct-min instead; every registered scale factor pins
# ids well below 2^31 (max planted id ~3M).
_SPAN_PACK = 4294967296


def span_dedup_rewrite(
    docs: DataFrame,
    l: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Exact substring DEDUPLICATION (the cut, not just the report): every
    duplicated ``l``-token window keeps its canonical occurrence (min
    packed (doc, pos) — the same order-independent argmin the frame dedup
    uses) and every NON-canonical occurrence's tokens are cut from the
    rebuilt text. Output one row per document:
    (doc_id, clean_text, n_tokens_before, n_tokens_after, n_windows_cut).

    Cut rule: token t of doc d is dropped iff covered by >= 1 duplicated
    window whose canonical owner is another occurrence. A canonical
    window's tokens survive unless overlapped by ANOTHER shingle group's
    non-canonical window (each group elects its canon independently, so
    overlapping groups can cut into each other's canonical span); later
    verbatim copies lose the shared span — keep-first semantics at token
    granularity. The rebuilt text is the
    kept token stream joined by single spaces (the tokenizer discards
    inter-token bytes by design; a production pipeline carries byte
    offsets instead — same plan shape, wider rows).

    Scale: the windows/frequency legs are `duplicate_spans`'s (the same
    :func:`_span_windows` hash-keyed relation, one hash agg, one
    equi-join); the rebuild adds one per-doc grouped collect of
    (pos, token) structs — bounded by document length, never by corpus
    size — and the cut-token anti-join, keyed by (doc, token position).
    The tokenized relation (all documents, short ones included, so every
    doc gets an output row) is pinned eagerly — it feeds the windows, the
    rebuild rows, AND the before-count, so an unpinned plan re-tokenizes
    the corpus three times."""
    toks = docs.select(
        F.col(id_col), T.tokens(F.col(text_col)).alias("__toks")
    ).localCheckpoint(eager=True)
    occ = _span_windows(toks, l, id_col)
    packed = F.col(id_col) * F.lit(_SPAN_PACK) + F.col("pos")
    canon = occ.groupBy("__h").agg(
        F.count(F.lit(1)).alias("__cnt"), F.min(packed).alias("__canon")
    )
    cut_windows = (
        occ.join(canon.where(F.col("__cnt") >= 2), "__h")
        .where(packed != F.col("__canon"))
        .select(F.col(id_col), "pos")
    )
    cut_tokens = cut_windows.select(
        F.col(id_col),
        F.explode(F.sequence(F.col("pos"), F.col("pos") + l - 1)).alias("tokpos"),
    ).distinct()
    n_cut = cut_windows.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_windows_cut")
    )
    tok_rows = toks.select(
        F.col(id_col), F.posexplode("__toks").alias("tokpos", "tok")
    )
    kept = tok_rows.join(cut_tokens, [id_col, "tokpos"], "left_anti")
    rebuilt = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("tokpos", "tok"))),
                lambda s: s["tok"],
            ),
            " ",
        ).alias("clean_text"),
        F.count(F.lit(1)).cast("bigint").alias("n_tokens_after"),
    )
    before = toks.select(
        F.col(id_col), F.size("__toks").cast("bigint").alias("n_tokens_before")
    )
    return (
        before.join(rebuilt, id_col, "left")
        .join(n_cut, id_col, "left")
        .select(
            id_col,
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
            "n_tokens_before",
            F.coalesce("n_tokens_after", F.lit(0)).cast("bigint").alias(
                "n_tokens_after"
            ),
            F.coalesce("n_windows_cut", F.lit(0)).cast("bigint").alias(
                "n_windows_cut"
            ),
        )
    )


def span_dedup_rewrite_oracle_sql(l: int = 8, table: str = "documents") -> str:
    """DuckDB mirror of :func:`span_dedup_rewrite` — same tokenizer, same
    packed-min canonical rule, same covered-token cut, same single-space
    rebuild. Anti-joins are NOT EXISTS (NULL-robust, matches left_anti)."""
    return f"""
WITH toks AS (
  SELECT doc_id, regexp_extract_all(lower(text), '{T.TOKEN_RE}') AS t
  FROM {table}
),
occ AS (
  SELECT doc_id, CAST(k AS BIGINT) AS pos,
         array_to_string(t[CAST(k + 1 AS INT):CAST(k + {l} AS INT)], ' ') AS sh
  FROM toks, unnest(generate_series(0, len(t) - {l})) AS u(k)
  WHERE len(t) >= {l}
),
canon AS (
  SELECT sh, count(*) AS cnt, min(doc_id * {_SPAN_PACK} + pos) AS can
  FROM occ GROUP BY sh
),
cutw AS (
  SELECT o.doc_id, o.pos
  FROM occ o JOIN canon c USING (sh)
  WHERE c.cnt >= 2 AND o.doc_id * {_SPAN_PACK} + o.pos <> c.can
),
cutt AS (
  SELECT DISTINCT doc_id, CAST(pos + j AS BIGINT) AS tokpos
  FROM cutw, unnest(generate_series(0, {l} - 1)) AS v(j)
),
ncut AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_windows_cut
  FROM cutw GROUP BY doc_id
),
tokrows AS (
  SELECT doc_id, CAST(k - 1 AS BIGINT) AS tokpos, t[CAST(k AS INT)] AS tok
  FROM toks, unnest(generate_series(1, len(t))) AS w(k)
),
kept AS (
  SELECT r.doc_id, r.tokpos, r.tok
  FROM tokrows r
  WHERE NOT EXISTS (
    SELECT 1 FROM cutt c WHERE c.doc_id = r.doc_id AND c.tokpos = r.tokpos
  )
),
rebuilt AS (
  SELECT doc_id,
         string_agg(tok, ' ' ORDER BY tokpos) AS clean_text,
         CAST(count(*) AS BIGINT) AS n_tokens_after
  FROM kept GROUP BY doc_id
)
SELECT b.doc_id,
       COALESCE(r.clean_text, '') AS clean_text,
       CAST(len(b.t) AS BIGINT) AS n_tokens_before,
       COALESCE(r.n_tokens_after, 0) AS n_tokens_after,
       COALESCE(n.n_windows_cut, 0) AS n_windows_cut
FROM toks b
LEFT JOIN rebuilt r ON r.doc_id = b.doc_id
LEFT JOIN ncut n ON n.doc_id = b.doc_id
"""
