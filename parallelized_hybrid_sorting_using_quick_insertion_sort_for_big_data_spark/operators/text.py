"""Text analysis operators for LLM-data pipelines (extension layer, SURVEY
§2c): tokenization, token counting, language ID, quality scoring, document
fingerprinting.

Everything here is JVM-side built-in expressions (whole-stage codegen, no
Python in the hot path) and is expressed so the identical computation is
writable in ANSI SQL for the DuckDB oracle: per-row double arithmetic only
(IEEE-identical across engines), regexes restricted to the `[a-z0-9]`
character-class subset that Java regex and RE2 agree on.

100 TB notes: all operators are narrow (per-row map) — no shuffle at all;
they pipeline into whatever scan/filter precedes them and the parquet scan
prunes to the `text` column only.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

TOKEN_RE = "[a-z0-9]+"

# Marker stopwords per language for the n-gram/stopword language-ID
# heuristic. Deterministic scoring: count marker hits per language, pick by
# fixed precedence en > de > es > fr on ties; CJK short-circuits via a
# unicode-range test.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to", "in", "is"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "ein"),
    "es": ("el", "los", "las", "es", "una", "y", "por"),
    "fr": ("le", "la", "les", "et", "est", "une", "dans"),
}
# \x{...} escapes: the form Java regex (Spark) and RE2 (DuckDB) agree on.
CJK_RE = "[\\x{4e00}-\\x{9fff}]"

STOPWORDS = LANG_MARKERS["en"]


def tokens(text: Column) -> Column:
    """Lowercased word tokens — the whitespace + BPE-ish regex tokenizer."""
    return F.regexp_extract_all(F.lower(text), F.lit(TOKEN_RE), 0)


def token_count(text: Column) -> Column:
    return F.size(tokens(text)).cast("bigint")


def _marker_hits(toks: Column, markers: tuple[str, ...]) -> Column:
    return F.size(F.filter(toks, lambda t: t.isin(*markers))).cast("bigint")


def lang_id(text: Column) -> Column:
    """Deterministic language-ID heuristic: CJK unicode-range test, then
    argmax of per-language marker-stopword hit counts with fixed-precedence
    tiebreak. (A real pipeline plugs fastText/cld3 in the same column slot;
    that model isn't in this container, and the heuristic keeps the operator
    oracle-checkable.)"""
    toks = tokens(text)
    en = _marker_hits(toks, LANG_MARKERS["en"])
    de = _marker_hits(toks, LANG_MARKERS["de"])
    es = _marker_hits(toks, LANG_MARKERS["es"])
    fr = _marker_hits(toks, LANG_MARKERS["fr"])
    return (
        F.when(F.regexp_count(text, F.lit(CJK_RE)) > 0, "zh")
        .when((en >= de) & (en >= es) & (en >= fr), "en")
        .when((de >= es) & (de >= fr), "de")
        .when(es >= fr, "es")
        .otherwise("fr")
    )


def lang_id_sql(text_expr: str) -> str:
    """The identical heuristic as DuckDB SQL."""

    def hits(lang: str) -> str:
        lst = ", ".join(f"'{m}'" for m in LANG_MARKERS[lang])
        return (
            f"len(list_filter(regexp_extract_all(lower({text_expr}), '{TOKEN_RE}'),"
            f" t -> t IN ({lst})))"
        )

    en, de, es, fr = (hits(lang) for lang in ("en", "de", "es", "fr"))
    return f"""CASE
      WHEN regexp_matches({text_expr}, '[\\x{{4e00}}-\\x{{9fff}}]') THEN 'zh'
      WHEN {en} >= {de} AND {en} >= {es} AND {en} >= {fr} THEN 'en'
      WHEN {de} >= {es} AND {de} >= {fr} THEN 'de'
      WHEN {es} >= {fr} THEN 'es'
      ELSE 'fr' END"""


def word_ngrams(text: Column, n: int) -> Column:
    """Array of space-joined word ``n``-grams of the lowercased token
    stream; empty array when the document has fewer than ``n`` tokens
    (guarded — ``sequence`` would otherwise count DOWN and fabricate
    grams)."""
    toks = tokens(text)
    n_t = F.size(toks)
    return F.when(n_t < n, F.array().cast("array<string>")).otherwise(
        F.transform(
            F.sequence(F.lit(1), n_t - (n - 1)),
            lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
        )
    )


def word_ngrams_sql(text_expr: str, n: int) -> str:
    """DuckDB expression mirroring :func:`word_ngrams` (1-based inclusive
    ``list_slice`` == Spark's 1-based ``slice(start, length)``)."""
    toks = f"regexp_extract_all(lower({text_expr}), '{TOKEN_RE}')"
    return (
        f"list_transform(generate_series(1, greatest(len({toks}) - {n - 1}, 0)),"
        f" i -> array_to_string(list_slice({toks}, i, i + {n - 1}), ' '))"
    )


def punct_ratio(text: Column) -> Column:
    """Share of characters that are not [a-z0-9 ] after lowercasing."""
    stripped = F.length(F.regexp_replace(F.lower(text), "[a-z0-9 ]", ""))
    return (stripped.cast("double") / F.greatest(F.length(text), F.lit(1)).cast("double"))


def stopword_ratio(text: Column) -> Column:
    toks = tokens(text)
    return (
        _marker_hits(toks, STOPWORDS).cast("double")
        / F.greatest(F.size(toks), F.lit(1)).cast("double")
    )


def mean_token_len(text: Column) -> Column:
    # total token chars via join-then-length: portable to DuckDB as
    # length(array_to_string(tokens, ''))
    toks = tokens(text)
    total = F.length(F.array_join(toks, ""))
    return total.cast("double") / F.greatest(F.size(toks), F.lit(1)).cast("double")


def quality_score(text: Column) -> Column:
    """Composite quality heuristic in [0,1]: rewards mid-length docs and
    normal stopword density, penalizes punctuation soup. Pure per-row double
    arithmetic — bit-identical across engines."""
    n_tok = token_count(text).cast("double")
    length_term = F.least(n_tok / F.lit(100.0), F.lit(1.0))
    stop_term = F.least(stopword_ratio(text) * 4.0, F.lit(1.0))
    punct_term = F.greatest(F.lit(1.0) - punct_ratio(text) * 5.0, F.lit(0.0))
    return (length_term * 0.4 + stop_term * 0.3 + punct_term * 0.3).cast("double")


def text_metrics(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(id, n_tokens, detected_lang, punct_ratio, mean_token_len, quality,
    fingerprint) with the token array built ONCE per row.

    Same staging rationale as :func:`repetition_metrics`: the scalar Column
    helpers each re-tokenize internally (~10 regex extractions per row in
    the naive single projection, since no codegen subexpression elimination
    reaches higher-order functions). Stages: tokenize once → reduce the
    array to scalar counts (marker hits, sizes) → assemble the metrics from
    cheap attribute references. Expression shapes match the scalar helpers
    exactly, so results (and the generated oracles) are bit-identical."""
    t = F.col(text_col)
    s1 = df.select(F.col(id_col), t.alias("__text"), tokens(t).alias("__toks"))
    toks = F.col("__toks")
    s2 = s1.select(
        F.col(id_col),
        F.size(toks).alias("__nt"),
        *[
            _marker_hits(toks, LANG_MARKERS[lang]).alias(f"__{lang}")
            for lang in ("en", "de", "es", "fr")
        ],
        F.length(F.array_join(toks, "")).alias("__ttl"),
        punct_ratio(F.col("__text")).alias("__punct"),
        (F.regexp_count(F.col("__text"), F.lit(CJK_RE)) > 0).alias("__cjk"),
        fingerprint_md5(F.col("__text")).alias("fingerprint"),
    )
    en, de, es, fr = (F.col(f"__{lang}") for lang in ("en", "de", "es", "fr"))
    n_tok_d = F.col("__nt").cast("bigint").cast("double")
    length_term = F.least(n_tok_d / F.lit(100.0), F.lit(1.0))
    stop_ratio = en.cast("double") / F.greatest(F.col("__nt"), F.lit(1)).cast("double")
    stop_term = F.least(stop_ratio * 4.0, F.lit(1.0))
    punct_term = F.greatest(F.lit(1.0) - F.col("__punct") * 5.0, F.lit(0.0))
    return s2.select(
        F.col(id_col),
        F.col("__nt").cast("bigint").alias("n_tokens"),
        (
            F.when(F.col("__cjk"), "zh")
            .when((en >= de) & (en >= es) & (en >= fr), "en")
            .when((de >= es) & (de >= fr), "de")
            .when(es >= fr, "es")
            .otherwise("fr")
        ).alias("detected_lang"),
        F.col("__punct").alias("punct_ratio"),
        (
            F.col("__ttl").cast("double")
            / F.greatest(F.col("__nt"), F.lit(1)).cast("double")
        ).alias("mean_token_len"),
        (length_term * 0.4 + stop_term * 0.3 + punct_term * 0.3)
        .cast("double")
        .alias("quality"),
        "fingerprint",
    )


def quality_score_sql(text_expr: str) -> str:
    t = text_expr
    n_tok = f"CAST(len(regexp_extract_all(lower({t}), '{TOKEN_RE}')) AS DOUBLE)"
    stop_list = ", ".join(f"'{m}'" for m in STOPWORDS)
    stop_hits = (
        f"CAST(len(list_filter(regexp_extract_all(lower({t}), '{TOKEN_RE}'),"
        f" x -> x IN ({stop_list}))) AS DOUBLE)"
    )
    punct = (
        f"(CAST(length(regexp_replace(lower({t}), '[a-z0-9 ]', '', 'g')) AS DOUBLE)"
        f" / greatest(length({t}), 1))"
    )
    return (
        f"(least({n_tok} / 100.0, 1.0) * 0.4"
        f" + least(({stop_hits} / greatest({n_tok}, 1)) * 4.0, 1.0) * 0.3"
        f" + greatest(1.0 - {punct} * 5.0, 0.0) * 0.3)"
    )


# ---------------------------------------------------------------------------
# Repetition metrics (Gopher-style quality rules, Rae et al. 2021 §A1.1):
# repetitive documents — one token dominating, or heavy n-gram duplication —
# are the classic low-quality class a training pipeline filters out.
# All per-row array arithmetic (higher-order functions, whole-stage codegen,
# ZERO shuffle): every metric is O(tokens log tokens) per row or better,
# bounded and embarrassingly parallel — nothing crosses the wire.
# ---------------------------------------------------------------------------


def top_token_share(text: Column) -> Column:
    """Fraction of tokens equal to the single most frequent token.

    Linear-ish per row: sort the token array (O(n log n)) and fold once,
    tracking the longest run of equal adjacent tokens — in a sorted array
    the longest equal-run IS the max token count. The naive
    distinct×filter formulation is O(tokens · distinct-tokens) per row,
    which at 100× document length becomes the worst cell in the engine
    (measured 53.8 s at sf0.1); this fold took it to low single digits."""
    toks = F.array_sort(tokens(text))
    zero = F.struct(
        F.lit("").alias("prev"), F.lit(0).alias("run"), F.lit(0).alias("best")
    )

    def step(acc: Column, t: Column) -> Column:
        run = F.when(t == acc["prev"], acc["run"] + 1).otherwise(F.lit(1))
        return F.struct(
            t.alias("prev"), run.alias("run"), F.greatest(acc["best"], run).alias("best")
        )

    top = F.aggregate(toks, zero, step, lambda acc: acc["best"])
    return top.cast("double") / F.greatest(F.size(toks), F.lit(1)).cast("double")


def repetition_metrics(
    df,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 2,
    top_share_max: float = 0.2,
    dup_frac_max: float = 0.5,
    round_digits: int = 9,
):
    """(id, top_token_share, dup_ngram_frac, repetitive) computed with each
    expensive array built EXACTLY ONCE per row.

    Why a DataFrame transform and not the scalar Column functions: the
    higher-order-function expressions don't enter whole-stage codegen, so
    Spark's codegen-level subexpression elimination never runs — every
    REFERENCE to ``tokens(text)`` or the gram array re-executes it. A naive
    single projection (metrics + the flag re-using them) evaluated the
    token regex ~6× per row. Staged projections fix it: each stage aliases
    a non-cheap array, and CollapseProject declines to inline a non-cheap
    producer referenced more than once, so the alias materializes per row.
    Measured: 21.8 s → 6.9 s on the sf0.1 repetition query. Still zero
    shuffle — these are narrow projections fused into the scan stage.

    Metric semantics are identical to :func:`top_token_share` /
    :func:`dup_ngram_frac` (the single-column forms kept for composability):
    longest equal-run in the sorted token array = max token count;
    distinct-gram count = run starts in the sorted gram array."""
    toks = tokens(F.col(text_col))
    staged = df.select(F.col(id_col), toks.alias("__toks"))
    grams = F.when(F.size("__toks") < n, F.array().cast("array<string>")).otherwise(
        F.transform(
            F.sequence(F.lit(1), F.size("__toks") - (n - 1)),
            lambda i: F.concat_ws(" ", F.slice(F.col("__toks"), i, n)),
        )
    )
    staged = staged.select(
        F.col(id_col),
        F.size("__toks").alias("__nt"),
        F.array_sort("__toks").alias("__st"),
        F.array_sort(grams).alias("__sg"),
    )

    def run_fold(arr: Column, want: str) -> Column:
        """One pass over a sorted string array: longest equal-run ('best')
        or count of distinct runs ('runs')."""
        zero = F.struct(
            F.lit("").alias("prev"), F.lit(0).alias("run"),
            F.lit(0).alias("best"), F.lit(0).alias("runs"),
        )

        def step(acc: Column, t: Column) -> Column:
            is_new = t != acc["prev"]
            run = F.when(is_new, F.lit(1)).otherwise(acc["run"] + 1)
            return F.struct(
                t.alias("prev"),
                run.alias("run"),
                F.greatest(acc["best"], run).alias("best"),
                (acc["runs"] + F.when(is_new, 1).otherwise(0)).alias("runs"),
            )

        return F.aggregate(arr, zero, step, lambda acc: acc[want])

    total_g = F.greatest(F.col("__nt") - (n - 1), F.lit(0))
    top = F.round(
        run_fold(F.col("__st"), "best").cast("double")
        / F.greatest(F.col("__nt"), F.lit(1)).cast("double"),
        round_digits,
    )
    dup = F.when(total_g <= 0, F.lit(0.0)).otherwise(
        F.lit(1.0)
        - run_fold(F.col("__sg"), "runs").cast("double") / total_g.cast("double")
    )
    dup = F.round(dup, round_digits)
    staged = staged.select(
        F.col(id_col), top.alias("top_token_share"), dup.alias("dup_ngram_frac")
    )
    return staged.select(
        id_col,
        "top_token_share",
        "dup_ngram_frac",
        (
            (F.col("top_token_share") > top_share_max)
            | (F.col("dup_ngram_frac") > dup_frac_max)
        ).alias("repetitive"),
    )


def dup_ngram_frac(text: Column, n: int = 2) -> Column:
    """Share of word ``n``-grams that are repeats of an earlier occurrence
    (1 − distinct/total; 0 for docs shorter than ``n`` tokens)."""
    grams = word_ngrams(text, n)
    total = F.size(grams)
    return F.when(total <= 0, F.lit(0.0)).otherwise(
        F.lit(1.0) - F.size(F.array_distinct(grams)).cast("double") / total.cast("double")
    )


def repetition_metrics_sql(
    text_expr: str, ngram: int = 2, top_share_max: float = 0.2, dup_frac_max: float = 0.5
) -> dict[str, str]:
    """DuckDB expressions mirroring the repetition metrics; keys are the
    output column names used by the `text_repetition` query.

    The oracle keeps the distinct×filter top-count formulation: the max
    count over distinct tokens equals the longest equal-run in the sorted
    array (what the Spark side computes), and the oracle only ever runs at
    sf0.01 where the quadratic cost is irrelevant."""
    toks = f"regexp_extract_all(lower({text_expr}), '{TOKEN_RE}')"
    counts = (
        f"list_transform(list_distinct({toks}),"
        f" d -> len(list_filter({toks}, t -> t = d)))"
    )
    top_share = (
        f"(CAST(coalesce(list_max({counts}), 0) AS DOUBLE)"
        f" / greatest(len({toks}), 1))"
    )
    grams = word_ngrams_sql(text_expr, ngram)
    dup_frac = (
        f"(CASE WHEN len({grams}) <= 0 THEN 0.0"
        f" ELSE 1.0 - CAST(len(list_distinct({grams})) AS DOUBLE) / len({grams}) END)"
    )
    return {
        "top_token_share": f"round({top_share}, 9)",
        "dup_ngram_frac": f"round({dup_frac}, 9)",
        "repetitive": f"(round({top_share}, 9) > {top_share_max}"
        f" OR round({dup_frac}, 9) > {dup_frac_max})",
    }


def normalized_text(text: Column) -> Column:
    """Canonical form for fingerprinting: lowercase, collapse whitespace."""
    return F.trim(F.regexp_replace(F.lower(text), "\\s+", " "))


def fingerprint_md5(text: Column) -> Column:
    """Content fingerprint: md5 of the normalized text (hex string). The
    exact-dedup key."""
    return F.md5(F.encode(normalized_text(text), "UTF-8"))


NORMALIZED_SQL = "trim(regexp_replace(lower({t}), '\\s+', ' ', 'g'))"
FINGERPRINT_SQL = "md5(" + NORMALIZED_SQL + ")"


# ---------------------------------------------------------------------------
# PII scrubbing (redaction) — patterns restricted to the syntax subset Java
# regex (Spark) and RE2 (DuckDB) interpret identically: character classes,
# bounded repetition, alternation-free, no backrefs, no \b.
# ---------------------------------------------------------------------------

PII_PATTERNS: dict[str, tuple[str, str]] = {
    # kind -> (regex, replacement token)
    "email": ("[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>"),
    "ip": ("[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}", "<IP>"),
    "phone": ("[0-9]{3}-[0-9]{3}-[0-9]{4}", "<PHONE>"),
}
#: Replacement order matters where matches could nest (an email's domain
#: must not be half-eaten by the ip pattern first): email, then ip, then
#: phone. Counting happens on the ORIGINAL text, independent per pattern.
PII_ORDER = ("email", "ip", "phone")


def pii_count(text: Column, kind: str) -> Column:
    """Occurrences of one PII kind in the raw text (pre-redaction)."""
    return F.regexp_count(text, F.lit(PII_PATTERNS[kind][0])).cast("bigint")


def pii_count_sql(text_expr: str, kind: str) -> str:
    return (
        f"CAST(len(regexp_extract_all({text_expr}, "
        f"'{PII_PATTERNS[kind][0]}')) AS BIGINT)"
    )


def pii_scrub(text: Column) -> Column:
    """Redact all PII kinds in :data:`PII_ORDER`; pure JVM regexp_replace
    chain — narrow per-row map, pipelines into the scan stage."""
    out = text
    for kind in PII_ORDER:
        pat, repl = PII_PATTERNS[kind]
        out = F.regexp_replace(out, pat, repl)
    return out


def pii_scrub_sql(text_expr: str) -> str:
    """DuckDB expression mirroring :func:`pii_scrub` ('g' flag: DuckDB
    replaces only the first match by default, Spark replaces all)."""
    out = text_expr
    for kind in PII_ORDER:
        pat, repl = PII_PATTERNS[kind]
        out = f"regexp_replace({out}, '{pat}', '{repl}', 'g')"
    return out


# ---------------------------------------------------------------------------
# Sliding-window chunking (context-window preparation)
# ---------------------------------------------------------------------------


def chunk_sliding(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    chunk_tokens: int = 32,
    stride: int = 24,
) -> DataFrame:
    """Split each document into overlapping token windows — the
    long-document → context-window preparation step of a training pipeline
    (stride < chunk_tokens gives chunk overlap, so no boundary context is
    lost).

    Window k covers tokens [k·stride, k·stride + chunk_tokens); the last
    window starts at the smallest k·stride that still reaches the final
    token (K = ceil((n - chunk)/stride) for n > chunk, else 0 — an empty or
    short doc yields exactly one chunk). All JVM expressions:
    tokenize → sequence(0..K) → explode → slice; the shuffle-free 1→N
    fan-out shape (`explode` pipelines into the scan; output partitioning
    follows the input)."""
    if stride <= 0 or chunk_tokens <= 0:
        raise ValueError("chunk_tokens and stride must be positive")
    toks = tokens(F.col(text_col))
    n = F.size(toks)
    k_max = F.when(n <= chunk_tokens, F.lit(0)).otherwise(
        F.floor((n - F.lit(chunk_tokens) + F.lit(stride - 1)) / F.lit(stride)).cast("int")
    )
    out = df.select(
        F.col(id_col),
        toks.alias("__toks"),
        F.explode(F.sequence(F.lit(0), k_max)).alias("chunk_idx"),
    )
    sl = F.slice(F.col("__toks"), F.col("chunk_idx") * stride + 1, chunk_tokens)
    return out.select(
        F.col(id_col),
        F.col("chunk_idx").cast("bigint").alias("chunk_idx"),
        F.concat_ws(" ", sl).alias("chunk_text"),
        F.size(sl).cast("bigint").alias("n_tokens"),
    )


def chunk_sliding_sql(
    chunk_tokens: int = 32, stride: int = 24, table: str = "documents"
) -> str:
    """DuckDB SQL mirroring :func:`chunk_sliding` (1-based inclusive
    list_slice == Spark's 1-based slice(start, length))."""
    cs, st = chunk_tokens, stride
    return f"""
WITH t AS (
  SELECT doc_id, regexp_extract_all(lower(text), '{TOKEN_RE}') AS toks FROM {table}
),
x AS (SELECT doc_id, toks, len(toks) AS n FROM t),
ks AS (
  SELECT doc_id, toks,
         unnest(generate_series(0, CASE WHEN n <= {cs} THEN 0
                                        ELSE (n - {cs} + {st - 1}) // {st} END)) AS k
  FROM x
)
SELECT doc_id,
       CAST(k AS BIGINT) AS chunk_idx,
       array_to_string(list_slice(toks, k*{st} + 1, k*{st} + {cs}), ' ') AS chunk_text,
       CAST(len(list_slice(toks, k*{st} + 1, k*{st} + {cs})) AS BIGINT) AS n_tokens
FROM ks
"""


def pmi_cooccurrence(
    docs: DataFrame,
    vocab: int = 100,
    min_support: int = 5,
    top: int = 20,
    id_col: str = "doc_id",
    text_col: str = "text",
    round_digits: int = 9,
) -> DataFrame:
    """Document-level pointwise mutual information for token pairs:
    PMI(a,b) = ln(n(a,b)·N / (n(a)·n(b))) over document PRESENCE counts,
    restricted to the global top-``vocab`` terms by document frequency
    (ties term-ascending) and pairs seen in ≥ ``min_support`` docs.
    Output: the ``top`` pairs by (rounded PMI desc, term_a, term_b).

    The vocabulary cap is what makes corpus-level co-occurrence scale: the
    per-doc pair fan-out is bounded by C(vocab, 2) regardless of document
    length or corpus size, and the vocabulary relation (100 rows) enters
    as a broadcast semi-join — the same hot-key discipline as the
    n-gram-Jaccard doc-freq cap. All counts are integers; the single ln
    is rounded before ranking (BM25 doctrine)."""
    dt = docs.select(
        F.col(id_col), F.explode(tokens(F.col(text_col))).alias("term")
    ).distinct()
    dfc = dt.groupBy("term").agg(F.count(F.lit(1)).cast("bigint").alias("df"))
    from pyspark.sql import Window

    wv = Window.orderBy(F.col("df").desc(), F.col("term"))
    vocab_df = (
        dfc.withColumn("__r", F.row_number().over(wv))
        .where(F.col("__r") <= vocab)
        .select("term", "df")
    )
    capped = dt.join(F.broadcast(vocab_df.select("term")), "term").select(
        id_col, "term"
    )
    a = capped.select(F.col(id_col), F.col("term").alias("term_a"))
    b = capped.select(F.col(id_col), F.col("term").alias("term_b"))
    pairs = (
        a.join(b, id_col)
        .where(F.col("term_a") < F.col("term_b"))
        .groupBy("term_a", "term_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("nab"))
        .where(F.col("nab") >= min_support)
    )
    n_docs = docs.agg(F.count(F.lit(1)).cast("bigint").alias("__n"))
    scored = (
        pairs.join(
            F.broadcast(vocab_df.select(F.col("term").alias("term_a"), F.col("df").alias("na"))),
            "term_a",
        )
        .join(
            F.broadcast(vocab_df.select(F.col("term").alias("term_b"), F.col("df").alias("nb"))),
            "term_b",
        )
        .crossJoin(F.broadcast(n_docs))
        .select(
            "term_a",
            "term_b",
            "nab",
            F.round(
                F.log(
                    (F.col("nab") * F.col("__n")).cast("double")
                    / (F.col("na") * F.col("nb")).cast("double")
                ),
                round_digits,
            ).alias("pmi"),
        )
    )
    wr = Window.orderBy(F.col("pmi").desc(), F.col("term_a"), F.col("term_b"))
    return (
        scored.withColumn("rnk", F.row_number().over(wr).cast("bigint"))
        .where(F.col("rnk") <= top)
        .select("term_a", "term_b", "nab", "pmi", "rnk")
    )


def pmi_cooccurrence_sql(
    vocab: int = 100,
    min_support: int = 5,
    top: int = 20,
    table: str = "documents",
    round_digits: int = 9,
) -> str:
    """DuckDB mirror of :func:`pmi_cooccurrence` (generated)."""
    toks = f"regexp_extract_all(lower(text), '{TOKEN_RE}')"
    return f"""
WITH dt AS (
  SELECT DISTINCT doc_id, unnest({toks}) AS term FROM {table}
),
dfc AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM dt GROUP BY term),
vocab AS (
  SELECT term, df FROM (
    SELECT term, df, row_number() OVER (ORDER BY df DESC, term) AS r FROM dfc
  ) WHERE r <= {vocab}
),
capped AS (SELECT dt.doc_id, dt.term FROM dt JOIN vocab USING (term)),
pairs AS (
  SELECT a.term AS term_a, b.term AS term_b, CAST(count(*) AS BIGINT) AS nab
  FROM capped a JOIN capped b ON a.doc_id = b.doc_id AND a.term < b.term
  GROUP BY 1, 2 HAVING count(*) >= {min_support}
),
n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM {table}),
scored AS (
  SELECT p.term_a, p.term_b, p.nab,
         round(ln(CAST(p.nab * n.n AS DOUBLE) / CAST(va.df * vb.df AS DOUBLE)),
               {round_digits}) AS pmi
  FROM pairs p
  JOIN vocab va ON va.term = p.term_a
  JOIN vocab vb ON vb.term = p.term_b
  CROSS JOIN n
)
SELECT term_a, term_b, nab, pmi, rnk FROM (
  SELECT term_a, term_b, nab, pmi,
         CAST(row_number() OVER (ORDER BY pmi DESC, term_a, term_b) AS BIGINT)
           AS rnk
  FROM scored
) WHERE rnk <= {top}
"""


def hashed_bow_vectors(
    docs: DataFrame,
    dim: int = 32,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """The hashing-trick vectorizer (Weinberger et al. 2009): every token
    hashes to a bucket in [0, dim) and a sign in {-1, +1} (two independent
    md5 coins — the signed variant that keeps collisions unbiased), and a
    document's vector is the signed sum of its token counts per bucket.
    Output: sparse (id, dim_idx, val) rows, nonzero buckets only — ALL
    BIGINT, so the whole vectorization is exact cross-engine.

    This is the schema-free text→vector bridge: no vocabulary to build,
    no fit stage, stable under corpus growth (a token's bucket never
    changes), which is why it is the standard featurizer for streaming /
    100 TB settings. Shape: one corpus explode with map-side partial
    counts, one (id, bucket) aggregation — no broadcast, no state."""
    from .. import operators  # noqa: F401  (package-relative md5 helpers live in sampling)

    term = F.col("term")
    bucket = (
        F.conv(F.substring(F.md5(F.concat(term, F.lit("fh"))), 1, 8), 16, 10)
        .cast("long") % dim
    )
    sign = (
        F.conv(F.substring(F.md5(F.concat(term, F.lit("fhsign"))), 1, 8), 16, 10)
        .cast("long") % 2
    ) * 2 - 1
    dt = (
        docs.select(F.col(id_col), F.explode(tokens(F.col(text_col))).alias("term"))
        .groupBy(id_col, "term")
        .agg(F.count(F.lit(1)).cast("bigint").alias("tf"))
    )
    return (
        dt.select(
            F.col(id_col),
            bucket.alias("dim_idx"),
            (sign * F.col("tf")).alias("__sv"),
        )
        .groupBy(id_col, "dim_idx")
        .agg(F.sum("__sv").cast("bigint").alias("val"))
        .where(F.col("val") != 0)
    )


def hashed_bow_sql(dim: int = 32, table: str = "documents") -> str:
    """DuckDB mirror of :func:`hashed_bow_vectors` (generated, same md5
    coins and sign convention)."""
    toks = f"regexp_extract_all(lower(text), '{TOKEN_RE}')"
    bucket = "CAST('0x' || substr(md5(term || 'fh'), 1, 8) AS BIGINT) % " + str(dim)
    sign = (
        "(CAST('0x' || substr(md5(term || 'fhsign'), 1, 8) AS BIGINT) % 2) * 2 - 1"
    )
    return f"""
WITH dt AS (
  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM (
    SELECT doc_id, unnest({toks}) AS term FROM {table}
  ) GROUP BY doc_id, term
),
sv AS (
  SELECT doc_id, {bucket} AS dim_idx, ({sign}) * tf AS v FROM dt
)
SELECT doc_id, dim_idx, CAST(sum(v) AS BIGINT) AS val
FROM sv GROUP BY doc_id, dim_idx
HAVING sum(v) <> 0
"""
