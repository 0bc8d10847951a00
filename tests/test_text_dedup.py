"""Text-analysis + dedup tests: oracle parity, and property checks for the
non-SQL-expressible paths (MinHash vs exact Jaccard, SimHash sanity)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entrymod
from parallelized_hybrid_sorting_using_quick_insertion_sort_for_big_data_spark.operators import (
    dedup,
    multimodal as M,
)
from parallelized_hybrid_sorting_using_quick_insertion_sort_for_big_data_spark.suites.multimodal import (
    _PACK,
)
from tests.conftest import SF_DIR, SF_DIR_MID, assert_matches_oracle

ORACLE_QUERIES = [
    "text_tfidf_keywords",
    "text_pmi_cooccurrence",
    "text_hashed_bow",
    "text_analysis",
    "text_token_frequency",
    "dedup_exact",
    "dedup_ngram_jaccard",
    "text_minhash_doc_sketch",
    "dedup_incremental_minhash",
    "text_winnow_fingerprints",
    "pipeline_leakage_safe_split",
    "pipeline_pretraining_corpus",
    "dedup_segment_rewrite",
    "text_zipf_slope",
    "text_phrase_search",
    "dedup_sorted_neighborhood",
    # r08 third-session adds
    "text_fertility_by_lang",
    "pipeline_dataset_card",
    "dedup_lsh_recall",
    # r09: recency-guard backfill (test_session) — last driver row r04/r05,
    # no in-session oracle parity pin until now
    "dedup_components",
    "dedup_minhash_portable",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "dedup_simhash_portable",
    "pipeline_clean_corpus",
    "pipeline_dedup_keep_best",
    "pipeline_pack_sequences",
    "text_bm25_topk",
    "text_chunk_sliding",
    "text_cms_counts",
    "text_heavy_hitters",
    "text_pii_scrub",
    "text_repetition",
    # r09 adds
    "dedup_duplicate_spans",
    "pipeline_span_dedup_rewrite",
    # r10: the xxhash64 span-key path, checked against the STRING form's
    # oracle (identical result set by construction, collisions aside)
    "dedup_duplicate_spans_fast",
]


def test_span_dedup_rewrite_semantics(spark):
    """Keep-first substring dedup invariants: one row per document,
    n_tokens_after <= n_tokens_before always; a cut happens somewhere
    (non-vacuous — the corpus plants duplicates); for every duplicated
    window group exactly ONE occurrence survives verbatim (the canonical
    min (doc,pos) copy keeps its text when wholly canonical); and docs
    with zero cut windows are rebuilt as their full token stream."""
    import __spark_entry__ as entrymod
    from pyspark.sql import functions as F

    from parallelized_hybrid_sorting_using_quick_insertion_sort_for_big_data_spark.operators import (
        text as T,
    )
    from parallelized_hybrid_sorting_using_quick_insertion_sort_for_big_data_spark.sources.tables import (
        load_table,
    )

    rows = {
        r["doc_id"]: r
        for r in entrymod.queries()["pipeline_span_dedup_rewrite"](
            spark, SF_DIR
        ).collect()
    }
    docs = {
        r["doc_id"]: r["t"]
        for r in load_table(spark, SF_DIR, "documents")
        .select("doc_id", T.tokens(F.col("text")).alias("t"))
        .collect()
    }
    assert set(rows) == set(docs), "one output row per document"
    assert any(r["n_windows_cut"] > 0 for r in rows.values()), "vacuous"
    for d, r in rows.items():
        assert r["n_tokens_before"] == len(docs[d])
        assert r["n_tokens_after"] <= r["n_tokens_before"]
        if r["n_windows_cut"] == 0:
            assert r["clean_text"] == " ".join(docs[d])
            assert r["n_tokens_after"] == r["n_tokens_before"]
        else:
            assert r["n_tokens_after"] < r["n_tokens_before"]


def test_duplicate_spans_semantics(spark):
    """Structural pins beyond oracle parity: spans lie inside their doc's
    token range; islands are maximal (two spans in one doc are separated
    by at least one NON-duplicated window position — token ranges may
    still overlap when L > gap); n_dup_shingles == span_tokens − L + 1
    (a run of R consecutive duplicated windows covers R+L−1 tokens
    exactly); and the result is non-vacuous (the corpus plants duplicate
    text)."""
    import __spark_entry__ as entrymod
    from pyspark.sql import functions as F

    from parallelized_hybrid_sorting_using_quick_insertion_sort_for_big_data_spark.operators import (
        text as T,
    )
    from parallelized_hybrid_sorting_using_quick_insertion_sort_for_big_data_spark.sources.tables import (
        load_table,
    )

    L = 8
    rows = entrymod.queries()["dedup_duplicate_spans"](spark, SF_DIR).collect()
    assert rows, "no duplicated spans found — vacuous"
    ntok = {
        r["doc_id"]: r["n"]
        for r in load_table(spark, SF_DIR, "documents")
        .select("doc_id", F.size(T.tokens(F.col("text"))).alias("n"))
        .collect()
    }
    by_doc = {}
    for r in rows:
        assert 0 <= r["span_start"] <= r["span_end"] < ntok[r["doc_id"]]
        assert r["span_tokens"] == r["span_end"] - r["span_start"] + 1
        assert r["n_dup_shingles"] == r["span_tokens"] - L + 1
        by_doc.setdefault(r["doc_id"], []).append((r["span_start"], r["span_end"]))
    for spans in by_doc.values():
        spans.sort()
        for (s1, e1), (s2, e2) in zip(spans, spans[1:]):
            # maximal islands: a gap of at least one non-duplicated window
            assert s2 > e1 + 1 - L + 1, (s1, e1, s2, e2)


def test_pretraining_pipeline_exercises_every_drop_path(spark):
    """Each stage of the end-to-end pipeline must actually fire on the
    corpus: every split non-empty, some docs dropped for quality, some
    dropped as benchmark contamination (the doc_id%37 members self-overlap
    100%), and a positive kept token budget."""
    out = entrymod.queries()["pipeline_pretraining_corpus"](spark, SF_DIR).collect()
    rows = {r["split"]: r for r in out}
    assert set(rows) == {"train", "val", "test"}
    assert sum(r["n_dropped_quality"] for r in out) > 0
    assert sum(r["n_dropped_contaminated"] for r in out) > 0
    assert all(r["n_kept"] > 0 and r["kept_tokens"] > 0 for r in out)


@pytest.mark.slow
def test_leakage_safe_split_never_separates_near_dups(spark):
    """The invariant the query exists for: no near-dup pair may straddle a
    split boundary (that's eval contamination), splits must cover every
    document exactly once, and all three splits must be non-empty."""
    from parallelized_hybrid_sorting_using_quick_insertion_sort_for_big_data_spark.operators import (
        dedup,
    )
    from parallelized_hybrid_sorting_using_quick_insertion_sort_for_big_data_spark.sources.tables import (
        load_table,
    )
    from parallelized_hybrid_sorting_using_quick_insertion_sort_for_big_data_spark.suites.text_dedup import (
        _JACCARD_T,
        _MAX_SHINGLE_DF,
        _NGRAM_N,
    )

    qs = entrymod.queries()
    out = qs["pipeline_leakage_safe_split"](spark, SF_DIR)
    rows = {r["doc_id"]: r["split"] for r in out.collect()}
    docs = load_table(spark, SF_DIR, "documents")
    assert len(rows) == docs.count(), "a document lost or duplicated"
    assert set(rows.values()) == {"train", "val", "test"}
    pairs = dedup.jaccard_pairs(
        docs, n=_NGRAM_N, threshold=_JACCARD_T, max_shingle_freq=_MAX_SHINGLE_DF
    ).collect()
    assert len(pairs) > 0, "vacuous: no near-dup pairs at this SF"
    crossing = [
        (p["id_a"], p["id_b"])
        for p in pairs
        if rows[p["id_a"]] != rows[p["id_b"]]
    ]
    assert not crossing, f"near-dup pairs straddle splits: {crossing[:5]}"


@pytest.mark.parametrize("name", ORACLE_QUERIES)
def test_oracle_parity(spark, name):
    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    assert_matches_oracle(qs[name](spark, SF_DIR), oracles[name], SF_DIR)


def test_dataset_card_on_empty_corpus(spark, tmp_path):
    """On an empty corpus the dup rate is 0/0: NULL in both engines, not an
    ANSI DIVIDE_BY_ZERO. Every sf0.001 table is written with zero rows, one
    file each, so the oracle's DuckDB views resolve."""
    from pathlib import Path

    import pyarrow.parquet as pq

    for f in Path(SF_DIR).glob("*.parquet"):
        pq.write_table(pq.read_table(f).slice(0, 0), tmp_path / f.name)
    empty = str(tmp_path)
    card = entrymod.queries()["pipeline_dataset_card"](spark, empty)
    assert_matches_oracle(card, entrymod.oracle_sql()["pipeline_dataset_card"], empty)


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet")


def test_exact_dedup_keeps_canonical(spark, docs):
    doubled = docs.select("doc_id", "text").unionAll(
        docs.select((F.col("doc_id") + 10_000).alias("doc_id"), "text")
    )
    kept = dedup.exact_dedup(doubled)
    n_docs = docs.count()
    assert kept.count() == n_docs
    # canonical winner is the min id → all kept ids are the originals
    assert kept.where(F.col("doc_id") >= 10_000).count() == 0


def test_minhash_lsh_recall_vs_exact(spark, docs):
    """LSH candidates at est-jaccard ≥ 0.5 must recover the exact-jaccard
    pairs at ≥ 0.5 with high recall and estimate within tolerance."""
    exact = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in dedup.jaccard_pairs(docs, n=8, threshold=0.5).collect()
    }
    approx = {
        (r["id_a"], r["id_b"]): r["est_jaccard"]
        for r in dedup.minhash_lsh_pairs(
            docs, n=8, num_hashes=32, bands=8, threshold=0.35
        ).collect()
    }
    assert exact, "expected planted near-dup pairs in testdata"
    found = sum(1 for p in exact if p in approx)
    recall = found / len(exact)
    assert recall >= 0.9, f"LSH recall {recall} too low ({found}/{len(exact)})"
    for p, j in exact.items():
        if p in approx:
            assert abs(approx[p] - j) <= 0.35, (p, j, approx[p])


@pytest.mark.slow
def test_simhash_near_dups_align_with_jaccard(spark, docs):
    """High-Jaccard pairs should be close in SimHash space (sanity, not a
    tight bound — simhash is token-based, jaccard char-based)."""
    exact = dedup.jaccard_pairs(docs, n=8, threshold=0.8).collect()
    sim = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in dedup.hamming_pairs(dedup.simhash(docs), "doc_id", 20).collect()
    }
    assert exact
    hits = sum(1 for r in exact if (r["id_a"], r["id_b"]) in sim)
    assert hits / len(exact) >= 0.8


def test_simhash_is_deterministic(spark, docs):
    a = sorted(dedup.simhash(docs.limit(50)).collect())
    b = sorted(dedup.simhash(docs.limit(50)).collect())
    assert a == b


def _simhash_sigs(docs):
    return dedup.simhash(docs.limit(120)), "doc_id"


def _assert_hamming_pairs_complete(sigs, id_col, ds):
    """The pigeonhole candidate join must find EVERY pair within the
    Hamming bound: check ``hamming_pairs`` against a brute-force cross of
    the two-half signatures at each d. At each d one of the d + 1 pieces
    crosses bit 32, so the piece assembled from both halves is exercised
    too. Returns the brute-force distances and the last d's pairs."""
    import itertools

    rows = sigs.collect()
    hams = {
        (min(a[id_col], b[id_col]), max(a[id_col], b[id_col])): bin(
            a["sig_hi"] ^ b["sig_hi"]
        ).count("1")
        + bin(a["sig_lo"] ^ b["sig_lo"]).count("1")
        for a, b in itertools.combinations(rows, 2)
    }
    got = {}
    for d in ds:
        assert any(s < 32 < s + w for s, w in dedup._hamming_piece_bounds(d + 1)), d
        got = {
            (r["id_a"], r["id_b"]): r["hamming"]
            for r in dedup.hamming_pairs(sigs, id_col, d).collect()
        }
        assert got == {p: h for p, h in hams.items() if h <= d}, f"d={d}"
    return hams, got


def test_simhash_pairs_complete_vs_bruteforce(spark, docs):
    """SimHash near-dup pairs from ``hamming_pairs`` at d = 4 and 6 equal
    the brute-force set."""
    _assert_hamming_pairs_complete(*_simhash_sigs(docs), (4, 6))


def test_portable_simhash_pairs_complete_vs_bruteforce(spark, docs):
    """At max_hamming = 8, the bound of the ``dedup_simhash`` and
    ``dedup_simhash_portable`` registry queries, ``hamming_pairs`` must
    find every SimHash pair within the bound, and testdata has some."""
    _, got = _assert_hamming_pairs_complete(*_simhash_sigs(docs), (8,))
    assert got, "expected near-dup pairs within d = 8 in testdata"


@pytest.mark.slow
def test_ahash_frame_pairs_complete_vs_bruteforce(spark):
    """Planted aHash frames: doc 1 is doc 0 lightly perturbed (bytes sit
    FAR from the frame mean, so the +i%3 re-encode flips few bits and the
    twin frames stay within ham<=2); doc 2 is an unrelated control. Keys
    pack (doc_id, frame_no) as the frame queries do. ``hamming_pairs`` at
    d = 2 equals the brute force and recovers a twin frame pair."""
    base = (chr(40) * 4 + chr(120) * 4) * 24  # 192 bytes = 3 frames
    pert = "".join(chr(ord(c) + (i % 3)) for i, c in enumerate(base))
    other = "zyxwvuts" * 24
    df = spark.createDataFrame([(0, base), (1, pert), (2, other)], "doc_id long, text string")
    sigs = M.ahash_sigs_from_frames(M.frame_byte_arrays(df)).select(
        (F.col("doc_id") * F.lit(_PACK) + F.col("frame_no")).alias("k"), "sig_hi", "sig_lo"
    )
    hams, got = _assert_hamming_pairs_complete(sigs, "k", (M.AHASH_MAX_HAM,))
    assert any(h <= M.AHASH_MAX_HAM for h in hams.values()), "expected near-dup pairs"
    assert any(a // _PACK == 0 and b // _PACK == 1 for a, b in got), (
        "no perturbed twin frame was recovered"
    )


def test_hamming_pairs_rejects_out_of_range_hamming(spark, docs):
    for d in (-1, 64):
        with pytest.raises(ValueError):
            dedup.hamming_pairs(dedup.simhash(docs), "doc_id", d)


def test_minhash_slots_are_independent_permutations(spark):
    """MinHash assumes each slot is an independent min-wise permutation
    (Broder et al., STOC'98), so a document's slots should rarely share an
    argmin shingle. Black-box check: documents with ~2,000 distinct 8-grams
    are hashed in ONE minhash_signatures call together with one document
    per 8-gram; each slot's argmin is recovered by matching its value
    against the one-shingle signatures. With independent uniform (a_j, b_j)
    about 0.25 of 32 slots repeat another slot's argmin; the former small
    structured multipliers (a_j = 2j+1) repeated 6-12 per document here."""
    import random
    import string

    rng = random.Random(7)
    alphabet = string.ascii_lowercase + string.digits
    n, k, big = 8, 32, 4
    texts = ["".join(rng.choice(alphabet) for _ in range(2_000 + n - 1)) for _ in range(big)]
    grams = [{t[i : i + n] for i in range(len(t) - n + 1)} for t in texts]
    single_id = {g: big + i for i, g in enumerate(sorted(set().union(*grams)))}
    rows = list(enumerate(texts)) + [(i, g) for g, i in single_id.items()]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sig = {
        r["doc_id"]: r["signature"]
        for r in dedup.minhash_signatures(df, n=n, num_hashes=k).collect()
    }
    repeats = []
    for d in range(big):
        argmins = []
        for j in range(k):
            by_value = {sig[single_id[g]][j]: g for g in grams[d]}
            argmins.append(by_value[sig[d][j]])
        repeats.append(k - len(set(argmins)))
    assert sum(repeats) / big < 2, repeats


def test_pipeline_clean_corpus_oracle_and_plan(spark):
    import __spark_entry__ as entrymod
    from parallelized_hybrid_sorting_using_quick_insertion_sort_for_big_data_spark.plans import (
        inspect as PI,
    )
    from tests.conftest import SF_DIR, assert_matches_oracle

    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    df = qs["pipeline_clean_corpus"](spark, SF_DIR)
    # plan gates BEFORE execution: once AQE finalizes, the plan text prints
    # initial+final stages and double-counts exchanges
    # dedup window (fingerprint) + final rollup: the lang/quality maps must
    # not introduce extra shuffles
    PI.assert_max_exchanges(df, 2)
    assert not PI.has_cartesian(df)
    assert_matches_oracle(df, oracles["pipeline_clean_corpus"], SF_DIR)


# ---------------------------------------------------------------------------
# Connected components (cluster collapse)
# ---------------------------------------------------------------------------


def _uf_components(edges):
    nodes = sorted({x for e in edges for x in e})
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in nodes}


@pytest.mark.parametrize("seed,n,ne", [(7, 60, 50), (11, 200, 170), (13, 40, 8)])
def test_connected_components_vs_union_find(spark, seed, n, ne):
    import random

    rng = random.Random(seed)
    edges = [
        (a, b)
        for a, b in ((rng.randrange(n), rng.randrange(n)) for _ in range(ne))
        if a != b
    ]
    truth = _uf_components(edges)
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {r["node"]: r["component"] for r in dedup.connected_components(df).collect()}
    assert got == truth


def test_connected_components_chain_converges_in_log_rounds(spark):
    # a 101-node chain: naive min propagation needs 100 rounds; the
    # alternating star algorithm must finish inside the max_rounds cap
    chain = [(i, i + 1) for i in range(100)]
    df = spark.createDataFrame(chain, "id_a long, id_b long")
    got = dedup.connected_components(df, max_rounds=12).collect()
    assert len(got) == 101
    assert {r["component"] for r in got} == {0}


def test_winnow_known_values_and_coverage(spark):
    """Winnowing invariants on a crafted doc: every w-window of k-gram
    hashes contributes a selected fingerprint (the coverage guarantee),
    positions are in range, and two docs sharing a long substring share at
    least one fingerprint (the MOSS detection property)."""
    shared = "the quick brown fox jumps over the lazy dog"
    docs = spark.createDataFrame(
        [
            (1, f"AAAA {shared} BBBB"),
            (2, f"zzz {shared} qqq"),
            (3, "completely different content with no overlap at all here"),
        ],
        "doc_id long, text string",
    )
    k, w = 8, 4
    fps = dedup.winnow_fingerprints(docs, k=k, w=w).collect()
    by_doc: dict[int, set] = {}
    for r in fps:
        by_doc.setdefault(r["doc_id"], set()).add((r["pos"], r["fingerprint"]))
    # shared substring len >= k + w - 1 => guaranteed shared fingerprint VALUE
    f1 = {f for _, f in by_doc[1]}
    f2 = {f for _, f in by_doc[2]}
    f3 = {f for _, f in by_doc[3]}
    assert f1 & f2
    assert not (f1 & f3) and not (f2 & f3)
    # coverage: consecutive selected positions differ by at most w
    for d in (1, 2, 3):
        poss = sorted(p for p, _ in by_doc[d])
        assert poss[0] <= w
        assert all(b - a <= w for a, b in zip(poss, poss[1:]))


def test_winnow_zero_shuffle_plan(spark):
    """Winnowing is pure per-row array work: the per-doc dedup happens in
    the numpy window kernel, never a shuffle. The ONE allowed exchange is
    spread_scan's conditional round-robin widening of the single-partition
    local corpus file (r07) — absent on an already-parallel scan, i.e. at
    scale — so the algorithm itself stays exchange-free: an already-wide
    input must plan with ZERO exchanges."""
    from parallelized_hybrid_sorting_using_quick_insertion_sort_for_big_data_spark.plans import (
        inspect as PI,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    assert PI.count_exchanges(dedup.winnow_fingerprints(docs)) <= 1
    wide = docs.repartition(spark.sparkContext.defaultParallelism)
    assert PI.count_exchanges(dedup.winnow_fingerprints(wide)) == 1  # only the explicit repartition above


def test_winnow_short_doc_single_window(spark):
    """A doc shorter than k chars still yields exactly one fingerprint
    (one whole-text gram, one window)."""
    docs = spark.createDataFrame([(1, "abc")], "doc_id long, text string")
    rows = dedup.winnow_fingerprints(docs, k=8, w=4).collect()
    assert len(rows) == 1 and rows[0]["pos"] == 1


def test_connected_components_raises_on_non_convergence(spark):
    """Exit-by-exhaustion must raise, never return silently-wrong labels: a
    long chain cannot reach its star fixpoint in 1 round."""
    chain = [(i, i + 1) for i in range(64)]
    df = spark.createDataFrame(chain, "id_a long, id_b long")
    with pytest.raises(RuntimeError, match="did not converge"):
        dedup.connected_components(df, max_rounds=1)


def test_connected_components_ignores_self_loops_and_nulls(spark):
    rows = [(1, 1), (2, 3), (None, 4), (5, None)]
    df = spark.createDataFrame(rows, "id_a long, id_b long")
    got = {r["node"]: r["component"] for r in dedup.connected_components(df).collect()}
    assert got == {2: 2, 3: 2}


def test_dedup_components_oracle(spark):
    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    assert_matches_oracle(
        qs["dedup_components"](spark, SF_DIR), oracles["dedup_components"], SF_DIR
    )


def test_dedup_components_canonical_consistency(spark):
    out = entrymod.queries()["dedup_components"](spark, SF_DIR).collect()
    by_comp: dict = {}
    for r in out:
        by_comp.setdefault(r["component"], []).append(r)
    for comp, rows in by_comp.items():
        ids = [r["doc_id"] for r in rows]
        assert comp == min(ids), "component id must be the min member id"
        assert sum(r["is_canonical"] for r in rows) == 1
        assert all(r["cluster_size"] == len(rows) for r in rows)
        assert len(rows) >= 2, "every pair-derived cluster has >= 2 members"


# ---------------------------------------------------------------------------
# PII scrubbing
# ---------------------------------------------------------------------------


def test_pii_scrub_oracle_parity(spark):
    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    assert_matches_oracle(
        qs["text_pii_scrub"](spark, SF_DIR), oracles["text_pii_scrub"], SF_DIR
    )


def test_pii_scrub_removes_every_match(spark):
    from parallelized_hybrid_sorting_using_quick_insertion_sort_for_big_data_spark.operators import (
        text as T,
    )

    rows = [
        (1, "reach me at alice.smith+spam@sub.example.co.uk today"),
        (2, "server 192.168.001.255 and backup 10.0.0.1"),
        (3, "call 555-867-5309 or 123-456-7890 now"),
        (4, "mixed bob@x.io at 8.8.8.8 tel 111-222-3333"),
        (5, "nothing sensitive here"),
    ]
    df = spark.createDataFrame(rows, "id long, t string")
    out = df.select(
        "id",
        T.pii_scrub(F.col("t")).alias("clean"),
        *[T.pii_count(F.col("t"), k).alias(f"n_{k}") for k in T.PII_ORDER],
    ).collect()
    counts = {r["id"]: (r["n_email"], r["n_ip"], r["n_phone"]) for r in out}
    assert counts[1] == (1, 0, 0)
    assert counts[2] == (0, 2, 0)
    assert counts[3] == (0, 0, 2)
    assert counts[4] == (1, 1, 1)
    assert counts[5] == (0, 0, 0)
    import re

    for r in out:
        for pat, _ in T.PII_PATTERNS.values():
            assert not re.search(pat, r["clean"]), (r["id"], pat, r["clean"])
        # replacement tokens present iff something was redacted
    clean4 = next(r["clean"] for r in out if r["id"] == 4)
    assert "<EMAIL>" in clean4 and "<IP>" in clean4 and "<PHONE>" in clean4


# ---------------------------------------------------------------------------
# Sliding-window chunking
# ---------------------------------------------------------------------------


def test_chunk_sliding_oracle_parity(spark):
    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    assert_matches_oracle(
        qs["text_chunk_sliding"](spark, SF_DIR), oracles["text_chunk_sliding"], SF_DIR
    )


def test_chunk_sliding_covers_every_token_with_overlap(spark):
    from parallelized_hybrid_sorting_using_quick_insertion_sort_for_big_data_spark.operators import (
        text as T,
    )

    rows = [
        (1, " ".join(f"w{i}" for i in range(100))),  # multi-chunk
        (2, " ".join(f"w{i}" for i in range(10))),   # single short chunk
        (3, ""),                                      # empty doc
        (4, " ".join(f"w{i}" for i in range(32))),   # exactly one window
        (5, " ".join(f"w{i}" for i in range(33))),   # one token past
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = dedup  # silence linters; real ops below
    chunks = T.chunk_sliding(df, chunk_tokens=32, stride=24).collect()
    by_doc: dict = {}
    for r in chunks:
        by_doc.setdefault(r["doc_id"], []).append(r)
    for did, n_toks in [(1, 100), (2, 10), (3, 0), (4, 32), (5, 33)]:
        rs = sorted(by_doc[did], key=lambda r: r["chunk_idx"])
        # contiguous chunk indices from 0
        assert [r["chunk_idx"] for r in rs] == list(range(len(rs)))
        # every chunk except possibly the last is full-size
        for r in rs[:-1]:
            assert r["n_tokens"] == 32
        # the windows cover all n_toks tokens: last start + last size >= n
        last = rs[-1]
        assert last["chunk_idx"] * 24 + last["n_tokens"] == max(n_toks, 0) or n_toks <= 32
        # overlap: consecutive chunks share 32-24=8 tokens
        if len(rs) >= 2:
            a = rs[0]["chunk_text"].split()
            b = rs[1]["chunk_text"].split()
            assert a[24:] == b[:8]
    assert len(by_doc[3]) == 1 and by_doc[3][0]["chunk_text"] == ""
    assert len(by_doc[4]) == 1
    assert len(by_doc[5]) == 2


def test_chunk_sliding_rejects_bad_params(spark):
    df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    from parallelized_hybrid_sorting_using_quick_insertion_sort_for_big_data_spark.operators import (
        text as T,
    )

    with pytest.raises(ValueError):
        T.chunk_sliding(df, stride=0)


# ---------------------------------------------------------------------------
# Repetition metrics (Gopher-style)
# ---------------------------------------------------------------------------


def test_repetition_flags_planted_floods(spark):
    import __spark_entry__ as entrymod

    out = entrymod.queries()["text_repetition"](spark, SF_DIR).cache()
    try:
        planted = out.where(F.col("doc_id") >= 3_000_000)
        organic = out.where(F.col("doc_id") < 3_000_000)
        n_planted = planted.count()
        assert n_planted > 0
        # every token-flood doc is flagged — short docs via top-token share,
        # long ones via the duplicated-bigram rule (text repeated twice)
        assert planted.where("repetitive").count() == n_planted
        assert planted.agg(F.min("dup_ngram_frac")).first()[0] > 0.5
        # organic docs: no floods; dup-bigram fraction stays below the gate
        assert organic.where("dup_ngram_frac > 0.5").count() == 0
    finally:
        out.unpersist()


def test_repetition_metrics_zero_shuffle(spark):
    import __spark_entry__ as entrymod
    from parallelized_hybrid_sorting_using_quick_insertion_sort_for_big_data_spark.plans import (
        inspect as PI,
    )

    df = entrymod.queries()["text_repetition"](spark, SF_DIR)
    PI.assert_max_exchanges(df, 0)


def test_repetition_edge_cases(spark):
    from parallelized_hybrid_sorting_using_quick_insertion_sort_for_big_data_spark.operators import (
        text as T,
    )

    df = spark.createDataFrame(
        [("",), ("word",), ("a a a a",), ("x y x y x y",)], "text string"
    )
    rows = df.select(
        T.top_token_share(F.col("text")).alias("top"),
        T.dup_ngram_frac(F.col("text"), 2).alias("dup"),
    ).collect()
    assert rows[0]["top"] == 0.0 and rows[0]["dup"] == 0.0  # empty
    assert rows[1]["top"] == 1.0 and rows[1]["dup"] == 0.0  # single token
    assert rows[2]["top"] == 1.0 and abs(rows[2]["dup"] - 2 / 3) < 1e-12  # 'a a' x3
    assert abs(rows[3]["dup"] - 3 / 5) < 1e-12  # x y/y x repeats


# ---------------------------------------------------------------------------
# BM25 search
# ---------------------------------------------------------------------------


def test_bm25_ranking_properties(spark):
    from parallelized_hybrid_sorting_using_quick_insertion_sort_for_big_data_spark.operators import (
        search as S,
    )

    docs = spark.createDataFrame(
        [
            (1, "spark spark spark merge"),   # high tf on both terms
            (2, "spark merge filler filler filler filler filler filler"),  # diluted
            (3, "filler words only nothing relevant"),  # zero score
            (4, "spark"),                      # short, one term
        ],
        "doc_id long, text string",
    )
    out = S.bm25_topk(docs, ["spark", "merge"], k=10).collect()
    ranks = {r["doc_id"]: r["rank"] for r in out}
    scores = {r["doc_id"]: r["score"] for r in out}
    assert 3 not in ranks  # zero-score docs never rank
    assert ranks[1] == 1  # repeated terms + both terms -> top
    assert scores[1] > scores[2] > 0
    assert sorted(ranks.values()) == list(range(1, len(ranks) + 1))


def test_bm25_plan_broadcasts_stats_and_takeordered(spark):
    import __spark_entry__ as entrymod
    from parallelized_hybrid_sorting_using_quick_insertion_sort_for_big_data_spark.plans import (
        inspect as PI,
    )

    df = entrymod.queries()["text_bm25_topk"](spark, SF_DIR)
    plan = PI.formatted_plan(df)
    assert "BroadcastNestedLoopJoin" in plan or PI.has_broadcast_join(df)
    assert "TakeOrderedAndProject" in plan


def test_containment_catches_truncation_jaccard_misses(spark):
    """A half-truncated copy scores containment ~1 (kept at tau=0.9) but
    Jaccard ~0.5 — the asymmetric case the containment operator exists
    for; and the registered query finds EVERY planted truncation pair."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    # non-repeating text: the half's shingle set must be a strict SUBSET
    # of the full's (repeated text would make the distinct sets equal and
    # jaccard 1.0)
    base = " ".join(f"word{i:03d} token{i:03d}" for i in range(40))
    half = base[: len(base) // 2]
    other = " ".join(f"zz{i:03d} qq{i:03d}" for i in range(40))
    df = spark.createDataFrame(
        [(1, base), (2, half), (3, other)],
        StructType(
            [StructField("doc_id", LongType()), StructField("text", StringType())]
        ),
    )
    cont = {
        (r["id_a"], r["id_b"]): r["containment"]
        for r in dedup.containment_pairs(df, threshold=0.9).collect()
    }
    assert (1, 2) in cont and cont[(1, 2)] >= 0.99
    jac = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in dedup.jaccard_pairs(df, threshold=0.9).collect()
    }
    assert (1, 2) not in jac, "jaccard at 0.9 must miss the truncation"
    # sanity: at 0.4 jaccard does see it, scoring ~|half|/|full|
    jac_low = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in dedup.jaccard_pairs(df, threshold=0.4).collect()
    }
    assert 0.4 <= jac_low[(1, 2)] <= 0.6


def test_containment_query_finds_all_planted_truncations(spark):
    import __spark_entry__ as E
    from tests.conftest import SF_DIR
    from parallelized_hybrid_sorting_using_quick_insertion_sort_for_big_data_spark.suites.text_dedup import (
        _CONT_SHIFT,
    )

    from parallelized_hybrid_sorting_using_quick_insertion_sort_for_big_data_spark.sources.tables import (
        load_table,
    )

    out = E.queries()["dedup_containment"](spark, SF_DIR)
    pairs = {(r["id_a"], r["id_b"]) for r in out.collect()}
    docs = load_table(spark, SF_DIR, "documents")
    eligible = {
        r["doc_id"]
        for r in docs.where(F.length("text") >= 64).select("doc_id").collect()
    }
    missing = {d for d in eligible if (d, d + _CONT_SHIFT) not in pairs}
    assert not missing, f"planted truncation pairs missing: {sorted(missing)[:5]}"


def test_segment_dedup_semantics(spark):
    """Hand-checkable segment dedup (seg_words=2): cross-doc duplicate
    segments drop from the LATER doc, within-doc repeats drop from the
    later index, rebuild preserves order, a fully-duplicated doc becomes
    the empty string (still one output row), and a short trailing segment
    is its own unit."""
    from parallelized_hybrid_sorting_using_quick_insertion_sort_for_big_data_spark.operators import (
        dedup,
    )

    docs = spark.createDataFrame(
        [
            (1, "a b c d e"),        # segs: "a b","c d","e"
            (2, "a b x y"),          # "a b" dup of doc1 -> drops; keeps "x y"
            (3, "c d e"),            # "c d" dups doc1; "e" is a NEW segment
                                     # ("e" in doc1 is seg ("e"), same hash ->
                                     # doc3's "e" drops too) -> only "" left?
            (4, "c d c d"),          # within-doc repeat + cross-doc dup -> empty
            (5, "q r"),              # untouched
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in dedup.segment_dedup(docs, seg_words=2).collect()}
    assert set(out) == {1, 2, 3, 4, 5}
    assert (out[1]["n_segs"], out[1]["n_kept"], out[1]["cleaned_text"]) == (3, 3, "a b c d e")
    assert (out[2]["n_segs"], out[2]["n_kept"], out[2]["cleaned_text"]) == (2, 1, "x y")
    assert (out[3]["n_segs"], out[3]["n_kept"], out[3]["cleaned_text"]) == (2, 0, "")
    assert (out[4]["n_segs"], out[4]["n_kept"], out[4]["cleaned_text"]) == (2, 0, "")
    assert (out[5]["n_segs"], out[5]["n_kept"], out[5]["cleaned_text"]) == (1, 1, "q r")


def test_segment_dedup_conservation(spark):
    """Global invariants on the real corpus: every distinct segment hash
    survives EXACTLY once corpus-wide, and kept+dropped == total."""
    from pyspark.sql import functions as F

    from parallelized_hybrid_sorting_using_quick_insertion_sort_for_big_data_spark.operators import (
        dedup,
    )
    from parallelized_hybrid_sorting_using_quick_insertion_sort_for_big_data_spark.sources.tables import (
        load_table,
    )

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    out = dedup.segment_dedup(docs, seg_words=15)
    agg = out.agg(F.sum("n_segs").alias("t"), F.sum("n_kept").alias("k")).collect()[0]
    # distinct segments across the corpus == total kept
    toks = F.split(F.col("text"), " ")
    n_segs = F.ceil(F.size(toks) / F.lit(15)).cast("int")
    segs = docs.select(
        toks.alias("w"),
        F.posexplode(F.sequence(F.lit(0), n_segs - 1)).alias("i", "si"),
    ).select(F.md5(F.array_join(F.slice(F.col("w"), F.col("si") * 15 + 1, 15), " ")).alias("h"))
    n_distinct = segs.select("h").distinct().count()
    assert agg["k"] == n_distinct
    assert agg["t"] == segs.count()
    assert agg["k"] < agg["t"], "vacuous: corpus has no duplicated segments"


def test_zipf_slope_matches_numpy_fit(spark):
    """The decimal-power-sum regression must agree with an independent
    numpy least-squares fit on the same (rounded) points to float
    precision, and the spectrum's slope must be negative (frequencies
    decay with rank)."""
    import math

    import numpy as np
    from pyspark.sql import functions as F

    import __spark_entry__ as E
    from parallelized_hybrid_sorting_using_quick_insertion_sort_for_big_data_spark.sources.tables import (
        load_table,
    )

    row = E.queries()["text_zipf_slope"](spark, SF_DIR).collect()[0]
    assert row["n_points"] > 10
    assert row["slope"] < 0
    toks = (
        load_table(spark, SF_DIR, "documents")
        .select(F.explode(F.split(F.lower(F.col("text")), " ")).alias("t"))
        .where(F.col("t") != "")
    )
    freqs = sorted(
        (r["f"] for r in toks.groupBy("t").agg(F.count(F.lit(1)).alias("f")).collect()),
        reverse=True,
    )[:1000]
    x = np.array([round(math.log(i + 1), 9) for i in range(len(freqs))])
    y = np.array([round(math.log(f), 9) for f in freqs])
    slope, intercept = np.polyfit(x, y, 1)
    assert abs(slope - row["slope"]) < 1e-9
    assert abs(intercept - row["intercept"]) < 1e-9


def test_phrase_match_semantics(spark):
    """Hand-counted phrase matching: multiple occurrences per doc,
    overlapping occurrences of a self-overlapping phrase, a 3-term
    phrase, a repeated-term phrase, and a phrase absent from the
    corpus."""
    from parallelized_hybrid_sorting_using_quick_insertion_sort_for_big_data_spark.operators import (
        search as S,
    )

    docs = spark.createDataFrame(
        [
            (1, "a b c a b c a b"),     # "a b": 3; "a b c": 2
            (2, "a a a a"),             # "a a": 3 (overlapping starts)
            (3, "b c b"),               # no "a b"
            (4, "x y"),
        ],
        "doc_id long, text string",
    )

    def got(phrase):
        return {
            r["doc_id"]: r["n_matches"]
            for r in S.phrase_match(docs, phrase).collect()
        }

    assert got("a b") == {1: 3}
    assert got("a b c") == {1: 2}
    assert got("a a") == {2: 3}
    assert got("b c b") == {3: 1}
    assert got("zz qq") == {}


@pytest.mark.slow
def test_sorted_neighborhood_sound_and_catches_planted_dups(spark, docs):
    """SNM soundness: every emitted pair is a TRUE Jaccard-0.3 pair (the
    verify stage is exact, so SNM ⊆ exact-Jaccard pairs — only recall is
    windowed away). Recall on planted dups: two verbatim copies of an
    existing doc normalize to the same prefix key, sort adjacent, and MUST
    be caught."""
    from parallelized_hybrid_sorting_using_quick_insertion_sort_for_big_data_spark.operators import (
        dedup,
    )

    snm = {
        (r["id_a"], r["id_b"])
        for r in dedup.sorted_neighborhood_pairs(
            docs.select("doc_id", "text"), threshold=0.3
        ).collect()
    }
    assert snm, "vacuous: SNM found no pairs at this SF"
    exact = {
        (r["id_a"], r["id_b"])
        for r in dedup.jaccard_pairs(docs, threshold=0.3).collect()
    }
    assert snm <= exact, f"unsound pairs: {sorted(snm - exact)[:5]}"

    base = docs.select("doc_id", "text").limit(1)
    planted = docs.select("doc_id", "text").unionAll(
        base.select((F.col("doc_id") + 90_000).alias("doc_id"), "text")
    )
    got = {
        (r["id_a"], r["id_b"])
        for r in dedup.sorted_neighborhood_pairs(planted, threshold=0.3).collect()
    }
    src = base.collect()[0]["doc_id"]
    assert (src, src + 90_000) in got or (src + 90_000, src) in got


@pytest.mark.slow
def test_lsh_recall_measurement_nondegenerate(spark):
    """The measurement must exercise both error directions' accounting:
    planted near-dups found (n_exact >= the 50 planted at sf0.001,
    n_hit <= min(n_exact, n_lsh)) and ratios in [0, 1]. recall == 1.0 is
    EXPECTED here (suffix-perturbed pairs keep J near 1, far above the
    8-band s-curve's 0.5 knee) — the non-trivial number is precision < 1
    when the estimator over-shoots for some sub-threshold pair."""
    rows = entrymod.queries()["dedup_lsh_recall"](spark, SF_DIR).collect()
    (r,) = rows
    assert r["n_exact"] >= 50
    assert r["n_hit"] <= min(r["n_exact"], r["n_lsh"])
    assert 0 <= r["recall"] <= 1 and 0 <= r["est_precision"] <= 1
    assert r["recall"] == round(r["n_hit"] / max(r["n_exact"], 1), 9)


@pytest.mark.slow
def test_duplicate_spans_matches_python_reference(spark):
    """Randomized cross-check (seeded): on corpora with planted repeated
    phrases, whole-doc copies, short docs, and empty docs, both span
    detection and the keep-first rewrite — each keyed on the xxhash64 of
    the token window — must equal a brute-force pure-Python reference
    keyed on the window itself — many corpus shapes beyond the one oracle
    dataset."""
    import random

    from parallelized_hybrid_sorting_using_quick_insertion_sort_for_big_data_spark.operators import (
        dedup as D,
    )

    L = 4
    rng = random.Random(421)
    vocab = [f"w{i}" for i in range(30)]
    phrase = ["alpha", "beta", "gamma", "delta", "eps"]
    corpora = []
    for trial in range(3):
        docs = []
        for d in range(12):
            n = rng.randint(0, 14)
            toks = [rng.choice(vocab) for _ in range(n)]
            if d % 3 == 0:  # plant the shared phrase mid-document
                at = rng.randint(0, max(0, len(toks) - 1))
                toks[at:at] = phrase
            docs.append((d, " ".join(toks)))
        docs.append((100, docs[0][1]))  # verbatim whole-doc copy
        docs.append((101, ""))  # empty
        corpora.append(docs)

    def py_spans(docs):
        toks = {i: t.split() if t else [] for i, t in docs}
        occ = {}
        for i, ts in toks.items():
            for p in range(len(ts) - L + 1):
                occ.setdefault(tuple(ts[p : p + L]), []).append((i, p))
        dup = {k: v for k, v in occ.items() if len(v) >= 2}
        pos = {}
        for v in dup.values():
            for i, p in v:
                pos.setdefault(i, set()).add(p)
        out = set()
        for i, ps in pos.items():
            run = []
            for p in sorted(ps):
                if run and p == run[-1] + 1:
                    run.append(p)
                else:
                    if run:
                        out.add((i, run[0], run[-1] + L - 1, run[-1] - run[0] + L, len(run)))
                    run = [p]
            out.add((i, run[0], run[-1] + L - 1, run[-1] - run[0] + L, len(run)))
        return out

    def py_rewrite(docs):
        toks = {i: t.split() if t else [] for i, t in docs}
        occ = {}
        for i, ts in toks.items():
            for p in range(len(ts) - L + 1):
                occ.setdefault(tuple(ts[p : p + L]), []).append((i, p))
        cut = {}
        ncut = {}
        for v in occ.values():
            if len(v) >= 2:
                canon = min((i * 4294967296 + p) for i, p in v)
                for i, p in v:
                    if i * 4294967296 + p != canon:
                        ncut[i] = ncut.get(i, 0) + 1
                        for t in range(p, p + L):
                            cut.setdefault(i, set()).add(t)
        out = set()
        for i, ts in toks.items():
            kept = [t for p, t in enumerate(ts) if p not in cut.get(i, set())]
            out.add((i, " ".join(kept), len(ts), len(kept), ncut.get(i, 0)))
        return out

    for docs in corpora:
        df = spark.createDataFrame(docs, "doc_id long, text string")
        got = {
            (r["doc_id"], r["span_start"], r["span_end"], r["span_tokens"], r["n_dup_shingles"])
            for r in D.duplicate_spans(df, l=L).collect()
        }
        assert got == py_spans(docs)
        got_rw = {
            (r["doc_id"], r["clean_text"], r["n_tokens_before"], r["n_tokens_after"], r["n_windows_cut"])
            for r in D.span_dedup_rewrite(df, l=L).collect()
        }
        assert got_rw == py_rewrite(docs)


def test_span_plans_stay_within_exchange_budget(spark):
    """The hash-keyed span queries keep their shuffle topology: at most 2
    exchanges for duplicate_spans and 5 for span_dedup_rewrite on the
    documents table. On a planted corpus (shared phrase, whole-doc copy,
    short and empty docs) duplicate_spans reports exactly the planted
    runs."""
    from parallelized_hybrid_sorting_using_quick_insertion_sort_for_big_data_spark.operators import (
        dedup as D,
    )
    from parallelized_hybrid_sorting_using_quick_insertion_sort_for_big_data_spark.plans import (
        inspect as PI,
    )
    from parallelized_hybrid_sorting_using_quick_insertion_sort_for_big_data_spark.sources.tables import (
        load_table,
    )

    docs = load_table(spark, SF_DIR_MID, "documents").select("doc_id", "text")
    assert PI.count_exchanges(D.duplicate_spans(docs, l=8)) <= 2
    assert PI.count_exchanges(D.span_dedup_rewrite(docs, l=8)) <= 5

    phrase = "alpha beta gamma delta eps zeta eta theta"
    rows = [
        (0, f"one two {phrase} three"),
        (1, f"x y z {phrase} q r"),
        (2, f"one two {phrase} three"),  # whole-doc copy of 0
        (3, "too short"),
        (4, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    cols = ["doc_id", "span_start", "span_end", "span_tokens", "n_dup_shingles"]
    got = {tuple(r) for r in D.duplicate_spans(df, l=8).select(cols).collect()}
    assert got == {(0, 0, 10, 11, 4), (1, 3, 10, 8, 1), (2, 0, 10, 11, 4)}
