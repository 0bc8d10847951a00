"""Oracle-checked query registry — the engine's public query surface.

Every implemented operator gets a ``@query(name, sql=...)`` entry: a callable
``(spark, sf_dir) -> DataFrame`` plus (where SQL-expressible) the equivalent
DuckDB SQL run by the driver's correctness harness. Column names/aliases are
kept identical on both sides because the harness hashes values after sorting
columns BY NAME.

Determinism rules (SURVEY.md §7.4):
- every sort emits an explicit rank column computed with full tiebreaker keys
  so order survives the order-insensitive hash;
- floating-point aggregates are computed on DECIMAL (exact, order-independent)
  then cast back to DOUBLE so Spark's and DuckDB's summation order can't
  diverge in the low bits.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: QueryFn
    sql: str | None  # DuckDB oracle; every registered query has one
    doc: str = ""


REGISTRY: dict[str, QuerySpec] = {}


def query(name: str, sql: str | None = None, doc: str = ""):
    def deco(fn: QueryFn) -> QueryFn:
        REGISTRY[name] = QuerySpec(name=name, fn=fn, sql=sql, doc=doc or (fn.__doc__ or ""))
        return fn

    return deco


def queries() -> dict[str, QueryFn]:
    _ensure_loaded()
    return {name: spec.fn for name, spec in REGISTRY.items()}


def oracle_sql() -> dict[str, str]:
    _ensure_loaded()
    return {name: spec.sql for name, spec in REGISTRY.items() if spec.sql is not None}


_LOADED = False

#: The correctness driver oracle-checks exactly this many leading
#: ``queries()`` entries per round. ``_DRIVER_PRIORITY`` must hold exactly
#: this many valid names — ``_ensure_loaded`` warns (and a pytest fails)
#: otherwise, so a typo'd name or a silent driver-cap change can't quietly
#: shrink the checked window.
_DRIVER_WINDOW = 50

# Driver-facing registration order. The correctness driver oracle-checks only
# the FIRST 50 entries of ``queries()``, so ordering is part of the public
# contract: queries that have never had a driver correctness row (or whose
# implementation changed this round) are listed here and float to the front;
# queries with two green rounds behind them keep their import order at the
# tail. Names not present in the registry are ignored (forward references to
# planned queries are harmless).
#
# ROUND 6 ROTATION (VERDICT r05 "Next round" #1, executed; extended): every
# query with no driver row EVER goes first — the 12 r05-late, the 5 early
# round-6 adds (Q17/Q21/Q22, semantic dedup, frame near-dup), the 2
# displaced r03-green vec queries, then the 14 late round-6 adds (the
# 12-query TPC-H completion suite + 2 graph queries, all locally
# hash-verified in LOCAL_VERIFY_r06.txt) — and the remaining 17 slots go to
# the r04-checked block oldest-checked first (CORRECTNESS_r04.json record
# order). After CORRECTNESS_r06 lands, every never-checked query has its
# first driver row; round 7 rotates the remaining 29 r04 names + the r05
# block. NEVER assume old rows stay valid across a testdata regeneration
# (r03 TIMESTAMP_NTZ incident; compare testdata_checksums_r05.txt first).
#
# SINCE ROUND 12 the window is DERIVED MECHANICALLY (VERDICT r11 item 1):
#   python3 scripts/rotate_window.py --front <changed-this-round names...>
# Round 13 fixed the derivation horizon (VERDICT r12 item 1 / ADVICE r12
# high): the r12 scheme keyed MUST off "the last TWO on-disk rounds", a set
# that slides when the round's own CORRECTNESS artifact lands, so a name
# checked exactly two rounds back could fall out at judge time
# (vec_bucketed_near_dup, r10). The scheme is now TIME-INVARIANT: only 35
# of the 211 registered queries lack an ORACLE_QUERIES parity pin, and
# 35 < 50, so the window simply carries EVERY unpinned name EVERY round —
# FRONT = changed-this-round names, MUST = all unpinned names
# oldest-driver-row-first, FILL = pinned names oldest-checked-first. The
# committed tuple is verified by
# tests/test_session.py::test_driver_window_survives_this_rounds_artifact
# via the invariant registry ⊆ (window ∪ pins), which holds (or
# fails) identically no matter which CORRECTNESS artifacts are on disk.
_DRIVER_PRIORITY: tuple[str, ...] = (
    # Output of
    #   scripts/rotate_window.py --front <5 names>
    # FRONT (5): the four sort cells, whose multi-key orders stay
    # lexicographic beside total_sort's packed key (sorting._sort_order),
    # and events_hll_daily_merge, whose merge check now reads
    # register-only estimates on both sides. MUST = the full
    # unpinned set (time-invariant cover), FILL = pinned names
    # oldest-checked-first.
    "sort_seeded_ints",
    "sort_total_lineitem",
    "sort_multikey_orders",
    "sort_within_partitions",
    "events_hll_daily_merge",
    "events_outlier_robust",
    "events_resample_gapfill",
    "events_zorder_code",
    "graph_adamic_adar",
    "graph_assortativity",
    "graph_bfs_levels",
    "graph_kcore",
    "graph_lpa_communities",
    "graph_pagerank_trade",
    "graph_triangle_count",
    "mm_frame_sample",
    "pipeline_data_quality_audit",
    "pipeline_scd2_merge",
    "rel_correlated_subquery",
    "rel_grouping_sets",
    "rel_pivot_priority_by_year",
    "rel_unpivot_part_metrics",
    "rel_window_rank_functions",
    "rel_window_running_totals",
    "sample_weighted_topk",
    "skew_twophase_share",
    "text_bpe_merges",
    "text_bpe_segmentation",
    "text_crossdup_coverage",
    "text_vocab_growth",
    "vec_bucketed_near_dup",
    "vec_kmeans_ivf_topk",
    "vec_quantize_int8",
    "vec_semantic_dedup",
    "vec_topk_with_metadata",
    "vec_lsh_near_dup",
    "rel_gini_revenue",
    "rel_groupwise_regression",
    "rel_rfm_segmentation",
    "rel_window_value_functions",
    "rel_winsorized_stats",
    "rel_yoy_revenue",
    "search_hybrid_rrf",
    "text_bigram_fluency",
    "text_fertility_by_lang",
    "text_phrase_search",
    "text_pmi_cooccurrence",
    "text_tfidf_keywords",
    "text_zipf_slope",
    "vec_matryoshka_recall",
)


def _ensure_loaded() -> None:
    """Import every module that registers queries (import-for-side-effect),
    then apply the driver-facing priority order."""
    global _LOADED
    if _LOADED:
        return
    from .suites import (  # noqa: F401
        behavior,
        core_sort,
        corpus_filters,
        decontam,
        events,
        graphq,
        multimodal,
        relational,
        sampling,
        skewq,
        text_dedup,
        tpch,
        vectors,
    )

    prioritized = [n for n in _DRIVER_PRIORITY if n in REGISTRY]
    if len(prioritized) != _DRIVER_WINDOW or len(_DRIVER_PRIORITY) != _DRIVER_WINDOW:
        import warnings

        missing = sorted(set(_DRIVER_PRIORITY) - set(prioritized))
        warnings.warn(
            f"driver priority window is {len(prioritized)}/{_DRIVER_WINDOW} "
            f"resolved names (listed: {len(_DRIVER_PRIORITY)}; unresolved: "
            f"{missing}) — a typo or a driver-cap change is silently "
            "shrinking the checked window",
            stacklevel=2,
        )
    prioritized_set = set(prioritized)
    tail = [n for n in REGISTRY if n not in prioritized_set]
    ordered = {n: REGISTRY[n] for n in (*prioritized, *tail)}
    REGISTRY.clear()
    REGISTRY.update(ordered)
    _LOADED = True
