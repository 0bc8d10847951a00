"""Plan-quality gates: the physical plans of headline queries must have the
shape we designed for 100 TB — filters pushed to the scan, columns pruned,
small dims broadcast, no accidental cartesian products, bounded shuffles.
These run on plan TEXT only (no query execution), so they're fast."""

from __future__ import annotations

import re

import pytest

import __spark_entry__ as entrymod
from parallelized_hybrid_sorting_using_quick_insertion_sort_for_big_data_spark.plans import (
    inspect as PI,
)
from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def qs():
    return entrymod.queries()


def test_q1_filter_pushed_and_pruned(spark, qs):
    df = qs["rel_q1_pricing_summary"](spark, SF_DIR)
    PI.assert_filter_pushed(df, "l_shipdate")
    # 16-column lineitem scan must prune to the 7 referenced columns
    (schema,) = PI.scan_read_schemas(df)
    assert schema.count(":") == 7, schema
    PI.assert_column_pruned(df, "l_comment")
    # filter+partial agg fuse into codegen; one shuffle of pre-aggregated rows
    PI.assert_max_exchanges(df, 1)
    assert PI.codegen_stage_count(df) >= 1


def test_star_join_broadcasts_dims(spark, qs):
    df = qs["rel_join_revenue_by_nation"](spark, SF_DIR)
    assert PI.has_broadcast_join(df)
    assert not PI.has_cartesian(df)
    # dims broadcast => the only shuffle is the final groupBy aggregation
    PI.assert_max_exchanges(df, 1)
    PI.assert_filter_pushed(df, "o_orderstatus")


def test_total_sort_is_range_exchange(spark, qs):
    from parallelized_hybrid_sorting_using_quick_insertion_sort_for_big_data_spark.operators import (
        sorting,
    )
    from parallelized_hybrid_sorting_using_quick_insertion_sort_for_big_data_spark.sources import (
        tables,
    )

    df = sorting.total_sort(
        tables.load_table(spark, SF_DIR, "lineitem"), ["l_extendedprice"]
    )
    plan = PI.formatted_plan(df)
    assert "rangepartitioning" in plan, plan
    PI.assert_max_exchanges(df, 1)


def test_multikey_integer_sort_is_one_packed_key(spark, qs, tmp_path):
    """(value, id) longs read from parquet sort on ONE packed key (one sort
    order, which Spark radix-sorts); generated ints, a string or a double
    key keep the lexicographic order."""
    from parallelized_hybrid_sorting_using_quick_insertion_sort_for_big_data_spark.operators import (
        sorting,
    )
    from parallelized_hybrid_sorting_using_quick_insertion_sort_for_big_data_spark.sources import (
        datagen,
    )

    generated = datagen.seeded_ints(spark, 1_000)
    generated.write.parquet(str(tmp_path / "ints"))
    ints = spark.read.parquet(str(tmp_path / "ints"))
    assert PI.sort_key_counts(sorting.total_sort(ints, ["value", "id"])) == [1]
    assert PI.sort_key_counts(sorting.total_sort(generated, ["value", "id"])) == [2]
    assert set(PI.sort_key_counts(qs["sort_multikey_orders"](spark, SF_DIR))) == {3}
    doubles = ints.withColumn("value", ints["value"].cast("double"))
    assert PI.sort_key_counts(sorting.total_sort(doubles, ["value", "id"])) == [2]


def test_topk_plans_take_ordered(spark, qs):
    df = qs["sort_topk_lineitem"](spark, SF_DIR)
    assert "TakeOrderedAndProject" in PI.formatted_plan(df)
    # per-partition heaps + driver merge of k*P rows: zero shuffle exchanges
    PI.assert_max_exchanges(df, 0)


def test_metadata_query_never_reads_payload_source_columns(spark, qs):
    df = qs["mm_metadata_summary"](spark, SF_DIR)
    # metadata summary needs text (payload derivation) + source only
    (schema,) = PI.scan_read_schemas(df)
    assert schema.count(":") == 2, schema
    PI.assert_column_pruned(df, "doc_id")
    PI.assert_column_pruned(df, "lang")


def test_sessionize_single_shuffle(spark, qs):
    # session_window agg shuffles once on user_id
    df = qs["events_sessionize"](spark, SF_DIR)
    PI.assert_max_exchanges(df, 1)
    assert not PI.has_cartesian(df)


def test_no_headline_query_has_cartesian(spark, qs):
    # LSH/near-dup queries must candidate-pair via bucket joins, never a
    # cross join of the full table against itself
    for name in [
        "dedup_minhash_lsh",
        "dedup_ngram_jaccard",
        "dedup_simhash",
        "vec_lsh_near_dup",
        "vec_bucketed_near_dup",
        "dedup_exact",
        "text_analysis",
    ]:
        df = qs[name](spark, SF_DIR)
        assert not PI.has_cartesian(df), name


def test_sampling_queries_zero_shuffle(spark, qs):
    # hash splits/samples are narrow per-row projections + filters: they
    # must pipeline into the scan with NO exchange (and the sample must
    # prune the unread text column at the scan)
    split = qs["sample_train_split"](spark, SF_DIR)
    PI.assert_max_exchanges(split, 0)
    strat = qs["sample_stratified_langs"](spark, SF_DIR)
    PI.assert_max_exchanges(strat, 0)
    PI.assert_column_pruned(strat, "text")
    assert PI.codegen_stage_count(strat) >= 1


def test_approx_distinct_single_shuffle_no_expand(spark, qs):
    # HLL sketches partial-aggregate map-side: one exchange of fixed-size
    # sketch rows, and no Expand node (the exact multi-distinct plan shape).
    # Gated on the PURE sketch form — the 100 TB path; the registry query
    # wraps it with exact counts as its oracle-verification harness (r08),
    # which legitimately plans an Expand for the exact multi-distinct.
    from parallelized_hybrid_sorting_using_quick_insertion_sort_for_big_data_spark.suites import (
        relational as REL,
    )

    df = REL.approx_distinct_sketch(spark, SF_DIR)
    PI.assert_max_exchanges(df, 1)
    assert "expand" not in PI.simple_plan(df).lower()


def test_pivot_single_shuffle(spark, qs):
    # pivot with explicit values plans like a plain groupBy: one exchange
    df = qs["rel_pivot_priority_by_year"](spark, SF_DIR)
    PI.assert_max_exchanges(df, 1)
    assert PI.codegen_stage_count(df) >= 1


def test_window_running_single_shuffle(spark, qs):
    # four window functions over one window spec: one exchange, one sort
    df = qs["rel_window_running_totals"](spark, SF_DIR)
    PI.assert_max_exchanges(df, 1)
    PI.assert_filter_pushed(df, "o_custkey")


def test_retrieval_join_broadcasts_topk(spark, qs):
    # the tiny top-k side must broadcast into the documents join. (The plan
    # legitimately contains a BroadcastNestedLoopJoin inside
    # brute_force_topk — 5 broadcast queries against the corpus scan — so
    # no has_cartesian gate here.)
    df = qs["vec_topk_with_metadata"](spark, SF_DIR)
    assert PI.has_broadcast_join(df)


def test_pii_scrub_zero_shuffle_and_pruned(spark, qs):
    # redaction is a chained regexp projection: no exchange at all, and the
    # documents scan must not read lang/source/n_chars
    df = qs["text_pii_scrub"](spark, SF_DIR)
    PI.assert_max_exchanges(df, 0)
    PI.assert_column_pruned(df, "lang")
    PI.assert_column_pruned(df, "n_chars")


def test_mixture_sample_broadcasts_totals(spark, qs):
    # the two data-derived aggregates (per-group L, grand total T) are
    # one-row-per-group relations: both must come back as broadcast joins,
    # never a shuffle of the documents scan itself
    df = qs["sample_mixture_tokens"](spark, SF_DIR)
    assert PI.has_broadcast_join(df)
    assert not PI.has_cartesian(df) or "BroadcastNestedLoopJoin" in PI.simple_plan(df)
    plan = PI.simple_plan(df)
    # the only Exchanges allowed are the tiny pre-aggregations feeding the
    # broadcasts; the big-side scan stays exchange-free. Spark plans the
    # broadcast sides as separate subtrees, so count total exchanges: the
    # two small aggs cost at most 2 (plus AQE reuse), the corpus scan adds 0.
    assert PI.count_exchanges(df) <= 2, plan


def test_dedup_components_no_cartesian(spark, qs):
    df = qs["dedup_components"](spark, SF_DIR)
    assert not PI.has_cartesian(df)


def test_rank_battery_single_shuffle(spark, qs):
    # five ranking functions over one shared window spec: one exchange on
    # the partition key, one sort, no per-function re-shuffle
    df = qs["rel_window_rank_functions"](spark, SF_DIR)
    PI.assert_max_exchanges(df, 1)


def test_grouping_sets_single_shuffle(spark, qs):
    # explicit grouping sets: one-pass Expand + ONE aggregation exchange
    df = qs["rel_grouping_sets"](spark, SF_DIR)
    PI.assert_max_exchanges(df, 1)


def test_quantize_zero_shuffle(spark, qs):
    # per-row quantize + posexplode must pipeline into the scan: no exchange
    df = qs["vec_quantize_int8"](spark, SF_DIR)
    PI.assert_max_exchanges(df, 0)


def test_kmeans_lineage_flat_at_high_iters(spark):
    """Each Lloyd round localCheckpoints the codebook, so the returned
    plan is a constant-size RDD scan no matter how many rounds ran —
    without the cut, iters=10 nests ten assign+update rounds and the
    analyzed plan grows geometrically."""
    from parallelized_hybrid_sorting_using_quick_insertion_sort_for_big_data_spark.operators import (
        similarity,
    )
    from parallelized_hybrid_sorting_using_quick_insertion_sort_for_big_data_spark.sources.tables import (
        load_table,
    )

    emb = load_table(spark, SF_DIR, "embeddings").limit(200)
    fit10 = similarity.kmeans_fit(emb, k=4, iters=10)
    plan = PI.formatted_plan(fit10)
    assert len(plan) < 4000, f"plan not flattened: {len(plan)} chars"
    assert "Scan ExistingRDD" in plan
    # no join/aggregate machinery survives into the result plan
    assert "Join" not in plan and "HashAggregate" not in plan


def test_pq_fit_lineage_flat_at_high_iters(spark):
    """Same lineage discipline as kmeans_fit: every Lloyd round
    localCheckpoints the (sub, cell, centroid) codebook, so the returned
    plan is a constant-size RDD scan regardless of iters."""
    from parallelized_hybrid_sorting_using_quick_insertion_sort_for_big_data_spark.operators import (
        similarity,
    )
    from parallelized_hybrid_sorting_using_quick_insertion_sort_for_big_data_spark.sources.tables import (
        load_table,
    )

    emb = load_table(spark, SF_DIR, "embeddings").limit(200)
    fit8 = similarity.pq_fit(emb, m=4, k=4, iters=8)
    plan = PI.formatted_plan(fit8)
    assert len(plan) < 4000, f"plan not flattened: {len(plan)} chars"
    assert "Scan ExistingRDD" in plan
    assert "Join" not in plan and "HashAggregate" not in plan


def test_pq_codes_plan_corpus_never_shuffles(spark, qs):
    """PQ assignment: the corpus explodes 1→m map-side and meets the
    codebook through a BROADCAST join + per-row argmin — the only shuffle
    exchange allowed is the m-row codebook re-pack on the tiny
    checkpointed side. At 100 TB the corpus never moves."""
    df = qs["vec_pq_codes"](spark, SF_DIR)
    assert PI.has_broadcast_join(df)
    assert not PI.has_cartesian(df)
    # 2 sanctioned exchanges: the spread_scan CPU-widening repartition of
    # the (deliberately) single-file test corpus, and the m-row codebook
    # re-pack groupBy on the checkpointed tiny side
    PI.assert_max_exchanges(df, 2)


def test_hybrid_rrf_fusion_joins_stay_tiny(spark, qs):
    """RRF fusion: no true CartesianProduct (the only nested loop is
    BM25's sanctioned broadcast 1-row corpus-stats join), and every scan
    reads only the columns its leg needs (doc_id/text for BM25,
    vec_id/embedding for the dense leg) — the fusion layer itself adds
    joins of ≤k-row lists."""
    df = qs["search_hybrid_rrf"](spark, SF_DIR)
    plan = PI.formatted_plan(df)
    assert "CartesianProduct" not in plan
    for schema in PI.scan_read_schemas(df):
        assert schema.count(":") <= 2, schema


def test_q5_join_chain_all_broadcast_single_shuffle(spark, qs):
    """TPC-H Q5 shape: the 6-table chain must broadcast every dimension
    side and shuffle only for the final 5-row aggregation; both date
    bounds and the region literal reach their scans."""
    df = qs["rel_sql_q5_local_supplier"](spark, SF_DIR)
    plan = PI.formatted_plan(df)
    import re

    assert len(re.findall(r"\(\d+\) BroadcastHashJoin", plan)) == 5, plan
    PI.assert_max_exchanges(df, 1)
    pushed = ";".join(PI.pushed_filters(df))
    assert "GreaterThanOrEqual(o_orderdate" in pushed
    assert "EqualTo(r_name,ASIA)" in pushed


def test_q10_pushes_filters_broadcasts_and_takes_ordered(spark, qs):
    """TPC-H Q10 shape: both scan filters reach parquet, nation broadcasts,
    and the top-20 plans as TakeOrderedAndProject (never a global sort of
    the customer-grain aggregate)."""
    df = qs["rel_sql_q10_returned_items"](spark, SF_DIR)
    plan = PI.formatted_plan(df)
    assert "TakeOrderedAndProject" in plan, plan
    assert PI.has_broadcast_join(df)
    assert not PI.has_cartesian(df)
    pushed = ";".join(PI.pushed_filters(df))
    assert "EqualTo(l_returnflag,R)" in pushed, pushed
    assert "GreaterThanOrEqual(o_orderdate" in pushed, pushed


def test_q18_in_subquery_plans_left_semi(spark, qs):
    """TPC-H Q18 shape: Catalyst must rewrite the IN-over-HAVING subquery
    to a left-semi join against the aggregated lineitem relation — no
    cartesian, no subquery re-execution per row."""
    df = qs["rel_sql_q18_large_volume"](spark, SF_DIR)
    plan = PI.formatted_plan(df)
    assert "LeftSemi" in plan, plan
    assert not PI.has_cartesian(df)
    assert "TakeOrderedAndProject" in plan, plan


def test_ewma_single_window_single_shuffle(spark, qs):
    """All 12 EWMA lag terms share one window sort: exactly one Window
    exec, and the only exchange is the user_id hash partitioning."""
    import re

    df = qs["events_ewma"](spark, SF_DIR)
    plan = PI.formatted_plan(df)
    assert len(re.findall(r"\(\d+\) Window\b", plan)) == 1, plan
    PI.assert_max_exchanges(df, 1)


def test_sketch_digest_computed_once_per_block(spark):
    """Bloom/CMS cell fan-out must reuse ONE staged md5 digest per 4 hash
    rows: the physical plan contains ⌈k/4⌉ md5 calls, not k (Spark's CSE
    does not reach into a Generate's input array, so the builders stage
    the digest explicitly)."""
    from parallelized_hybrid_sorting_using_quick_insertion_sort_for_big_data_spark.operators import (
        sketch as SK,
    )

    df = spark.createDataFrame([("a",), ("b",)], "value string")
    for builder, kwargs, want in (
        (SK.cms_build, {"depth": 4, "width": 64}, 1),
        (SK.cms_build, {"depth": 8, "width": 64}, 2),
        (SK.bloom_build, {"m_bits": 1024, "k_hashes": 4}, 1),
    ):
        plan = PI.formatted_plan(builder(df, "value", **kwargs))
        assert plan.count("md5(") == want, (builder.__name__, kwargs, plan)


def test_timeline_assembly_no_window_single_shuffle(spark, qs):
    """Timeline assembly must be collect_list + per-group array sort: NO
    Window exec (the table is never range-sorted) and one hash exchange
    on user_id."""
    import re

    df = qs["events_user_timeline"](spark, SF_DIR)
    plan = PI.formatted_plan(df)
    assert not re.search(r"\(\d+\) Window\b", plan), plan
    PI.assert_max_exchanges(df, 1)


def test_q19_disjunction_pushes_part_residual(spark, qs):
    """TPC-H Q19 shape: the part-only residual of the cross-side OR
    (brand/size envelope) must reach the part scan as a pushed filter —
    the join must not build over the unfiltered dimension."""
    df = qs["rel_sql_q19_brand_ranges"](spark, SF_DIR)
    pushed = ";".join(PI.pushed_filters(df))
    assert "p_brand" in pushed, pushed
    assert not PI.has_cartesian(df)


def test_q17_decorrelates_to_two_partkey_aggregates(spark, qs):
    """TPC-H Q17 shape: both correlated scalar subqueries must decorrelate
    into per-partkey aggregates joined back on the correlation key (one
    LeftOuter leg for the count, the sum leg's threshold compare riding an
    equi-join) — never a per-row re-scan and never a cartesian."""
    df = qs["rel_sql_q17_small_quantity"](spark, SF_DIR)
    plan = PI.formatted_plan(df)
    assert plan.count("hashpartitioning(l_partkey") == 2, plan
    assert "LeftOuter" in plan, plan
    assert not PI.has_cartesian(df)


def test_q21_semi_anti_stack_on_one_key(spark, qs):
    """TPC-H Q21 shape: EXISTS plans as LeftSemi, NOT EXISTS as LeftAnti
    (with the non-equi lateness residual as join condition), the top-25 as
    TakeOrderedAndProject; the only shuffle exchange is the final group-by
    (the three lineitem legs share the l_orderkey key, dims broadcast)."""
    df = qs["rel_sql_q21_waiting_supplier"](spark, SF_DIR)
    plan = PI.formatted_plan(df)
    assert "LeftSemi" in plan, plan
    assert "LeftAnti" in plan, plan
    assert "TakeOrderedAndProject" in plan, plan
    assert not PI.has_cartesian(df)
    PI.assert_max_exchanges(df, 1)


def test_semantic_dedup_never_all_pairs(spark, qs):
    """SemDeDup pairwork must stay inside the cell (the cluster IS the
    bucket) — never a cartesian of the corpus against itself. The r07
    shape: the checkpointed scored assignment shuffles ONCE on cell into
    the per-cell GEMM dominance sweep (FlatMapGroupsInPandas); the codebook
    scorings (corpus × k-row broadcast, the only sanctioned nested loops)
    run upstream of the localCheckpoint and so never appear in — or
    re-execute under — this plan."""
    df = qs["vec_semantic_dedup"](spark, SF_DIR)
    plan = PI.formatted_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "FlatMapGroupsInPandas" in plan, plan
    PI.assert_max_exchanges(df, 1)


def test_frame_near_dup_banded_never_all_pairs(spark, qs):
    """Perceptual frame near-dup must candidate-pair via the pigeonhole
    piece-key equi-join of ``dedup.hamming_pairs`` — never a cross join of
    the frame relation against itself."""
    import re

    df = qs["mm_frame_near_dup"](spark, SF_DIR)
    plan = PI.formatted_plan(df)
    assert not PI.has_cartesian(df)
    assert "BroadcastNestedLoopJoin" not in plan
    # the pair join is keyed on the one long piece key
    assert re.search(r"Left keys \[1\]: \[key#", plan), plan


def test_q22_anti_join_with_scalar_thresholds(spark, qs):
    """TPC-H Q22 shape: the NOT EXISTS plans as LeftAnti with the status
    filter pushed to the orders scan; the two uncorrelated threshold
    subqueries run as one-time scalar subqueries (no cartesian, no
    per-row re-aggregation)."""
    df = qs["rel_sql_q22_dormant_balance"](spark, SF_DIR)
    plan = PI.formatted_plan(df)
    assert "LeftAnti" in plan, plan
    assert not PI.has_cartesian(df)
    PI.assert_filter_pushed(df, "o_orderstatus")
    assert "Subquery" in plan, plan


def _assert_only_partsupp_loops(plan: str, max_loops: int) -> None:
    """The derived-partsupp CTE (suites/tpch.py) expands part against a
    4-literal-row inline relation; Spark correctly plans that as a
    BroadcastNestedLoopJoin with the 4-row side as the broadcast build —
    the benign, intended shape (the alternative, scanning part 4x via
    UNION ALL, reads a 20B-row dim four times at TPC-H 100 TB scale).
    Cartesians stay banned outright; BNLJs are capped at the number of
    partsupp expansions the query's text contains."""
    import re

    assert "CartesianProduct" not in plan, plan
    bnlj = re.findall(r"^\(\d+\) BroadcastNestedLoopJoin", plan, re.M)
    assert len(bnlj) <= max_loops, plan


def test_q2_decorrelated_min_two_partkey_aggregates(spark, qs):
    """TPC-H Q2 (true partsupp form): the region-filtered correlated MIN
    decorrelates into a per-ps_partkey aggregate joined back on the
    correlation key — never a per-row re-scan; the part sieve pushes to
    its scan; the top-100 is a TakeOrderedAndProject, not a global sort.
    The only nested loops are the two partsupp expansions (outer query +
    MIN subquery)."""
    df = qs["rel_sql_q2_min_cost_supplier"](spark, SF_DIR)
    plan = PI.formatted_plan(df)
    assert plan.count("hashpartitioning(ps_partkey") >= 1, plan
    assert "TakeOrderedAndProject" in plan, plan
    _assert_only_partsupp_loops(plan, 2)
    PI.assert_filter_pushed(df, "p_size")
    PI.assert_max_exchanges(df, 2)


def test_q4_exists_plans_left_semi_single_exchange(spark, qs):
    """TPC-H Q4 shape: EXISTS with the correlated lateness residual plans
    as ONE LeftSemi probe per order (the date compare rides the join),
    the quarter window pushes to the orders scan, and the 5-group
    priority rollup is the only extra work — one shuffle exchange total."""
    df = qs["rel_sql_q4_priority_check"](spark, SF_DIR)
    plan = PI.formatted_plan(df)
    assert "LeftSemi" in plan, plan
    assert not PI.has_cartesian(df)
    PI.assert_filter_pushed(df, "o_orderdate")
    PI.assert_max_exchanges(df, 1)


def test_q6_scan_bound_single_row_aggregate(spark, qs):
    """TPC-H Q6 shape: the canonical scan-bound query — all three range
    predicates push to the parquet scan, exactly the 4 referenced columns
    are read, and the only exchange ships one partial-aggregate row per
    partition."""
    df = qs["rel_sql_q6_forecast_revenue"](spark, SF_DIR)
    PI.assert_filter_pushed(df, "l_shipdate")
    PI.assert_filter_pushed(df, "l_discount")
    PI.assert_filter_pushed(df, "l_quantity")
    (schema,) = PI.scan_read_schemas(df)
    assert schema.count(":") == 4, schema
    PI.assert_max_exchanges(df, 1)
    assert PI.codegen_stage_count(df) >= 1


def test_q13_on_clause_filter_stays_on_left_join(spark, qs):
    """TPC-H Q13 shape: the priority filter lives in the LEFT JOIN's ON
    clause and must NOT be pushed below the join as a WHERE on orders'
    probe result (zero-order customers must survive with c_count=0) —
    pinned by both engines agreeing on values (oracle) and, here, by the
    filter landing in the orders scan (safe: it only shrinks the right
    side) while the join stays a LEFT outer/broadcast form, and the two
    stacked aggregations add at most two exchanges."""
    df = qs["rel_sql_q13_customer_distribution"](spark, SF_DIR)
    plan = PI.formatted_plan(df)
    assert not PI.has_cartesian(df)
    # the ON-clause filter may prune the RIGHT side's scan only; the join
    # itself must remain outer (LeftOuter here, either build side)
    assert "LeftOuter" in plan or "RightOuter" in plan, plan
    PI.assert_max_exchanges(df, 2)


def test_q16_not_in_plans_anti_join(spark, qs):
    """TPC-H Q16 shape: NOT IN over the excluded-supplier subquery plans
    as an anti join of the tiny blacklist (broadcast — null-aware since
    NOT IN voids on NULL keys), the brand/type/size sieve pushes to the
    part scan, and the exact count(DISTINCT) runs as a two-level
    aggregate — no Expand explosion, no cartesian."""
    df = qs["rel_sql_q16_supplier_relationship"](spark, SF_DIR)
    plan = PI.formatted_plan(df)
    assert "LeftAnti" in plan, plan
    _assert_only_partsupp_loops(plan, 1)
    PI.assert_filter_pushed(df, "p_brand")
    # (triple, suppkey) dedup pass + triple count pass + the partsupp
    # CTE's one-row |supplier| sizing subquery
    PI.assert_max_exchanges(df, 3)


def test_q20_in_over_aggregate_plans_semi_join(spark, qs):
    """TPC-H Q20 shape: IN over the grouped-HAVING subquery plans as a
    LEFT SEMI join against the per-suppkey aggregate (one suppkey
    shuffle), with the name LIKE and ship-date filters pushed to their
    scans — never a per-row re-aggregation, never a cartesian."""
    df = qs["rel_sql_q20_part_promotion"](spark, SF_DIR)
    plan = PI.formatted_plan(df)
    assert "LeftSemi" in plan, plan
    # the (partkey, suppkey)-correlated availability aggregate decorrelates
    # into one pair-keyed exchange of the date-filtered lineitem
    import re

    assert re.search(r"hashpartitioning\(l_partkey#\d+\w*, l_suppkey", plan), plan
    _assert_only_partsupp_loops(plan, 1)
    PI.assert_filter_pushed(df, "l_shipdate")
    PI.assert_max_exchanges(df, 2)


def test_q11_and_q15_scalar_subqueries_run_once(spark, qs):
    """TPC-H Q11/Q15 shapes: the uncorrelated threshold (Q11 fraction of
    national total; Q15 max CTE revenue) plans as a one-time scalar
    Subquery feeding a literal into the filter — never a cartesian, never
    a per-group re-aggregation (exchange counts stay at the two or three
    aggregate passes the query itself needs)."""
    q11 = qs["rel_sql_q11_important_stock"](spark, SF_DIR)
    p11 = PI.formatted_plan(q11)
    assert "Subquery" in p11, p11
    _assert_only_partsupp_loops(p11, 2)
    # per-part pass + threshold pass, each (partsupp agg + subquery total)
    PI.assert_max_exchanges(q11, 4)
    q15 = qs["rel_sql_q15_top_supplier"](spark, SF_DIR)
    p15 = PI.formatted_plan(q15)
    assert "Subquery" in p15, p15
    assert not PI.has_cartesian(q15)
    PI.assert_max_exchanges(q15, 3)


def test_crossdup_coverage_bounded_exchanges_no_cartesian(spark, qs):
    """Cross-doc duplicated-span coverage: candidate spans come from the
    gram-key equi-join (never all-pairs), the doc-keyed window and the
    per-doc sum share one exchange, and only fixed-width md5-key rows
    shuffle — bounded exchange count, no cartesian, text column pruned
    from every post-scan exchange. (+2 exchanges r07: the conditional
    spread_scan round-robin that widens the single-partition local corpus
    scan before the per-row gram work appears once under each of the two
    scan branches (token-count base + gram hits) — absent on an
    already-parallel scan, i.e. at scale.)"""
    df = qs["text_crossdup_coverage"](spark, SF_DIR)
    assert not PI.has_cartesian(df)
    PI.assert_max_exchanges(df, 6)


def test_window_value_functions_single_exchange(spark, qs):
    """All five navigation functions share the o_custkey window spec, so
    the plan carries ONE shuffle on the partition key (plus Window sorts),
    and the o_custkey filter pushes to the scan."""
    df = qs["rel_window_value_functions"](spark, SF_DIR)
    PI.assert_max_exchanges(df, 1)
    PI.assert_filter_pushed(df, "o_custkey")
    assert not PI.has_cartesian(df)


def test_q7_q8_q9_q12_single_fact_exchange_dims_broadcast(spark, qs):
    """The four snowflake TPC-H completions all reduce to ONE shuffle (the
    final aggregate of broadcast-joined fact rows) with their selective
    predicates pushed to the scans — the at-scale shape: dims broadcast,
    the fact is touched once."""
    for name, pushed_col, partsupp_loops, max_exch in [
        ("rel_sql_q7_volume_shipping", "l_shipdate", 0, 1),
        ("rel_sql_q8_market_share", "p_type", 0, 1),
        # Q9 is the true partsupp form since r07 — its one sanctioned
        # nested loop is the broadcast 4-literal-row partsupp expansion,
        # and the CTE's one-row |supplier| sizing subquery adds the
        # second (single-partition, one-count-row) exchange
        ("rel_sql_q9_product_profit", "p_name", 1, 2),
        ("rel_sql_q12_ship_classes", "l_shipdate", 0, 1),
    ]:
        df = qs[name](spark, SF_DIR)
        plan = PI.formatted_plan(df)
        if partsupp_loops:
            _assert_only_partsupp_loops(plan, partsupp_loops)
        else:
            assert not PI.has_cartesian(df), name
        assert PI.has_broadcast_join(df), name
        PI.assert_max_exchanges(df, max_exch)
        PI.assert_filter_pushed(df, pushed_col)


def test_audit_fk_checks_plan_anti_joins_no_cartesian(spark, qs):
    """Every FK check in the data-quality audit must plan as a LEFT ANTI
    join (6 checks), never a cartesian; each check keeps its own subplan
    so one slow check can't serialize the others."""
    df = qs["pipeline_data_quality_audit"](spark, SF_DIR)
    plan = PI.formatted_plan(df)
    import re

    anti_heads = re.findall(r"\+- [A-Za-z]*Join LeftAnti", plan)
    assert len(anti_heads) == 6, plan.count("LeftAnti")
    assert not PI.has_cartesian(df)


def test_equifreq_binning_no_global_window(spark, qs):
    """Equal-frequency binning must NOT plan a single-partition global
    window (the ntile trap): thresholds are one broadcast aggregate row,
    binning is map-side, and the plan carries no Window node at all —
    two aggregate exchanges total."""
    df = qs["rel_equifreq_binning"](spark, SF_DIR)
    plan = PI.formatted_plan(df)
    assert "Window" not in plan, "global window = single-reducer sort"
    # the threshold attach is the ONE allowed nested-loop: a broadcast of a
    # one-row aggregate (bounded by construction); a shuffled cartesian of
    # two real relations would be the failure mode
    assert "CartesianProduct" not in plan
    bnlj = re.findall(r"\+- BroadcastNestedLoopJoin", plan)
    assert len(bnlj) == 1, plan
    PI.assert_max_exchanges(df, 2)


def test_salted_join_plan_has_salt_expansion(spark, qs):
    # the salt mechanics must be visible in the physical plan: the dim side
    # expands via explode(array(salts)) -> a Generate node, and the join
    # stays a shuffle join on the salted key (broadcast would defeat the
    # demonstration; the dim is exploded n_salts x but still tiny)
    df = qs["skew_salted_join"](spark, SF_DIR)
    plan = PI.simple_plan(df).lower()
    assert "generate" in plan and "explode" in plan
    assert not PI.has_cartesian(df)


def test_skew_twophase_share_plan(spark, qs):
    # the two-phase rewrite of the hot-partition window: NO Window node
    # (that's the straggler being removed), per-key totals broadcast back,
    # exchanges bounded by the grouped agg (+ AQE bookkeeping)
    df = qs["skew_twophase_share"](spark, SF_DIR)
    plan = PI.simple_plan(df).lower()
    assert "window" not in plan
    assert PI.has_broadcast_join(df)
    PI.assert_max_exchanges(df, 2)


def test_segment_rewrite_plan(spark, qs):
    # segment dedup: keep-first must be the min-struct AGGREGATE (no
    # Window/row_number straggler on the segment hash), no cartesian, and
    # the scan reads only (doc_id, text)
    df = qs["dedup_segment_rewrite"](spark, SF_DIR)
    plan = PI.simple_plan(df).lower()
    assert "window" not in plan
    assert not PI.has_cartesian(df)
    for schema in PI.scan_read_schemas(df):
        assert schema.count(":") <= 2, schema


def test_sorted_neighborhood_plan(spark, qs):
    """SNM dedup: candidates come from EQUI-joins only (the rank window is
    an explode + join on rank — never a range or cartesian join), the total
    sort is a range exchange (the engine's ranked() machinery), and the
    verify stage reads the persisted slim projection, not the corpus scan
    re-run per join side."""
    df = qs["dedup_sorted_neighborhood"](spark, SF_DIR)
    plan = PI.formatted_plan(df)
    assert not PI.has_cartesian(df)
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "rangepartitioning" in plan.lower(), plan
    # the rank-window expansion must be present (explode of the gap sequence)
    assert "explode" in plan.lower(), plan


def test_cdc_apply_is_single_partial_aggregate(spark, qs):
    """CDC apply must be the max_by grouped-aggregate form: exactly one
    exchange (the groupBy on the key), with a partial aggregate before it
    (map-side combine), and NO window (a window would funnel hot keys)."""
    df = qs["pipeline_cdc_apply"](spark, SF_DIR)
    plan = PI.formatted_plan(df)
    PI.assert_max_exchanges(df, 1)
    assert "Window" not in plan, plan
    # struct-typed max_by lowers to SortAggregate; the load-bearing fact is
    # the PARTIAL aggregate before the exchange (map-side combine)
    assert "partial_max_by" in plan, plan


def test_groupwise_regression_single_exchange(spark, qs):
    """The OLS moments are one grouped aggregate: partial aggregation then
    a single hash exchange; the fit arithmetic is post-agg projection."""
    df = qs["rel_groupwise_regression"](spark, SF_DIR)
    PI.assert_max_exchanges(df, 1)
    assert PI.codegen_stage_count(df) >= 1


def test_winsorized_broadcasts_thresholds_back(spark, qs):
    """The percentile-threshold relation (group-count-sized) must broadcast
    back onto the fact scan — the clip must never shuffle the fact table a
    second time. One exchange total (the final groupBy)."""
    df = qs["rel_winsorized_stats"](spark, SF_DIR)
    assert PI.has_broadcast_join(df)
    assert not PI.has_cartesian(df)


def test_copurchase_no_cartesian_and_capped(spark, qs):
    """Co-purchase pairs must come from the entity equi-join only (no
    cartesian/nested loop), with the hot-basket Window cap upstream of the
    pair join."""
    df = qs["rel_copurchase_similarity"](spark, SF_DIR)
    plan = PI.formatted_plan(df)
    assert not PI.has_cartesian(df)
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "Window" in plan, plan  # the basket-size cap


# ---------------------------------------------------------------------------
# r08 third-session adds
# ---------------------------------------------------------------------------


def test_triangle_count_all_equijoins_no_cartesian(spark, qs):
    """Degree-oriented triangle counting must be pure equi-joins: no
    cartesian/nested loop anywhere (the whole point of the orientation is
    to avoid enumerating non-wedge pairs)."""
    df = qs["graph_triangle_count"](spark, SF_DIR)
    assert not PI.has_cartesian(df), PI.formatted_plan(df)


def test_bfs_levels_no_cartesian(spark, qs):
    """Every BFS round is frontier ⋈ edges + anti-join vs visited — all
    equi-joins over bigint ids."""
    df = qs["graph_bfs_levels"](spark, SF_DIR)
    assert not PI.has_cartesian(df), PI.formatted_plan(df)


def test_association_rules_single_scalar_nested_loop(spark, qs):
    """The only nested-loop allowed is the broadcast 1-row distinct-customer
    scalar; the pair stage itself must be the entity equi-join with the
    Window basket cap upstream."""
    df = qs["rel_association_rules"](spark, SF_DIR)
    plan = PI.simple_plan(df)
    assert "CartesianProduct" not in plan, plan
    assert plan.count("BroadcastNestedLoopJoin") <= 1, plan
    assert "Window" in plan, plan  # the basket-size cap


def test_decontam_embedding_broadcasts_benchmark(spark, qs):
    """The benchmark side must be broadcast (the corpus never shuffles for
    the pair stage): exactly one nested-loop — the corpus × broadcast(bench)
    expansion — and no cartesian product. The only exchange is the final
    per-vector max aggregation."""
    df = qs["decontam_embedding"](spark, SF_DIR)
    plan = PI.simple_plan(df)
    assert "CartesianProduct" not in plan, plan
    assert plan.count("BroadcastNestedLoopJoin") == 1, plan
    PI.assert_max_exchanges(df, 2)


def test_cluster_balanced_assignment_stays_mapside(spark, qs):
    """ivf_assign's packed-codebook form must not shuffle the corpus: the
    plan carries broadcasts (codebook) and the single cell-keyed Window for
    the cap — never a cartesian."""
    df = qs["sample_cluster_balanced"](spark, SF_DIR)
    plan = PI.simple_plan(df)
    assert "CartesianProduct" not in plan, plan
    # exactly ONE nested loop: the corpus × broadcast 1-row packed codebook
    # (ivf_assign's deliberate shuffle-free design, similarity.py)
    assert plan.count("BroadcastNestedLoopJoin") == 1, plan
    assert "Window" in plan, plan


def test_matryoshka_recall_both_legs_broadcast(spark, qs):
    """Both ranking legs broadcast the 10-query side; the corpus is scanned,
    never cartesian-joined against itself."""
    df = qs["vec_matryoshka_recall"](spark, SF_DIR)
    plan = PI.simple_plan(df)
    assert "CartesianProduct" not in plan, plan
    # two nested loops — one per ranking leg, each broadcasting the
    # 10-query side against the streamed corpus (brute_force_topk design)
    assert plan.count("BroadcastNestedLoopJoin") == 2, plan


def test_fertility_two_aggregations_no_cartesian(spark, qs):
    df = qs["text_fertility_by_lang"](spark, SF_DIR)
    assert not PI.has_cartesian(df), PI.formatted_plan(df)


def test_kcore_semi_joins_no_cartesian(spark, qs):
    """Every peel round is one degree agg + two LeftSemi joins — no
    cartesian/nested loop; the plan is checkpoint-rooted so depth stays
    constant in the round count."""
    df = qs["graph_kcore"](spark, SF_DIR)
    assert not PI.has_cartesian(df), PI.formatted_plan(df)


def test_adamic_adar_wedge_equijoin_no_cartesian(spark, qs):
    """Wedges come from the center equi-join only, candidates leave via a
    LeftAnti against the edge set — no cartesian/nested loop."""
    df = qs["graph_adamic_adar"](spark, SF_DIR)
    plan = PI.simple_plan(df)
    assert not PI.has_cartesian(df), plan
    assert "LeftAnti" in PI.formatted_plan(df)


def test_seasonal_anomaly_one_fact_shuffle(spark, qs):
    """Facts shuffle once (the hourly count); the baseline join is a
    broadcast of the (type, hod)-sized relation."""
    df = qs["events_seasonal_anomaly"](spark, SF_DIR)
    assert PI.has_broadcast_join(df)
    assert not PI.has_cartesian(df)


def test_label_drift_one_component_shuffle(spark, qs):
    """The (label, part, dim) partial-sum aggregation is the only
    vector-sized shuffle; the half-mean joins are label-sized."""
    df = qs["vec_label_drift"](spark, SF_DIR)
    assert not PI.has_cartesian(df)


def test_dataset_card_fingerprint_agg_no_text_shuffle(spark, qs):
    """The dup count is a fingerprint hash-agg; the two 1-row aggregates
    meet in a single broadcast nested loop (the scalar pattern)."""
    df = qs["pipeline_dataset_card"](spark, SF_DIR)
    plan = PI.simple_plan(df)
    assert "CartesianProduct" not in plan, plan
    assert plan.count("BroadcastNestedLoopJoin") == 1, plan


def test_dau_contribution_explode_no_cartesian(spark, qs):
    """The trailing-window explode is a bounded per-row sequence (7/30
    rows), never a day-range self-join; the observed-day bounds ride one
    broadcast scalar."""
    df = qs["events_dau_wau_mau"](spark, SF_DIR)
    plan = PI.simple_plan(df)
    assert "CartesianProduct" not in plan, plan
    assert plan.count("BroadcastNestedLoopJoin") == 1, plan  # bounds scalar
    assert "Generate" in PI.formatted_plan(df)  # the explodes


def test_pareto_window_over_part_sized_aggregate(spark, qs):
    """The global ordered window must sit ABOVE the part-grain aggregate
    (facts reduce first): exactly one fact-sized exchange (the groupBy),
    then the single-partition window exchange, plus the broadcast total."""
    df = qs["rel_pareto_abc"](spark, SF_DIR)
    plan = PI.simple_plan(df)
    assert "CartesianProduct" not in plan, plan
    assert plan.count("BroadcastNestedLoopJoin") == 1, plan  # grand total
    assert "Window" in plan, plan


def test_cusum_and_survival_windows_after_reduction(spark, qs):
    """Both sequential statistics run their ordered windows over post-agg
    relations (day-sized), never facts; no cartesian anywhere."""
    for name in ("events_cusum_changepoint", "events_survival_retention"):
        df = qs[name](spark, SF_DIR)
        plan = PI.simple_plan(df)
        assert "CartesianProduct" not in plan, (name, plan)
        assert "Window" in plan, (name, plan)


def test_span_dedup_plans(spark, qs):
    """r09 substring-dedup family: no cartesian products; the documents
    scan prunes to (doc_id, text); the report query needs exactly its
    three theoretical exchanges (frequency agg, position equi-join's
    occurrence side, doc-keyed island window) — the shingle projection
    itself must stay map-side (no exchange before the frequency agg
    beyond those)."""
    report = qs["dedup_duplicate_spans"](spark, SF_DIR)
    rewrite = qs["pipeline_span_dedup_rewrite"](spark, SF_DIR)
    for name, df in (("report", report), ("rewrite", rewrite)):
        plan = PI.simple_plan(df)
        assert "CartesianProduct" not in plan, (name, plan)
        assert "BroadcastNestedLoopJoin" not in plan, (name, plan)
        for schema in PI.scan_read_schemas(df):
            assert "lang" not in schema and "source" not in schema, (name, schema)
    PI.assert_max_exchanges(report, 4)


def test_recall_cells_single_evaluation(spark, qs):
    """r11 regression gate for the double-evaluation class: the recall
    measurement cells are ONE full-outer join + ONE aggregate, so each
    pair leg's expensive stage appears exactly once in the physical plan.
    The pre-r11 triple-aggregate crossJoin form evaluated both legs twice
    (exchange reuse covers only the shuffle write, not the post-shuffle
    applyInPandas GEMM / Jaccard re-rank work) — that form re-appearing
    would double FlatMapGroupsInPandas (the blocked-GEMM exact leg of
    vec_ann_recall) and re-introduce scalar-aggregate nested loops."""
    ann = qs["vec_ann_recall"](spark, SF_DIR)
    # simple mode: formatted mode prints each node twice (tree + details)
    plan = PI.simple_plan(ann)
    assert plan.count("FlatMapGroupsInPandas") == 1, plan
    assert "CartesianProduct" not in plan, plan
    # dedup_lsh_recall's single-pass form has NO nested loops at all;
    # vec_pq_recall keeps exactly its two sanctioned broadcast scalar
    # joins (the query-vector broadcast in brute_force_topk and the
    # 1-row qrow broadcast building the ADC LUT) — the crossJoined
    # scalar-count aggregates of the old form would push it past that.
    for name, max_bnlj in (("dedup_lsh_recall", 0), ("vec_pq_recall", 2)):
        p = PI.simple_plan(qs[name](spark, SF_DIR))
        assert "CartesianProduct" not in p, (name, p)
        assert p.count("BroadcastNestedLoopJoin") <= max_bnlj, (name, p)
