"""Hybrid quick+insertion kernel tests — semantic parity with the reference
algorithm (SURVEY.md §5.2: threshold invariance, permutation, parity with
native orderBy, adversarial shapes)."""

from __future__ import annotations

import random
import subprocess
import sys
import tempfile
import threading
import time
from pathlib import Path

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from parallelized_hybrid_sorting_using_quick_insertion_sort_for_big_data_spark.operators import (
    hybrid,
    sorting,
)
from parallelized_hybrid_sorting_using_quick_insertion_sort_for_big_data_spark.sources import (
    datagen,
)


@given(st.lists(st.integers(min_value=-(2**31), max_value=2**31 - 1), max_size=300))
@settings(max_examples=200, deadline=None)
def test_kernel_matches_sorted(xs):
    assert hybrid.hybrid_quickinsertion_sort(list(xs)) == sorted(xs)


@pytest.mark.parametrize("threshold", [1, 2, 25, 1000])
def test_threshold_invariance(threshold):
    """Mirrors the quickThreshold.c experiment: output identical for any
    threshold (quickThreshold.c:187-194)."""
    rng = random.Random(42)
    xs = [rng.randrange(1_000_000) for _ in range(5_000)]
    assert hybrid.hybrid_quickinsertion_sort(list(xs), threshold) == sorted(xs)


# The kernel-shape cases run in a child process with a hard timeout, so a
# quadratic regression fails the test instead of hanging the suite (1M
# sorted or equal keys take hours at O(n^2)); one threshold takes ~4 s.
KERNEL_TIMEOUT_S = 120


def check_kernel_shapes(threshold: int, n: int = 1_000_000) -> None:
    """The quicksort worst cases at n keys, each compared with ``sorted()``:
    sorted, reversed and all-equal (quadratic under the reference's Lomuto
    last-key pivot), organ pipe (the classic median-of-three trap), a
    four-key hot mix, and random keys."""
    rng = random.Random(threshold)
    half = n // 2
    shapes = {
        "random": [rng.randrange(-(2**62), 2**62) for _ in range(n)],
        "sorted": list(range(n)),
        "reversed": list(range(n, 0, -1)),
        "organ_pipe": [*range(half), *range(n - half, 0, -1)],
        "four_distinct": [rng.randrange(4) for _ in range(n)],
        "all_equal": [7] * n,
    }
    for name, xs in shapes.items():
        assert hybrid.hybrid_quickinsertion_sort(list(xs), threshold) == sorted(xs), name


@pytest.mark.parametrize("threshold", [1, 25, 100])
def test_kernel_adversarial_shapes(threshold):
    code = f"from tests.test_hybrid import check_kernel_shapes; check_kernel_shapes({threshold})"
    root = Path(__file__).resolve().parent.parent
    run = subprocess.run(
        [sys.executable, "-c", code], cwd=root, capture_output=True, text=True,
        timeout=KERNEL_TIMEOUT_S,
    )
    assert run.returncode == 0, run.stderr[-2000:]


def test_threshold_below_one_is_rejected():
    with pytest.raises(ValueError):
        hybrid.hybrid_quickinsertion_sort([2, 1], 0)


def test_missing_compiler_is_a_clear_error(tmp_path, monkeypatch):
    """With no kernel built yet and no ``cc`` on PATH, the kernel raises a
    RuntimeError that names the missing compiler, not a ctypes OSError."""
    monkeypatch.setenv("PATH", str(tmp_path))
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    monkeypatch.setattr(hybrid, "_lib", None)
    with pytest.raises(RuntimeError, match="no `cc` on PATH"):
        hybrid.hybrid_quickinsertion_sort([3, 1, 2])
    assert not list(tmp_path.glob("phsqis_kernel_*"))


def test_kway_merge():
    runs = [[1, 4, 9], [2, 2, 5], [], [0, 100]]
    assert list(hybrid.k_way_merge(runs)) == sorted(sum(runs, []))


# the seeded 20k ints plus the shapes where the count-offset tail and the
# Arrow stage have edges; every case runs on 8 partitions, so the 3-row
# frame has more partitions than rows
RANKED_INPUTS = {
    "seeded_20k": lambda spark: datagen.seeded_ints(spark, 20_000, num_partitions=8),
    "empty": lambda spark: spark.createDataFrame([], "value long"),
    "one_row": lambda spark: spark.createDataFrame([(7,)], "value long"),
    "all_equal": lambda spark: spark.range(1_000).select(F.lit(5).cast("long").alias("value")),
    "nulls": lambda spark: spark.range(2_000).select(
        F.when(F.col("id") % 7 == 0, None).otherwise(F.col("id") * 37 % 101).alias("value")
    ),
    "more_partitions_than_rows": lambda spark: spark.createDataFrame(
        [(3,), (1,), (2,)], "value long"
    ),
}


@pytest.mark.parametrize("case", RANKED_INPUTS)
def test_hybrid_ranked_matches_native(spark, case):
    """Distributed hybrid pipeline ≡ the JVM ranker (``sorting.ranked``):
    the same (rnk, value) rows, nulls last, and ranks exactly 1..N."""
    df = RANKED_INPUTS[case](spark)
    demo = hybrid.hybrid_ranked(df, "value", num_partitions=8)
    native = sorting.ranked(df.select("value"), ["value"])
    got = [(r["rnk"], r["value"]) for r in demo.orderBy("rnk").collect()]
    want = [(r["rnk"], r["value"]) for r in native.orderBy("rnk").collect()]
    assert got == want
    assert [rnk for rnk, _ in got] == list(range(1, df.count() + 1))


# 1M rows through hybrid_ranked on 4 partitions: every copy of a hot key
# lands in one partition, and a sorted input hands each partition a sorted
# run. Both take a few seconds; a quadratic kernel never finishes, so the
# jobs are cancelled at the bound and the test fails.
HOT_BOUND_S = 60
HOT_INPUTS = {
    "all_equal_1m": lambda spark: spark.range(1_000_000).select(
        F.lit(5).cast("long").alias("value")
    ),
    "sorted_1m": lambda spark: spark.range(1_000_000).select(F.col("id").alias("value")),
}


@pytest.mark.parametrize("case", HOT_INPUTS)
def test_hybrid_ranked_hot_key_within_bound(spark, case):
    df = HOT_INPUTS[case](spark)
    sc = spark.sparkContext
    tag = f"hybrid-hot-{case}"
    sc.addJobTag(tag)
    timer = threading.Timer(HOT_BOUND_S, sc.cancelJobsWithTag, [tag])
    timer.start()
    t0 = time.perf_counter()
    try:
        demo = hybrid.hybrid_ranked(df, "value", num_partitions=4)
        demo.write.format("noop").mode("overwrite").save()
    except Exception:
        if time.perf_counter() - t0 >= HOT_BOUND_S:
            pytest.fail(f"hybrid_ranked on {case} did not finish within {HOT_BOUND_S} s")
        raise
    finally:
        timer.cancel()
        sc.removeJobTag(tag)
    native = sorting.ranked(df, ["value"]).select("rnk", "value")
    assert demo.count() == native.count() == 1_000_000
    assert demo.exceptAll(native).count() == 0
    assert native.exceptAll(demo).count() == 0


def _plan_nodes(plan) -> list[str]:
    """Names of every physical node under ``plan``, looking inside adaptive
    plans, query stages and cached relations."""
    names, stack = [], [plan]
    while stack:
        node = stack.pop()
        names.append(node.nodeName())
        kind = node.getClass().getSimpleName()
        if kind == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
        elif kind.endswith("QueryStageExec"):
            stack.append(node.plan())
        elif kind == "InMemoryTableScanExec":
            stack.append(node.relation().cachedPlan())
        children = node.children()
        stack.extend(children.apply(i) for i in range(children.size()))
    return names


def test_hybrid_ranked_is_one_arrow_pass(spark):
    """The kernel runs in exactly one Arrow-batched Python map, and no
    Python RDD is turned back into a frame (``Scan ExistingRDD``)."""
    ints = datagen.seeded_ints(spark, 5_000, num_partitions=4)
    demo = hybrid.hybrid_ranked(ints, "value", num_partitions=4)
    demo.collect()
    nodes = _plan_nodes(demo._jdf.queryExecution().executedPlan())
    assert nodes.count("MapInArrow") == 1, nodes
    assert not [n for n in nodes if "ExistingRDD" in n], nodes


def test_scatter_sort_merge_collect_matches(spark):
    """The reference's full rank-0-merge topology (tiny-scale demo) computes
    the same result as the distributed path."""
    ints = datagen.seeded_ints(spark, 3_000, num_partitions=5)
    merged = hybrid.scatter_sort_merge_collect(ints, "value", num_partitions=4)
    expected = sorted(r["value"] for r in ints.collect())
    assert merged == expected
    # nulls sort last, as in hybrid_ranked
    with_nulls = spark.createDataFrame([(1,), (None,), (0,)], "value long")
    merged = hybrid.scatter_sort_merge_collect(with_nulls, "value", num_partitions=2)
    assert merged == [0, 1, None]
