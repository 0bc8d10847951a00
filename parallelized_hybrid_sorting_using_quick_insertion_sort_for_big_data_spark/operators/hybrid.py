"""Reference-faithful hybrid quicksort + insertion sort, Spark-distributed.

Demonstration layer (SURVEY.md §7.2 M2): reproduces the reference's exact
algorithmic semantics —

  - insertion sort for runs below a threshold
    (/root/reference/QuickInsertionHeap.c:10-20, SequentialQuickInsert.c:8-18)
  - quicksort above it, with the threshold switch
    (QuickInsertionHeap.c:41-51, THRESHOLD=25 at :7; CLI-tunable variant
    quickThreshold.c:187-191)
  - iterative explicit-stack form (QuickInsertionHeap.cu:40-72)
  - scatter → per-partition local sort → ordered reassembly topology
    (QuickInsertionHeap.c:197-215)
  - min-heap k-way merge of sorted runs (QuickInsertionHeap.c:60-136), via
    ``heapq.merge`` — the same P-node min-heap algorithm

— but written from scratch in idiomatic Python against public PySpark APIs
(no code is translated from the reference; the C sources only define the
semantics). ``hybrid_ranked`` runs the kernel in one Arrow-batched
``mapInArrow`` stage per range partition and ranks its output with the same
count-offset tail as ``sorting.ranked`` (``sorting.rank_arranged``), so the
only Python in the plan is the kernel itself. The production path for total
sort remains ``operators.sorting`` (native ``orderBy``): this module exists
to prove semantic parity and to benchmark the reference topology against the
Spark-native plan.

Deliberate divergences from the reference (SURVEY.md §7.4):
  - no INT_MAX sentinel padding (Spark partitions are variable-length),
  - the rank-0 single-node merge is replaced by range partitioning, under
    which concatenation in partition order IS the merge (the driver-side
    ``heapq.merge`` form is provided only as a tiny-scale demo/test helper),
  - the CUDA odd-tail merge data-loss bug and the uninitialized-heap-entry
    edge (quickThreshold.c:98-100) are NOT replicated.
"""

from __future__ import annotations

import heapq
from typing import Iterable, Iterator, Sequence

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import sorting

DEFAULT_THRESHOLD = 25  # mirrors QuickInsertionHeap.c:7


def insertion_sort(arr: list, lo: int, hi: int) -> None:
    """In-place ascending insertion sort of arr[lo..hi] inclusive —
    semantics of QuickInsertionHeap.c:10-20."""
    for i in range(lo + 1, hi + 1):
        key = arr[i]
        j = i - 1
        while j >= lo and arr[j] > key:
            arr[j + 1] = arr[j]
            j -= 1
        arr[j + 1] = key


def _partition(arr: list, lo: int, hi: int) -> int:
    """Lomuto partition, last-element pivot — semantics of
    QuickInsertionHeap.c:23-38."""
    pivot = arr[hi]
    i = lo - 1
    for j in range(lo, hi):
        if arr[j] < pivot:
            i += 1
            arr[i], arr[j] = arr[j], arr[i]
    arr[i + 1], arr[hi] = arr[hi], arr[i + 1]
    return i + 1


def hybrid_quickinsertion_sort(
    arr: list, threshold: int = DEFAULT_THRESHOLD
) -> list:
    """In-place hybrid sort: quicksort that hands sub-ranges smaller than
    ``threshold`` to insertion sort. Iterative with an explicit stack (the
    device-safe form, QuickInsertionHeap.cu:40-72) so adversarial inputs
    can't blow Python's recursion limit. Returns ``arr`` for chaining."""
    if threshold < 1:
        raise ValueError("threshold must be >= 1")
    n = len(arr)
    if n < 2:
        return arr
    stack: list[tuple[int, int]] = [(0, n - 1)]
    while stack:
        lo, hi = stack.pop()
        if lo >= hi:
            continue
        if hi - lo + 1 < threshold:
            insertion_sort(arr, lo, hi)
            continue
        p = _partition(arr, lo, hi)
        # push larger side first → stack depth O(log n)
        left, right = (lo, p - 1), (p + 1, hi)
        if (p - lo) > (hi - p):
            stack.append(left)
            stack.append(right)
        else:
            stack.append(right)
            stack.append(left)
    return arr


def k_way_merge(runs: Sequence[Iterable]) -> Iterator:
    """Min-heap k-way merge of ascending runs — the algorithm of
    QuickInsertionHeap.c:60-136 (P-node min-heap keyed on (value, run_idx)),
    via the standard library's heap merge. Exhausted runs simply drop out of
    the heap; no INT_MAX sentinel needed."""
    return heapq.merge(*runs)


# ---------------------------------------------------------------------------
# Distributed forms
# ---------------------------------------------------------------------------


def hybrid_ranked(
    df: DataFrame,
    value_col: str = "value",
    threshold: int = DEFAULT_THRESHOLD,
    num_partitions: int | None = None,
) -> DataFrame:
    """The reference's full MPI topology, Spark-distributed, with rank output:

      range-partition exchange (≈ MPI_Scatterv, but key-ranged so partition i
      wholly precedes partition i+1) → one ``mapInArrow`` stage running the
      hybrid quick+insertion sort on each partition's values (≈ per-rank
      quicksort, QuickInsertionHeap.c:208) → ``sorting.rank_arranged``
      (per-partition count + broadcast offsets over the persisted output —
      the distributed replacement for gather + rank-0 k-way merge).

    The Arrow stage gathers the partition's values with ``to_pylist()``,
    sorts the non-null ones with ``hybrid_quickinsertion_sort`` and emits
    the partition's nulls after them (nulls last, as ``sorting.ranked``
    orders them; the range exchange also puts nulls last). Output batches
    keep the sizes of the input batches Spark handed the stage.

    Output schema: ``(rnk BIGINT, value BIGINT)``, globally ascending by
    value. Ties carry identical rows, so the result is deterministic as a
    multiset even though the kernel (like the reference's quicksort) is not
    stable. Scale note: the Python kernel caps throughput — this is the
    fidelity demo; production sorts use ``sorting.total_sort``.
    """
    n = num_partitions or int(df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32"))
    arranged = df.select(F.col(value_col).cast("long").alias("value")).repartitionByRange(
        max(1, n), F.col("value").asc_nulls_last()
    )

    def sort_partition(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        batches = list(batches)
        column = pa.chunked_array([b.column(0) for b in batches], type=pa.int64())
        vals = hybrid_quickinsertion_sort(column.drop_null().to_pylist(), threshold)
        out = pa.array(vals + [None] * column.null_count, type=pa.int64())
        start = 0
        for b in batches:
            yield pa.RecordBatch.from_arrays([out.slice(start, b.num_rows)], names=["value"])
            start += b.num_rows

    sorted_values = arranged.mapInArrow(sort_partition, "value long")
    return sorting.rank_arranged(sorted_values, "rnk").select("rnk", "value")


def scatter_sort_merge_collect(
    df: DataFrame,
    value_col: str = "value",
    threshold: int = DEFAULT_THRESHOLD,
    num_partitions: int = 4,
) -> list:
    """Tiny-scale demo of the EXACT reference pipeline including its
    single-node k-way heap merge (QuickInsertionHeap.c:211-215): hash-scatter
    (like MPI_Scatterv's arbitrary block split), per-partition hybrid sort,
    gather-to-driver, driver-side min-heap merge. Deliberately an
    anti-pattern at scale (the rank-0 bottleneck §4.2) — tests use it to
    prove the distributed path computes the same result."""
    arranged = df.select(F.col(value_col).cast("long").alias("value")).repartition(
        num_partitions
    )
    runs = arranged.rdd.mapPartitions(
        lambda rows: iter([hybrid_quickinsertion_sort([r[0] for r in rows], threshold)])
    ).collect()
    return list(k_way_merge(runs))
