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

— written independently against public PySpark APIs (no code is translated
from the reference; the C sources only define the semantics). The kernel
itself is about 40 lines of C, the reference's own language, compiled on
first use with the system ``cc`` and called through ``ctypes`` on an int64
numpy array (``sort_int64``). ``hybrid_ranked`` runs it in one Arrow-batched
``mapInArrow`` stage per range partition and ranks its output with the same
count-offset tail as ``sorting.ranked`` (``sorting.rank_arranged``), so the
only Python in the plan is the thin stage around the kernel. The production
path for total sort remains ``operators.sorting`` (native ``orderBy``): this
module exists to prove semantic parity and to benchmark the reference
topology against the Spark-native plan.

Deliberate divergences from the reference (SURVEY.md §7.4):
  - no INT_MAX sentinel padding (Spark partitions are variable-length),
  - the rank-0 single-node merge is replaced by range partitioning, under
    which concatenation in partition order IS the merge (the driver-side
    ``heapq.merge`` form is provided only as a tiny-scale demo/test helper),
  - the CUDA odd-tail merge data-loss bug and the uninitialized-heap-entry
    edge (quickThreshold.c:98-100) are NOT replicated,
  - the pivot is the median of the first, middle and last keys and the
    split is Hoare-style, both scans stopping on keys equal to the pivot,
    in place of the reference's Lomuto partition around the last key
    (QuickInsertionHeap.c:23-38). Lomuto is quadratic on sorted, reversed
    and all-equal runs, and the range exchange sends every copy of a hot
    key to one partition; the Hoare split halves an equal run, so every
    such input stays O(n log n) (Bentley & McIlroy, "Engineering a Sort
    Function", SP&E 1993).
"""

from __future__ import annotations

import atexit
import ctypes
import hashlib
import heapq
import os
import shutil
import subprocess
import tempfile
from pathlib import Path
from typing import Iterable, Iterator, Sequence

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import sorting

# The reference's THRESHOLD (QuickInsertionHeap.c:7): sub-ranges shorter
# than this go to insertion sort. In the SCALE.md threshold sweep (1M
# random ints) 25 sorts about 15% faster than pure quicksort (threshold 1),
# and 25 to 100 lie within 2% of each other.
DEFAULT_THRESHOLD = 25

# The kernel, in the reference's own language. It lives here as a string,
# not a .c file, because ``session.ship_package`` ships only ``*.py`` to the
# workers. Explicit stack, smaller side first: the stack never holds more
# than log2(n) ranges.
_KERNEL_SOURCE = r"""
#include <stdint.h>
#define SWAP(x, y) do { int64_t t_ = (x); (x) = (y); (y) = t_; } while (0)

static void insertion_sort(int64_t *a, int64_t lo, int64_t hi) {
    for (int64_t i = lo + 1; i <= hi; i++) {
        int64_t key = a[i], j = i - 1;
        while (j >= lo && a[j] > key) { a[j + 1] = a[j]; j--; }
        a[j + 1] = key;
    }
}

/* Hoare split around the median of a[lo], a[mid], a[hi]. Both scans stop
   on keys equal to the pivot, so a run of equal keys splits in half.
   Returns j with a[lo..j] <= pivot <= a[j+1..hi] and lo <= j < hi. */
static int64_t split(int64_t *a, int64_t lo, int64_t hi) {
    int64_t mid = lo + (hi - lo) / 2;
    if (a[mid] < a[lo]) SWAP(a[mid], a[lo]);
    if (a[hi] < a[lo]) SWAP(a[hi], a[lo]);
    if (a[hi] < a[mid]) SWAP(a[hi], a[mid]);
    int64_t pivot = a[mid], i = lo - 1, j = hi + 1;
    for (;;) {
        do i++; while (a[i] < pivot);
        do j--; while (a[j] > pivot);
        if (i >= j) return j;
        SWAP(a[i], a[j]);
    }
}

void phsqis_sort(int64_t *a, int64_t n, int64_t threshold) {
    int64_t stack[128], top = 0, lo = 0, hi = n - 1;
    for (;;) {
        while (hi > lo && hi - lo + 1 >= threshold) {
            int64_t p = split(a, lo, hi);
            if (p - lo < hi - p) { stack[top++] = p + 1; stack[top++] = hi; hi = p; }
            else { stack[top++] = lo; stack[top++] = p; lo = p + 1; }
        }
        if (hi > lo) insertion_sort(a, lo, hi);
        if (top == 0) return;
        hi = stack[--top];
        lo = stack[--top];
    }
}
"""

_lib: ctypes.CDLL | None = None


def build_kernel() -> Path:
    """Compile the kernel into the temp dir, once per source version, and
    return the shared object's path.

    The file is named by the source's hash, so a process that finds it
    there just uses it; otherwise the process builds it into a per-pid name
    and ``os.replace``-s it into place (concurrent builds cannot tear it)
    and removes it at exit. The driver calls this before a plan that runs
    the kernel, so local-mode workers only ``dlopen`` the file."""
    digest = hashlib.sha256(_KERNEL_SOURCE.encode()).hexdigest()[:16]
    path = Path(tempfile.gettempdir()) / f"phsqis_kernel_{digest}.so"
    if path.exists():
        return path
    cc = shutil.which("cc")
    if cc is None:
        raise RuntimeError(
            "the hybrid quick+insertion kernel is C and needs a C compiler: no `cc` on PATH"
        )
    tmp = path.with_name(f"{path.name}.{os.getpid()}.tmp")
    build = subprocess.run(
        [cc, "-O2", "-shared", "-fPIC", "-x", "c", "-", "-o", str(tmp)],
        input=_KERNEL_SOURCE,
        capture_output=True,
        text=True,
    )
    if build.returncode != 0:
        tmp.unlink(missing_ok=True)
        raise RuntimeError(f"building the hybrid kernel with {cc} failed:\n{build.stderr}")
    os.replace(tmp, path)
    atexit.register(path.unlink, missing_ok=True)
    return path


def _kernel() -> ctypes.CDLL:
    global _lib
    if _lib is None:
        lib = ctypes.CDLL(str(build_kernel()))
        lib.phsqis_sort.argtypes = [ctypes.c_void_p, ctypes.c_int64, ctypes.c_int64]
        lib.phsqis_sort.restype = None
        _lib = lib
    return _lib


def sort_int64(values: np.ndarray, threshold: int = DEFAULT_THRESHOLD) -> np.ndarray:
    """Sort a contiguous, writable ``np.int64`` array in place with the C
    hybrid kernel: quicksort that hands sub-ranges shorter than
    ``threshold`` to insertion sort. Returns ``values``."""
    if threshold < 1:
        raise ValueError("threshold must be >= 1")
    if values.dtype != np.int64 or not (values.flags.c_contiguous and values.flags.writeable):
        raise ValueError("sort_int64 needs a contiguous, writable int64 array")
    _kernel().phsqis_sort(values.ctypes.data, len(values), threshold)
    return values


def hybrid_quickinsertion_sort(arr: list, threshold: int = DEFAULT_THRESHOLD) -> list:
    """Sort a list of ints in place with the C kernel (``sort_int64``) and
    return it, for callers that hold Python lists."""
    arr[:] = sort_int64(np.array(arr, dtype=np.int64), threshold).tolist()
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

    The Arrow stage copies the partition's non-null values into one int64
    numpy array, sorts it in place with the C kernel (``sort_int64``) and
    emits the partition's nulls after them (nulls last, as
    ``sorting.ranked`` orders them; the range exchange also puts nulls
    last). Output batches keep the sizes of the input batches Spark handed
    the stage. The driver builds the kernel before the plan runs.

    Output schema: ``(rnk BIGINT, value BIGINT)``, globally ascending by
    value. Ties carry identical rows, so the result is deterministic as a
    multiset even though the kernel (like the reference's quicksort) is not
    stable. The range exchange sends every copy of a key to one partition;
    the kernel's equal-key split keeps such a hot partition O(n log n).
    This is the fidelity demo; production sorts use ``sorting.total_sort``.
    """
    build_kernel()
    n = num_partitions or int(df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32"))
    arranged = df.select(F.col(value_col).cast("long").alias("value")).repartitionByRange(
        max(1, n), F.col("value").asc_nulls_last()
    )

    def sort_partition(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        batches = list(batches)
        column = pa.chunked_array([b.column(0) for b in batches], type=pa.int64())
        # one writable int64 copy of the non-null values (a single chunk's
        # to_numpy() is a read-only view of the Arrow buffer)
        values = np.concatenate(
            [np.empty(0, np.int64), *(c.to_numpy() for c in column.drop_null().chunks)]
        )
        out = pa.concat_arrays(
            [pa.array(sort_int64(values, threshold)), pa.nulls(column.null_count, pa.int64())]
        )
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
    prove the distributed path computes the same result. Nulls go last, as
    in :func:`hybrid_ranked`."""
    build_kernel()
    arranged = df.select(F.col(value_col).cast("long").alias("value")).repartition(
        num_partitions
    )

    def sort_run(rows):
        values = [r[0] for r in rows]
        run = [v for v in values if v is not None]
        yield hybrid_quickinsertion_sort(run, threshold), len(values) - len(run)

    parts = arranged.rdd.mapPartitions(sort_run).collect()
    nulls = sum(n for _, n in parts)
    return [*k_way_merge([run for run, _ in parts]), *[None] * nulls]
