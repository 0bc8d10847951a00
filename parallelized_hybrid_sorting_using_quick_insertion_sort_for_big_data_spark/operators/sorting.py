"""Fidelity core: distributed total sort, partition sort, top-k, ranked output.

The reference's whole capability is a distributed ascending total sort of a
numeric column (scatter → per-rank hybrid quicksort → gather → rank-0 min-heap
k-way merge; /root/reference/QuickInsertionHeap.c:146-242). Spark-first, that
topology maps to:

  MPI_Scatterv block split     → range-partition exchange (repartitionByRange)
  per-rank hybrid quicksort    → per-partition sort (SortExec). Spark
                                 radix-sorts only one key whose 64-bit prefix
                                 decides the order; any other order is a
                                 TimSort (which small-run-switches to
                                 insertion sort — the reference's THRESHOLD
                                 idea) with a full-row compare on every
                                 prefix tie. ``total_sort`` gives a
                                 multi-key integer order over a parquet scan
                                 the radix sort by packing its keys into one
                                 BIGINT (``_sort_order``, ranges from the
                                 files' footers)
  MPI_Gatherv + rank-0 k-way   → UNNECESSARY: with range partitioning,
  min-heap merge                 partition i's keys all precede partition
                                 i+1's, so concatenation in partition order IS
                                 the merge. No single-node bottleneck, which
                                 is what makes this 100 TB-viable where the
                                 reference's rank-0 merge is not.

``orderBy`` gives exactly that plan; ``top_k`` gives the early-stop special
case (TakeOrderedAndProject: per-partition heap + driver merge of k·P rows);
``ranked`` materializes global sort position as a column without ever putting
the whole dataset in one task.
"""

from __future__ import annotations

import math
from typing import Iterable
from urllib.parse import urlparse

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import ByteType, IntegerType, LongType, ShortType
from pyspark.storagelevel import StorageLevel

_PID = "__phsqis_pid"
_LRN = "__phsqis_local_rn"
_OFF = "__phsqis_offset"


def _flags(keys: list, ascending: bool | Iterable[bool]) -> list[bool]:
    flags = list(ascending) if isinstance(ascending, (list, tuple)) else [ascending] * len(keys)
    if len(flags) != len(keys):
        raise ValueError("ascending must be a bool or match len(keys)")
    return flags


def _sort_columns(
    keys: Iterable[str | Column],
    ascending: bool | Iterable[bool] = True,
    nulls_last: bool = True,
) -> list[Column]:
    keys = list(keys)
    cols = []
    for key, asc in zip(keys, _flags(keys, ascending)):
        col = F.col(key) if isinstance(key, str) else key
        if asc:
            cols.append(col.asc_nulls_last() if nulls_last else col.asc_nulls_first())
        else:
            cols.append(col.desc_nulls_last() if nulls_last else col.desc_nulls_first())
    return cols


_PACKABLE = (ByteType, ShortType, IntegerType, LongType)
_PACKED_MAX = (1 << 63) - 1


def _footer_ranges(df: DataFrame, keys: list[str]) -> tuple[int, list[tuple]] | None:
    """``(rows, [(min, max, non-null count) per key])`` of a parquet scan,
    read from its files' footers on the driver: no Spark job. None unless
    ``df`` is a parquet file relation under Filters and Projects that pass
    every key through unchanged, the keys are data (not partition) columns,
    every file is local and every row group carries the keys' statistics
    as integers.
    A Filter only narrows the ranges, so the files' ranges still bound it."""
    plan = df._jdf.queryExecution().analyzed()
    while plan.nodeName() in ("Filter", "Project"):
        if plan.nodeName() == "Project":
            exprs = plan.projectList()
            kinds = {e.name(): e.nodeName() for e in map(exprs.apply, range(exprs.size()))}
            if any(kinds.get(k) != "AttributeReference" for k in keys):
                return None
        plan = plan.child()
    if plan.nodeName() != "LogicalRelation":
        return None
    relation = plan.relation()
    if relation.getClass().getSimpleName() != "HadoopFsRelation" or (
        relation.fileFormat().toString() != "Parquet"
    ):
        return None
    if set(keys) & set(relation.partitionSchema().fieldNames()):
        return None
    rows, ranges = 0, [[None, None, 0] for _ in keys]
    for uri in df.inputFiles():
        url = urlparse(uri)
        if url.scheme != "file":
            return None
        meta = pq.read_metadata(url.path)
        index = {meta.schema.column(i).path: i for i in range(meta.num_columns)}
        if not all(k in index for k in keys):
            return None
        for group in map(meta.row_group, range(meta.num_row_groups)):
            rows += group.num_rows
            for k, r in zip(keys, ranges):
                stats = group.column(index[k]).statistics
                if stats is None or not stats.has_null_count:
                    return None
                seen = group.num_rows - stats.null_count
                if seen:
                    # a TIMESTAMP column read as a long (nanosAsLong) has
                    # timestamp statistics, not its long values
                    if not stats.has_min_max or not isinstance(stats.min, int):
                        return None
                    r[0] = stats.min if r[2] == 0 else min(r[0], stats.min)
                    r[1] = stats.max if r[2] == 0 else max(r[1], stats.max)
                    r[2] += seen
    return rows, [tuple(r) for r in ranges]


def _sort_order(
    df: DataFrame,
    keys: Iterable[str | Column],
    ascending: bool | Iterable[bool] = True,
    nulls_last: bool = True,
) -> list[Column]:
    """The sort order of ``total_sort``.

    Two or more keys that are all Byte/Short/Integer/Long columns of a
    parquet scan (``_footer_ranges``) become ONE non-null BIGINT (a
    normalized key; Graefe, "Implementing Sorting in Database Systems", ACM
    CSUR 2006): the mixed-radix number whose digit i is key i's offset in
    its footer range — ``v - min`` ascending, ``max - v`` descending — with
    one more slot for null when the key has nulls (after the values for
    nulls-last, before them for nulls-first). Its numeric order is the
    keys' lexicographic order, and Spark radix-sorts a single long key,
    where a multi-key order is a TimSort that compares full rows on every
    prefix tie.

    The digit widths' product must fit in 63 bits (checked with exact
    ints), so the key never overflows. A value outside the footer range (or
    a null where the footers count none) — only possible when the files
    change after this call — raises instead of mis-ordering. Anything else
    (one key, a Column key, another type, an input that is not a parquet
    scan, an empty input, too wide a range) keeps ``_sort_columns``.
    """
    keys = list(keys)
    flags = _flags(keys, ascending)
    cols = _sort_columns(keys, flags, nulls_last)
    types = {f.name: f.dataType for f in df.schema.fields}
    if len(keys) < 2 or not all(
        isinstance(k, str) and isinstance(types.get(k), _PACKABLE) for k in keys
    ):
        return cols
    footer = _footer_ranges(df, keys)
    if footer is None:
        return cols
    rows, ranges = footer
    widths = [(hi - lo + 1 if seen else 0) + (seen < rows) for lo, hi, seen in ranges]
    if rows == 0 or math.prod(widths) > _PACKED_MAX:
        return cols

    packed, scale = None, 1
    for key, asc, (lo, hi, seen), width in reversed(list(zip(keys, flags, ranges, widths))):
        v = F.col(key).cast("long")
        has_nulls = seen < rows
        shift = int(has_nulls and not nulls_last)  # nulls first: null is digit 0
        error = F.raise_error(
            f"sort key {key!r} is outside its parquet footer range [{lo}, {hi}] "
            f"(nulls counted: {has_nulls}); the files changed after the sort was planned"
        )
        if not seen:  # an all-null key: no value is in range
            lo, hi = 0, -1
        digit = (
            F.when(v.between(lo, hi), (v - lo if asc else hi - v) + shift)
            .when(v.isNull() & F.lit(has_nulls), 0 if shift else width - 1)
            .otherwise(error)
        )
        term = digit * scale if scale > 1 else digit
        packed = term if packed is None else packed + term
        scale *= width
    return [packed.asc()]


def total_sort(
    df: DataFrame,
    keys: Iterable[str | Column],
    ascending: bool | Iterable[bool] = True,
    nulls_last: bool = True,
) -> DataFrame:
    """Global total sort = range-partition exchange + per-partition sort.

    Catalyst plans this as ``Exchange rangepartitioning(...) → Sort`` — the
    distributed replacement for the reference's gather + rank-0 k-way merge
    (QuickInsertionHeap.c:211-215). Scales with partition count; no driver
    materialization. On a parquet scan, two or more integer column keys
    whose footer ranges fit in 63 bits are sorted on one packed BIGINT
    (``_sort_order``), which Spark radix-sorts; this call reads those
    ranges from the files' footers on the driver, before it returns, and
    runs no Spark job for them. Rows, columns and order are those of the
    lexicographic sort either way.
    """
    return df.orderBy(*_sort_order(df, keys, ascending, nulls_last))


def partition_sort(
    df: DataFrame,
    keys: Iterable[str | Column],
    ascending: bool | Iterable[bool] = True,
) -> DataFrame:
    """Shuffle-free per-partition sort — the reference's per-rank local sort
    step in isolation (QuickInsertionHeap.c:208, barrier-timed window at
    :205-209). Useful alone for sorted-run producers (e.g. write-sorted
    parquet for downstream merge joins)."""
    return df.sortWithinPartitions(*_sort_columns(keys, ascending))


def top_k(
    df: DataFrame,
    keys: Iterable[str | Column],
    k: int,
    ascending: bool | Iterable[bool] = False,
) -> DataFrame:
    """Top-k = the k-way merge with early stop. Plans to
    TakeOrderedAndProject: every partition keeps a size-k heap, the driver
    merges P·k candidates — O(k) driver memory regardless of data size."""
    return df.orderBy(*_sort_columns(keys, ascending)).limit(k)


# monotonically_increasing_id packs (partition_index << 33) + local ordinal;
# masking keeps the low 33 bits, so a partition holding >= 2^33 rows would
# wrap the ordinal and silently repeat ranks. The count pass checks every
# partition against this bound and fails loudly instead.
_LRN_BOUND = 1 << 33


def _rank_offsets(counts: list[tuple[int, int]]) -> list[tuple[int, int]]:
    """Running (pid, offset) from sorted (pid, count) pairs, validating
    every partition count against the 2^33 local-ordinal mask bound."""
    offsets, running = [], 0
    for pid, cnt in counts:
        if cnt >= _LRN_BOUND:
            raise ValueError(
                f"partition {pid} holds {cnt} rows, at or beyond the 2^33 "
                f"local-ordinal bound of monotonically_increasing_id — ranks "
                f"would alias; raise num_partitions so partitions stay under "
                f"{_LRN_BOUND} rows"
            )
        offsets.append((pid, running))
        running += cnt
    return offsets


def rank_arranged(arranged: DataFrame, rank_col: str = "rnk") -> DataFrame:
    """Global 1-based rank of a frame that is already in total order: its
    partitions range-ordered (partition i wholly precedes partition i+1) and
    each partition iterated in sorted order. The shared count-offset tail of
    ``ranked`` and ``hybrid.hybrid_ranked``:

      1. tag each row with its partition id and partition-local ordinal —
         ``monotonically_increasing_id``'s low 33 bits (the id is
         partition_index << 33 + local ordinal, assigned in iteration order),
      2. persist, and count rows per partition (a P-row aggregate),
      3. broadcast-join the running offsets back: rank = offset + ordinal + 1.

    No window and no re-sort. The tagged frame is persisted between the
    count pass and the output pass because range-boundary sampling is not
    deterministic across jobs, and the ordinal must be assigned over the
    identical partition iteration both times; the persist sits after
    everything that produced ``arranged``, so the sampling and any Python
    stage run once. At cluster scale use StorageLevel.DISK_ONLY or
    checkpoint instead. Partition size bound: 2^33 rows per partition —
    range partitions sized to task memory are orders of magnitude smaller,
    and the count pass ENFORCES the bound (see ``_rank_offsets``). Output:
    ``arranged``'s columns plus ``rank_col``.
    """
    spark = arranged.sparkSession
    tagged = (
        arranged.withColumn(_PID, F.spark_partition_id())
        .withColumn(_LRN, F.monotonically_increasing_id().bitwiseAND(F.lit(_LRN_BOUND - 1)))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )

    counts = sorted(
        (r[_PID], r["cnt"])
        for r in tagged.groupBy(_PID).agg(F.count(F.lit(1)).alias("cnt")).collect()
    )
    offsets = _rank_offsets(counts)
    if not offsets:  # empty input
        return arranged.withColumn(rank_col, F.lit(None).cast("bigint")).limit(0)

    pids, offs = zip(*offsets)
    # from an Arrow table, the offsets are a local relation: no Python RDD
    # to parallelize, and broadcasting it runs no job
    offsets_df = spark.createDataFrame(
        pa.table({_PID: pa.array(pids, pa.int32()), _OFF: pa.array(offs, pa.int64())})
    )
    return (
        tagged.join(F.broadcast(offsets_df), _PID)
        .withColumn(rank_col, (F.col(_OFF) + F.col(_LRN) + 1).cast("bigint"))
        .drop(_PID, _LRN, _OFF)
    )


def ranked(
    df: DataFrame,
    keys: Iterable[str | Column],
    ascending: bool | Iterable[bool] = True,
    rank_col: str = "rnk",
) -> DataFrame:
    """Total sort with a materialized global 1-based rank column — WITHOUT a
    single-partition window.

    A bare ``row_number() OVER (ORDER BY …)`` collapses to one partition —
    fine at 6k rows, fatal at 100 TB. Instead (the classic distributed
    zip-with-index): range-partition + sort within partitions on the full
    key (deterministic because callers pass unique tiebreaker keys), then
    ``rank_arranged`` counts rows per partition and adds the running
    offsets to each row's partition-local ordinal. The per-partition sort
    is the only sort in the whole plan.
    """
    sort_cols = _sort_columns(keys, ascending)
    n = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32"))
    arranged = df.repartitionByRange(max(1, n), *sort_cols).sortWithinPartitions(*sort_cols)
    return rank_arranged(arranged, rank_col)


def ranked_small(
    df: DataFrame,
    keys: Iterable[str | Column],
    ascending: bool | Iterable[bool] = True,
    rank_col: str = "rnk",
) -> DataFrame:
    """Single-partition row_number rank — ONLY for provably small frames
    (post-aggregation results, top-k outputs). Documented trade-off: one
    task, zero extra jobs."""
    w = Window.orderBy(*_sort_columns(keys, ascending))
    return df.withColumn(rank_col, F.row_number().over(w).cast("bigint"))
