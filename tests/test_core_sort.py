"""Fidelity-core tests: sortedness, permutation, determinism, oracle parity
(SURVEY.md §5.2)."""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entrymod
from parallelized_hybrid_sorting_using_quick_insertion_sort_for_big_data_spark.operators import (
    sorting,
)
from parallelized_hybrid_sorting_using_quick_insertion_sort_for_big_data_spark.sources import (
    datagen,
    tables,
)
from tests.conftest import SF_DIR, assert_matches_oracle


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    rows = df.limit(5).collect()
    assert len(rows) > 0
    assert {"rnk", "l_orderkey", "l_linenumber", "l_extendedprice"} == set(df.columns)


@pytest.mark.parametrize(
    "name",
    [
        "sort_total_lineitem",
        "sort_topk_lineitem",
        "sort_seeded_ints",
        "sort_multikey_orders",
        "sort_hybrid_quickinsertion",
    ],
)
def test_oracle_parity(spark, name):
    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    assert_matches_oracle(qs[name](spark, SF_DIR), oracles[name], SF_DIR)


def test_ranked_is_dense_and_sorted(spark):
    ints = datagen.seeded_ints(spark, 10_000, num_partitions=8)
    out = sorting.ranked(ints, ["value", "id"]).orderBy("rnk")
    pdf = out.toPandas()
    assert pdf["rnk"].tolist() == list(range(1, 10_001))
    assert pdf["value"].is_monotonic_increasing


def test_permutation_property(spark):
    """Sorted output is a multiset-permutation of the input."""
    ints = datagen.seeded_ints(spark, 5_000)
    out = sorting.total_sort(ints, ["value", "id"])
    a = ints.groupBy("value").count().orderBy("value").collect()
    b = out.groupBy("value").count().orderBy("value").collect()
    assert a == b


def test_determinism_seed42(spark):
    """Mirrors quickThreshold.c:147 — seeded generation is run-stable."""
    a = datagen.seeded_ints(spark, 2_000, seed=42).collect()
    b = datagen.seeded_ints(spark, 2_000, seed=42).collect()
    assert sorted(a) == sorted(b)
    c = datagen.seeded_ints(spark, 2_000, seed=43).collect()
    assert sorted(a) != sorted(c)


@pytest.mark.parametrize("n,parts", [(0, 4), (1, 4), (3, 8), (1001, 8)])
def test_edge_cardinalities(spark, n, parts):
    """N=0, N=1, N<P, N%P≠0 — the cases the reference's sentinel padding and
    odd-tail merge bug make interesting (quickThreshold.c:159-172,
    QuickInsertionHeap.cu:98-114)."""
    ints = datagen.seeded_ints(spark, n, num_partitions=parts) if n else (
        spark.range(0).select(F.col("id"), F.col("id").alias("value"))
    )
    out = sorting.ranked(ints, ["value", "id"]).orderBy("rnk").collect()
    assert len(out) == n
    assert [r["rnk"] for r in out] == list(range(1, n + 1))
    vals = [r["value"] for r in out]
    assert vals == sorted(vals)


@pytest.mark.slow
def test_duplicates_and_adversarial_orders(spark):
    """Ties-heavy / pre-sorted / reverse-sorted / constant inputs — quicksort
    worst cases for the reference's Lomuto pivot (QuickInsertionHeap.c:23-38);
    must be non-issues here."""
    base = spark.range(10_000)
    cases = {
        "dups": base.select(F.col("id"), (F.col("id") % 10).alias("value")),
        "sorted": base.select(F.col("id"), F.col("id").alias("value")),
        "reversed": base.select(F.col("id"), (F.lit(10_000) - F.col("id")).alias("value")),
        "equal": base.select(F.col("id"), F.lit(7).cast("long").alias("value")),
    }
    for label, df in cases.items():
        out = sorting.ranked(df, ["value", "id"]).orderBy("rnk").toPandas()
        assert out["value"].is_monotonic_increasing, label
        assert out["rnk"].tolist() == list(range(1, 10_001)), label


def test_topk_matches_full_sort(spark):
    ints = datagen.seeded_ints(spark, 20_000)
    top = sorting.top_k(ints, ["value", "id"], k=50, ascending=[False, True]).collect()
    full = sorting.total_sort(ints, ["value", "id"], ascending=[False, True]).limit(50).collect()
    assert top == full


def test_rank_offset_mask_bound_guard():
    """A partition count at or beyond 2^33 must raise (masked ordinal would
    alias and ranks silently repeat), below the bound offsets accumulate."""
    from parallelized_hybrid_sorting_using_quick_insertion_sort_for_big_data_spark.operators.sorting import (
        _LRN_BOUND,
        _rank_offsets,
    )

    assert _rank_offsets([(0, 5), (1, 3), (2, 0)]) == [(0, 0), (1, 5), (2, 8)]
    assert _rank_offsets([(0, _LRN_BOUND - 1)]) == [(0, 0)]
    with pytest.raises(ValueError, match="2\\^33"):
        _rank_offsets([(0, 10), (1, _LRN_BOUND)])


# ---------------------------------------------------------------------------
# Packed multi-key integer order (sorting._sort_order, total_sort only)
# ---------------------------------------------------------------------------

_LONG_MIN, _LONG_MAX = -(1 << 63), (1 << 63) - 1
_MIXED = "b tinyint, s smallint, i int, l bigint"
# negatives and nulls in every key; l holds both ends of the long range
_MIXED_ROWS = [
    (-128, -3, 7, _LONG_MIN),
    (-128, -3, 8, _LONG_MIN + 1),
    (-128, None, 7, 0),
    (0, 2, None, 5),
    (0, 2, -9, None),
    (0, 3, -9, 5),
    (None, 2, -9, 5),
    (None, 2, 7, 1),
    (None, None, None, None),
    (127, 32767, 2_000_000_000, _LONG_MIN),
    (5, -32768, -2_000_000_000, 3),
    (5, -32767, -2_000_000_000, -3),
]
# (b, s, i) is unique, so every order on it is total. l spans most of the
# long range, so with it the widths exceed 63 bits and the order falls back
_PACKED_KEYS = ["b", "s", "i"]
_MIXED_KEYS = _PACKED_KEYS + ["l"]
_DIRECTIONS = [True, False, [True, False, True], [False, True, False]]


def _scan(spark, tmp_path, rows, schema, name="t"):
    """``rows`` written as parquet and read back: the packed key's ranges
    come from the files' footers, so only a parquet scan packs."""
    path = str(tmp_path / name)
    spark.createDataFrame(rows, schema).write.parquet(path)
    return spark.read.parquet(path)


def _lexicographic(df, keys, ascending=True, nulls_last=True):
    return df.orderBy(*sorting._sort_columns(keys, ascending, nulls_last)).collect()


@pytest.mark.parametrize("nulls_last", [True, False])
def test_packed_total_sort_matches_lexicographic(spark, tmp_path, nulls_last):
    df = _scan(spark, tmp_path, _MIXED_ROWS, _MIXED)
    for ascending in _DIRECTIONS:
        assert len(sorting._sort_order(df, _PACKED_KEYS, ascending, nulls_last)) == 1
        got = sorting.total_sort(df, _PACKED_KEYS, ascending, nulls_last).collect()
        assert got == _lexicographic(df, _PACKED_KEYS, ascending, nulls_last)
        flags = ascending + [True] if isinstance(ascending, list) else ascending
        assert len(sorting._sort_order(df, _MIXED_KEYS, flags, nulls_last)) == 4


def test_packed_extreme_long_values(spark, tmp_path):
    """Keys at both ends of the long range pack when their own widths are
    small: the digit is an offset, so ``v - min`` never overflows."""
    rows = [(_LONG_MIN, _LONG_MAX), (_LONG_MIN + 1, _LONG_MAX - 1), (_LONG_MIN, _LONG_MAX - 1)]
    df = _scan(spark, tmp_path, rows, "a bigint, b bigint")
    for ascending in _DIRECTIONS[:2] + [[True, False], [False, True]]:
        assert len(sorting._sort_order(df, ["a", "b"], ascending)) == 1
        got = sorting.total_sort(df, ["a", "b"], ascending).collect()
        assert got == _lexicographic(df, ["a", "b"], ascending)


@pytest.mark.parametrize("nulls_last", [True, False])
def test_packed_all_null_key_and_one_row(spark, tmp_path, nulls_last):
    schema = "a int, n bigint, c smallint"
    df = _scan(spark, tmp_path, [(3, None, 1), (1, None, 2), (2, None, 0)], schema)
    for keys in (["n", "a"], ["a", "n", "c"]):
        asc = [False, True, True][: len(keys)]
        assert len(sorting._sort_order(df, keys, asc, nulls_last)) == 1
        got = sorting.total_sort(df, keys, asc, nulls_last).collect()
        assert got == _lexicographic(df, keys, asc, nulls_last)
    one = _scan(spark, tmp_path, [(3, None, 1)], schema, "one")
    assert len(sorting._sort_order(one, ["a", "c"])) == 1
    assert sorting.total_sort(one, ["a", "c"]).collect() == one.collect()


def test_packed_empty_scan_keeps_lexicographic(spark, tmp_path):
    df = _scan(spark, tmp_path, [], _MIXED)
    assert len(sorting._sort_order(df, _PACKED_KEYS)) == 3
    assert sorting.total_sort(df, _PACKED_KEYS).collect() == []


def test_packed_63_bit_boundary(spark, tmp_path):
    """Digit widths whose product is exactly 2^63 - 1 pack; one more value,
    or one null, in the wide key falls back to the lexicographic order."""
    wide = _LONG_MAX // 7  # 7 * wide == 2^63 - 1
    assert 7 * wide == _LONG_MAX
    schema = "a int, b bigint"
    fits = _scan(spark, tmp_path, [(0, 0), (6, wide - 1), (3, 5), (6, 0)], schema, "fits")
    assert len(sorting._sort_order(fits, ["a", "b"])) == 1
    for ascending in _DIRECTIONS[:2] + [[True, False]]:
        got = sorting.total_sort(fits, ["a", "b"], ascending).collect()
        assert got == _lexicographic(fits, ["a", "b"], ascending)
    wider = _scan(spark, tmp_path, [(0, 0), (6, wide)], schema, "wider")
    assert len(sorting._sort_order(wider, ["a", "b"])) == 2
    with_null = _scan(spark, tmp_path, [(0, 0), (6, wide - 1), (1, None)], schema, "null")
    assert len(sorting._sort_order(with_null, ["a", "b"])) == 2
    assert sorting.total_sort(with_null, ["a", "b"]).collect() == _lexicographic(
        with_null, ["a", "b"]
    )


def test_packed_key_fails_loudly_outside_footer_range(spark, tmp_path):
    """The key is built from the footers read when the sort is planned; a
    value (or null) they do not cover must raise, never sort."""
    schema = "a int, b int"
    seen = _scan(spark, tmp_path, [(1, 10), (2, 20)], schema, "seen")
    (key,) = sorting._sort_order(seen, ["a", "b"])
    outside = spark.createDataFrame([(1, 10), (2, 21)], schema)
    with pytest.raises(Exception, match="outside its parquet footer range"):
        outside.orderBy(key).collect()
    null = spark.createDataFrame([(1, 10), (None, 20)], schema)
    with pytest.raises(Exception, match="outside its parquet footer range"):
        null.orderBy(key).collect()
    assert seen.orderBy(key).collect() == _lexicographic(seen, ["a", "b"])


def test_packing_follows_the_scan(spark, tmp_path):
    """Filters and projections that pass the keys through keep the footer
    ranges valid and pack; a recomputed key, a partition-column key, a
    limit or a frame that is not a parquet scan keeps the lexicographic
    order."""
    path = str(tmp_path / "by_p")
    rows = [(i % 5, -i, i % 2) for i in range(40)]
    spark.createDataFrame(rows, "a int, b bigint, p int").write.partitionBy("p").parquet(path)
    df = spark.read.parquet(path)
    keys, asc = ["a", "b"], [False, True]
    for packs in (df, df.filter("b < -7"), df.select("b", "a"), df.withColumn("c", F.col("a") * 2)):
        assert len(sorting._sort_order(packs, keys, asc)) == 1
        assert sorting.total_sort(packs, keys, asc).collect() == _lexicographic(packs, keys, asc)
    shifted = df.withColumn("a", F.col("a") + 100)
    for falls_back, on in (
        (shifted, keys),
        (df, ["p", "a"]),
        (df.limit(10), keys),
        (spark.createDataFrame(rows, "a int, b bigint, p int"), keys),
        (datagen.seeded_ints(spark, 100), ["value", "id"]),
    ):
        assert len(sorting._sort_order(falls_back, on)) == 2
    assert sorting.total_sort(shifted, keys, asc).collect() == _lexicographic(shifted, keys, asc)


def test_timestamp_read_as_long_keeps_lexicographic(spark, tmp_path):
    """An INT64 TIMESTAMP(NANOS) column read as LongType nanos
    (``read_raw_events``) has timestamp footer statistics: it must fall
    back, not pack from them."""
    ns = np.array([5, 1_700_000_000_123_456_789, 5, 1], dtype="int64")
    table = pa.table({"ts": pa.array(ns.astype("datetime64[ns]")), "u": pa.array([3, 1, 2, 4])})
    pq.write_table(table, tmp_path / "ev.parquet")
    df = tables.read_raw_events(spark, str(tmp_path / "ev.parquet"))
    assert len(sorting._sort_order(df, ["ts", "u"])) == 2
    got = sorting.total_sort(df, ["ts", "u"]).collect()
    assert [(r.ts, r.u) for r in got] == sorted(zip(ns.tolist(), [3, 1, 2, 4]))


def test_ineligible_keys_keep_lexicographic_order(spark, tmp_path):
    """One key, a Column key, or a non-integer key keeps one sort order per
    key."""
    df = _scan(spark, tmp_path, [(1, 2.0, "x", 3)], "a int, d double, t string, e int")
    assert len(sorting._sort_order(df, ["a", "e"])) == 1
    assert len(sorting._sort_order(df, ["a"])) == 1
    assert len(sorting._sort_order(df, ["a", "d"])) == 2
    assert len(sorting._sort_order(df, ["a", "t"])) == 2
    assert len(sorting._sort_order(df, ["a", F.col("e")])) == 2
