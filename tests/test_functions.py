"""SQL function registry tests: registration, parity with the DataFrame
operators, and the hybrid-sort UDF's semantics."""

from __future__ import annotations

import math
import random

import pytest

from parallelized_hybrid_sorting_using_quick_insertion_sort_for_big_data_spark.functions.registry import (
    function_names,
    register_all,
)
from tests.conftest import SF_DIR


@pytest.fixture(scope="module", autouse=True)
def _registered(spark):
    register_all(spark)
    register_all(spark)  # idempotent


def test_tokens_and_count(spark):
    row = spark.sql(
        "SELECT phsqis_tokens('Hello, World 42!') AS t, phsqis_token_count('Hello, World 42!') AS n"
    ).collect()[0]
    assert row["t"] == ["hello", "world", "42"]
    assert row["n"] == 3


def test_cosine_matches_python(spark):
    a = [1.0, 2.0, 3.0]
    b = [-1.0, 0.5, 2.0]
    got = spark.sql(
        "SELECT phsqis_cosine(CAST(array(1.0, 2.0, 3.0) AS ARRAY<FLOAT>),"
        " CAST(array(-1.0, 0.5, 2.0) AS ARRAY<FLOAT>)) AS c"
    ).collect()[0]["c"]
    dot = sum(x * y for x, y in zip(a, b))
    want = dot / (math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(y * y for y in b)))
    assert got == pytest.approx(want, rel=1e-12)


def test_sql_functions_are_plan_inlined(spark):
    """Tier-1 functions are SQL-body UDFs: the optimized plan contains the
    inlined expression, not a Python eval node."""
    df = spark.sql("SELECT phsqis_token_count(text) AS n FROM parquet.`{}`".format(
        f"{SF_DIR}/documents.parquet"
    ))
    plan = df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_hybrid_sort_udf(spark):
    random.seed(42)
    arr = [random.randrange(0, 1_000_000) for _ in range(500)]
    lit = "array(" + ",".join(map(str, arr)) + ")"
    for threshold in (1, 25, 1000):
        got = spark.sql(
            f"SELECT phsqis_hybrid_sort({lit}, {threshold}) AS s"
        ).collect()[0]["s"]
        assert got == sorted(arr)


def test_hybrid_sort_udf_puts_nulls_last(spark):
    """Nulls inside the array sort after the values, as ``array_sort`` puts
    them."""
    row = spark.sql(
        "SELECT phsqis_hybrid_sort(array(3, NULL, 1, NULL, 2), 25) AS h,"
        " array_sort(array(3, NULL, 1, NULL, 2)) AS a"
    ).collect()[0]
    assert row["h"] == row["a"] == [1, 2, 3, None, None]


def test_array_topk(spark):
    got = spark.sql(
        "SELECT phsqis_array_topk(array(5L, 1L, 9L, 7L, 3L), 3) AS t"
    ).collect()[0]["t"]
    assert got == [9, 7, 5]


def test_wavg_udaf_matches_expression(spark):
    """The pandas UDAF equals the pure-expression weighted average."""
    from pyspark.sql import functions as F

    df = (
        spark.range(10_000)
        .select(
            (F.col("id") % 7).alias("g"),
            (F.col("id") % 100).cast("double").alias("v"),
            ((F.col("id") % 13) + 1).cast("double").alias("w"),
        )
    )
    df.createOrReplaceTempView("wavg_in")
    got = {
        r["g"]: r["wa"]
        for r in spark.sql("SELECT g, phsqis_wavg(v, w) AS wa FROM wavg_in GROUP BY g").collect()
    }
    want = {
        r["g"]: r["wa"]
        for r in df.groupBy("g")
        .agg((F.sum(F.col("v") * F.col("w")) / F.sum("w")).alias("wa"))
        .collect()
    }
    assert got.keys() == want.keys()
    for g in got:
        assert got[g] == pytest.approx(want[g], rel=1e-12)


def test_registry_lists_everything(spark):
    for name in function_names():
        assert spark.sql(f"DESCRIBE FUNCTION {name}").count() > 0


def test_chunks_udtf_standalone(spark):
    """UDTF tier: callable as a table function in FROM position."""
    rows = spark.sql(
        "SELECT * FROM phsqis_chunks('alpha beta gamma delta epsilon', 3, 2)"
    ).collect()
    got = [(r["chunk_idx"], r["chunk_text"], r["n_tokens"]) for r in rows]
    assert got == [(0, "alpha beta gamma", 3), (1, "gamma delta epsilon", 3)]
    # short + empty docs yield exactly one chunk
    assert spark.sql("SELECT * FROM phsqis_chunks('one two', 3, 2)").count() == 1
    assert spark.sql("SELECT * FROM phsqis_chunks('', 3, 2)").collect()[0][
        "chunk_text"
    ] == ""


def test_chunks_udtf_lateral_matches_expression_chunker(spark):
    """The UDTF must be row-for-row identical to the production
    expression-based chunker (operators.text.chunk_sliding) when LATERAL
    joined over the documents table."""
    from parallelized_hybrid_sorting_using_quick_insertion_sort_for_big_data_spark.operators import (
        text as TX,
    )
    from parallelized_hybrid_sorting_using_quick_insertion_sort_for_big_data_spark.sources.tables import (
        load_table,
    )

    docs = load_table(spark, SF_DIR, "documents").limit(100)
    docs.createOrReplaceTempView("udtf_docs")
    via_udtf = spark.sql(
        "SELECT d.doc_id, c.chunk_idx, c.chunk_text, c.n_tokens "
        "FROM udtf_docs d, LATERAL phsqis_chunks(d.text, 32, 24) c"
    )
    via_expr = TX.chunk_sliding(docs, chunk_tokens=32, stride=24).select(
        "doc_id", "chunk_idx", "chunk_text", "n_tokens"
    )
    a = sorted(map(tuple, via_udtf.collect()))
    b = sorted(map(tuple, via_expr.collect()))
    assert a == b and len(a) > 100
