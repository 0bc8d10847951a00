"""SQL-facing function surface: `phsqis_*` functions callable from
``spark.sql``.

The reference exposes no extension points at all (SURVEY §2b: no UDF/UDAF
surface; its one tunable is a CLI threshold, quickThreshold.c:187-191). A
query engine needs a function registry, so the engine's operator library is
exported to SQL in two tiers:

1. **SQL UDFs** (``CREATE TEMPORARY FUNCTION … RETURN <expr>``, Spark 4's
   SQL-body functions): pure Catalyst expressions — inlined into the plan at
   analysis time, fully codegen'd, indistinguishable from writing the
   expression inline. Zero Python anywhere. This tier is the default.
2. **Python UDFs** only where imperative logic is genuinely required:
   ``phsqis_hybrid_sort``, a Python wrapper over the reference-faithful C
   hybrid sort kernel for array columns (non-null elements sorted, nulls
   last, as ``array_sort``; demo/parity tier, not the production sort path —
   that is ``orderBy``).
3. **Python UDTF** (table function, Spark 4): ``phsqis_chunks`` — the
   1→N document chunker as a ``LATERAL``-joinable table function. Same
   semantics as :func:`..operators.text.chunk_sliding` (pytest-asserted
   row-for-row); the expression form remains the production path (JVM,
   codegen), the UDTF is the extension-point surface for logic Catalyst
   expressions can't express.

Call :func:`register_all` once per session; everything is session-scoped
(temporary), nothing global.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..operators.hybrid import DEFAULT_THRESHOLD, build_kernel, hybrid_quickinsertion_sort
from ..operators.text import TOKEN_RE

#: name → (signature, return type, SQL body). Tier-1: analysis-time inlined
#: Catalyst expressions.
_SQL_FUNCTIONS: dict[str, tuple[str, str, str]] = {
    # text
    "phsqis_tokens": (
        "(s STRING)",
        "ARRAY<STRING>",
        f"regexp_extract_all(lower(s), '{TOKEN_RE}', 0)",
    ),
    "phsqis_token_count": (
        "(s STRING)",
        "BIGINT",
        f"CAST(size(regexp_extract_all(lower(s), '{TOKEN_RE}', 0)) AS BIGINT)",
    ),
    # vectors
    "phsqis_dot": (
        "(a ARRAY<FLOAT>, b ARRAY<FLOAT>)",
        "DOUBLE",
        "aggregate(zip_with(a, b, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),"
        " CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)",
    ),
    "phsqis_norm": (
        "(a ARRAY<FLOAT>)",
        "DOUBLE",
        "sqrt(aggregate(zip_with(a, a, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),"
        " CAST(0.0 AS DOUBLE), (acc, v) -> acc + v))",
    ),
    "phsqis_cosine": (
        "(a ARRAY<FLOAT>, b ARRAY<FLOAT>)",
        "DOUBLE",
        "phsqis_dot(a, b) / (phsqis_norm(a) * phsqis_norm(b))",
    ),
    # sort-adjacent helpers (array-level mirror of the engine's core)
    "phsqis_array_sort": ("(a ARRAY<BIGINT>)", "ARRAY<BIGINT>", "array_sort(a)"),
    "phsqis_array_topk": (
        "(a ARRAY<BIGINT>, k INT)",
        "ARRAY<BIGINT>",
        "slice(reverse(array_sort(a)), 1, k)",
    ),
}


def register_all(spark: SparkSession) -> None:
    """Idempotently register every engine function in the session."""
    for name, (sig, ret, body) in _SQL_FUNCTIONS.items():
        spark.sql(
            f"CREATE OR REPLACE TEMPORARY FUNCTION {name}{sig} RETURNS {ret} RETURN {body}"
        )

    build_kernel()

    @F.udf(returnType=T.ArrayType(T.LongType()))
    def phsqis_hybrid_sort(arr, threshold):
        if arr is None:
            return None
        values = [x for x in arr if x is not None]
        hybrid_quickinsertion_sort(
            values, threshold if threshold is not None else DEFAULT_THRESHOLD
        )
        return values + [None] * (len(arr) - len(values))

    spark.udf.register("phsqis_hybrid_sort", phsqis_hybrid_sort)

    # UDAF tier: Arrow-batched grouped aggregate (pandas_udf GROUPED_AGG).
    # Works in groupBy().agg and SQL GROUP BY; partial-agg is handled by
    # Spark shipping whole groups — the documented trade-off vs built-in
    # aggregates (prefer F.sum/avg expressions when they can express it).
    @F.pandas_udf("double")
    def phsqis_wavg(v: pd.Series, w: pd.Series) -> float:
        num = float((v * w).sum())
        den = float(w.sum())
        return num / den if den != 0.0 else float("nan")

    spark.udf.register("phsqis_wavg", phsqis_wavg)

    spark.udtf.register("phsqis_chunks", _chunks_udtf())


def _chunks_udtf():
    """Build the ``phsqis_chunks`` UDTF class (lazy so importing this module
    never touches pyspark's udtf machinery unless registering).

    Semantics mirror ``operators.text.chunk_sliding`` exactly: window k
    covers tokens [k*stride, k*stride + chunk_tokens); a doc with n <=
    chunk_tokens tokens (including empty) yields exactly one chunk.
    Executes as an Arrow-batched Python table function — the slow path by
    design; use ``chunk_sliding`` (explode/slice expressions) in pipelines.
    """
    import re

    from pyspark.sql.functions import udtf

    token_pat = re.compile(TOKEN_RE)

    @udtf(returnType="chunk_idx: bigint, chunk_text: string, n_tokens: bigint")
    class PhsqisChunks:
        def eval(self, text: str, chunk_tokens: int = 32, stride: int = 24):
            if chunk_tokens <= 0 or stride <= 0:
                raise ValueError("chunk_tokens and stride must be positive")
            toks = token_pat.findall(text.lower()) if text is not None else []
            n = len(toks)
            k_max = 0 if n <= chunk_tokens else -(-(n - chunk_tokens) // stride)
            for k in range(k_max + 1):
                sl = toks[k * stride : k * stride + chunk_tokens]
                yield k, " ".join(sl), len(sl)

    return PhsqisChunks


def function_names() -> list[str]:
    return [*_SQL_FUNCTIONS, "phsqis_hybrid_sort", "phsqis_wavg", "phsqis_chunks"]
