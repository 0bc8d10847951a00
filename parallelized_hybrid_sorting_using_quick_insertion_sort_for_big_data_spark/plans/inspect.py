"""Physical-plan inspection & quality gates.

The reference hard-wires its physical strategy in each ``main()`` (SURVEY §3:
scatter → local sort → gather → root merge); this engine delegates strategy
to Catalyst, so the *plan itself* becomes the thing to test. These helpers
turn ``df.explain("formatted")`` into assertions the test suite enforces on
every headline query:

- filters reach the parquet scan (``PushedFilters``) — at 100 TB, the
  difference between reading a partition and reading everything;
- scans prune to the referenced columns (``ReadSchema``) — a payload/text
  column that sneaks into a metadata query costs TBs of IO;
- small dimensions broadcast (``BroadcastHashJoin``) instead of shuffling the
  fact table;
- shuffle (``Exchange``) counts stay at the plan's theoretical minimum;
- hot paths stay inside whole-stage codegen (no row-at-a-time Python).

Plan-string parsing is inherently version-coupled; every matcher below
targets Spark 4.x ``EXPLAIN FORMATTED`` / ``EXPLAIN EXTENDED`` output and is
exercised by tests so a Spark upgrade that changes the format fails loudly.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def formatted_plan(df: DataFrame) -> str:
    """The `EXPLAIN FORMATTED` text (physical plan + node details)."""
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), "formatted"
    )


def simple_plan(df: DataFrame) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), "simple"
    )


def count_exchanges(df: DataFrame) -> int:
    """Number of shuffle exchanges in the physical plan (broadcast exchanges
    excluded — those ship only the small side). Counts the `(n) Exchange`
    node-detail headers of EXPLAIN FORMATTED, one per plan node; `\\b` keeps
    `BroadcastExchange` from matching."""
    return len(re.findall(r"^\(\d+\) Exchange\b", formatted_plan(df), re.M))


def sort_key_counts(df: DataFrame) -> list[int]:
    """The number of sort orders of every `Sort` node, from the node's
    `Arguments` line in EXPLAIN FORMATTED (one `ASC|DESC NULLS FIRST|LAST`
    per order)."""
    args = re.findall(r"^\(\d+\) Sort\b.*\n(?:.*\n)*?Arguments: (.*)$", formatted_plan(df), re.M)
    return [len(re.findall(r" (?:ASC|DESC) NULLS (?:FIRST|LAST)\b", a)) for a in args]


def scan_read_schemas(df: DataFrame) -> list[str]:
    """The ReadSchema spec of every file scan in the plan."""
    return re.findall(r"ReadSchema: (struct<[^>]*>)", formatted_plan(df))


def pushed_filters(df: DataFrame) -> list[str]:
    """PushedFilters spec of every file scan (empty string when none)."""
    return re.findall(r"PushedFilters: \[([^\]]*)\]", formatted_plan(df))


def has_broadcast_join(df: DataFrame) -> bool:
    return "BroadcastHashJoin" in formatted_plan(df)


def has_cartesian(df: DataFrame) -> bool:
    plan = formatted_plan(df)
    return "CartesianProduct" in plan or "BroadcastNestedLoopJoin" in plan


def codegen_stage_count(df: DataFrame) -> int:
    """Distinct whole-stage-codegen spans — EXPLAIN SIMPLE marks fused
    operators with `*(n)`; wider spans = more of the plan stays in generated
    JVM code.

    Under AQE the pre-execution plan is an unrealized AdaptiveSparkPlan with
    no codegen markers, so re-plan a copy of the frame with AQE off (runtime
    conf read at physical-planning time; the no-op filter forces a fresh
    QueryExecution)."""
    from pyspark.sql import functions as F

    conf = df.sparkSession.conf
    prev = conf.get("spark.sql.adaptive.enabled", "true")
    conf.set("spark.sql.adaptive.enabled", "false")
    try:
        replanned = df.where(F.lit(True))
        return len(set(re.findall(r"\*\((\d+)\)", simple_plan(replanned))))
    finally:
        conf.set("spark.sql.adaptive.enabled", prev)


def assert_column_pruned(df: DataFrame, column: str) -> None:
    """Fail if any file scan in the plan reads `column`."""
    for schema in scan_read_schemas(df):
        if re.search(rf"[<,]{re.escape(column)}:", schema):
            raise AssertionError(f"column {column!r} not pruned: scan reads {schema}")


def assert_filter_pushed(df: DataFrame, column: str) -> None:
    """Fail unless some scan pushes a filter on `column` down to parquet."""
    for filters in pushed_filters(df):
        if column in filters:
            return
    raise AssertionError(
        f"no pushed filter on {column!r}; PushedFilters={pushed_filters(df)}"
    )


def assert_max_exchanges(df: DataFrame, n: int) -> None:
    got = count_exchanges(df)
    if got > n:
        raise AssertionError(f"plan has {got} shuffle exchanges, expected <= {n}:\n{simple_plan(df)}")
