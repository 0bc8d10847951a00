"""Parquet table catalog for the driver-generated TPC-H-ish testdata.

Tables (TESTDATA.md): region nation customer supplier part orders lineitem
events documents embeddings — one parquet per table under
``/root/testdata/sf{0.001,0.01,0.1}``.

Reading goes through ``spark.read.parquet`` so Catalyst gets predicate
pushdown + column pruning for free; never hand-roll a scan.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLES: tuple[str, ...] = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Dimension tables small enough to broadcast at any scale factor (region and
# nation are fixed-cardinality in TPC-H; supplier/part/customer grow with sf
# but stay broadcastable at the sfs used here — joins take an explicit
# broadcast() only for the fixed-cardinality ones).
BROADCAST_SAFE: frozenset[str] = frozenset({"region", "nation"})


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


# spread_scan memo: semantic-hash of the analyzed plan -> partition count.
# df.rdd forces FULL physical planning (and an RDD DAG build) every call, so
# chained operators re-planning the same scan paid it repeatedly (ADVICE
# r07). Same semantic plan -> same scan partitioning within a session, so
# one probe per distinct plan suffices. Bounded: cleared past _SPREAD_MAX.
_SPREAD_CACHE: dict = {}
_SPREAD_MAX = 512


def spread_scan(df: DataFrame) -> DataFrame:
    """Round-robin repartition a NARROW input up to the session's default
    parallelism — ONLY when it currently has fewer partitions.

    Why this exists: the testdata tables are single-file, single-row-group
    parquet, so every scan is ONE task, and a CPU-bound per-row operator
    (shingling, winnowing, signature folds, Arrow frame decode) runs
    single-threaded while 31 cores idle — measured as several text queries
    running FASTER on a 10x corpus written as 32 files (SCALE_CHECK_r07).
    The guard makes this a NO-OP at cluster scale: a 100 TB scan already
    yields thousands of partitions, so no extra shuffle is ever added
    there — this only widens degenerate small-scan inputs, whose shuffle
    volume is by construction tiny. Call it at the entry of operators
    whose map-side work dominates their input size; never on
    shuffle-bound relational queries (their exchange IS the cost, and a
    pre-shuffle would double it).

    Deployment notes (ADVICE r07): the partition-count probe goes through
    ``df.rdd`` / ``sparkContext``, neither of which exists under Spark
    Connect — there the guard degrades to an unconditional repartition to
    ``spark.sql.shuffle.partitions`` (still correct, one extra tiny
    shuffle in the already-degenerate-small case). The probe is memoized
    on the analyzed plan's semantic hash so chained operators sharing an
    input re-plan it once per session, not once per operator."""
    spark = df.sparkSession
    try:
        target = spark.sparkContext.defaultParallelism
    except Exception:  # Spark Connect: no local sparkContext
        return df.repartition(int(spark.conf.get("spark.sql.shuffle.partitions", "200")))
    key = None
    try:
        key = (id(spark), df._jdf.queryExecution().analyzed().semanticHash())
    except Exception:
        pass
    nparts = _SPREAD_CACHE.get(key) if key is not None else None
    if nparts is None:
        try:
            nparts = df.rdd.getNumPartitions()
        except Exception:  # no RDD surface: spread unconditionally
            return df.repartition(target)
        if key is not None:
            if len(_SPREAD_CACHE) >= _SPREAD_MAX:
                _SPREAD_CACHE.clear()
            _SPREAD_CACHE[key] = nparts
    if nparts >= target:
        return df
    return df.repartition(target)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    if name == "events":
        return _load_events(spark, sf_dir)
    return spark.read.parquet(table_path(sf_dir, name))


def normalize_event_ts(df: DataFrame, col: str = "ts") -> DataFrame:
    """Normalize an event-time column to session-tz TIMESTAMP regardless of
    how the parquet writer encoded it. The driver has regenerated
    events.parquet with different physical types across rounds, so the
    loader must accept every encoding it has ever shipped:

    - INT64 TIMESTAMP(NANOS) read with ``nanosAsLong`` → LongType nanos.
      ``ts div 1000`` truncates to micros with exact integer division
      (``/ 1000`` would round-trip through DOUBLE's 53-bit mantissa and
      corrupt ~2^60 nano-epoch values) — matching DuckDB's nanos→micros
      read, so the oracle sees identical instants.
    - ``timestamp[us]`` without timezone → TimestampNTZType. Cast to
      TIMESTAMP: the session timezone is pinned UTC (session.py), so the
      wall-clock micros are reinterpreted as UTC instants deterministically
      — exactly how DuckDB treats a naive timestamp.
    - tz-aware ``timestamp[us, UTC]`` → already TimestampType; no-op.
    """
    from pyspark.sql import functions as F
    from pyspark.sql import types as STypes

    dt = df.schema[col].dataType
    if isinstance(dt, STypes.LongType):
        df = df.withColumn(col, F.timestamp_micros(F.expr(f"{col} div 1000")))
    elif isinstance(dt, STypes.TimestampNTZType):
        df = df.withColumn(col, F.col(col).cast(STypes.TimestampType()))
    return df


def read_raw_events(spark: SparkSession, path: str) -> DataFrame:
    """Read an events parquet file as stored, INT64 TIMESTAMP(NANOS) as
    LongType nanos (``nanosAsLong``; Spark rejects the type otherwise) —
    an encoding :func:`normalize_event_ts` accepts. The setting stays on
    the session, so a streaming replay of the same file reads the same
    schema."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return spark.read.parquet(path)


def _load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Load the events table, normalizing ``ts`` to TIMESTAMP via
    :func:`normalize_event_ts` (the testdata's physical encoding has varied
    across driver rounds: INT64 nanos, then naive micros)."""
    return normalize_event_ts(read_raw_events(spark, table_path(sf_dir, "events")))
