"""Extension-layer queries: event-time analytics over `events` (SURVEY §2c)
— tumbling/sliding windows, sessionization, JSON props, temporal joins —
plus the Structured Streaming forms (tumbling, sessionization, dedup,
stream–static enrich, stream–stream join, custom stateful), each fully
drained over the static replay and oracle-checked against its batch
equivalent (stream==batch equality additionally pytest-asserted).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..queries import query
from ..sources.tables import load_table
from ..streaming import windows as W

# ---------------------------------------------------------------------------
# 1. Tumbling 1-hour window per event type (batch; oracle via epoch math)
# ---------------------------------------------------------------------------

_TUMBLING_ORACLE = """
SELECT
  make_timestamp(CAST(floor(epoch(ts) / 3600) * 3600 AS BIGINT) * 1000000) AS win_start,
  event_type,
  count(*) AS n_events,
  CAST(sum(CAST(value AS DECIMAL(27,8))) AS DOUBLE) AS total_value
FROM events
GROUP BY 1, 2
"""


@query("events_tumbling_window", sql=_TUMBLING_ORACLE)
def events_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour tumbling event-time windows per event type — the batch form of
    the streaming aggregation (F.window ≡ epoch-floor bucketing for tumbling
    windows, which is what the oracle computes)."""
    return W.tumbling_agg(load_table(spark, sf_dir, "events"), "1 hour")


# ---------------------------------------------------------------------------
# 1b. Sliding 1-hour window every 30 minutes (each event lands in W/S = 2
#     overlapping windows; oracle expands them via generate_series on the
#     epoch-aligned slide grid, all math in integer micros)
# ---------------------------------------------------------------------------

_W_US = 3600 * 1_000_000
_S_US = 1800 * 1_000_000

_SLIDING_ORACLE = f"""
SELECT make_timestamp(k * {_S_US}) AS win_start,
       event_type,
       count(*) AS n_events
FROM events,
     unnest(generate_series((epoch_us(ts) - {_W_US}) // {_S_US} + 1,
                            epoch_us(ts) // {_S_US})) AS t(k)
GROUP BY 1, 2
"""


@query("events_sliding_window", sql=_SLIDING_ORACLE)
def events_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour windows sliding every 30 minutes per event type — Spark
    ``window(ts, w, s)`` assigns each event to the W/S overlapping
    epoch-aligned windows, which is exactly the oracle's slide-grid
    expansion."""
    return W.sliding_agg(load_table(spark, sf_dir, "events"), "1 hour", "30 minutes")


# ---------------------------------------------------------------------------
# 2. Gap-based sessionization via native session_window
# ---------------------------------------------------------------------------

_GAP_US = 30 * 60 * 1_000_000  # 30 minutes in microseconds (integer-exact)

# All epoch math in integer MICROSECONDS (epoch_us) — float epoch seconds
# lose sub-microsecond bits at 2026-era magnitudes and flap the value-hash.
# Boundary semantics verified against Spark: an event exactly `gap` after the
# previous one MERGES into the session, so a new session starts only when the
# gap is strictly greater.
_SESSION_ORACLE = f"""
WITH ordered AS (
  SELECT user_id, ts,
         CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                   OR epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) > {_GAP_US}
              THEN 1 ELSE 0 END AS is_new
  FROM events
),
sessions AS (
  SELECT user_id, ts,
         sum(is_new) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS session_seq
  FROM ordered
)
SELECT user_id,
       epoch_us(min(ts)) AS session_start_us,
       epoch_us(max(ts)) + {_GAP_US} AS session_end_us,
       count(*) AS n_events
FROM sessions
GROUP BY user_id, session_seq
"""


@query("events_sessionize", sql=_SESSION_ORACLE)
def events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """30-minute-gap sessions per user via Spark's native session_window
    (merging window state — the streaming-safe mechanism). The oracle
    derives identical sessions with the classic lag/cumsum construction:
    session_window(start, end) ≡ (min ts, max ts + gap)."""
    return W.sessionize(load_table(spark, sf_dir, "events"), "30 minutes")


@query("events_stream_sessionize", sql=_SESSION_ORACLE)
def events_stream_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME 30-minute-gap sessionization as events_sessionize, executed
    as a real readStream job — the state-store session-merge path (open
    sessions held per user, closed and evicted as the watermark passes).
    Fully drained over the static replay, the stream result must equal the
    batch form, so both share one oracle."""
    return W.stream_sessionize(
        spark, f"{sf_dir}/events.parquet", gap="30 minutes", watermark="2 hours"
    )


# ---------------------------------------------------------------------------
# 3. JSON props extraction + aggregation
# ---------------------------------------------------------------------------

_JSON_ORACLE = """
SELECT
  event_type,
  count(*) AS n,
  CAST(sum(CAST(CAST(props->>'k' AS BIGINT) AS DECIMAL(27,8))) AS DOUBLE) AS sum_k,
  min(CAST(props->>'k' AS BIGINT)) AS min_k,
  max(CAST(props->>'k' AS BIGINT)) AS max_k
FROM events
GROUP BY event_type
"""


@query("events_json_props", sql=_JSON_ORACLE)
def events_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured props: parse the JSON string column with a typed
    schema (from_json — JVM-side Jackson, no Python) and aggregate. The
    multimodal 'typed metadata next to opaque payload' pattern."""
    ev = load_table(spark, sf_dir, "events")
    parsed = ev.withColumn("k", F.from_json("props", "struct<k:bigint>").getField("k"))
    return parsed.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("k").cast("decimal(27,8)")).cast("double").alias("sum_k"),
        F.min("k").alias("min_k"),
        F.max("k").alias("max_k"),
    )


# ---------------------------------------------------------------------------
# 4. Structured Streaming tumbling window (rows-only; batch-equality in tests)
# ---------------------------------------------------------------------------


_PROFILE_ORACLE = """
SELECT user_id,
       count(*) AS n_events,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS total_value_c,
       epoch_us(max(ts)) AS last_seen_us
FROM events
GROUP BY user_id
"""


@query("events_stream_user_profile", sql=_PROFILE_ORACLE)
def events_stream_user_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator (applyInPandasWithState): per-user
    running profile accumulated across 3 real micro-batches
    (maxFilesPerTrigger=1), final state oracle-checked against the batch
    aggregation. Exact int64 accumulation (value scaled to hundredths)."""
    from ..streaming import stateful as S

    return S.run_user_profile_stream(spark, f"{sf_dir}/events.parquet", n_chunks=3)


_SCMS_DEPTH, _SCMS_WIDTH, _SCMS_WINDOW_S = 4, 256, 21600


def _stream_cms_oracle() -> str:
    from ..operators import sketch as _SK

    return _SK.windowed_cms_oracle_sql(
        window_s=_SCMS_WINDOW_S, depth=_SCMS_DEPTH, width=_SCMS_WIDTH,
        table="events", value_col="user_id",
    )


@query("events_stream_cms", sql=_stream_cms_oracle())
def events_stream_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch per 6-hour event-time window, built by a REAL
    Structured Streaming job (readStream -> explode cells -> watermarked
    window aggregation -> parquet sink): per-window state is depth*width
    counters regardless of how many distinct users stream through, the
    bounded-memory frequency structure a continuous pipeline keeps where
    exact per-window counts would churn. The generated DuckDB oracle
    rebuilds every (window, j, cell, n) cell from the same md5 family and
    epoch-floor windows — streaming execution, batch-exact answer."""
    return W.stream_windowed_cms(
        spark, f"{sf_dir}/events.parquet",
        window="6 hours", window_s=_SCMS_WINDOW_S, watermark="2 hours",
        value_col="user_id", depth=_SCMS_DEPTH, width=_SCMS_WIDTH,
    )


@query("events_stream_tumbling", sql=_TUMBLING_ORACLE)
def events_stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME tumbling aggregation as events_tumbling_window but executed
    as a real readStream → watermark → writeStream job, drained
    synchronously. Oracle: the identical epoch-floor SQL the batch form uses
    (stream==batch parity also pytest-pinned)."""
    return W.stream_tumbling_agg(
        spark, f"{sf_dir}/events.parquet", window="1 hour", watermark="2 hours"
    )


# Watermark replay in SQL — calibrated against the engine's measured batch
# schedule (per-batch StreamingQueryProgress at sf0.01):
#  * eviction/emission at batch i uses wm_evict(i) = ms-truncated max ts
#    over chunks <= i-1, minus the delay (Spark tracks event-time stats in
#    milliseconds);
#  * the LATE-ROW FILTER lags one trigger behind: batch i drops with
#    wm_filter(i) = wm_evict(i-1) — Spark's documented "watermark from the
#    previous trigger" behavior, empirically confirmed (batch 1 merged all
#    of chunk 1 into the windows it evicted that same batch; only batch 2
#    dropped);
#  * numRowsDroppedByWatermark counts rows AFTER the map-side partial
#    aggregate — each chunk is a single parquet file read as one partition
#    (coalesce(1) in the runner), so the metric is COUNT(DISTINCT window)
#    of the late rows per batch, not the raw row count;
#  * final emission cutoff = ms-truncated global max ts minus the delay (a
#    no-data micro-batch flushes newly eligible windows when the watermark
#    advances after the last chunk).
# Hour-aligned window boundaries sit far from the sub-ms truncation, so no
# comparison can flap.
_STREAM_LATE_DROP_ORACLE = """
WITH e AS (
  SELECT event_id % 3 AS chunk, ts,
         date_trunc('hour', ts) + INTERVAL 1 HOUR AS wend
  FROM events
),
m AS (SELECT chunk, max(ts) AS mx FROM e GROUP BY chunk),
fwm AS (
  SELECT m.chunk,
         date_trunc('milliseconds',
                    (SELECT max(m2.mx) FROM m m2 WHERE m2.chunk <= m.chunk - 2))
           - INTERVAL 2 HOUR AS w
  FROM m
),
flagged AS (
  SELECT e.chunk, e.wend, (fwm.w IS NOT NULL AND e.wend <= fwm.w) AS dropped
  FROM e JOIN fwm ON e.chunk = fwm.chunk
),
final_wm AS (
  SELECT date_trunc('milliseconds', max(ts)) - INTERVAL 2 HOUR AS fw FROM e
),
win AS (
  SELECT wend, count(*) AS n FROM flagged WHERE NOT dropped GROUP BY wend
),
emitted AS (SELECT * FROM win WHERE wend <= (SELECT fw FROM final_wm))
SELECT CAST((SELECT count(*) FROM emitted) AS BIGINT) AS emitted_windows,
       CAST(coalesce((SELECT sum(n) FROM emitted), 0) AS BIGINT) AS emitted_events,
       CAST(coalesce((SELECT sum(cnt) FROM (
         SELECT chunk, count(DISTINCT wend) AS cnt
         FROM flagged WHERE dropped GROUP BY chunk)), 0) AS BIGINT) AS late_dropped
"""


@query("events_stream_late_drop", sql=_STREAM_LATE_DROP_ORACLE)
def events_stream_late_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Late-data accounting for the watermarked tumbling aggregation
    (VERDICT r06 #9): the events file is replayed as 3 micro-batches whose
    chunks each span the whole month, so from batch 2 on the watermark
    sits near the end of the range and most arrivals are genuinely late.
    Output is one row (emitted_windows, emitted_events, late_dropped);
    ``late_dropped`` is Spark's own numRowsDroppedByWatermark counter read
    from the query progress, and the oracle REPLAYS the micro-batch
    schedule in SQL — value-checking the engine's internal late-data
    accounting against an independent implementation."""
    return W.stream_late_drop(
        spark, f"{sf_dir}/events.parquet",
        window="1 hour", watermark="2 hours", n_chunks=3,
    )


_STREAM_DEDUP_ORACLE = """
SELECT event_type,
       count(*) AS n_events,
       CAST(sum(CAST(value AS DECIMAL(27,8))) AS DOUBLE) AS total_value
FROM events
GROUP BY event_type
"""


@query("events_stream_dedup", sql=_STREAM_DEDUP_ORACLE)
def events_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup with bounded state: the events file is staged
    TWICE into the stream source (one file per trigger, so the duplicate
    copy arrives in a later micro-batch), dropDuplicatesWithinWatermark on
    event_id removes the replay through the state store, and the deduped
    rows — drained executor-side — aggregate back to exactly the
    single-copy batch totals (the oracle)."""
    deduped = W.stream_dedup(
        spark, f"{sf_dir}/events.parquet", key_cols=["event_id"], copies=2
    )
    return deduped.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast("decimal(27,8)")).cast("double").alias("total_value"),
    )


_STREAM_ENRICH_ORACLE = """
SELECT
  make_timestamp(CAST(floor(epoch(e.ts) / 3600) * 3600 AS BIGINT) * 1000000) AS win_start,
  c.c_mktsegment AS segment,
  count(*) AS n_events,
  CAST(sum(CAST(e.value AS DECIMAL(27,8))) AS DOUBLE) AS total_value
FROM events e JOIN customer c ON e.user_id = c.c_custkey
GROUP BY 1, 2
"""


@query("events_stream_enrich", sql=_STREAM_ENRICH_ORACLE)
def events_stream_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream–static enrichment: streaming events inner-joined per
    micro-batch against the static customer dimension (user_id →
    mktsegment, broadcast: the join is stateless and map-side), then a
    watermarked tumbling rollup per (hour, segment). Oracle: the identical
    batch join + epoch-floor aggregation — with a static replay fully
    drained, stream output must equal the batch join exactly."""
    dim = (
        load_table(spark, sf_dir, "customer")
        .select(F.col("c_custkey").alias("user_id"), F.col("c_mktsegment").alias("segment"))
    )
    return W.stream_static_enrich(
        spark, f"{sf_dir}/events.parquet", dim, window="1 hour", watermark="2 hours"
    )


_SSJOIN_US = 10 * 60 * 1_000_000

_SSJOIN_ORACLE = f"""
SELECT p.event_id AS purchase_id,
       c.event_id AS click_id,
       p.user_id,
       epoch_us(p.ts) - epoch_us(c.ts) AS delta_us
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
JOIN (SELECT * FROM events WHERE event_type = 'click') c
  ON p.user_id = c.user_id
 AND epoch_us(p.ts) - epoch_us(c.ts) BETWEEN 0 AND {_SSJOIN_US}
"""


@query("events_stream_stream_join", sql=_SSJOIN_ORACLE)
def events_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream–stream inner join (state on BOTH sides): purchases joined to
    same-user clicks within the 10 minutes before them, both sides
    watermarked — the watermarks + time bound are what let Spark evict
    buffered rows, keeping state finite on an unbounded stream. Fully
    drained over the static replay, the append-mode output must equal the
    batch range join (the oracle)."""
    return W.stream_stream_join(
        spark, f"{sf_dir}/events.parquet",
        left_type="purchase", right_type="click",
        tolerance="10 minutes", watermark="2 hours",
    )


# ---------------------------------------------------------------------------
# 5. Temporal joins: as-of (last click before each purchase) + bounded range
#    (error/click pairs within 10 minutes)
# ---------------------------------------------------------------------------

_ASOF_ORACLE = """
SELECT p.event_id,
       p.user_id,
       epoch_us(p.ts) AS ts_us,
       c.event_id AS prev_event_id,
       epoch_us(c.ts) AS prev_ts_us
FROM (SELECT * FROM events WHERE event_type = 'purchase') p
ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
  ON p.user_id = c.user_id AND p.ts >= c.ts
"""


@query("events_asof_join", sql=_ASOF_ORACLE)
def events_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each purchase picks the user's most recent click at or
    before it (null if none). Spark has no ASOF built-in; the operator is
    the union + carry-forward-window composition (one shuffle on user_id) —
    oracle-checked against DuckDB's native ASOF JOIN."""
    from ..operators import temporal as T

    ev = load_table(spark, sf_dir, "events")
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "user_id", "event_id", "ts"
    )
    clicks = ev.where(F.col("event_type") == "click").select(
        "user_id", F.col("event_id").alias("c_event_id"), "ts"
    )
    out = T.asof_join(
        purchases, clicks, by=["user_id"], left_ts="ts", right_ts="ts",
        value_cols=["c_event_id", "ts"], prefix="prev_",
    )
    return out.select(
        "event_id",
        "user_id",
        F.unix_micros(F.col("ts")).alias("ts_us"),
        F.col("prev_c_event_id").alias("prev_event_id"),
        F.unix_micros(F.col("prev_ts")).alias("prev_ts_us"),
    )


_RANGE_US = 10 * 60 * 1_000_000

_RANGE_ORACLE = f"""
SELECT e.event_id AS error_id,
       c.event_id AS click_id,
       e.user_id,
       epoch_us(c.ts) - epoch_us(e.ts) AS delta_us
FROM (SELECT * FROM events WHERE event_type = 'error') e
JOIN (SELECT * FROM events WHERE event_type = 'click') c
  ON e.user_id = c.user_id
 AND abs(epoch_us(c.ts) - epoch_us(e.ts)) <= {_RANGE_US}
"""


@query("events_range_join", sql=_RANGE_ORACLE)
def events_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded range join: every (error, click) pair of the same user within
    ±10 minutes, via tolerance-grid bucket blocking (each true pair joins
    exactly once; candidate volume scales with pair density, not
    |errors|×|clicks| per user)."""
    from ..operators import temporal as T

    ev = load_table(spark, sf_dir, "events")
    errors = ev.where(F.col("event_type") == "error").select(
        "user_id", F.col("event_id").alias("error_id"), F.unix_micros("ts").alias("e_us")
    )
    clicks = ev.where(F.col("event_type") == "click").select(
        "user_id", F.col("event_id").alias("click_id"), F.unix_micros("ts").alias("c_us")
    )
    out = T.range_join(
        errors, clicks, by=["user_id"], left_ts_us="e_us", right_ts_us="c_us",
        tolerance_us=_RANGE_US,
    )
    return out.select("error_id", "click_id", "user_id", "delta_us")


# ---------------------------------------------------------------------------
# 7. Z-order (Morton) codes: the data-layout curve behind multi-dimension
#    file pruning. Pure integer bit-interleaving -> exact oracle.
# ---------------------------------------------------------------------------

from ..sources import bucketing as _B

_ZORDER_ORACLE = f"""
SELECT event_id,
       {_B.zorder_code_sql('user_id', '(epoch_us(ts) // 60000000)')} AS z
FROM events
"""


@query("events_zorder_code", sql=_ZORDER_ORACLE)
def events_zorder_code(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton code over (user_id, event-minute) for every event — the sort
    key `write_zordered` clusters files by, so parquet min/max stats prune
    scans filtered on EITHER dimension. Pure per-row bit arithmetic (zero
    shuffle); every code is value-checked against the generated DuckDB
    mirror."""
    ev = load_table(spark, sf_dir, "events")
    minute = F.expr("unix_micros(ts) div 60000000")
    return ev.select(
        "event_id",
        _B.zorder_code(F.col("user_id"), minute).cast("bigint").alias("z"),
    )


# ---------------------------------------------------------------------------
# Resample + gap-fill: regularize the event stream onto a dense 6-hour grid
# per user with carry-forward interpolation across empty cells.
# ---------------------------------------------------------------------------

_RESAMPLE_US = 21_600_000_000  # 6 hours

_RESAMPLE_ORACLE = f"""
WITH a AS (
  SELECT user_id,
         CAST(floor(epoch(ts) / 21600) AS BIGINT) AS bk,
         count(*) AS n_events,
         CAST(sum(CAST(value AS DECIMAL(27,8))) AS DOUBLE) / count(*) AS avg_v
  FROM events GROUP BY 1, 2
),
s AS (
  SELECT user_id, unnest(generate_series(min(bk), max(bk))) AS bk
  FROM a GROUP BY user_id
),
j AS (
  SELECT s.user_id, s.bk, a.n_events, a.avg_v
  FROM s LEFT JOIN a ON s.user_id = a.user_id AND s.bk = a.bk
)
SELECT user_id,
       make_timestamp(bk * {_RESAMPLE_US}) AS bucket_start,
       CAST(coalesce(n_events, 0) AS BIGINT) AS n_events,
       round(avg_v, 9) AS avg_value,
       round(last_value(avg_v IGNORE NULLS) OVER (
         PARTITION BY user_id ORDER BY bk
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 9) AS filled_value,
       n_events IS NULL AS is_gap
FROM j
"""


@query("events_resample_gapfill", sql=_RESAMPLE_ORACLE)
def events_resample_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user 6-hour resampling with dense-grid gap fill: every cell
    between a user's first and last active bucket appears, empty cells
    carry the last observed mean forward (`is_gap` marks them). Spine rows
    are bounded by time-span/bucket, not event count; every value is
    hash-checked against the DuckDB mirror."""
    from ..operators import temporal as T

    ev = load_table(spark, sf_dir, "events")
    return T.resample_gapfill(
        ev, by=["user_id"], ts_col="ts", value_col="value", bucket_us=_RESAMPLE_US
    )


# ---------------------------------------------------------------------------
# 12. Robust per-group outlier detection: median/MAD modified z-score
#     (Iglewicz-Hoaglin). Spark computes exact interpolated medians
#     (percentile == DuckDB quantile_cont); z rounded to 6 so last-ulp
#     interpolation differences can't flip the hash.
# ---------------------------------------------------------------------------

_OUTLIER_K = 3.5

_OUTLIER_ORACLE = f"""
WITH med AS (
  SELECT event_type, quantile_cont(value, 0.5) AS med FROM events GROUP BY 1
),
dev AS (
  SELECT e.event_id, e.event_type, e.value, m.med,
         abs(e.value - m.med) AS d
  FROM events e JOIN med m USING (event_type)
),
mad AS (SELECT event_type, quantile_cont(d, 0.5) AS mad FROM dev GROUP BY 1),
z AS (
  SELECT d.event_id, d.event_type, d.value,
         round(d.med, 6) AS med, round(m2.mad, 6) AS mad,
         round(0.6745 * (d.value - d.med) / nullif(m2.mad, 0.0), 6) AS robust_z
  FROM dev d JOIN mad m2 USING (event_type)
)
SELECT event_id, event_type, value, med, mad, robust_z
FROM z WHERE abs(robust_z) > {_OUTLIER_K}
"""


@query("events_outlier_robust", sql=_OUTLIER_ORACLE)
def events_outlier_robust(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events whose value sits more than 3.5 robust z-scores (median/MAD)
    from their event-type median — two grouped aggregations, per-group
    stats broadcast back, the event stream itself never shuffles."""
    from ..operators import anomaly as A

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    return A.robust_outliers(ev, ["event_type"], "value", k=_OUTLIER_K).select(
        "event_id", "event_type", "value", "med", "mad", "robust_z"
    )


_OUTLIER_APPROX_ACC = 10000

_OUTLIER_APPROX_ORACLE = """
WITH med AS (
  SELECT event_type, quantile_cont(value, 0.5) AS med, count(*) AS n_rows
  FROM events GROUP BY 1
),
dev AS (
  SELECT e.event_type, m.med, m.n_rows, abs(e.value - m.med) AS d
  FROM events e JOIN med m USING (event_type)
)
SELECT event_type,
       any_value(n_rows) AS n_rows,
       round(any_value(med), 6) AS med,
       round(quantile_cont(d, 0.5), 6) AS mad,
       TRUE AS med_within_rank_bound,
       TRUE AS mad_within_rank_bound
FROM dev
GROUP BY event_type
"""


@query("events_outlier_robust_approx", sql=_OUTLIER_APPROX_ORACLE)
def events_outlier_robust_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The sketch-median tier of ``events_outlier_robust``'s stats: the
    same per-group median/MAD computed with ``percentile_approx``
    (mergeable quantile sketch, rank error ≤ n/accuracy with a HARD
    guarantee, constant memory per group) replacing exact ``percentile``
    — the swap the operator documents for groups beyond ~10^8 values,
    where buffering a group's values stops being an option.

    Oracle design (r08, was rows-only): the sketch's pick of which order
    statistic stands in for an even-count median is engine-specific, so
    the approx values can't be hashed — but the rank GUARANTEE can. Per
    event_type the query emits the engine-invariant exact median and MAD
    (what the oracle recomputes) plus two booleans verifying the approx
    stats' feasible rank interval [n_lt+1, n_le] intersects the
    guaranteed window [n/2 ± εn ± 1] — over the value distribution for
    the median, and over the |value − approx_med| distribution for the
    MAD (the distribution the approx tier actually sketches). The oracle
    asserts both TRUE, so a sketch outside its guarantee breaks the value
    hash. The flagged-SET divergence between tiers stays pytest-pinned
    (test_anomaly.py); this query value-checks the stats the flags derive
    from. Plan: two grouped aggs + two broadcast joins of one-row-per-
    group stats — the event stream itself never shuffles."""
    ev = load_table(spark, sf_dir, "events").select("event_type", "value")
    eps = 1.0 / _OUTLIER_APPROX_ACC
    stats1 = ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5D)").alias("__med"),
        F.percentile_approx("value", 0.5, _OUTLIER_APPROX_ACC).alias("__amed"),
        F.count(F.lit(1)).alias("n_rows"),
    )
    dev = ev.join(F.broadcast(stats1), "event_type").select(
        "event_type",
        "value",
        "__med",
        "__amed",
        "n_rows",
        F.abs(F.col("value") - F.col("__med")).alias("__d_exact"),
        F.abs(F.col("value") - F.col("__amed")).alias("__d_appr"),
    )
    stats2 = dev.groupBy("event_type").agg(
        F.first("__med").alias("__med"),
        F.first("__amed").alias("__amed"),
        F.first("n_rows").alias("n_rows"),
        F.expr("percentile(__d_exact, 0.5D)").alias("__mad"),
        F.percentile_approx("__d_appr", 0.5, _OUTLIER_APPROX_ACC).alias("__amad"),
    )
    checked = dev.join(
        F.broadcast(stats2.select("event_type", "__amad", "__mad")), "event_type"
    ).groupBy("event_type").agg(
        F.sum((F.col("value") < F.col("__amed")).cast("long")).alias("__lt_m"),
        F.sum((F.col("value") <= F.col("__amed")).cast("long")).alias("__le_m"),
        F.sum((F.col("__d_appr") < F.col("__amad")).cast("long")).alias("__lt_d"),
        F.sum((F.col("__d_appr") <= F.col("__amad")).cast("long")).alias("__le_d"),
        F.first("__med").alias("__med"),
        F.first("__mad").alias("__mad"),
        F.first("n_rows").alias("n_rows"),
    )

    def _rank_ok(lt: str, le: str):
        target_lo = 0.5 * F.col("n_rows") - eps * F.col("n_rows") - 1
        target_hi = 0.5 * F.col("n_rows") + eps * F.col("n_rows") + 1
        return (F.col(lt) + 1 <= target_hi) & (F.col(le) >= target_lo)

    return checked.select(
        "event_type",
        "n_rows",
        F.round("__med", 6).alias("med"),
        F.round("__mad", 6).alias("mad"),
        _rank_ok("__lt_m", "__le_m").alias("med_within_rank_bound"),
        _rank_ok("__lt_d", "__le_d").alias("mad_within_rank_bound"),
    )


# ---------------------------------------------------------------------------
# 10. Exponentially-weighted moving average (finite window). The one
#     time-series smoother the suite lacked: recursive in textbook form,
#     re-expressed as a FIXED 12-term lag combination so it is one window
#     pass (no iteration, no UDF) and bit-reproducible across engines —
#     alpha = 1/2 makes every weight a power of two, so each product
#     value·2^-j is an exact IEEE exponent shift, and the identical
#     left-associated sum chain evaluates bit-for-bit the same in Spark
#     and DuckDB (per-row double math is engine-portable; only reduction
#     ORDER varies, and a literal a+b+c chain fixes the order).
# ---------------------------------------------------------------------------

_EWMA_K = 12  # 2^-11 tail weight ≈ 5e-4: finite-window truncation, documented


def _ewma_weights() -> list[float]:
    return [2.0 ** -j for j in range(_EWMA_K)]


def _ewma_oracle() -> str:
    over = "PARTITION BY user_id ORDER BY ts, event_id"
    num = " + ".join(
        f"coalesce(lag(value, {j}) OVER ({over}), 0.0) * {w!r}"
        for j, w in enumerate(_ewma_weights())
    )
    den = " + ".join(
        f"(CASE WHEN lag(value, {j}) OVER ({over}) IS NOT NULL THEN {w!r} ELSE 0.0 END)"
        for j, w in enumerate(_ewma_weights())
    )
    return f"""
SELECT event_id, user_id, epoch_us(ts) AS ts_us, value,
       ({num}) / ({den}) AS ewma
FROM events
"""


@query("events_ewma", sql=_ewma_oracle())
def events_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user trailing EWMA (alpha=1/2, 12-term window) over the event
    stream, ordered by (ts, event_id). One shuffle on user_id, then all 12
    lags come from the SAME window sort — Spark collapses them into a
    single Window exec. The truncated-horizon form is the scale-correct
    one: the recursive definition needs a sequential scan per user, while
    the K-term form is a bounded per-row expression whatever the history
    length; with alpha=1/2 the dropped tail is < 2^-11 of the weight mass.
    Weights are powers of two so every product is exact and the fixed
    left-assoc sum chain matches DuckDB bit-for-bit (same doctrine as the
    suite's decimal aggregates: eliminate reduction-order divergence)."""
    from pyspark.sql import Window as _Win

    ev = load_table(spark, sf_dir, "events")
    w = _Win.partitionBy("user_id").orderBy("ts", "event_id")
    lags = [F.lag("value", j).over(w) if j else F.col("value") for j in range(_EWMA_K)]
    weights = _ewma_weights()
    num = F.coalesce(lags[0], F.lit(0.0)) * weights[0]
    den = F.when(lags[0].isNotNull(), F.lit(weights[0])).otherwise(F.lit(0.0))
    for j in range(1, _EWMA_K):
        num = num + F.coalesce(lags[j], F.lit(0.0)) * weights[j]
        den = den + F.when(lags[j].isNotNull(), F.lit(weights[j])).otherwise(F.lit(0.0))
    return ev.select(
        "event_id",
        "user_id",
        F.unix_micros(F.col("ts")).alias("ts_us"),
        "value",
        (num / den).alias("ewma"),
    )


# ---------------------------------------------------------------------------
# 11. Hypertable-style multi-resolution rollup (continuous-aggregate build):
#     one pass over the events produces the 15-minute, 1-hour, AND 1-day
#     per-type aggregates via GROUPING SETS — the shape a time-series store
#     materializes its downsampled tiers with. One Expand (3× the input
#     rows, map-side) + ONE aggregation shuffle serves all three tiers;
#     three separate groupBys would read the table three times.
# ---------------------------------------------------------------------------

_ROLLUP_US = {"15m": 900_000_000, "1h": 3_600_000_000, "1d": 86_400_000_000}


def _multires_sql(epoch_fn: str, div_op: str) -> str:
    u15, u1h, u1d = _ROLLUP_US["15m"], _ROLLUP_US["1h"], _ROLLUP_US["1d"]
    return f"""
WITH b AS (
  SELECT event_type, value,
         {epoch_fn}(ts) {div_op} {u15} AS b15,
         {epoch_fn}(ts) {div_op} {u1h} AS b1h,
         {epoch_fn}(ts) {div_op} {u1d} AS b1d
  FROM events
)
SELECT event_type,
       CASE WHEN grouping(b15) = 0 THEN '15m'
            WHEN grouping(b1h) = 0 THEN '1h'
            ELSE '1d' END AS resolution,
       coalesce(b15 * {u15}, b1h * {u1h}, b1d * {u1d}) AS win_start_us,
       count(*) AS n_events,
       CAST(sum(CAST(value AS DECIMAL(27,8))) AS DOUBLE) AS total_value
FROM b
GROUP BY GROUPING SETS ((event_type, b15), (event_type, b1h), (event_type, b1d))
"""


@query("events_rollup_multires", sql=_multires_sql("epoch_us", "//"))
def events_rollup_multires(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-resolution time rollup (hypertable continuous-aggregate
    build): 15m/1h/1d per-type tiers from ONE table pass — GROUPING SETS
    over three integer-micros bucket keys, so the plan is a single Expand
    + a single aggregation shuffle of pre-aggregated rows. At 100 TB this
    replaces three full scans with one; the Expand tripling happens
    map-side BEFORE partial aggregation, so only (type, bucket) partials
    shuffle. Bucket math is integer end-to-end (micros // width) and the
    value sum decimal-exact, so the DuckDB mirror (same text modulo
    epoch_us/unix_micros dialect) matches hash-exactly."""
    load_table(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(_multires_sql("unix_micros", "div"))


# ---------------------------------------------------------------------------
# 12. Ordered per-user timeline assembly: each user's event-type sequence in
#     time order, truncated to a head — the sequence-export step a training
#     pipeline runs to turn an event log into per-entity training examples.
#     Physically distinct from the window battery: collect_list (unordered,
#     map-side partial) + per-GROUP array sort, no Window exec at all — at
#     scale this avoids the window's per-partition sort of the whole table;
#     only each user's own events are sorted, after the hash shuffle.
# ---------------------------------------------------------------------------

_TIMELINE_HEAD = 20

_TIMELINE_ORACLE = f"""
WITH r AS (
  SELECT user_id, event_type, event_id,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
         count(*) OVER (PARTITION BY user_id) AS n_events
  FROM events
)
SELECT user_id,
       n_events,
       string_agg(CASE WHEN rn <= {_TIMELINE_HEAD} THEN event_type END, '|' ORDER BY rn) AS head_types,
       max(CASE WHEN rn = n_events THEN event_type END) AS last_type
FROM r
GROUP BY user_id, n_events
"""


@query("events_user_timeline", sql=_TIMELINE_ORACLE)
def events_user_timeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user ordered event-type timeline (first {head} types joined with
    '|', plus total count and final type), deterministically ordered by
    (ts, event_id). The Spark form is collect_list of (ts, event_id, type)
    structs → sort_array → slice/transform — one hash shuffle on user_id
    and NO Window exec (plan-gated): the table is never range-sorted, only
    each group's own rows are, which is the scale-correct shape when
    groups are small and the table is not. The oracle reproduces it with
    ranked string_agg."""
    ev = load_table(spark, sf_dir, "events")
    item = F.struct(
        F.unix_micros(F.col("ts")).alias("ts_us"),
        F.col("event_id").alias("eid"),
        F.col("event_type").alias("et"),
    )
    agg = ev.groupBy("user_id").agg(
        F.sort_array(F.collect_list(item)).alias("__seq"),
        F.count(F.lit(1)).alias("n_events"),
    )
    seq = F.col("__seq")
    return agg.select(
        "user_id",
        "n_events",
        F.concat_ws(
            "|",
            F.transform(F.slice(seq, 1, _TIMELINE_HEAD), lambda x: x["et"]),
        ).alias("head_types"),
        F.element_at(seq, -1)["et"].alias("last_type"),
    )


# ---------------------------------------------------------------------------
# PSI distribution drift: first half-month (reference) vs second half
# (current) of each event type's value distribution. Oracle replicates
# the operator's exact math: integer bucket counts, a 10-bucket literal
# spine, add-one smoothing, single-division ln argument rounded to 9,
# per-bucket terms rounded to 9, decimal cross-bucket sum.
# ---------------------------------------------------------------------------

_PSI_BUCKETS = 10
_PSI_WIDTH = 50.0

_PSI_ORACLE = f"""
WITH base AS (
  SELECT event_type,
         least(CAST(floor(value / {_PSI_WIDTH}) AS INT), {_PSI_BUCKETS - 1}) AS b,
         CASE WHEN date_part('day', ts) <= 15 THEN 1 ELSE 0 END AS is_ref
  FROM events
),
counts AS (
  SELECT event_type, b,
         sum(is_ref) AS n_ref,
         sum(1 - is_ref) AS n_cur
  FROM base GROUP BY 1, 2
),
spine AS (
  SELECT DISTINCT event_type, gs.b
  FROM base, (SELECT unnest(range({_PSI_BUCKETS})) AS b) gs
),
full_grid AS (
  SELECT s.event_type, s.b,
         coalesce(c.n_ref, 0) AS n_ref,
         coalesce(c.n_cur, 0) AS n_cur
  FROM spine s LEFT JOIN counts c ON s.event_type = c.event_type AND s.b = c.b
),
tot AS (
  SELECT event_type, sum(n_ref) AS tr, sum(n_cur) AS tc
  FROM full_grid GROUP BY 1
),
terms AS (
  SELECT g.event_type, g.n_ref, g.n_cur,
         CAST(round(
           (CAST(g.n_ref + 1 AS DOUBLE) / CAST(t.tr + {_PSI_BUCKETS} AS DOUBLE)
            - CAST(g.n_cur + 1 AS DOUBLE) / CAST(t.tc + {_PSI_BUCKETS} AS DOUBLE))
           * round(ln(CAST((g.n_ref + 1) * (t.tc + {_PSI_BUCKETS}) AS DOUBLE)
                      / CAST((g.n_cur + 1) * (t.tr + {_PSI_BUCKETS}) AS DOUBLE)), 9),
           9) AS DECIMAL(28,9)) AS term
  FROM full_grid g JOIN tot t USING (event_type)
)
SELECT event_type,
       CAST(sum(n_ref) AS BIGINT) AS n_ref,
       CAST(sum(n_cur) AS BIGINT) AS n_cur,
       CAST(sum(term) AS DOUBLE) AS psi
FROM terms
GROUP BY event_type
"""


@query("events_psi_drift", sql=_PSI_ORACLE)
def events_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index per event type between the month's first
    half (reference) and second half (current) — the standing
    distribution-drift monitor (r08). See operators/quality.py:psi_drift
    for the engine-portability and scale argument; the oracle replicates
    the identical integer-counts → single-division-ln → rounded-decimal
    reduction, so PSI matches bit-for-bit."""
    from ..operators import quality as Q

    ev = load_table(spark, sf_dir, "events").select("event_type", "value", "ts")
    return Q.psi_drift(
        ev,
        "event_type",
        "value",
        is_reference=F.dayofmonth("ts") <= 15,
        bucket_width=_PSI_WIDTH,
        n_buckets=_PSI_BUCKETS,
    )


# ---------------------------------------------------------------------------
# Streaming SCD2 temporal enrichment: events join the dimension VERSION
# valid at their event time. The dim has two deterministic versions per
# customer (segment, then segment_v2 from mid-month), so the pick is
# visible in the output labels.
# ---------------------------------------------------------------------------

_SCD2E_MID_US = 1705363200000000   # 2024-01-16T00:00:00Z
_SCD2E_HI_US = 4102444800000000    # 2100-01-01

_SCD2E_ORACLE = f"""
WITH dim AS (
  SELECT c_custkey AS user_id, c_mktsegment AS segment,
         0 AS valid_from_us, {_SCD2E_MID_US} AS valid_to_us
  FROM customer
  UNION ALL
  SELECT c_custkey, c_mktsegment || '_v2', {_SCD2E_MID_US}, {_SCD2E_HI_US}
  FROM customer
)
SELECT segment,
       count(*) AS n_events,
       CAST(sum(CAST(value AS DECIMAL(27,8))) AS DOUBLE) AS total_value
FROM events e
JOIN dim d ON e.user_id = d.user_id
          AND epoch_us(e.ts) >= d.valid_from_us
          AND epoch_us(e.ts) < d.valid_to_us
GROUP BY segment
"""


@query("events_stream_scd2_enrich", sql=_SCD2E_ORACLE)
def events_stream_scd2_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming temporal enrichment against a two-version SCD2 customer
    dimension (r08): each event takes the segment label that was valid at
    its event time (plain segment before mid-month, segment_v2 after),
    rolled up per label — executed as a real readStream job and
    oracle-checked against the identical batch range join. See
    streaming/windows.py:stream_scd2_enrich for the scale contract
    (equality-keyed broadcast join, range residual, stateless join)."""
    cust = load_table(spark, sf_dir, "customer")
    v1 = cust.select(
        F.col("c_custkey").alias("user_id"),
        F.col("c_mktsegment").alias("segment"),
        F.lit(0).cast("long").alias("valid_from_us"),
        F.lit(_SCD2E_MID_US).cast("long").alias("valid_to_us"),
    )
    v2 = cust.select(
        F.col("c_custkey").alias("user_id"),
        F.concat(F.col("c_mktsegment"), F.lit("_v2")).alias("segment"),
        F.lit(_SCD2E_MID_US).cast("long").alias("valid_from_us"),
        F.lit(_SCD2E_HI_US).cast("long").alias("valid_to_us"),
    )
    return W.stream_scd2_enrich(
        spark, f"{sf_dir}/events.parquet", v1.unionByName(v2)
    )


# ---------------------------------------------------------------------------
# 16. Time-series resample + gap-fill (r08): per-user DAILY grid spanning
#     that user's observed range, daily means where events exist, and two
#     standard gap-filling policies on the empty days — forward-fill and
#     linear interpolation. The missing capability between raw events and
#     a model-ready regular time series; every step is grid-local, so the
#     topology is one daily pre-aggregation + one per-user window — the
#     pre-agg bounds all later work by DAYS·USERS regardless of event
#     volume (the 100 TB contract: events reduce before anything fans out).
# ---------------------------------------------------------------------------

_DAY_US = 86_400_000_000

_RESAMPLE_ORACLE = f"""
WITH daily AS (
  SELECT user_id, epoch_us(ts) // {_DAY_US} AS day,
         round(CAST(sum(CAST(value AS DECIMAL(27,8))) AS DOUBLE) / count(*), 9)
           AS v_obs
  FROM events GROUP BY 1, 2
),
grid AS (
  SELECT user_id, unnest(generate_series(min(day), max(day))) AS day
  FROM daily GROUP BY user_id
),
g AS (
  SELECT grid.user_id, grid.day, d.v_obs
  FROM grid LEFT JOIN daily d ON d.user_id = grid.user_id AND d.day = grid.day
),
w AS (
  SELECT user_id, day, v_obs,
         last_value(v_obs IGNORE NULLS) OVER
           (PARTITION BY user_id ORDER BY day
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pv,
         last_value(CASE WHEN v_obs IS NOT NULL THEN day END IGNORE NULLS) OVER
           (PARTITION BY user_id ORDER BY day
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pd,
         first_value(v_obs IGNORE NULLS) OVER
           (PARTITION BY user_id ORDER BY day
            ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
         first_value(CASE WHEN v_obs IS NOT NULL THEN day END IGNORE NULLS) OVER
           (PARTITION BY user_id ORDER BY day
            ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nd
  FROM g
)
SELECT user_id, day, day * {_DAY_US} AS day_start_us,
       (v_obs IS NOT NULL) AS is_observed, v_obs,
       round(pv, 9) AS v_ffill,
       round(CASE
         WHEN v_obs IS NOT NULL THEN v_obs
         WHEN pv IS NOT NULL AND nv IS NOT NULL AND nd <> pd
           THEN pv + (nv - pv) * (CAST(day - pd AS DOUBLE) / CAST(nd - pd AS DOUBLE))
         ELSE coalesce(pv, nv)
       END, 9) AS v_interp
FROM w
"""


@query("events_resample_interpolate", sql=_RESAMPLE_ORACLE)
def events_resample_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Resample the event stream to a per-user daily series with gap
    filling: daily decimal-exact means, a dense per-user day grid
    (sequence over that user's observed span — never a global calendar),
    forward-fill via last-ignoring-nulls, and linear interpolation between
    the bracketing observed days (identically-parenthesized double math in
    both engines, rounded to 9). Grid endpoints are observed days by
    construction, so both fills are total. One pre-aggregation shuffle +
    one per-user window — event volume reduces FIRST, the grid fan-out is
    bounded by users × days."""
    from pyspark.sql import Window as _Win

    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.groupBy(
            "user_id",
            (F.unix_micros(F.col("ts")) / F.lit(_DAY_US))
            .cast("bigint")
            .alias("day"),
        )
        .agg(
            F.round(
                F.sum(F.col("value").cast("decimal(27,8)")).cast("double")
                / F.count(F.lit(1)),
                9,
            ).alias("v_obs")
        )
    )
    grid = daily.groupBy("user_id").agg(
        F.min("day").alias("__lo"), F.max("day").alias("__hi")
    ).select(
        "user_id", F.explode(F.sequence(F.col("__lo"), F.col("__hi"))).alias("day")
    )
    g = grid.join(daily, ["user_id", "day"], "left")
    back = (
        _Win.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(_Win.unboundedPreceding, _Win.currentRow)
    )
    fwd = (
        _Win.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(_Win.currentRow, _Win.unboundedFollowing)
    )
    obs_day = F.when(F.col("v_obs").isNotNull(), F.col("day"))
    w = g.select(
        "user_id",
        "day",
        "v_obs",
        F.last("v_obs", ignorenulls=True).over(back).alias("pv"),
        F.last(obs_day, ignorenulls=True).over(back).alias("pd"),
        F.first("v_obs", ignorenulls=True).over(fwd).alias("nv"),
        F.first(obs_day, ignorenulls=True).over(fwd).alias("nd"),
    )
    interp = (
        F.when(F.col("v_obs").isNotNull(), F.col("v_obs"))
        .when(
            F.col("pv").isNotNull()
            & F.col("nv").isNotNull()
            & (F.col("nd") != F.col("pd")),
            F.col("pv")
            + (F.col("nv") - F.col("pv"))
            * (
                (F.col("day") - F.col("pd")).cast("double")
                / (F.col("nd") - F.col("pd")).cast("double")
            ),
        )
        .otherwise(F.coalesce(F.col("pv"), F.col("nv")))
    )
    return w.select(
        "user_id",
        "day",
        (F.col("day") * F.lit(_DAY_US)).alias("day_start_us"),
        F.col("v_obs").isNotNull().alias("is_observed"),
        "v_obs",
        F.round(F.col("pv"), 9).alias("v_ffill"),
        F.round(interp, 9).alias("v_interp"),
    )


# ---------------------------------------------------------------------------
# 17. A/B test analysis (r08): deterministic 50/50 user assignment via the
#     sampling module's md5-bucket coin, then a per-event-type two-sample
#     Welch z-test on `value`. The experimentation readout every product
#     analytics stack runs; one aggregation pass (conditional sums), all
#     moments decimal-exact, z from identically-parenthesized double math.
# ---------------------------------------------------------------------------

from ..operators import sampling as _SA  # noqa: E402

_AB_SALT = "abtest"
_AB_Z = 1.96

_AB_ORACLE = f"""
WITH assigned AS (
  SELECT event_type, value,
         CASE WHEN {_SA.bucket_sql("user_id", _AB_SALT)} < {_SA.DENOM // 2}
              THEN 'A' ELSE 'B' END AS grp
  FROM events
),
m AS (
  SELECT event_type,
         sum(CASE WHEN grp = 'A' THEN 1 ELSE 0 END) AS n_a,
         sum(CASE WHEN grp = 'B' THEN 1 ELSE 0 END) AS n_b,
         CAST(sum(CASE WHEN grp = 'A' THEN CAST(value AS DECIMAL(27,8))
                       ELSE 0 END) AS DOUBLE) AS s_a,
         CAST(sum(CASE WHEN grp = 'B' THEN CAST(value AS DECIMAL(27,8))
                       ELSE 0 END) AS DOUBLE) AS s_b,
         CAST(sum(CASE WHEN grp = 'A' THEN CAST(value * value AS DECIMAL(38,12))
                       ELSE 0 END) AS DOUBLE) AS q_a,
         CAST(sum(CASE WHEN grp = 'B' THEN CAST(value * value AS DECIMAL(38,12))
                       ELSE 0 END) AS DOUBLE) AS q_b
  FROM assigned GROUP BY event_type
)
SELECT event_type, CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
       round(s_a / n_a, 9) AS mean_a,
       round(s_b / n_b, 9) AS mean_b,
       round((q_a - (s_a * s_a) / n_a) / (n_a - 1), 9) AS var_a,
       round((q_b - (s_b * s_b) / n_b) / (n_b - 1), 9) AS var_b,
       round((s_a / n_a - s_b / n_b)
             / sqrt(((q_a - (s_a * s_a) / n_a) / (n_a - 1)) / n_a
                    + ((q_b - (s_b * s_b) / n_b) / (n_b - 1)) / n_b), 9) AS z,
       abs((s_a / n_a - s_b / n_b)
           / sqrt(((q_a - (s_a * s_a) / n_a) / (n_a - 1)) / n_a
                  + ((q_b - (s_b * s_b) / n_b) / (n_b - 1)) / n_b)) > {_AB_Z}
         AS significant
FROM m
"""


@query("events_ab_test", sql=_AB_ORACLE)
def events_ab_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample A/B readout per event type: users deterministically
    coin-flipped A/B by the engine-portable md5 bucket (same coin the
    train/val/test splitter uses, different salt), then Welch's z on the
    event value — counts, decimal-exact means and variances, the z score,
    and the |z| > 1.96 significance verdict, all in ONE aggregation pass
    with conditional sums (no second scan, no join between the arms). The
    oracle replays assignment and every moment from the same constants.
    Under a true null (hash assignment is independent of value) the z's
    hover near 0 — the query exists to pin the MACHINERY exactly."""
    from ..operators import sampling as _samp

    ev = load_table(spark, sf_dir, "events")
    grp = F.when(
        _samp.hash_bucket(F.col("user_id"), _AB_SALT) < _samp.DENOM // 2, "A"
    ).otherwise("B")
    a = F.col("grp") == "A"
    dec = F.col("value").cast("decimal(27,8)")
    dec2 = (F.col("value") * F.col("value")).cast("decimal(38,12)")
    zero = F.lit(0).cast("decimal(27,8)")
    zero2 = F.lit(0).cast("decimal(38,12)")
    m = ev.select("event_type", "value", grp.alias("grp")).groupBy("event_type").agg(
        F.sum(F.when(a, 1).otherwise(0)).cast("bigint").alias("n_a"),
        F.sum(F.when(~a, 1).otherwise(0)).cast("bigint").alias("n_b"),
        F.sum(F.when(a, dec).otherwise(zero)).cast("double").alias("s_a"),
        F.sum(F.when(~a, dec).otherwise(zero)).cast("double").alias("s_b"),
        F.sum(F.when(a, dec2).otherwise(zero2)).cast("double").alias("q_a"),
        F.sum(F.when(~a, dec2).otherwise(zero2)).cast("double").alias("q_b"),
    )
    n_a, n_b = F.col("n_a"), F.col("n_b")
    s_a, s_b, q_a, q_b = F.col("s_a"), F.col("s_b"), F.col("q_a"), F.col("q_b")
    var_a = (q_a - (s_a * s_a) / n_a) / (n_a - F.lit(1))
    var_b = (q_b - (s_b * s_b) / n_b) / (n_b - F.lit(1))
    z = (s_a / n_a - s_b / n_b) / F.sqrt(var_a / n_a + var_b / n_b)
    return m.select(
        "event_type",
        "n_a",
        "n_b",
        F.round(s_a / n_a, 9).alias("mean_a"),
        F.round(s_b / n_b, 9).alias("mean_b"),
        F.round(var_a, 9).alias("var_a"),
        F.round(var_b, 9).alias("var_b"),
        F.round(z, 9).alias("z"),
        (F.abs(z) > F.lit(_AB_Z)).alias("significant"),
    )


# ---------------------------------------------------------------------------
# 18. Poisson bootstrap (r08): the scalable bootstrap — instead of
#     resampling n rows with replacement (a sequential operation), every
#     row gets an independent Poisson(1) weight per replicate, which at
#     large n is distributionally equivalent (Chamandy et al., "Estimating
#     Uncertainty for Massive Data Streams", Google 2012) and embarrassingly
#     parallel. Determinism: the weight is the integer inverse-CDF of an
#     md5-uniform coin — cumulative Poisson(1) thresholds pre-scaled to the
#     sampling module's 1e6 bucket space, so BOTH engines draw the exact
#     same integer weight for every (row, replicate).
# ---------------------------------------------------------------------------

_BOOT_R = 32  # replicates; lo/hi = 2nd / 31st order statistic ~ (p5, p95)
_BOOT_CDF = [367879, 735759, 919699, 981012, 996340, 999406, 999917, 999990, 999999]

_BOOT_BUCKET_SQL = (
    "CAST('0x' || substr(md5(CAST(event_id AS VARCHAR) || '|' || CAST(r AS VARCHAR)"
    " || 'boot'), 1, 8) AS BIGINT) % 1000000"
)
_BOOT_W_SQL = " + ".join(f"(CASE WHEN u >= {t} THEN 1 ELSE 0 END)" for t in _BOOT_CDF)

_BOOT_ORACLE = f"""
WITH rep AS (
  SELECT event_type, value, r, {_BOOT_BUCKET_SQL} AS u
  FROM events, (SELECT unnest(generate_series(0, {_BOOT_R - 1})) AS r)
),
w AS (SELECT event_type, value, r, {_BOOT_W_SQL} AS w FROM rep),
means AS (
  SELECT event_type, r,
         round(CAST(sum(w * CAST(value AS DECIMAL(27,8))) AS DOUBLE)
               / sum(w), 9) AS m
  FROM w GROUP BY event_type, r HAVING sum(w) > 0
),
ci AS (
  SELECT event_type,
         (list(m ORDER BY m))[2] AS boot_lo,
         (list(m ORDER BY m))[{_BOOT_R - 1}] AS boot_hi
  FROM means GROUP BY event_type
),
pt AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
         round(CAST(sum(CAST(value AS DECIMAL(27,8))) AS DOUBLE) / count(*), 9)
           AS point_mean
  FROM events GROUP BY event_type
)
SELECT p.event_type, p.n, p.point_mean, c.boot_lo, c.boot_hi
FROM pt p JOIN ci c ON c.event_type = p.event_type
"""


@query("events_bootstrap_ci", sql=_BOOT_ORACLE)
def events_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson-bootstrap confidence interval for the mean value per event
    type: 32 replicates, each row weighted by the deterministic integer
    Poisson(1) draw of its (event_id, replicate) md5 coin, replicate means
    decimal-exact, CI = the 2nd/31st order statistics (~p5/p95). ONE pass
    over a 32x row fan-out (pipelined explode, map-side partial sums) +
    one tiny per-type reduction — the bootstrap that actually runs at
    100 TB, where resample-with-replacement cannot. Every replicate mean
    and both interval ends replay exactly in the oracle."""
    ev = load_table(spark, sf_dir, "events").select("event_id", "event_type", "value")
    rep = ev.select(
        "event_type",
        "value",
        F.explode(F.sequence(F.lit(0), F.lit(_BOOT_R - 1))).alias("r"),
        F.col("event_id"),
    ).select(
        "event_type",
        "value",
        "r",
        (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.col("event_id").cast("string"),
                            F.lit("|"),
                            F.col("r").cast("string"),
                            F.lit("boot"),
                        )
                    ),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("long")
            % 1_000_000
        ).alias("u"),
    )
    w_expr = None
    for t in _BOOT_CDF:
        term = (F.col("u") >= t).cast("long")
        w_expr = term if w_expr is None else w_expr + term
    means = (
        rep.select("event_type", "value", "r", w_expr.alias("w"))
        .groupBy("event_type", "r")
        .agg(
            F.sum(F.col("w") * F.col("value").cast("decimal(27,8)")).alias("__s"),
            F.sum("w").alias("__w"),
        )
        .where(F.col("__w") > 0)
        .select(
            "event_type",
            F.round(F.col("__s").cast("double") / F.col("__w"), 9).alias("m"),
        )
    )
    ci = means.groupBy("event_type").agg(
        F.element_at(F.array_sort(F.collect_list("m")), 2).alias("boot_lo"),
        F.element_at(F.array_sort(F.collect_list("m")), _BOOT_R - 1).alias("boot_hi"),
    )
    pt = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.round(
            F.sum(F.col("value").cast("decimal(27,8)")).cast("double")
            / F.count(F.lit(1)),
            9,
        ).alias("point_mean"),
    )
    return pt.join(ci, "event_type").select(
        "event_type", "n", "point_mean", "boot_lo", "boot_hi"
    )


# ---------------------------------------------------------------------------
# 19. Mergeable distinct-count sketches (r08): per-day HLL sketches (Apache
#     DataSketches via hll_sketch_agg) UNIONED into the corpus total — the
#     pre-aggregation pattern every lake runs: store one tiny sketch per
#     partition/day, answer "distinct users over any date range" by sketch
#     union, never by re-scanning. Oracle pattern = the promoted approx
#     sketches (rel_approx_distinct): the hashed output carries exact
#     counts + booleans PROVING the estimates honor their error bound and
#     that union-of-daily == single-pass (register-max associativity) —
#     DuckDB asserts the booleans TRUE and recomputes the exacts.
# ---------------------------------------------------------------------------

_HLL_RSD_BAND = 0.05  # lgK=12 default -> rsd ~1.6%; 5% = a 3-sigma band

_HLL_ORACLE = f"""
WITH daily AS (
  SELECT epoch_us(ts) // {_DAY_US} AS day,
         CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact
  FROM events GROUP BY 1
),
total AS (
  SELECT CAST(-1 AS BIGINT) AS day,
         CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact
  FROM events
)
SELECT day, n_exact, TRUE AS est_ok, TRUE AS merge_ok FROM daily
UNION ALL
SELECT day, n_exact, TRUE AS est_ok, TRUE AS merge_ok FROM total
"""


@query("events_hll_daily_merge", sql=_HLL_ORACLE)
def events_hll_daily_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day HLL distinct-user sketches + their union: every day's
    estimate must sit within 5% of that day's exact count (est_ok), and
    the union-of-daily-sketches estimate must EQUAL the single-pass
    estimate over all events, both read from the registers alone
    (``W.hll_registers_estimate``; merge_ok — register-max associativity, the
    property that makes sketch stores sound). The hashed relation carries
    the exact counts and the two proofs; the oracle recomputes the exacts
    and asserts the booleans. At 100 TB the daily relation IS the stored
    rollup: a year of distinct-user queries reads 365 sketches of a few
    KB, not the fact table."""
    ev = load_table(spark, sf_dir, "events").select(
        (F.unix_micros(F.col("ts")) / F.lit(_DAY_US)).cast("bigint").alias("day"),
        "user_id",
    )
    daily = ev.groupBy("day").agg(
        F.hll_sketch_agg("user_id").alias("sk"),
        F.countDistinct("user_id").cast("bigint").alias("n_exact"),
    )
    per_day = daily.select(
        "day",
        "n_exact",
        F.hll_sketch_estimate(F.col("sk")).alias("__est"),
    )
    # both sides through the register-only estimator: a single-task
    # sketch's own estimate is its order-dependent HIP one
    union_est = daily.agg(
        W.hll_registers_estimate(F.hll_union_agg(F.col("sk"))).alias("__u")
    )
    single = ev.agg(
        W.hll_registers_estimate(F.hll_sketch_agg("user_id")).alias("__s"),
        F.countDistinct("user_id").cast("bigint").alias("n_exact"),
    )
    merge_ok_row = union_est.crossJoin(F.broadcast(single)).select(
        (F.col("__u") == F.col("__s")).alias("merge_ok"),
        "n_exact",
        F.col("__s").alias("__est"),
    )
    band = F.lit(float(_HLL_RSD_BAND))
    est_ok = (
        F.abs(F.col("__est") - F.col("n_exact"))
        <= band * F.col("n_exact")
    )
    daily_rows = per_day.crossJoin(
        F.broadcast(merge_ok_row.select("merge_ok"))
    ).select("day", "n_exact", est_ok.alias("est_ok"), "merge_ok")
    total_row = merge_ok_row.select(
        F.lit(-1).cast("bigint").alias("day"),
        "n_exact",
        est_ok.alias("est_ok"),
        "merge_ok",
    )
    return daily_rows.unionByName(total_row)


# ---------------------------------------------------------------------------
# 20. Point-in-time-correct feature assembly (r08): the feature-store
#     pattern — for every event, join the dimension attributes that were
#     valid AT THAT MOMENT (SCD2 as-of, no future leakage) and trailing
#     7-day behavioral aggregates whose window ends at the event itself.
#     Training/serving skew dies exactly here: both sides of this query
#     are pure functions of (entity, timestamp), so the offline features
#     equal what online serving would have seen.
# ---------------------------------------------------------------------------

_FEAT_7D_US = 7 * 86_400_000_000

_FEAT_ORACLE = f"""
WITH dim AS (
  SELECT c_custkey AS user_id, c_mktsegment AS segment,
         0 AS valid_from_us, {_SCD2E_MID_US} AS valid_to_us
  FROM customer
  UNION ALL
  SELECT c_custkey, c_mktsegment || '_v2', {_SCD2E_MID_US}, {_SCD2E_HI_US}
  FROM customer
),
ev AS (
  SELECT event_id, user_id, epoch_us(ts) AS ts_us, value FROM events
),
feat AS (
  SELECT event_id, user_id, ts_us,
         CAST(count(*) OVER w AS BIGINT) AS n_7d,
         round(CAST(sum(CAST(value AS DECIMAL(27,8))) OVER w AS DOUBLE)
               / count(*) OVER w, 9) AS mean_7d
  FROM ev
  WINDOW w AS (PARTITION BY user_id ORDER BY ts_us
               RANGE BETWEEN {_FEAT_7D_US} PRECEDING AND CURRENT ROW)
)
SELECT f.event_id, f.user_id, f.ts_us, d.segment, f.n_7d, f.mean_7d
FROM feat f JOIN dim d
  ON d.user_id = f.user_id
 AND f.ts_us >= d.valid_from_us AND f.ts_us < d.valid_to_us
"""


@query("pipeline_feature_assembly", sql=_FEAT_ORACLE)
def pipeline_feature_assembly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leak-free feature assembly for every event: the SCD2 segment that
    was valid at event time (broadcast equality join + validity residual —
    never tomorrow's attribute) and trailing 7-day count/mean whose RANGE
    frame ends at the event row itself. One user_id shuffle serves both
    window features; the dimension broadcasts. Decimal window sums keep
    the means engine-exact; the oracle replays the whole assembly."""
    from pyspark.sql import Window as _Win

    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.unix_micros(F.col("ts")).alias("ts_us"),
        "value",
    )
    cust = load_table(spark, sf_dir, "customer")
    v1 = cust.select(
        F.col("c_custkey").alias("user_id"),
        F.col("c_mktsegment").alias("segment"),
        F.lit(0).cast("long").alias("valid_from_us"),
        F.lit(_SCD2E_MID_US).cast("long").alias("valid_to_us"),
    )
    v2 = cust.select(
        F.col("c_custkey").alias("user_id"),
        F.concat(F.col("c_mktsegment"), F.lit("_v2")).alias("segment"),
        F.lit(_SCD2E_MID_US).cast("long").alias("valid_from_us"),
        F.lit(_SCD2E_HI_US).cast("long").alias("valid_to_us"),
    )
    dim = v1.unionByName(v2)
    w = (
        _Win.partitionBy("user_id")
        .orderBy("ts_us")
        .rangeBetween(-_FEAT_7D_US, 0)
    )
    feat = ev.select(
        "event_id",
        "user_id",
        "ts_us",
        F.count(F.lit(1)).over(w).cast("bigint").alias("n_7d"),
        F.round(
            F.sum(F.col("value").cast("decimal(27,8)")).over(w).cast("double")
            / F.count(F.lit(1)).over(w),
            9,
        ).alias("mean_7d"),
    )
    return feat.join(
        F.broadcast(dim),
        (feat["user_id"] == dim["user_id"])
        & (feat["ts_us"] >= dim["valid_from_us"])
        & (feat["ts_us"] < dim["valid_to_us"]),
    ).select(
        "event_id", feat["user_id"], "ts_us", "segment", "n_7d", "mean_7d"
    )


# ---------------------------------------------------------------------------
# CDC apply (r08): change-log -> current-state materialization. The events
# table is read as a Debezium-style log on a per-user profile row: every
# non-error event upserts the profile, an 'error' event is the tombstone.
# ---------------------------------------------------------------------------

_CDC_APPLY_ORACLE = """
WITH log AS (
  SELECT event_id, ts, user_id, event_type, value,
         CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op
  FROM events
),
latest AS (
  SELECT *, row_number() OVER (
    PARTITION BY user_id ORDER BY ts DESC, event_id DESC
  ) AS rn
  FROM log
)
SELECT event_id, ts, user_id, event_type, value, op
FROM latest WHERE rn = 1 AND op <> 'D'
"""


@query("pipeline_cdc_apply", sql=_CDC_APPLY_ORACLE)
def pipeline_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC log apply: per user, the highest-(ts, event_id) change wins and
    a winning tombstone ('error' -> op D) deletes the key. ONE max_by
    grouped aggregate (map-side partial combining — a hot key ships one
    candidate per task), not a row_number window; the oracle states the
    same semantics as a window for readability."""
    from ..operators import scd as _SCD

    log = load_table(spark, sf_dir, "events").select(
        "event_id",
        "ts",
        "user_id",
        "event_type",
        "value",
        F.when(F.col("event_type") == "error", F.lit("D"))
        .otherwise(F.lit("U"))
        .alias("op"),
    )
    return _SCD.cdc_apply(log, key_cols=["user_id"], seq_cols=["ts", "event_id"])


# ---------------------------------------------------------------------------
# Last-touch attribution (r08): every purchase is credited to the user's
# most recent STRICTLY-preceding touch event (click/view) — the marketing-
# attribution primitive. One window per user; purchases with no prior touch
# stay unattributed (NULL touch columns).
# ---------------------------------------------------------------------------

_ATTRIBUTION_ORACLE = """
WITH touched AS (
  SELECT event_id, user_id, ts, value, event_type,
         last_value(CASE WHEN event_type IN ('click','view')
                         THEN struct_pack(tid := event_id, ttype := event_type,
                                          tus := epoch_us(ts)) END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS touch
  FROM events
)
SELECT event_id, user_id, value,
       touch.tid AS touch_event_id,
       touch.ttype AS touch_type,
       epoch_us(ts) - touch.tus AS gap_us
FROM touched
WHERE event_type = 'purchase'
"""


@query("events_attribution", sql=_ATTRIBUTION_ORACLE)
def events_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution: per purchase, the latest preceding
    click/view by the same user (ignore-nulls last() over a
    rows-unbounded-to-minus-one frame — hash-partitioned by user, no
    global window). Integer-microsecond gap; unattributed purchases keep
    NULL touch columns."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    touch = F.when(
        F.col("event_type").isin("click", "view"),
        F.struct(
            F.col("event_id").alias("tid"),
            F.col("event_type").alias("ttype"),
            F.unix_micros(F.col("ts")).alias("tus"),
        ),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    touched = ev.withColumn("__touch", F.last(touch, ignorenulls=True).over(w))
    return touched.where(F.col("event_type") == "purchase").select(
        "event_id",
        "user_id",
        "value",
        F.col("__touch.tid").alias("touch_event_id"),
        F.col("__touch.ttype").alias("touch_type"),
        (F.unix_micros(F.col("ts")) - F.col("__touch.tus")).alias("gap_us"),
    )


# ---------------------------------------------------------------------------
# Behavioral-mix entropy (r08): Shannon entropy of each cohort's event-type
# distribution — the diversity statistic behind "is this cohort a bot farm"
# (near-zero entropy) vs organic traffic. Portability: each p·ln p term is
# rounded to 9 decimals and summed as an exact DECIMAL (the text_zipf_slope
# device), so neither engine's float fold order can flap the hash.
# ---------------------------------------------------------------------------

_ENTROPY_ORACLE = """
WITH cells AS (
  SELECT user_id % 10 AS cohort, event_type, count(*) AS n
  FROM events GROUP BY 1, 2
),
tot AS (
  SELECT cohort, event_type, n, sum(n) OVER (PARTITION BY cohort) AS n_tot
  FROM cells
),
terms AS (
  SELECT cohort, n_tot,
         CAST(round((CAST(n AS DOUBLE) / n_tot) * ln(CAST(n AS DOUBLE) / n_tot), 9)
              AS DECIMAL(18,9)) AS term
  FROM tot
)
SELECT cohort,
       CAST(any_value(n_tot) AS BIGINT) AS total_events,
       count(*) AS n_types,
       CAST(-sum(term) AS DOUBLE) AS entropy
FROM terms GROUP BY cohort
"""


@query("events_type_entropy", sql=_ENTROPY_ORACLE)
def events_type_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cohort Shannon entropy of the event-type mix: one partial-agg
    shuffle to (cohort, type) counts, marginals and entropy over the tiny
    post-agg relation. ln goes through round(·, 9) + exact decimal
    summation — engine-portable, order-independent."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    cells = ev.groupBy(
        (F.col("user_id") % 10).alias("cohort"), "event_type"
    ).agg(F.count(F.lit(1)).alias("n"))
    n_tot = F.sum("n").over(Window.partitionBy("cohort"))
    p = F.col("n").cast("double") / F.col("n_tot").cast("double")
    terms = cells.withColumn("n_tot", n_tot).withColumn(
        "term", F.round(p * F.log(p), 9).cast("decimal(18,9)")
    )
    return terms.groupBy("cohort").agg(
        F.any_value(F.col("n_tot")).cast("bigint").alias("total_events"),
        F.count(F.lit(1)).alias("n_types"),
        (-F.sum("term")).cast("double").alias("entropy"),
    )


# ---------------------------------------------------------------------------
# HLL set algebra (r08): audience-overlap estimation from stored sketches —
# |A ∩ B| ≈ est(A) + est(B) − est(A ∪ B) (inclusion-exclusion; unions are
# exact on sketches, intersections are DERIVED and their error scales with
# |A|+|B|, not |A∩B| — the honest error model, asserted as a boolean). The
# promoted-approx pattern: exact counts + guarantee booleans cross the
# engine boundary, raw estimates stay engine-side.
# ---------------------------------------------------------------------------

_HLL_IX_BAND = 0.05

_HLL_IX_ORACLE = """
WITH tu AS (SELECT DISTINCT event_type, user_id FROM events),
sizes AS (SELECT event_type, count(*) AS n FROM tu GROUP BY 1),
ix AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b,
         count(*) AS exact_ix
  FROM tu a JOIN tu b ON a.user_id = b.user_id AND a.event_type < b.event_type
  GROUP BY 1, 2
)
SELECT ix.type_a, ix.type_b,
       sa.n AS n_a, sb.n AS n_b, ix.exact_ix,
       TRUE AS ix_ok
FROM ix
JOIN sizes sa ON sa.event_type = ix.type_a
JOIN sizes sb ON sb.event_type = ix.type_b
"""


@query("events_hll_intersection", sql=_HLL_IX_ORACLE)
def events_hll_intersection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-audience overlap for every event-type pair, estimated from
    per-type HLL sketches via inclusion-exclusion and PROVEN against the
    exact intersection: ix_ok ⇔ |est_ix − exact| ≤ 5%·(|A|+|B|). At scale
    the per-type sketches are the stored artifact — any pair's overlap is
    answered from two KB-sized sketches + one union, never the fact
    table."""
    ev = load_table(spark, sf_dir, "events").select("event_type", "user_id")
    per_type = ev.groupBy("event_type").agg(
        F.hll_sketch_agg("user_id").alias("sk"),
        F.countDistinct("user_id").cast("bigint").alias("n"),
    )
    a = per_type.select(
        F.col("event_type").alias("type_a"), F.col("sk").alias("ska"), F.col("n").alias("n_a")
    )
    b = per_type.select(
        F.col("event_type").alias("type_b"), F.col("sk").alias("skb"), F.col("n").alias("n_b")
    )
    pairs = a.join(F.broadcast(b), F.col("type_a") < F.col("type_b"))
    est_ix = (
        F.hll_sketch_estimate("ska")
        + F.hll_sketch_estimate("skb")
        - F.hll_sketch_estimate(F.hll_union("ska", "skb"))
    )
    tu = ev.distinct()
    exact_ix = (
        tu.alias("x")
        .join(
            tu.alias("y"),
            (F.col("x.user_id") == F.col("y.user_id"))
            & (F.col("x.event_type") < F.col("y.event_type")),
        )
        .groupBy(
            F.col("x.event_type").alias("type_a"),
            F.col("y.event_type").alias("type_b"),
        )
        .agg(F.count(F.lit(1)).alias("exact_ix"))
    )
    band = F.lit(float(_HLL_IX_BAND))
    return (
        pairs.join(exact_ix, ["type_a", "type_b"])
        .select(
            "type_a",
            "type_b",
            "n_a",
            "n_b",
            "exact_ix",
            (
                F.abs(est_ix - F.col("exact_ix").cast("double"))
                <= band * (F.col("n_a") + F.col("n_b")).cast("double")
            ).alias("ix_ok"),
        )
    )


@query("events_stream_attribution", sql=_ATTRIBUTION_ORACLE)
def events_stream_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING last-touch attribution: the order-sensitive stateful
    operator (applyInPandasWithState carrying each user's latest touch
    across micro-batches) over a 3-chunk time-ordered replay, fully
    drained. Shares the batch query's oracle — a drained stream must
    equal the batch window exactly, which is the strongest check a
    stateful operator can get."""
    from ..streaming import stateful as S

    return S.run_attribution_stream(
        spark, f"{sf_dir}/events.parquet", n_chunks=3
    )


_STREAM_HLL_ORACLE = f"""
WITH daily AS (
  SELECT epoch_us(ts) // {_DAY_US} AS day,
         CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact
  FROM events GROUP BY 1
),
total AS (
  SELECT CAST(-1 AS BIGINT) AS day,
         CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact
  FROM events
)
SELECT day, n_exact, TRUE AS est_ok, TRUE AS stream_eq_batch FROM daily
UNION ALL
SELECT day, n_exact, TRUE AS est_ok, TRUE AS stream_eq_batch FROM total
"""


@query("events_stream_hll_daily", sql=_STREAM_HLL_ORACLE)
def events_stream_hll_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING per-day HLL rollup: the sketch accumulates as update-mode
    state across 3 micro-batches; the drained result must estimate within
    5% of each day's exact distinct count AND equal the batch-built sketch
    exactly (register-max associativity — the streamability theorem,
    asserted per day and for the union row day = -1)."""
    return W.stream_hll_daily(
        spark, f"{sf_dir}/events.parquet", day_us=_DAY_US, n_chunks=3
    )


# ---------------------------------------------------------------------------
# Streaming windowed top-k (r08): the live-dashboard query — "top event
# types per hour, updating as data streams in". The aggregation runs as the
# REAL watermarked streaming job (bounded per-window state); the rank over
# finalized windows is a batch window function over the DRAINED sink —
# Structured Streaming forbids ranking inside the stream (unsupported
# operation), so agg-in-stream + rank-on-sink IS the production topology.
# ---------------------------------------------------------------------------

_STOPK_K = 3

_STREAM_TOPK_ORACLE = f"""
WITH agg AS (
  SELECT
    make_timestamp(CAST(floor(epoch(ts) / 3600) * 3600 AS BIGINT) * 1000000)
      AS win_start,
    event_type, count(*) AS n_events
  FROM events GROUP BY 1, 2
),
r AS (
  SELECT win_start, event_type, n_events,
         CAST(row_number() OVER (
           PARTITION BY win_start ORDER BY n_events DESC, event_type
         ) AS BIGINT) AS rnk
  FROM agg
)
SELECT win_start, event_type, n_events, rnk FROM r WHERE rnk <= {_STOPK_K}
"""


@query("events_stream_windowed_topk", sql=_STREAM_TOPK_ORACLE)
def events_stream_windowed_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 event types per 1-hour tumbling window, the aggregation
    executed as a real readStream → watermark → writeStream job (drained
    synchronously) and the per-window rank applied to the finalized sink.
    Ties break on event_type — deterministic, mirrored by the oracle's
    ORDER BY n_events DESC, event_type. At scale the sink rank partitions
    by window over window-sized rows (never events); the stream side keeps
    only watermark-bounded per-window counters."""
    from pyspark.sql import Window

    drained = W.stream_tumbling_agg(
        spark, f"{sf_dir}/events.parquet", window="1 hour", watermark="2 hours"
    )
    w = Window.partitionBy("win_start").orderBy(
        F.col("n_events").desc(), F.col("event_type")
    )
    return (
        drained.select("win_start", "event_type", "n_events")
        .withColumn("rnk", F.row_number().over(w).cast("bigint"))
        .where(F.col("rnk") <= _STOPK_K)
    )


# ---------------------------------------------------------------------------
# Seasonal-baseline anomaly (r08): hourly event counts vs the event type's
# HOUR-OF-DAY baseline — the "is this Tuesday-3am spike abnormal for 3am"
# question that a plain global z-score gets wrong by construction. Counts
# are exact bigints; mu/sigma come from decimal-exact power sums combined
# in one fixed IEEE expression and rounded to 6 (the moment-stats device),
# so both engines compare against identical constants.
# ---------------------------------------------------------------------------

_SEASONAL_K = 2.0

_SEASONAL_ORACLE = f"""
WITH hourly AS (
  SELECT event_type,
         CAST(floor(epoch(ts) / 3600) AS BIGINT) AS hour_bucket,
         CAST(count(*) AS BIGINT) AS n_events
  FROM events GROUP BY 1, 2
),
base AS (
  SELECT event_type, hour_bucket % 24 AS hod,
         round(CAST(sum(CAST(n_events AS DECIMAL(38,0))) AS DOUBLE) / count(*), 6)
           AS mu,
         round(sqrt(greatest(
           CAST(sum(CAST(n_events AS DECIMAL(19,0)) * n_events) AS DOUBLE) / count(*)
           - (CAST(sum(CAST(n_events AS DECIMAL(38,0))) AS DOUBLE) / count(*))
             * (CAST(sum(CAST(n_events AS DECIMAL(38,0))) AS DOUBLE) / count(*)),
           0.0)), 6) AS sigma
  FROM hourly GROUP BY 1, 2
)
SELECT h.event_type, h.hour_bucket, h.n_events, b.mu, b.sigma
FROM hourly h
JOIN base b ON b.event_type = h.event_type AND b.hod = h.hour_bucket % 24
WHERE b.sigma > 0
  AND abs(CAST(h.n_events AS DOUBLE) - b.mu) > {_SEASONAL_K} * b.sigma
"""


@query("events_seasonal_anomaly", sql=_SEASONAL_ORACLE)
def events_seasonal_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour buckets whose event count deviates >2σ from that event type's
    hour-of-day baseline. Two stacked aggregations (facts → hourly counts →
    per-(type, hod) moments) and a broadcast-sized join back onto the
    hourly relation — the events themselves shuffle exactly once. The
    seasonal complement to events_outlier_robust (value outliers) and
    events_psi_drift (distribution drift): this one catches volume
    anomalies that are only anomalous FOR THEIR TIME OF DAY."""
    ev = load_table(spark, sf_dir, "events").select("event_type", "ts")
    hourly = (
        ev.select(
            "event_type",
            F.floor(F.unix_micros(F.col("ts")) / F.lit(3_600_000_000)).alias(
                "hour_bucket"
            ),
        )
        .groupBy("event_type", "hour_bucket")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_events"))
    )
    cnt = F.count(F.lit(1))
    s1 = F.sum(F.col("n_events").cast("decimal(38,0)")).cast("double")
    s2 = F.sum(F.col("n_events").cast("decimal(19,0)") * F.col("n_events")).cast(
        "double"
    )
    mu_raw = s1 / cnt
    base = (
        hourly.groupBy("event_type", (F.col("hour_bucket") % 24).alias("hod"))
        .agg(
            F.round(mu_raw, 6).alias("mu"),
            F.round(
                F.sqrt(F.greatest(s2 / cnt - mu_raw * mu_raw, F.lit(0.0))), 6
            ).alias("sigma"),
        )
        .withColumnRenamed("event_type", "__bt")  # disambiguate the self-join
    )
    joined = hourly.join(
        F.broadcast(base),
        (F.col("__bt") == F.col("event_type"))
        & (F.col("hod") == F.col("hour_bucket") % 24),
    )
    return joined.where(
        (F.col("sigma") > 0)
        & (
            F.abs(F.col("n_events").cast("double") - F.col("mu"))
            > F.lit(_SEASONAL_K) * F.col("sigma")
        )
    ).select("event_type", "hour_bucket", "n_events", "mu", "sigma")


# ---------------------------------------------------------------------------
# CUSUM changepoint detection (r08): has a metric's DAILY LEVEL shifted, and
# since when — the classic sequential drift detector, reformulated for SQL:
# the recursive S_t = max(0, S_{t-1} + dev_t) equals
# cumsum(dev)_t − min(0, running_min(cumsum(dev))_t) — the zero clamp carries
# the implicit S_0 = 0 — which is two window functions over exact DECIMAL
# partial sums: no recursion, no transcendentals, every intermediate
# bit-identical across engines.
# ---------------------------------------------------------------------------

_CUSUM_H = 3.0  # flag when S exceeds 3 daily standard deviations

_CUSUM_ORACLE = """
WITH daily AS (
  SELECT event_type,
         CAST(floor(epoch(ts) / 86400) AS BIGINT) AS day,
         round(CAST(sum(CAST(value AS DECIMAL(27,8))) AS DOUBLE), 6) AS x
  FROM events GROUP BY 1, 2
),
stats AS (
  SELECT event_type,
         round(CAST(sum(CAST(x AS DECIMAL(27,6))) AS DOUBLE) / count(*), 6) AS mu,
         round(sqrt(greatest(
           CAST(sum(CAST(x AS DECIMAL(27,6)) * CAST(x AS DECIMAL(27,6))) AS DOUBLE)
             / count(*)
           - (CAST(sum(CAST(x AS DECIMAL(27,6))) AS DOUBLE) / count(*))
             * (CAST(sum(CAST(x AS DECIMAL(27,6))) AS DOUBLE) / count(*)),
           0.0)), 6) AS sigma
  FROM daily GROUP BY 1
),
dev AS (
  SELECT d.event_type, d.day, d.x, s.mu, s.sigma,
         CAST(round(d.x - s.mu, 6) AS DECIMAL(27,6)) AS dv
  FROM daily d JOIN stats s ON s.event_type = d.event_type
),
cum AS (
  SELECT event_type, day, x, mu, sigma,
         sum(dv) OVER (PARTITION BY event_type ORDER BY day
                       ROWS UNBOUNDED PRECEDING) AS cs
  FROM dev
),
run AS (
  SELECT event_type, day, x, mu, sigma, cs,
         least(CAST(0 AS DECIMAL(27,6)),
               min(cs) OVER (PARTITION BY event_type ORDER BY day
                             ROWS UNBOUNDED PRECEDING)) AS rm
  FROM cum
)
SELECT event_type, day, x, CAST(cs - rm AS DOUBLE) AS s_stat,
       CAST(cs - rm AS DOUBLE) > {H} * sigma AS changepoint
FROM run
""".replace("{H}", str(_CUSUM_H))


@query("events_cusum_changepoint", sql=_CUSUM_ORACLE)
def events_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-sided CUSUM over each event type's daily value totals: s_stat =
    cumsum(dev) − min(0, running_min(cumsum(dev))) (the standard
    non-recursive identity for max(0, S+dev); the zero clamp carries the
    implicit S_0 = 0 start), flagged when it exceeds 3 daily σ. All
    running state is exact DECIMAL — window sums are order-deterministic
    under the (event_type, day) sort, so both engines carry bit-identical
    intermediates and the flag can't flap. One fact shuffle (the daily
    agg); the windows run over the day-sized relation."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").select("event_type", "ts", "value")
    daily = (
        ev.select(
            "event_type",
            F.floor(F.unix_micros(F.col("ts")) / F.lit(86_400_000_000)).alias("day"),
            F.col("value"),
        )
        .groupBy("event_type", "day")
        .agg(
            F.round(
                F.sum(F.col("value").cast("decimal(27,8)")).cast("double"), 6
            ).alias("x")
        )
    )
    cnt = F.count(F.lit(1))
    s1 = F.sum(F.col("x").cast("decimal(27,6)")).cast("double")
    s2 = F.sum(
        F.col("x").cast("decimal(27,6)") * F.col("x").cast("decimal(27,6)")
    ).cast("double")
    mu_raw = s1 / cnt
    stats = (
        daily.groupBy("event_type")
        .agg(
            F.round(mu_raw, 6).alias("mu"),
            F.round(
                F.sqrt(F.greatest(s2 / cnt - mu_raw * mu_raw, F.lit(0.0))), 6
            ).alias("sigma"),
        )
        .withColumnRenamed("event_type", "__st")
    )
    dev = daily.join(
        F.broadcast(stats), F.col("__st") == F.col("event_type")
    ).select(
        "event_type",
        "day",
        "x",
        "mu",
        "sigma",
        F.round(F.col("x") - F.col("mu"), 6).cast("decimal(27,6)").alias("dv"),
    )
    w = Window.partitionBy("event_type").orderBy("day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = dev.withColumn("cs", F.sum("dv").over(w))
    # The recursion starts at S_0 = 0, so the running min must be clamped at
    # zero: S_t = cs_t − min(0, min_{k≤t} cs_k). Without the clamp, a series
    # whose cumulative deviation starts positive (running min > 0) understates
    # s_stat and misses early changepoints (ADVICE r08, verified numerically).
    run = cum.withColumn(
        "rm", F.least(F.lit(0).cast("decimal(27,6)"), F.min("cs").over(w))
    )
    s_stat = (F.col("cs") - F.col("rm")).cast("double")
    return run.select(
        "event_type",
        "day",
        "x",
        s_stat.alias("s_stat"),
        (s_stat > F.lit(_CUSUM_H) * F.col("sigma")).alias("changepoint"),
    )


# ---------------------------------------------------------------------------
# Kaplan–Meier retention curve (r08): per-user observed lifetime in days
# (first event → last event), RIGHT-CENSORED for users still active near
# the corpus end (last event within 3 days of the global max — they
# haven't churned, we just stopped observing). The product-limit estimator
# Π(1 − d/n) rides the engine's ln-sum device: one rounded transcendental
# per day, summed exactly in DECIMAL(18,9) by an ordered window — the
# output is log-survival (exp is the caller's one-liner; keeping the hash
# surface transcendental-free beyond the per-term round).
# ---------------------------------------------------------------------------

_KM_CENSOR_DAYS = 3

_KM_ORACLE = f"""
WITH life AS (
  SELECT user_id,
         CAST(floor((epoch(max(ts)) - epoch(min(ts))) / 86400) AS BIGINT) AS dur,
         (SELECT max(ts) FROM events) AS gmax,
         max(ts) AS last_ts
  FROM events GROUP BY user_id
),
obs AS (
  SELECT user_id, dur,
         CASE WHEN epoch(gmax) - epoch(last_ts) < {_KM_CENSOR_DAYS} * 86400
              THEN 1 ELSE 0 END AS censored
  FROM life
),
n_total AS (SELECT count(*) AS n FROM obs),
per_day AS (
  SELECT dur AS day,
         CAST(sum(1 - censored) AS BIGINT) AS d_events,
         CAST(sum(censored) AS BIGINT) AS n_censored
  FROM obs GROUP BY dur
),
risk AS (
  SELECT day, d_events, n_censored,
         CAST((SELECT n FROM n_total)
              - COALESCE(sum(d_events + n_censored) OVER (
                  ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                ), 0) AS BIGINT) AS n_risk
  FROM per_day
),
terms AS (
  SELECT day, d_events, n_censored, n_risk,
         CAST(round(ln(nullif(1.0 - CAST(d_events AS DOUBLE) / n_risk, 0.0)), 9)
              AS DECIMAL(18,9)) AS term
  FROM risk WHERE n_risk > 0
)
SELECT day, n_risk, d_events, n_censored,
       CASE WHEN d_events < n_risk
            THEN CAST(sum(term) OVER (ORDER BY day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
            ELSE NULL END AS log_survival
FROM terms
"""


@query("events_survival_retention", sql=_KM_ORACLE)
def events_survival_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan–Meier product-limit retention over user lifetimes with
    right-censoring (active within 3 days of corpus end = still alive).
    n_risk comes from one ordered prefix-sum window (never a per-day
    re-scan); each day contributes ONE rounded ln term summed exactly in
    decimal — the zipf/entropy portability device — so both engines carry
    identical curve values. One user-keyed fact aggregation, then
    day-sized windows: the retention curve costs a groupBy at any scale."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").select("user_id", "ts")
    life = ev.groupBy("user_id").agg(
        F.min(F.unix_micros("ts")).alias("__f"),
        F.max(F.unix_micros("ts")).alias("__l"),
    )
    gmax = life.agg(F.max("__l").alias("__g"))
    obs = life.crossJoin(F.broadcast(gmax)).select(
        F.floor((F.col("__l") - F.col("__f")) / F.lit(86_400_000_000)).alias("dur"),
        F.when(
            F.col("__g") - F.col("__l") < F.lit(_KM_CENSOR_DAYS * 86_400_000_000),
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .alias("censored"),
    )
    n_total = obs.agg(F.count(F.lit(1)).alias("__n"))
    per_day = obs.groupBy(F.col("dur").alias("day")).agg(
        F.sum(F.lit(1) - F.col("censored")).cast("bigint").alias("d_events"),
        F.sum("censored").cast("bigint").alias("n_censored"),
    )
    w_prev = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, -1)
    risk = per_day.crossJoin(F.broadcast(n_total)).select(
        "day",
        "d_events",
        "n_censored",
        (
            F.col("__n")
            - F.coalesce(
                F.sum(F.col("d_events") + F.col("n_censored")).over(w_prev), F.lit(0)
            )
        )
        .cast("bigint")
        .alias("n_risk"),
    )
    term = F.round(
        F.log(
            F.nullif(
                F.lit(1.0) - F.col("d_events").cast("double") / F.col("n_risk"),
                F.lit(0.0),
            )
        ),
        9,
    ).cast("decimal(18,9)")
    terms = risk.where(F.col("n_risk") > 0).withColumn("term", term)
    w_cum = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return terms.select(
        "day",
        "n_risk",
        "d_events",
        "n_censored",
        F.when(
            F.col("d_events") < F.col("n_risk"),
            F.sum("term").over(w_cum).cast("double"),
        ).alias("log_survival"),
    )


# ---------------------------------------------------------------------------
# DAU / WAU / MAU + stickiness (r08): the product-analytics headline. Exact
# trailing-window distinct counts via the CONTRIBUTION trick: each (user,
# active-day) row is exploded to the W days whose trailing window it
# supports (7 for WAU, 30 for MAU), then distinct-counted per day — the
# explode factor is the window length, a constant, so the exact form stays
# linear at any scale (the HLL daily-merge query is the sketch variant of
# exactly this shape).
# ---------------------------------------------------------------------------

_DAU_ORACLE = """
WITH du AS (
  SELECT DISTINCT CAST(floor(epoch(ts) / 86400) AS BIGINT) AS day, user_id
  FROM events
),
bounds AS (SELECT min(day) AS lo, max(day) AS hi FROM du),
dau AS (SELECT day, CAST(count(*) AS BIGINT) AS dau FROM du GROUP BY day),
wau AS (
  SELECT d AS day, CAST(count(DISTINCT user_id) AS BIGINT) AS wau
  FROM (SELECT unnest(generate_series(day, day + 6)) AS d, user_id FROM du)
  GROUP BY d
),
mau AS (
  SELECT d AS day, CAST(count(DISTINCT user_id) AS BIGINT) AS mau
  FROM (SELECT unnest(generate_series(day, day + 29)) AS d, user_id FROM du)
  GROUP BY d
)
SELECT dau.day, dau.dau, w.wau, m.mau,
       round(CAST(dau.dau AS DOUBLE) / m.mau, 9) AS stickiness
FROM dau
JOIN wau w ON w.day = dau.day
JOIN mau m ON m.day = dau.day
JOIN bounds b ON dau.day BETWEEN b.lo AND b.hi
"""


@query("events_dau_wau_mau", sql=_DAU_ORACLE)
def events_dau_wau_mau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily / trailing-7-day / trailing-30-day active users per day, plus
    DAU/MAU stickiness. One (day, user) distinct from facts, then two
    bounded explodes (7 and 30 rows per active-day — constants) and
    day-keyed distinct counts; output restricted to observed days so
    every window is fully defined by the data. The exact twin of the
    register-merge HLL rollup (events_hll_daily_merge) — run this while
    exact distincts fit, switch to the sketch when they don't."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts")
    du = (
        ev.select(
            F.floor(F.unix_micros(F.col("ts")) / F.lit(86_400_000_000)).alias("day"),
            "user_id",
        )
        .distinct()
        .localCheckpoint(eager=True)  # feeds 3 aggregations + bounds
    )
    bounds = du.agg(F.min("day").alias("lo"), F.max("day").alias("hi"))
    dau = du.groupBy("day").agg(F.count(F.lit(1)).cast("bigint").alias("dau"))
    wau = (
        du.select(
            F.explode(F.sequence(F.col("day"), F.col("day") + 6)).alias("d"),
            "user_id",
        )
        .groupBy("d")
        .agg(F.countDistinct("user_id").cast("bigint").alias("wau"))
        .withColumnRenamed("d", "__wd")
    )
    mau = (
        du.select(
            F.explode(F.sequence(F.col("day"), F.col("day") + 29)).alias("d"),
            "user_id",
        )
        .groupBy("d")
        .agg(F.countDistinct("user_id").cast("bigint").alias("mau"))
        .withColumnRenamed("d", "__md")
    )
    return (
        dau.join(wau, F.col("__wd") == F.col("day"))
        .join(mau, F.col("__md") == F.col("day"))
        .crossJoin(F.broadcast(bounds))
        .where(F.col("day").between(F.col("lo"), F.col("hi")))
        .select(
            "day",
            "dau",
            "wau",
            "mau",
            F.round(F.col("dau").cast("double") / F.col("mau"), 9).alias(
                "stickiness"
            ),
        )
    )
