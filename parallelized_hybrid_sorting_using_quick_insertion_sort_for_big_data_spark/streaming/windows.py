"""Event-time windowing + sessionization, batch and Structured Streaming.

The reference is strictly batch (SURVEY.md §2b: no streaming of any kind);
this extension layer supplies the streaming surface a pipeline needs:
tumbling/sliding watermarked aggregation and gap-based sessionization, each
usable identically in batch (oracle-checkable) and as a readStream →
writeStream job.

Scale notes: state size is bounded by the watermark horizon; aggregations
are partial-agg friendly (count/sum); session windows use Spark's native
``session_window`` (state-store backed merge, no per-user collect).
"""

from __future__ import annotations

import os
import shutil
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import normalize_event_ts

_DEC = "decimal(27,8)"


def tumbling_agg(events: DataFrame, window: str = "1 hour") -> DataFrame:
    """Tumbling event-time window per event_type: count + exact value sum.
    Works on batch and streaming frames alike."""
    return (
        events.groupBy(F.window("ts", window).alias("win"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast(_DEC)).cast("double").alias("total_value"),
        )
        .select(
            F.col("win.start").alias("win_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def sliding_agg(events: DataFrame, window: str = "1 hour", slide: str = "30 minutes") -> DataFrame:
    return (
        events.groupBy(F.window("ts", window, slide).alias("win"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("win.start").alias("win_start"), "event_type", "n_events")
    )


def sessionize(events: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """Gap-based sessions per user via native session_window (merging state
    windows; the streaming-safe sessionization). Output: one row per
    (user_id, session) with bounds as integer epoch MICROSECONDS — exact on
    both the Spark and oracle side, so the driver's value-hash can't flap on
    float low bits — and event count."""
    return (
        events.groupBy(F.session_window("ts", gap).alias("win"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.unix_micros(F.col("win.start")).alias("session_start_us"),
            F.unix_micros(F.col("win.end")).alias("session_end_us"),
            "n_events",
        )
    )


def stream_tumbling_agg(
    spark: SparkSession,
    source_dir: str,
    schema,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Run the tumbling aggregation as a real Structured Streaming job over
    a parquet directory source with an event-time watermark, drain it
    through ``foreachBatch`` → parquet (complete mode: each trigger
    overwrites with the full result, written executor-side — never a
    driver-resident memory sink), and return the final materialized result.

    The watermark bounds state: windows older than (max event time -
    watermark) are finalized and evicted — the late-data contract a
    continuous pipeline needs. With a static source, processAllAvailable
    drains everything, so the result equals the batch aggregation (asserted
    in tests)."""
    from .sink import drain_stream_to_parquet, read_sink, stream_shuffle_partitions

    name = f"phsqis_stream_{uuid.uuid4().hex[:8]}"
    staged = None
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    if os.path.isfile(source_dir):
        # the file-stream source only accepts directories: stage the single
        # parquet file into a scratch dir (test-scale convenience; a real
        # deployment streams from a directory/Kafka anyway)
        staged = os.path.join(tempfile.gettempdir(), name + "_src")
        os.makedirs(staged, exist_ok=True)
        shutil.copy(source_dir, os.path.join(staged, os.path.basename(source_dir)))
        source_dir = staged
    events = normalize_event_ts(spark.readStream.schema(schema).parquet(source_dir))
    agg = (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("win"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast(_DEC)).cast("double").alias("total_value"),
        )
        .select(
            F.col("win.start").alias("win_start"), "event_type", "n_events", "total_value"
        )
    )
    try:
        with stream_shuffle_partitions(spark):
            out_dir = drain_stream_to_parquet(
                agg, name, output_mode="complete", overwrite_each_batch=True
            )
    finally:
        if staged is not None:
            shutil.rmtree(staged, ignore_errors=True)
    return read_sink(spark, out_dir, agg.schema)


def stream_sessionize(
    spark: SparkSession,
    source_dir: str,
    schema,
    gap: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Gap-based sessionization as a real Structured Streaming job: the
    actual state-store session-merge path (``session_window`` over a
    watermarked stream), not the batch planner's sort-based rewrite.

    State shape at scale: the store holds OPEN sessions per user — sessions
    whose latest event is within the watermark horizon; a session closes
    (and its state is evicted) once the watermark passes its end. Complete
    mode + overwrite-per-batch drains the full result for oracle parity
    with the batch form (a production job runs append mode and emits each
    session exactly once, on close)."""
    from .sink import drain_stream_to_parquet, read_sink, stream_shuffle_partitions

    name = f"phsqis_ssess_{uuid.uuid4().hex[:8]}"
    staged = None
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    if os.path.isfile(source_dir):
        staged = os.path.join(tempfile.gettempdir(), name + "_src")
        os.makedirs(staged, exist_ok=True)
        shutil.copy(source_dir, os.path.join(staged, os.path.basename(source_dir)))
        source_dir = staged
    events = normalize_event_ts(spark.readStream.schema(schema).parquet(source_dir))
    agg = (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("win"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.unix_micros(F.col("win.start")).alias("session_start_us"),
            F.unix_micros(F.col("win.end")).alias("session_end_us"),
            "n_events",
        )
    )
    try:
        with stream_shuffle_partitions(spark):
            out_dir = drain_stream_to_parquet(
                agg, name, output_mode="complete", overwrite_each_batch=True
            )
    finally:
        if staged is not None:
            shutil.rmtree(staged, ignore_errors=True)
    return read_sink(spark, out_dir, agg.schema)


def stream_late_drop(
    spark: SparkSession,
    source_file: str,
    window: str = "1 hour",
    watermark: str = "2 hours",
    n_chunks: int = 3,
) -> DataFrame:
    """Late-data accounting for a watermarked tumbling aggregation — the
    metric every production stream publishes next to its results: how many
    events were DROPPED because they arrived behind the watermark, and what
    was actually emitted.

    The source is split into ``n_chunks`` files by ``event_id % n_chunks``
    and fed ONE PER TRIGGER — each chunk spans the full time range, so
    from micro-batch 2 on, the watermark (max event time seen so far minus
    the delay) is near the END of the range and most of the incoming chunk
    is genuinely late. The job runs in APPEND mode: a window is emitted
    exactly once, when the watermark passes its end; late input rows for
    closed (or about-to-be-unreachable) windows are filtered by the state
    operator and counted in the engine's ``numRowsDroppedByWatermark``
    metric, which this runner reads from the query progress.

    Output is ONE row: (emitted_windows, emitted_events, late_dropped).
    All three are reproduced exactly by the DuckDB oracle
    (suites/events.py), which replays the engine's measured micro-batch
    schedule in SQL. Two Spark behaviors the oracle encodes (calibrated
    against per-batch StreamingQueryProgress, see the oracle's comment):
    the late-row filter uses the watermark from the PREVIOUS trigger
    (state eviction uses the current one — so a batch can merge late rows
    into the very windows it finalizes at its own end), and the drop
    counter measures rows after the map-side partial aggregate, i.e.
    distinct late windows per batch here (each chunk is one file, read as
    one partition via the coalesce(1) below — keep it, the oracle's
    accounting depends on it).

    Scale shape: identical to ``stream_tumbling_agg`` (bounded state,
    partial-agg counts); the drop accounting is driver-side metadata from
    StreamingQueryProgress, not a data collect."""
    from .sink import _scratch_dir, read_sink, stream_shuffle_partitions

    name = f"phsqis_slate_{uuid.uuid4().hex[:8]}"
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    staged = os.path.join(tempfile.gettempdir(), name + "_src")
    os.makedirs(staged, exist_ok=True)
    src = spark.read.parquet(source_file)
    # one file per chunk, ascending mtimes so FileStreamSource triggers
    # them in chunk order (same device as stream_dedup's replay copies)
    for i in range(n_chunks):
        tmp_i = os.path.join(tempfile.gettempdir(), f"{name}_c{i}")
        src.where(F.pmod(F.col("event_id"), F.lit(n_chunks)) == i).coalesce(
            1
        ).write.mode("overwrite").parquet(tmp_i)
        part = next(
            f for f in sorted(os.listdir(tmp_i)) if f.endswith(".parquet")
        )
        dst = os.path.join(staged, f"chunk_{i}.parquet")
        shutil.copy(os.path.join(tmp_i, part), dst)
        os.utime(dst, (1_700_000_000 + i * 10, 1_700_000_000 + i * 10))
        shutil.rmtree(tmp_i, ignore_errors=True)

    events = normalize_event_ts(
        spark.readStream.schema(src.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(staged)
    )
    agg = (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("win"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.unix_micros(F.col("win.start")).alias("win_start_us"), "n_events")
    )

    out_dir = _scratch_dir(name + "_out")
    checkpoint = os.path.join(tempfile.gettempdir(), name + "_ckpt")

    def _write_batch(batch_df: DataFrame, _batch_id: int) -> None:
        batch_df.write.mode("append").parquet(out_dir)

    dropped = 0
    try:
        with stream_shuffle_partitions(spark):
            q = (
                agg.writeStream.outputMode("append")
                .foreachBatch(_write_batch)
                .option("checkpointLocation", checkpoint)
                .start()
            )
            try:
                q.processAllAvailable()
                for p in q.recentProgress:
                    ops = (
                        p.get("stateOperators", [])
                        if isinstance(p, dict)
                        else p.stateOperators
                    )
                    for op in ops:
                        dropped += int(
                            op.get("numRowsDroppedByWatermark", 0)
                            if isinstance(op, dict)
                            else op.numRowsDroppedByWatermark
                        )
            finally:
                q.stop()
    finally:
        shutil.rmtree(checkpoint, ignore_errors=True)
        shutil.rmtree(staged, ignore_errors=True)

    sink = read_sink(spark, out_dir, agg.schema)
    return sink.agg(
        F.count(F.lit(1)).cast("bigint").alias("emitted_windows"),
        F.coalesce(F.sum("n_events"), F.lit(0)).cast("bigint").alias("emitted_events"),
    ).withColumn("late_dropped", F.lit(dropped).cast("bigint"))


def stream_static_enrich(
    spark: SparkSession,
    source_dir: str,
    schema,
    dim: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream–static enrichment join + windowed rollup: a streaming events
    source inner-joined against a STATIC dimension (user → segment), then
    aggregated per (tumbling window, segment).

    This is Structured Streaming's stream-static join mode: the static side
    is planned per micro-batch like any batch relation — small dims resolve
    to a broadcast join, so each micro-batch enriches map-side with no
    stream-side shuffle before the aggregation. State is only held for the
    windowed agg (bounded by the watermark horizon); the join itself is
    stateless — the scale contract that makes dimension enrichment safe on
    an unbounded stream. Drained via foreachBatch → parquet (complete
    mode), never a driver-resident sink."""
    from .sink import drain_stream_to_parquet, read_sink, stream_shuffle_partitions

    name = f"phsqis_senrich_{uuid.uuid4().hex[:8]}"
    staged = None
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    if os.path.isfile(source_dir):
        staged = os.path.join(tempfile.gettempdir(), name + "_src")
        os.makedirs(staged, exist_ok=True)
        shutil.copy(source_dir, os.path.join(staged, os.path.basename(source_dir)))
        source_dir = staged
    events = normalize_event_ts(spark.readStream.schema(schema).parquet(source_dir))
    enriched = events.join(F.broadcast(dim), "user_id")
    agg = (
        enriched.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("win"), "segment")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast(_DEC)).cast("double").alias("total_value"),
        )
        .select(F.col("win.start").alias("win_start"), "segment", "n_events", "total_value")
    )
    try:
        with stream_shuffle_partitions(spark):
            out_dir = drain_stream_to_parquet(
                agg, name, output_mode="complete", overwrite_each_batch=True
            )
    finally:
        if staged is not None:
            shutil.rmtree(staged, ignore_errors=True)
    return read_sink(spark, out_dir, agg.schema)


def stream_stream_join(
    spark: SparkSession,
    source_file: str,
    schema,
    left_type: str = "purchase",
    right_type: str = "click",
    tolerance: str = "10 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream–stream inner join: two watermarked streaming relations (two
    independent readers over the replay) joined on user_id with a bounded
    event-time constraint — right events in the ``tolerance`` window at or
    before each left event.

    This is the join shape with state on BOTH sides: each side buffers rows
    until the other side's watermark plus the time bound proves no further
    match can arrive, then evicts — the two watermarks AND the range
    condition are what make the state finite, which is why Spark requires
    the time constraint in the join condition for cleanup. Without the
    bound the buffers grow forever on an unbounded stream. Append mode:
    each matched pair is emitted exactly once."""
    from .sink import drain_stream_to_parquet, read_sink, stream_shuffle_partitions

    name = f"phsqis_ssjoin_{uuid.uuid4().hex[:8]}"
    staged = os.path.join(tempfile.gettempdir(), name + "_src")
    os.makedirs(staged, exist_ok=True)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    shutil.copy(source_file, os.path.join(staged, os.path.basename(source_file)))

    def side(event_type: str, prefix: str):
        return (
            normalize_event_ts(spark.readStream.schema(schema).parquet(staged))
            .where(F.col("event_type") == event_type)
            .select(
                F.col("event_id").alias(f"{prefix}_event_id"),
                F.col("user_id").alias(f"{prefix}_user_id"),
                F.col("ts").alias(f"{prefix}_ts"),
            )
            .withWatermark(f"{prefix}_ts", watermark)
        )

    left = side(left_type, "l")
    right = side(right_type, "r")
    joined = left.join(
        right,
        (F.col("l_user_id") == F.col("r_user_id"))
        & (F.col("r_ts") >= F.col("l_ts") - F.expr(f"interval {tolerance}"))
        & (F.col("r_ts") <= F.col("l_ts")),
    ).select(
        F.col("l_event_id").alias("purchase_id"),
        F.col("r_event_id").alias("click_id"),
        F.col("l_user_id").alias("user_id"),
        (F.unix_micros("l_ts") - F.unix_micros("r_ts")).alias("delta_us"),
    )
    try:
        with stream_shuffle_partitions(spark):
            out_dir = drain_stream_to_parquet(joined, name, output_mode="append")
    finally:
        shutil.rmtree(staged, ignore_errors=True)
    return read_sink(spark, out_dir, joined.schema)


def stream_dedup(
    spark: SparkSession,
    source_file: str,
    schema,
    key_cols: list[str] | None = None,
    watermark: str = "2 hours",
    copies: int = 2,
) -> DataFrame:
    """Streaming exact deduplication with bounded state:
    ``dropDuplicatesWithinWatermark`` keyed on ``key_cols``, exercised over a
    source that REALLY contains duplicates — the input file is staged
    ``copies`` times and read one file per trigger, so the second copy
    arrives in a later micro-batch and dedup must happen through the state
    store, not within a batch.

    Scale shape: state holds one entry per key seen within the watermark
    horizon (evicted after), the contract that makes exactly-once event
    ingestion feasible on an unbounded stream — a plain
    ``dropDuplicates(key)`` would grow state forever. Deduped rows are
    drained executor-side (append mode, foreachBatch → parquet); callers
    aggregate the returned frame distributed. Rows older than the watermark
    in later copies are dropped as late data — for exact replays (this
    demo) that coincides with dedup; a production source with genuinely
    late NON-duplicate data needs the watermark sized to its lateness
    bound."""
    from .sink import drain_stream_to_parquet, read_sink, stream_shuffle_partitions

    key_cols = key_cols or ["event_id"]
    name = f"phsqis_sdedup_{uuid.uuid4().hex[:8]}"
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    staged = os.path.join(tempfile.gettempdir(), name + "_src")
    os.makedirs(staged, exist_ok=True)
    for i in range(copies):
        shutil.copy(source_file, os.path.join(staged, f"copy{i}.parquet"))
    events = normalize_event_ts(
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(staged)
    )
    deduped = events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(key_cols)
    try:
        with stream_shuffle_partitions(spark):
            out_dir = drain_stream_to_parquet(deduped, name, output_mode="append")
    finally:
        shutil.rmtree(staged, ignore_errors=True)
    return read_sink(spark, out_dir, deduped.schema)


def stream_windowed_cms(
    spark: SparkSession,
    source_dir: str,
    schema,
    window: str = "6 hours",
    window_s: int = 21600,
    watermark: str = "2 hours",
    value_col: str = "user_id",
    depth: int = 4,
    width: int = 256,
) -> DataFrame:
    """Count-Min sketch per event-time window over a real Structured
    Streaming job — the composition a continuous pipeline actually keeps
    when even per-window exact counts would churn too much state: per
    window the state is depth x width counters REGARDLESS of the value
    universe, windows finalize and evict at the watermark, and finalized
    sketches merge across shards/restarts by cell-wise addition
    (``operators/sketch.cms_merge``).

    Plan shape: the explode fans each event into ``depth`` (j, cell) rows
    map-side; the streaming aggregation is an ordinary partial-agg
    count on (window, j, cell) — bounded at depth·width rows per window
    in the store. Output: (win_start, j, cell, n), one row per OCCUPIED
    cell — identical to the batch ``cms_build`` per window, which is what
    the generated DuckDB oracle recomputes cell-for-cell."""
    from ..operators.sketch import _cell_of, _digest
    from .sink import drain_stream_to_parquet, read_sink, stream_shuffle_partitions

    name = f"phsqis_scms_{uuid.uuid4().hex[:8]}"
    staged = None
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    if os.path.isfile(source_dir):
        staged = os.path.join(tempfile.gettempdir(), name + "_src")
        os.makedirs(staged, exist_ok=True)
        shutil.copy(source_dir, os.path.join(staged, os.path.basename(source_dir)))
        source_dir = staged
    events = normalize_event_ts(spark.readStream.schema(schema).parquet(source_dir))
    v = F.col(value_col)
    n_blocks = (depth + 3) // 4
    digests = events.where(v.isNotNull()).select(
        "ts", *[_digest(v, b).alias(f"__d{b}") for b in range(n_blocks)]
    )
    fanned = digests.select(
        "ts",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("j"),
                        _cell_of(F.col(f"__d{j // 4}"), j, width).alias("cell"),
                    )
                    for j in range(depth)
                ]
            )
        ).alias("__c"),
    )
    agg = (
        fanned.withWatermark("ts", watermark)
        .groupBy(
            F.window("ts", window).alias("win"),
            F.col("__c.j").alias("j"),
            F.col("__c.cell").alias("cell"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("win.start").alias("win_start"), "j", "cell", "n")
    )
    try:
        with stream_shuffle_partitions(spark):
            out_dir = drain_stream_to_parquet(
                agg, name, output_mode="complete", overwrite_each_batch=True
            )
    finally:
        if staged is not None:
            shutil.rmtree(staged, ignore_errors=True)
    return read_sink(spark, out_dir, agg.schema)


def stream_scd2_enrich(
    spark: SparkSession,
    source_dir: str,
    schema,
    dim: DataFrame,
    key: str = "user_id",
) -> DataFrame:
    """Stream–static TEMPORAL enrichment against a versioned (SCD2)
    dimension (r08): each streaming event joins the dimension VERSION
    that was valid at its event time — ``key`` equality plus
    ``valid_from_us <= ts_us < valid_to_us`` — then rolls up per
    dimension attribute. The production shape for enriching a
    clickstream with slowly-changing customer attributes without
    reprocessing: the equality key keeps the join hash-based (the range
    residual filters the 2-3 versions of that key), the dim broadcasts,
    and the join itself is stateless — state exists only for the final
    aggregation (complete mode, |segments| rows).

    Dim contract: (key, segment, valid_from_us, valid_to_us) with
    half-open [from, to) validity — the scd.py convention."""
    from .sink import drain_stream_to_parquet, read_sink, stream_shuffle_partitions

    name = f"phsqis_scd2e_{uuid.uuid4().hex[:8]}"
    staged = None
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    if os.path.isfile(source_dir):
        staged = os.path.join(tempfile.gettempdir(), name + "_src")
        os.makedirs(staged, exist_ok=True)
        shutil.copy(source_dir, os.path.join(staged, os.path.basename(source_dir)))
        source_dir = staged
    events = normalize_event_ts(
        spark.readStream.schema(schema).parquet(source_dir)
    ).withColumn("__ts_us", F.unix_micros(F.col("ts")))
    cond = (
        (events[key] == dim[key])
        & (events["__ts_us"] >= dim["valid_from_us"])
        & (events["__ts_us"] < dim["valid_to_us"])
    )
    enriched = events.join(F.broadcast(dim), cond).drop(dim[key])
    agg = enriched.groupBy("segment").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast(_DEC)).cast("double").alias("total_value"),
    )
    try:
        with stream_shuffle_partitions(spark):
            out_dir = drain_stream_to_parquet(
                agg, name, output_mode="complete", overwrite_each_batch=True
            )
    finally:
        if staged is not None:
            shutil.rmtree(staged, ignore_errors=True)
    return read_sink(spark, out_dir, agg.schema)


def stream_hll_daily(
    spark: SparkSession,
    events_parquet: str,
    day_us: int,
    n_chunks: int = 3,
    band: float = 0.05,
) -> DataFrame:
    """Per-day HLL distinct-user sketches built INCREMENTALLY across
    micro-batches (update-mode streaming aggregation — the sketch IS the
    state), proving the property that makes sketch stores streamable:
    register-max is associative and commutative, so the drained streaming
    sketch must equal the batch-built sketch EXACTLY, however the rows
    were batched (chunking here is order-free ``event_id % n`` — no
    time-ordering needed, unlike the attribution state).

    Output per day: (day, n_exact, est_ok, stream_eq_batch); day = -1 is
    the corpus row, where stream_eq_batch asserts the union of the
    drained daily sketches equals the single-pass batch estimate."""
    from .sink import drain_stream_to_parquet, read_sink, stream_shuffle_partitions

    name = f"phsqis_shll_{uuid.uuid4().hex[:8]}"
    stage_dir = os.path.join(tempfile.gettempdir(), name + "_src")
    os.makedirs(stage_dir, exist_ok=True)

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    src = spark.read.parquet(events_parquet)
    src.withColumn("__c", F.pmod(F.col("event_id"), F.lit(n_chunks))).repartition(
        n_chunks, "__c"
    ).drop("__c").write.mode("overwrite").parquet(stage_dir)

    events = normalize_event_ts(
        spark.readStream.schema(src.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(stage_dir)
    )
    day = (F.unix_micros(F.col("ts")) / F.lit(day_us)).cast("bigint").alias("day")
    agg = events.select(day, "user_id").groupBy("day").agg(
        F.hll_sketch_agg("user_id").alias("sk"),
        F.count(F.lit(1)).alias("n_seen"),  # monotone per day → picks last update
    )
    from pyspark.sql import types as T

    sink_schema = T.StructType(
        [
            T.StructField("day", T.LongType()),
            T.StructField("sk", T.BinaryType()),
            T.StructField("n_seen", T.LongType()),
        ]
    )
    try:
        with stream_shuffle_partitions(spark):
            out_dir = drain_stream_to_parquet(agg, name, output_mode="update")
    finally:
        shutil.rmtree(stage_dir, ignore_errors=True)

    updates = read_sink(spark, out_dir, sink_schema)
    finals = updates.groupBy("day").agg(
        F.max_by(F.col("sk"), F.col("n_seen")).alias("sk")
    )

    ev = normalize_event_ts(spark.read.parquet(events_parquet)).select(
        day, "user_id"
    )
    batch_daily = ev.groupBy("day").agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("user_id")).alias("__best"),
        F.countDistinct("user_id").cast("bigint").alias("n_exact"),
    )
    bandc = F.lit(float(band))
    daily_rows = (
        finals.withColumn("__sest", F.hll_sketch_estimate("sk"))
        .join(batch_daily, "day")
        .select(
            "day",
            "n_exact",
            (
                F.abs(F.col("__sest") - F.col("n_exact"))
                <= bandc * F.col("n_exact")
            ).alias("est_ok"),
            (F.col("__sest") == F.col("__best")).alias("stream_eq_batch"),
        )
    )
    union_est = finals.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("__u")
    )
    single = ev.agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("user_id")).alias("__s"),
        F.countDistinct("user_id").cast("bigint").alias("n_exact"),
    )
    total_row = union_est.crossJoin(F.broadcast(single)).select(
        F.lit(-1).cast("bigint").alias("day"),
        "n_exact",
        (F.abs(F.col("__u") - F.col("n_exact")) <= bandc * F.col("n_exact")).alias(
            "est_ok"
        ),
        (F.col("__u") == F.col("__s")).alias("stream_eq_batch"),
    )
    return daily_rows.unionAll(total_row)
