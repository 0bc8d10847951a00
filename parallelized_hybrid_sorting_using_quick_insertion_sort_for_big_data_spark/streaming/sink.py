"""One replay source and one drain for every streaming runner.

The streaming runners turn the static events file into a real Structured
Streaming job and drain it to completion, always the same way:

- :func:`replay` stages the file into one scratch dir (a file-stream
  source only reads directories) and yields the normalized streaming frame,
  read one file per trigger. The file is staged whole (``copies`` times,
  one trigger per copy) or split by a ``chunk`` expression into one file
  per chunk value, triggered in ascending chunk order. The staged dir is
  removed when the block exits, also when staging or the stream fails.
- :func:`drain` runs a streaming frame until its source is exhausted,
  writing each micro-batch executor-side through ``foreachBatch`` to a
  parquet sink (a ``memory`` sink would hold every batch in driver
  memory), and returns the sink as a frame together with the query's
  ``recentProgress``, where the per-batch state-store metrics live.

Sink dirs live under the temp dir and are removed at process exit (the
returned frame stays readable for the session's lifetime); checkpoints are
removed as soon as the stream stops.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile
from contextlib import contextmanager

from pyspark.sql import Column, DataFrame, SparkSession

from ..sources.tables import normalize_event_ts, read_raw_events

#: Shuffle-partition count the demo stream runners use while their query is
#: live. Each stateful exchange materializes ONE state-store instance and
#: one sink file per shuffle partition per trigger — at 32 partitions a
#: 3-trigger demo pays 96 store commits + 96 parquet footers of pure
#: overhead. 8 keeps the demos honest locally; a production job sizes this
#: to its key cardinality/throughput, not to the core count.
STREAM_SHUFFLE_PARTITIONS = 8


def _stage_chunks(src: DataFrame, chunk: Column, out: str) -> list[str]:
    """Write ``src`` split by ``chunk`` in ONE job, one file per chunk value
    (``coalesce(1)``: a single writer puts each value's rows in one file),
    and return the files in ascending chunk order."""
    src.withColumn("__chunk", chunk).coalesce(1).write.partitionBy("__chunk").parquet(out)
    dirs = sorted(
        (d for d in os.listdir(out) if d.startswith("__chunk=")),
        key=lambda d: int(d[len("__chunk="):]),
    )
    files = []
    for d in dirs:
        (f,) = [f for f in os.listdir(os.path.join(out, d)) if f.endswith(".parquet")]
        files.append(os.path.join(out, d, f))
    return files


@contextmanager
def replay(
    spark: SparkSession, events_parquet: str, chunk: Column | None = None, copies: int = 1
):
    """Yield ``events_parquet`` as a normalized streaming frame read one
    file per trigger (``maxFilesPerTrigger=1``).

    Without ``chunk`` the file is staged ``copies`` times as-is. With
    ``chunk`` (a column expression over the raw events giving each row an
    integer chunk number) each chunk becomes ONE file, staged ``copies``
    times, and the files trigger in ascending chunk order: staged files get
    ascending mtimes, the order a file-stream source triggers them in."""
    staged = tempfile.mkdtemp(prefix="phsqis_replay_")
    try:
        src = read_raw_events(spark, events_parquet)
        files = [events_parquet] if chunk is None else _stage_chunks(
            src, chunk, os.path.join(staged, "chunks")
        )
        source = os.path.join(staged, "source")
        os.makedirs(source)
        for i, f in enumerate(files * copies):
            dst = os.path.join(source, f"part_{i:04d}.parquet")
            shutil.copy(f, dst)
            os.utime(dst, (1_700_000_000 + i * 10,) * 2)
        yield normalize_event_ts(
            spark.readStream.schema(src.schema).option("maxFilesPerTrigger", "1").parquet(source)
        )
    finally:
        shutil.rmtree(staged, ignore_errors=True)


def drain(
    stream_df: DataFrame, output_mode: str, shuffle_partitions: int = STREAM_SHUFFLE_PARTITIONS
) -> tuple[DataFrame, list]:
    """Start ``stream_df``, process everything available, stop, and return
    ``(sink frame, recentProgress)``. Update/append deltas append to the
    sink; complete mode overwrites it with each batch's full result.

    ``shuffle_partitions`` applies while the query is live: it is latched
    into the query's state layout at checkpoint creation, and restoring it
    afterwards leaves batch queries on the session default."""
    spark = stream_df.sparkSession
    out_dir = tempfile.mkdtemp(prefix="phsqis_sink_")
    atexit.register(shutil.rmtree, out_dir, ignore_errors=True)
    checkpoint = tempfile.mkdtemp(prefix="phsqis_ckpt_")
    write_mode = "overwrite" if output_mode == "complete" else "append"

    def _write_batch(batch_df: DataFrame, _batch_id: int) -> None:
        batch_df.write.mode(write_mode).parquet(out_dir)

    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(shuffle_partitions))
    try:
        q = (
            stream_df.writeStream.outputMode(output_mode)
            .foreachBatch(_write_batch)
            .option("checkpointLocation", checkpoint)
            .start()
        )
        try:
            q.processAllAvailable()
            progress = q.recentProgress
        finally:
            q.stop()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
        shutil.rmtree(checkpoint, ignore_errors=True)
    # the stream's own schema: no inference job, and a sink the stream
    # never wrote to reads as an empty frame
    return spark.read.schema(stream_df.schema).parquet(out_dir), progress
