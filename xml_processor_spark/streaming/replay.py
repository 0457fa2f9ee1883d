"""File-stream replay harness for the events table.

Streaming tests and E-* rows replay `events` parquet through a Structured
Streaming file source with deterministic micro-batch boundaries: one json
file per time bucket, file modification times set in bucket order, and
``maxFilesPerTrigger=1`` so watermarks advance bucket-by-bucket exactly as
event time does. A far-future sentinel bucket flushes event-time-timeout
state at end of replay.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from xml_processor_spark.io import scratch_dir

EVENT_SCHEMA = "event_id LONG, ts TIMESTAMP, user_id LONG, event_type STRING, value DOUBLE"


def write_replay_files(
    df: DataFrame,
    n_buckets: int = 6,
    late_rows: DataFrame | None = None,
    sentinel: bool = False,
) -> str:
    """Write df as n_buckets time-ordered json files; returns the dir.

    ``late_rows`` (if given) are appended as the LAST file even though their
    timestamps are early — the late-arrival fixture. ``sentinel`` appends a
    final watermark-flush row 1 day after max ts.

    Every call reuses one ``io.scratch_dir("replay")``, which the next call
    empties: each caller drains its stream (``availableNow`` +
    ``awaitTermination``) before the next replay is written.
    """
    src = scratch_dir("replay")
    df = df.select("event_id", "ts", "user_id", "event_type", "value")
    bounds = df.agg(
        F.min("ts").alias("lo"), F.max("ts").alias("hi")
    ).collect()[0]
    lo, hi = bounds.lo, bounds.hi
    span = (hi - lo).total_seconds() + 1
    bucket = F.least(
        F.lit(n_buckets - 1),
        ((F.col("ts").cast("double") - F.lit(lo.timestamp())) / (span / n_buckets))
        .cast("int"),
    )
    per_bucket = df.withColumn("b", bucket)
    seq = 0
    for i in range(n_buckets):
        part = per_bucket.filter(F.col("b") == i).drop("b")
        path = os.path.join(src, f"w{seq:03d}")
        part.coalesce(1).write.mode("overwrite").json(path)
        _promote(path, src, f"bucket_{seq:03d}.json", seq)
        seq += 1
    if late_rows is not None:
        path = os.path.join(src, f"w{seq:03d}")
        late_rows.select(
            "event_id", "ts", "user_id", "event_type", "value"
        ).coalesce(1).write.mode("overwrite").json(path)
        # mtime far beyond every on-time bucket so the file source cannot
        # order it anywhere but last.
        _promote(path, src, f"zz_{seq:03d}_late.json", seq + 1000)
        seq += 1
    if sentinel:
        spark = df.sparkSession
        flush = spark.createDataFrame(
            [(-1, hi, -1, "flush", 0.0)], EVENT_SCHEMA
        ).withColumn("ts", F.col("ts") + F.expr("INTERVAL 1 DAY"))
        path = os.path.join(src, f"w{seq:03d}")
        flush.coalesce(1).write.mode("overwrite").json(path)
        _promote(path, src, f"bucket_{seq:03d}_flush.json", seq)
        seq += 1
    return src


def _promote(written_dir: str, dest_dir: str, name: str, seq: int) -> None:
    """Move the single part file up and stamp increasing mtimes (the file
    source orders by modification time)."""
    import shutil

    for f in os.listdir(written_dir):
        if f.endswith(".json") and not f.startswith("."):
            dest = os.path.join(dest_dir, name)
            shutil.move(os.path.join(written_dir, f), dest)
            os.utime(dest, (1_700_000_000 + seq, 1_700_000_000 + seq))
    shutil.rmtree(written_dir)


def read_replay_stream(spark: SparkSession, src: str) -> DataFrame:
    return (
        spark.readStream.schema(EVENT_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .json(src)
    )


def run_to_memory(stream_df: DataFrame, name: str, output_mode: str) -> DataFrame:
    spark = stream_df.sparkSession
    # Spark keeps only numRecentProgressUpdates (default 100) progress
    # entries; a replay with more triggers than that would silently drop
    # the EARLY entries, so max(state rows) in the 16x stress tests could
    # under-observe the true peak and pass a bound it should fail
    # (ADVICE r12). Raise it well past any replay's trigger count
    # (maxFilesPerTrigger=1 -> one trigger per file; stress fixtures are
    # O(hundreds) of files).
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "10000")
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    # Per-trigger state-store metrics of the LAST replay, kept for the
    # state-bound stress tests (VERDICT r11 #7): list of per-progress
    # total state rows, summed over the query's state operators. Stored
    # on the session object (dies with it — the io.table cache pattern).
    spark._xps_stream_state_rows = [
        sum(op.numRowsTotal for op in p.stateOperators)
        for p in q.recentProgress
        if p.stateOperators
    ]
    return spark.table(name)
