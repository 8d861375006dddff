"""Structured Streaming operators.

The reference's "streams" are async record channels between steps
(src/lib.rs:85-89) with no event-time semantics.  Our engine exposes
real unbounded processing: file-source streams, watermarked tumbling /
sliding / session windows, and foreachBatch sinks — the micro-batch
trigger replaces the reference's bounded-channel backpressure.

Scale notes: state-store size is bounded by the watermark horizon;
session windows use Spark's native session_window (merging state per
key); sinks go through foreachBatch so any batch writer (including the
pipeline's write_document) works unchanged.
"""

from __future__ import annotations

import itertools
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


def read_stream_directory(
    spark: SparkSession,
    path: str,
    fmt: str,
    schema: StructType | str,
    *,
    options: dict[str, str] | None = None,
) -> DataFrame:
    """File-source stream: new files under `path` become micro-batches
    (the streaming analogue of the reader step's wildcard paginator).
    CSV starts from the batch reader's defaults; ``options`` override
    them."""
    from chewdata_spark.sources.documents import CSV_READ_DEFAULTS

    defaults = CSV_READ_DEFAULTS if fmt == "csv" else {}
    reader = spark.readStream.schema(schema).options(**{**defaults, **(options or {})})
    if fmt in ("json", "jsonl"):
        return reader.json(path)
    if fmt == "csv":
        return reader.csv(path)
    if fmt == "parquet":
        return reader.parquet(path)
    if fmt == "text":
        return reader.text(path)
    raise ValueError(f"unsupported stream format {fmt!r}")


def tumbling_window_agg(
    stream: DataFrame,
    ts_col: str,
    *,
    window: str = "1 hour",
    watermark: str = "2 hours",
    keys: list[str] | None = None,
    aggs: list | None = None,
) -> DataFrame:
    """Watermarked tumbling-window aggregation (late data beyond the
    watermark is dropped; state is evicted past the horizon)."""
    aggs = aggs or [F.count(F.lit(1)).alias("n_events")]
    grouped = stream.withWatermark(ts_col, watermark).groupBy(
        F.window(ts_col, window).alias("win"), *(keys or [])
    )
    return (
        grouped.agg(*aggs)
        .withColumn("window_start", F.col("win.start"))
        .withColumn("window_end", F.col("win.end"))
        .drop("win")
    )


def sliding_window_agg(
    stream: DataFrame,
    ts_col: str,
    *,
    window: str = "1 hour",
    slide: str = "15 minutes",
    watermark: str = "2 hours",
    keys: list[str] | None = None,
    aggs: list | None = None,
) -> DataFrame:
    aggs = aggs or [F.count(F.lit(1)).alias("n_events")]
    grouped = stream.withWatermark(ts_col, watermark).groupBy(
        F.window(ts_col, window, slide).alias("win"), *(keys or [])
    )
    return grouped.agg(*aggs).withColumn("window_start", F.col("win.start")).withColumn(
        "window_end", F.col("win.end")
    ).drop("win")


def session_window_agg(
    stream: DataFrame,
    ts_col: str,
    *,
    gap: str = "30 minutes",
    watermark: str = "2 hours",
    keys: list[str] | None = None,
    aggs: list | None = None,
) -> DataFrame:
    """Native session windows (gap-based merging state) — the streaming
    equivalent of the batch gaps-and-islands `sessionize_events`."""
    aggs = aggs or [F.count(F.lit(1)).alias("n_events")]
    grouped = stream.withWatermark(ts_col, watermark).groupBy(
        F.session_window(ts_col, gap).alias("sess"), *(keys or [])
    )
    return grouped.agg(*aggs).withColumn("session_start", F.col("sess.start")).withColumn(
        "session_end", F.col("sess.end")
    ).drop("sess")


def stream_stream_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str,
    right_ts: str,
    *,
    watermark: str = "1 hour",
    time_bound: str = "1 hour",
    how: str = "inner",
) -> DataFrame:
    """Watermarked stream-stream equi-join with a time bound.

    Both sides buffer state only within the watermark + bound horizon —
    the condition ``right_ts BETWEEN left_ts - bound AND left_ts + bound``
    is what lets Spark evict state; an unbounded stream-stream join
    would grow state forever.
    """
    lw = left.withWatermark(left_ts, watermark)
    rw = right.withWatermark(right_ts, watermark)
    cond = (
        (lw[on] == rw[on])
        & (rw[right_ts] >= F.expr(f"{left_ts} - INTERVAL {time_bound}"))
        & (rw[right_ts] <= F.expr(f"{left_ts} + INTERVAL {time_bound}"))
    )
    return lw.join(rw, cond, how)


# suffixes that make every memory sink's name unique in the process
_SINK_IDS = itertools.count(1)


def run_to_memory(stream: DataFrame, name: str, *, output_mode: str = "append") -> DataFrame:
    """Run the stream to completion over currently-available data
    (Trigger.AvailableNow) into an in-memory table; returns the result
    as a batch DataFrame.  Used by tests and interactive inspection.
    The sink is named ``name`` plus a process-unique suffix, so callers
    may pass the same name on every run.

    The memory sink's table is COPIED to checkpointed blocks and the
    temp view dropped before returning: every call uses a fresh name,
    so leaving the views registered pinned each run's rows in driver
    memory for the session's lifetime — in a long bench session (3
    measures x ~20 streaming queries) that unbounded growth is exactly
    the 'late-session aging' class the r13/r14 timing forensics kept
    hitting.  The checkpointed copy is value-identical and freed by
    the ContextCleaner once the returned DataFrame is unreachable."""
    name = f"{name}_{next(_SINK_IDS)}"
    q = (
        stream.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    spark = stream.sparkSession
    out = spark.table(name).localCheckpoint(eager=True)
    spark.catalog.dropTempView(name)
    return out


def idempotent_batch_fn(
    fn: Callable[[DataFrame, int], None], ledger_dir: str
) -> Callable[[DataFrame, int], None]:
    """Exactly-once wrapper for foreachBatch sinks without transactional
    targets: Spark guarantees at-least-once delivery of each
    ``batch_id`` — a replayed batch (post-crash re-run between sink
    write and checkpoint commit) re-invokes ``fn`` with the SAME id.
    Recording completed ids in a ledger (one empty marker file per id,
    written through the Hadoop FS so it works on any scheme) turns
    at-least-once + dedup into effectively-once.
    """
    from pyspark.sql import SparkSession

    def wrapped(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession if hasattr(batch_df, "sparkSession") else SparkSession.active()
        jvm = spark.sparkContext._jvm
        marker = jvm.org.apache.hadoop.fs.Path(f"{ledger_dir}/batch-{batch_id}.done")
        fs = marker.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
        if fs.exists(marker):
            return  # replayed batch — already applied
        fn(batch_df, batch_id)
        fs.mkdirs(marker.getParent())
        fs.create(marker, True).close()

    return wrapped


def run_foreach_batch(
    stream: DataFrame,
    fn: Callable[[DataFrame, int], None],
    *,
    checkpoint: str,
    output_mode: str = "update",
) -> None:
    """foreachBatch sink: every micro-batch is handed to a plain batch
    function (e.g. ``write_document`` / JDBC upsert) — the reference's
    writer-step buffering (src/step/writer.rs:205-242) maps here."""
    q = (
        stream.writeStream.foreachBatch(fn)
        .option("checkpointLocation", checkpoint)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
