"""Structured Streaming vs batch equivalence over the events table."""

from __future__ import annotations

import glob
import shutil

import pytest
from pyspark.sql import functions as F

from chewdata_spark.streaming.ops import (
    read_stream_directory,
    run_foreach_batch,
    run_to_memory,
    session_window_agg,
    tumbling_window_agg,
)
from chewdata_spark.tables import load_table


@pytest.fixture(scope="module")
def events_stream_dir(spark, sf_dir, tmp_path_factory):
    """events as a parquet directory the file source can watch."""
    d = tmp_path_factory.mktemp("events_stream")
    load_table(spark, sf_dir, "events").repartition(4).write.mode("overwrite").parquet(str(d / "in"))
    return str(d / "in")


def test_tumbling_window_matches_batch(spark, sf_dir, events_stream_dir):
    batch = load_table(spark, sf_dir, "events")
    stream = read_stream_directory(spark, events_stream_dir, "parquet", batch.schema)
    res = run_to_memory(
        tumbling_window_agg(
            stream, "ts", window="1 hour", keys=["event_type"],
            aggs=[F.count(F.lit(1)).alias("n_events")],
        ),
        "tumbling_test",
        output_mode="complete",  # append would withhold windows newer than the watermark
    )
    expected = (
        batch.groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(F.col("win.start").alias("window_start"), "event_type", "n_events")
    )
    got = {(r.window_start, r.event_type): r.n_events for r in res.collect()}
    want = {(r.window_start, r.event_type): r.n_events for r in expected.collect()}
    assert got == want and len(got) > 0


def test_session_window_matches_batch_sessionize(spark, sf_dir, events_stream_dir):
    """session_window(gap=30m) must produce the same number of sessions
    per user as the batch gaps-and-islands sessionize query."""
    from chewdata_spark.queries.relational import sessionize_events

    batch_sessions = (
        sessionize_events(spark, sf_dir).groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_sessions"), F.sum("n_events").alias("n_events"))
    )
    stream = read_stream_directory(
        spark, events_stream_dir, "parquet", load_table(spark, sf_dir, "events").schema
    )
    res = run_to_memory(
        session_window_agg(stream, "ts", gap="30 minutes", keys=["user_id"]),
        "session_test",
        output_mode="complete",  # update/append withhold or reject session windows
    )
    got = (
        res.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_sessions"), F.sum("n_events").alias("n_events"))
    )
    g = {r.user_id: (r.n_sessions, r.n_events) for r in got.collect()}
    w = {r.user_id: (r.n_sessions, r.n_events) for r in batch_sessions.collect()}
    assert g == w and len(g) > 0


def test_foreach_batch_sink(spark, sf_dir, events_stream_dir, tmp_path):
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    stream = read_stream_directory(
        spark, events_stream_dir, "parquet", load_table(spark, sf_dir, "events").schema
    )

    def write_batch(df, epoch_id):
        df.write.mode("append").parquet(out)

    run_foreach_batch(stream.filter(F.col("event_type") == "error"), write_batch, checkpoint=ckpt)
    written = spark.read.parquet(out)
    expected = load_table(spark, sf_dir, "events").filter(F.col("event_type") == "error").count()
    assert written.count() == expected > 0
    shutil.rmtree(ckpt, ignore_errors=True)


def test_stream_stream_join_matches_batch(spark, sf_dir, tmp_path):
    """Two event streams joined on user within ±30min == batch join."""
    from chewdata_spark.streaming.ops import stream_stream_join

    ev = load_table(spark, sf_dir, "events")
    left_b = ev.filter(F.col("event_id") % 2 == 0).select(
        F.col("event_id").alias("l_id"), F.col("user_id").alias("uid"), F.col("ts").alias("l_ts")
    )
    right_b = ev.filter(F.col("event_id") % 2 == 1).select(
        F.col("event_id").alias("r_id"), F.col("user_id").alias("uid"), F.col("ts").alias("r_ts")
    )
    ldir, rdir = str(tmp_path / "l"), str(tmp_path / "r")
    left_b.write.parquet(ldir)
    right_b.write.parquet(rdir)
    ls = read_stream_directory(spark, ldir, "parquet", left_b.schema)
    rs = read_stream_directory(spark, rdir, "parquet", right_b.schema)
    joined = stream_stream_join(
        ls, rs, "uid", "l_ts", "r_ts", watermark="2 hours", time_bound="30 minutes"
    ).select("l_id", "r_id")
    got = {(r.l_id, r.r_id) for r in run_to_memory(joined, "ssj").collect()}
    want_df = left_b.join(
        right_b,
        (left_b.uid == right_b.uid)
        & (right_b.r_ts >= F.expr("l_ts - INTERVAL 30 minutes"))
        & (right_b.r_ts <= F.expr("l_ts + INTERVAL 30 minutes")),
    ).select("l_id", "r_id")
    want = {(r.l_id, r.r_id) for r in want_df.collect()}
    assert got == want and len(got) > 0


def test_idempotent_batch_fn_skips_replayed_ids(spark, tmp_path):
    from chewdata_spark.streaming.ops import idempotent_batch_fn

    applied = []

    def sink(batch_df, batch_id):
        applied.append(batch_id)

    fn = idempotent_batch_fn(sink, str(tmp_path / "ledger"))
    df = spark.range(3)
    fn(df, 0)
    fn(df, 1)
    fn(df, 0)  # replay — must be skipped
    assert applied == [0, 1]


def test_stream_query_leaves_no_memory_sink_view(spark, sf_dir):
    """Registry streaming queries drain through ``run_to_memory``,
    which drops the memory sink's temp view: no run's rows stay pinned
    in driver memory for the session."""
    from chewdata_spark.queries.extra import stream_events_hourly

    assert stream_events_hourly(spark, sf_dir).count() > 0
    left = [t.name for t in spark.catalog.listTables() if t.name.startswith("_stream_")]
    assert left == []
