"""Structured Streaming parity tests: streaming results over a closed
input must equal the batch twin (SURVEY.md §2.4 — streaming surface)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from osm_spark.streaming import events as SE

from kernel_oracles import sessionize_batch

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def events_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("events_stream")
    os.symlink(f"{SF_DIR}/events.parquet", d / "events.parquet")
    return str(d)


def test_windowed_counts_stream_equals_batch(spark, events_dir):
    batch = spark.read.parquet(f"{SF_DIR}/events.parquet")
    want = {
        (r.window_start, r.event_type): (r.n, r.sum_cents)
        for r in SE.windowed_counts(batch).collect()
    }
    stream = SE.read_events_stream(spark, events_dir)
    assert stream.isStreaming
    got_df = SE.run_available_now(
        SE.windowed_counts(stream), "t_win_counts", "complete")
    got = {
        (r.window_start, r.event_type): (r.n, r.sum_cents)
        for r in got_df.collect()
    }
    assert got == want
    assert len(got) > 10


def test_sessionize_stream_closed_sessions_match_batch(spark, events_dir):
    gap = 28800  # 8h; median per-user gap in fixture is ~7.3h
    batch = spark.read.parquet(f"{SF_DIR}/events.parquet")
    bt = sessionize_batch(batch, gap_s=gap)
    # drop each user's final session: the stream can't close it without
    # a watermark advance past its timeout (bounded single-batch input)
    from pyspark.sql import Window

    w = Window.partitionBy("user_id")
    closed_batch = bt.withColumn("last_start", F.max("session_start").over(w)) \
        .filter(F.col("session_start") != F.col("last_start"))
    want = {(r.user_id, r.session_start, r.n_events, r.sum_cents)
            for r in closed_batch.collect()}

    stream = SE.read_events_stream(spark, events_dir)
    # 0s watermark: the fixture is in-order, so every gap-closed
    # session becomes emittable as soon as the watermark reaches the
    # stream's max event time
    got_df = SE.run_available_now(
        SE.sessionize(stream, gap_s=gap, watermark="0 seconds"),
        "t_sessions", "append")
    got = {(r.user_id, r.session_start, r.n_events, r.sum_cents)
           for r in got_df.collect()}
    assert want, "fixture should produce closed sessions"
    assert want <= got  # stream may close more if watermark advanced
    # and everything the stream emitted is a true batch session
    all_batch = {(r.user_id, r.session_start, r.n_events, r.sum_cents)
                 for r in bt.collect()}
    assert got <= all_batch


def test_sessionize_batch_properties(spark):
    batch = spark.read.parquet(f"{SF_DIR}/events.parquet")
    sess = sessionize_batch(batch, gap_s=28800)
    agg = sess.agg(F.sum("n_events").alias("n"),
                   F.sum("sum_cents").alias("c")).first()
    raw = batch.agg(
        F.count("*").alias("n"),
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("c")).first()
    assert (agg.n, agg.c) == (raw.n, raw.c)  # partition of all events


def test_sessionize_flush_full_parity(tmp_path, spark):
    """Flushed bounded replay == batch twin EXACTLY (including each
    user's final session).  Also pins the timeout-emission behavior: the
    sentinel advances the watermark in the final no-data batch, so every
    pending (non-empty) state times out and emits its sessions."""
    gap = 28800
    landing = str(tmp_path / "landing")
    SE.stage_flush_dir(spark, f"{SF_DIR}/events.parquet", landing,
                       gap_s=gap, watermark_s=7200)
    got_df = SE.run_available_now(
        SE.sessionize(SE.read_events_stream(spark, landing), gap_s=gap,
                      watermark="2 hours",
                      exclude_user=SE.FLUSH_SENTINEL_USER),
        "t_flush_sessions", "append")
    got = {(r.user_id, r.session_start, r.n_events, r.sum_cents)
           for r in got_df.collect()}
    batch = spark.read.parquet(f"{SF_DIR}/events.parquet")
    want = {(r.user_id, r.session_start, r.n_events, r.sum_cents)
            for r in sessionize_batch(batch, gap_s=gap).collect()}
    assert got == want
    assert not any(u == SE.FLUSH_SENTINEL_USER for u, *_ in got)


def test_sessionize_stream_late_event_parity(tmp_path, spark):
    """A LATE event (within the watermark) arriving in a later
    micro-batch must land in its correct session — extending it and
    moving its member set — exactly as the batch twin places it."""
    import datetime as dt

    d = tmp_path / "late_events"
    d.mkdir()
    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)

    def rows(specs):
        return [(i, t0 + dt.timedelta(minutes=m), u, "click", 1.0, "{}")
                for i, (u, m) in enumerate(specs)]

    batch1 = rows([(1, 0), (1, 10)])
    # batch 2: a LATE event at +5min for user 1, plus a far-future
    # event for user 2 that pushes the watermark past user 1's close
    batch2 = rows([(1, 5), (2, 60 * 13)])
    # flat single-file parquets (the file stream source lists files,
    # not nested output directories), written by Spark so the
    # timestamp logical type matches the read schema
    for name, data in (("b1", batch1), ("b2", batch2)):
        tmp = d / f"_{name}"
        spark.createDataFrame(data, SE.EVENTS_SCHEMA) \
            .coalesce(1).write.parquet(str(tmp))
        part = next(tmp.glob("part-*.parquet"))
        part.rename(d / f"{name}.parquet")

    gap = 8 * 3600
    stream = spark.readStream.schema(SE.EVENTS_SCHEMA) \
        .option("maxFilesPerTrigger", 1).parquet(str(d))
    got_df = SE.run_available_now(
        SE.sessionize(stream, gap_s=gap, watermark="2 hours"),
        "t_late_sessions", "append")
    got = {(r.user_id, r.session_start, r.n_events, r.sum_cents)
           for r in got_df.collect()}
    # user 1's closed session contains ALL THREE events with the late
    # one in place (start t0, not t0+5min appended out of order)
    assert (1, t0, 3, 300) in got
    # parity: everything emitted is a true batch session over the union
    union = spark.read.parquet(str(d / "b1.parquet")) \
        .unionByName(spark.read.parquet(str(d / "b2.parquet")))
    all_batch = {(r.user_id, r.session_start, r.n_events, r.sum_cents)
                 for r in sessionize_batch(union, gap_s=gap).collect()}
    assert got <= all_batch
