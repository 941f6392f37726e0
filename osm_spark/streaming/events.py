"""Structured Streaming operators over the events stream.

The reference has no event-time streaming (SURVEY.md §2.4 — its
``Data_stream`` is a pull iterator); this module supplies the streaming
surface a large-scale pipeline needs: file-source ingestion, watermarked
tumbling-window aggregation, and a stateful sessionizer via
``applyInPandasWithState``.  Batch/stream parity: every streaming
transformation here has identical semantics to the batch equivalent on
the same closed input, which is how the driver's DuckDB oracle checks
it (run with ``availableNow`` trigger over a static directory).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

EVENTS_SCHEMA = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double, props string"
)


def read_events_stream(spark: SparkSession, path: str) -> DataFrame:
    return spark.readStream.schema(EVENTS_SCHEMA).parquet(path)


def windowed_counts(events: DataFrame) -> DataFrame:
    """1-hour tumbling-window counts per event_type with a 2-hour
    late-data watermark.

    Works on both streaming and batch DataFrames (parity contract)."""
    src = events
    if src.isStreaming:
        src = src.withWatermark("ts", "2 hours")
    cents = F.round(F.col("value") * 100).cast("long")
    return (
        src.withColumn("cents", cents)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"),
             F.sum("cents").alias("sum_cents"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n",
                "sum_cents")
    )


def run_available_now(sdf: DataFrame, table_name: str,
                      output_mode: str = "complete") -> DataFrame:
    """Drain a bounded stream into an in-memory sink and return the
    result table (used for tests and the driver's oracle check).
    ``output_mode``: "complete" for aggregations, "append" for stateful
    ops declared append (e.g. ``sessionize``)."""
    q = (
        sdf.writeStream.format("memory")
        .queryName(table_name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    if not q.awaitTermination(300):
        q.stop()
        raise TimeoutError(
            f"stream '{table_name}' did not drain within 300 s")
    spark = sdf.sparkSession
    return spark.table(table_name)


SESSION_SCHEMA = "user_id long, session_start timestamp, n_events int, sum_cents long"
# buffered (ts, cents) pairs not yet closable by the watermark; size is
# bounded by the watermark horizon per user (same bound Spark's own
# session examples carry)
_STATE_SCHEMA = "ts array<long>, cents array<long>"


def sessionize(events: DataFrame, gap_s: int = 1800,
               watermark: str = "2 hours",
               exclude_user: int | None = None) -> DataFrame:
    """Stateful sessionization: events per user split at gaps > gap_s.

    Drain semantics: on a bounded replay (``availableNow``) the
    watermark never advances past the final real events, so sessions
    still pending at drain are NOT emitted — by design for an unbounded
    stream (they may yet grow), but an undercount for a closed input.
    For bounded replays, stage the input with
    ``stage_flush_dir`` (appends one far-future sentinel event that
    pushes the watermark past every real session's closing gap) and
    pass ``exclude_user=FLUSH_SENTINEL_USER``: the sentinel advances
    the watermark at the ``withWatermark`` node but its group is
    swallowed inside the stateful operator (no state, no output), so
    every real session is emitted and none is fabricated.

    Streaming path: ``applyInPandasWithState`` buffering each user's
    pending events in state and emitting a session only once the
    WATERMARK has passed its closing gap — so a late event (within the
    watermark) arriving in a later micro-batch lands in its correct
    session, extends one backward, or bridges two pending ones, exactly
    as the batch twin would place it.  Emission latency therefore
    equals the watermark delay; pass ``watermark="0 seconds"`` for
    prompt emission when late data is impossible.  Emits closed
    sessions (append mode).  The batch equivalent (same semantics) is
    ``sessionize_batch`` in tests/kernel_oracles.py.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def fn(key, pdfs, state: GroupState):
        user = key[0]
        if exclude_user is not None and user == exclude_user:
            # sentinel exclusion lives HERE, inside the stateful
            # operator, not as a plan-level filter: Catalyst's
            # PushPredicateThroughNonJoin pushes a user_id predicate
            # BELOW the EventTimeWatermark node (it doesn't reference
            # the event-time column), which would silently stop the
            # sentinel from ever advancing the watermark — the exact
            # flush it exists to provide.  The sentinel group consumes
            # its input, stores no state, emits no sessions.
            for _ in pdfs:
                pass
            if state.exists:
                state.remove()
            yield pd.DataFrame(
                [], columns=["user_id", "session_start", "n_events",
                             "sum_cents"])
            return
        rows = []
        wm_ms = state.getCurrentWatermarkMs()
        wm_us = wm_ms * 1000
        gap_us = gap_s * 1_000_000
        buf_ts: list = []
        buf_c: list = []
        if state.exists:
            t0, c0 = state.get
            buf_ts, buf_c = list(t0), list(c0)
        for pdf in pdfs:
            if not len(pdf):
                continue
            ts = (pdf["ts"].astype("int64") // 1000).to_numpy()  # micros
            # HALF_UP (away from zero) like Spark's F.round — pandas
            # .round() is half-to-even and diverges on exact .5 cents,
            # breaking batch/stream parity
            v = pdf["value"].to_numpy() * 100
            cents = (np.sign(v) * np.floor(np.abs(v) + 0.5)).astype("int64")
            buf_ts.extend(int(t) for t in ts)
            buf_c.extend(int(c) for c in cents)
        if buf_ts:
            order = np.argsort(np.asarray(buf_ts, np.int64), kind="stable")
            bts = np.asarray(buf_ts, np.int64)[order]
            bc = np.asarray(buf_c, np.int64)[order]
            splits = np.nonzero(np.diff(bts) > gap_us)[0] + 1
            seg_s = np.concatenate(([0], splits))
            seg_e = np.concatenate((splits, [len(bts)]))
            keep_from = len(bts)
            first_rem_last = None     # last event of the FIRST pending
            for s0, s1 in zip(seg_s, seg_e):
                last = int(bts[s1 - 1])
                # closable only when NO future event can bridge into
                # it: watermark past last + gap
                if wm_us > last + gap_us:
                    rows.append((user, pd.Timestamp(int(bts[s0]), unit="us"),
                                 int(s1 - s0), int(bc[s0:s1].sum())))
                else:
                    keep_from = int(s0)
                    first_rem_last = last
                    break
            rem_ts = bts[keep_from:]
            rem_c = bc[keep_from:]
            if len(rem_ts):
                state.update((rem_ts.tolist(), rem_c.tolist()))
                # wake when the EARLIEST pending session becomes
                # closable — anchoring on the last buffered event would
                # strand earlier sessions of users whose final events
                # sit near the stream's max time
                state.setTimeoutTimestamp(
                    max(first_rem_last // 1000 + gap_s * 1000 + 1,
                        wm_ms + 1))
            elif state.exists:
                state.remove()
        # no `elif state.hasTimedOut: remove()` branch: state is never
        # stored with an empty buffer, so a timed-out group always has
        # buf_ts and takes the branch above
        # (test_sessionize_flush_full_parity pins the behavior: the
        # final no-data batch times out every pending non-empty state
        # and emits its closable sessions)
        yield pd.DataFrame(
            rows, columns=["user_id", "session_start", "n_events", "sum_cents"])

    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            fn, SESSION_SCHEMA, _STATE_SCHEMA, "append",
            GroupStateTimeout.EventTimeTimeout,
        )
    )


FLUSH_SENTINEL_USER = -(1 << 62)


def stage_flush_dir(spark: SparkSession, src_path: str, landing_dir: str,
                    gap_s: int, watermark_s: int) -> None:
    """Stage a bounded events directory for a fully-flushed replay.

    Copies ``src_path`` into ``landing_dir`` (via Spark, so any Hadoop
    FileSystem scheme works) and then appends ONE sentinel event with
    ``user_id = FLUSH_SENTINEL_USER`` and
    ``ts = max(ts) + watermark + gap + 2s``.  During an
    ``availableNow`` replay the sentinel drives the final watermark
    past every real session's closing gap, so ``sessionize(...,
    exclude_user=FLUSH_SENTINEL_USER)`` emits every session of the
    closed input (batch/stream parity on totals, not just on closed
    prefixes).  The sentinel file is written LAST so the file source's
    mtime-ascending ordering cannot process it before real data (a
    sentinel-first batch would advance the watermark over yet-unread
    late files).  Bounded-replay utility only — an unbounded stream
    has no end to flush.
    """
    ev = spark.read.schema(EVENTS_SCHEMA).parquet(src_path)
    max_ts = ev.agg(F.max("ts")).first()[0]
    if max_ts is None:
        # fail BEFORE mutating landing_dir: an interpolated NULL would
        # otherwise surface as a cryptic timestamp-literal parse error
        # after a half-staged (empty) landing dir was already written
        raise ValueError(f"stage_flush_dir: {src_path} has no events "
                         "to stage")
    ev.write.mode("overwrite").parquet(landing_dir)
    sent = spark.sql(
        "SELECT CAST(-1 AS LONG) event_id, "
        f"timestamp'{max_ts}' + make_interval(0,0,0,0,0,0,{gap_s + watermark_s + 2}) ts, "
        f"CAST({FLUSH_SENTINEL_USER} AS LONG) user_id, "
        "'__flush__' event_type, CAST(0.0 AS DOUBLE) value, "
        "CAST(NULL AS STRING) props")
    sent.coalesce(1).write.mode("append").parquet(landing_dir)
