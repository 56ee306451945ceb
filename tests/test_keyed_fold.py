"""Default-tier goldens for the keyed-fold kernel
(streaming/stateful.py::keyed_fold) that every GroupState operator
runs on: the fold order across Arrow chunks, batch mode, and one fast
golden per kernel shape — per-row append (CUSUM), per-batch update summary
(counter rate) and event-time timeout with state removal (session
timeout). The long-horizon goldens stay in test_streaming.py (slow
tier)."""

from __future__ import annotations

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from eventstreams_spark.streaming.replay import replay_table, run_to_memory


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_fold_order_spans_arrow_chunks(spark, tmp_path):
    """A key whose micro-batch spans several Arrow chunks must still
    fold in event-time order. One key's 40 rows land in ONE file in
    REVERSE time order, so with maxRecordsPerBatch=4 they reach the
    Python worker as ten chunks, latest first; sorting each chunk on
    its own would run the fold out of order. The stream output must
    equal the same operator over the batch frame."""
    from eventstreams_spark.streaming.stateful import cusum_changepoint_stream

    rows = [
        ("a", f"2024-01-01 10:{i:02d}:00", float((i * 7) % 11))
        for i in reversed(range(40))
    ]
    df = spark.createDataFrame(rows, "k string, ts_s string, v double").select(
        "k", F.to_timestamp("ts_s").alias("ts"), "v"
    )
    kw = dict(target=5.0, slack=0.5, threshold=6.0)
    cols = ("k", "ts", "v", "s_pos", "s_neg", "alarm")
    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(conf)
    spark.conf.set(conf, "4")
    try:
        stream = replay_table(spark, df, str(tmp_path))
        run_to_memory(
            cusum_changepoint_stream(stream, "k", "ts", "v", **kw),
            "t_fold_order",
            output_mode="append",
        )
        got = _rows(spark.table("t_fold_order").select(*cols))
    finally:
        spark.conf.set(conf, old)
    want = _rows(cusum_changepoint_stream(df, "k", "ts", "v", **kw).select(*cols))
    assert len(got) == len(rows)
    assert got == want


def test_batch_frame_key_without_output(spark):
    """On a batch frame the kernel runs each key's step once from
    ``init``; a key whose step emits nothing (key a: one still-open
    session) contributes no rows, next to a key that does emit."""
    from datetime import datetime

    from eventstreams_spark.streaming.stateful import session_path_stream

    rows = [
        ("a", "2024-01-01 10:00:00", "x"),
        ("a", "2024-01-01 10:01:00", "y"),
        ("b", "2024-01-01 10:00:00", "x"),
        ("b", "2024-01-01 13:00:00", "y"),
    ]
    df = spark.createDataFrame(rows, "k string, ts_s string, s string").select(
        "k", F.to_timestamp("ts_s").alias("ts"), "s"
    )
    got = _rows(session_path_stream(df, "k", "ts", "s"))
    start = datetime(2024, 1, 1, 10, 0)
    assert got == [("b", start, start, 1, "x")]

def test_cusum_batch_equals_stream(spark, tmp_path):
    """The batch applyInPandas CUSUM and the streaming GroupState
    CUSUM must produce identical per-event statistics — same fold,
    different carry mechanism."""
    from eventstreams_spark.streaming.stateful import cusum_changepoint_stream

    vals = [12.0, 9.0, 14.0, 7.0, 13.0, 6.0, 15.0, 10.0]
    rows = [
        (k, f"2024-01-01 10:{i:02d}:00", v)
        for k in ("a", "b")
        for i, v in enumerate(vals)
    ]
    df = (
        spark.createDataFrame(rows, "k string, ts_s string, v double")
        .select("k", F.to_timestamp("ts_s").alias("ts"), "v")
    )
    kw = dict(target=10.0, slack=1.0, threshold=4.0)
    stream = replay_table(spark, df, str(tmp_path), chunks=3, order_col="ts")
    run_to_memory(
        cusum_changepoint_stream(stream, "k", "ts", "v", **kw),
        "t_cusum_s",
        output_mode="append",
    )
    got_stream = _rows(
        spark.sql("SELECT k, ts, v, s_pos, s_neg, alarm FROM t_cusum_s")
    )
    got_batch = _rows(
        cusum_changepoint_stream(df, "k", "ts", "v", **kw).select(
            "k", "ts", "v", "s_pos", "s_neg", "alarm"
        )
    )
    assert got_stream == got_batch


def test_counter_rate_batch_equals_stream(spark, events_slice, tmp_path):
    """T14 twin equality: the streaming GroupState counter-rate fold's
    final snapshot must equal the batch lag-window aggregate over the
    same events — increases, resets, and the per-second rate."""
    from eventstreams_spark.streaming.stateful import counter_rate_stream

    ev = events_slice.select("event_id", "ts", "event_type", "value")
    stream = replay_table(spark, ev, str(tmp_path), chunks=3, order_col="ts")
    out = counter_rate_stream(stream, "event_type", "ts", "value")
    run_to_memory(out, "t_rate_s", output_mode="update")
    got = {
        r.event_type: (r.n_samples, r.n_resets, r.total_increase_cents, r.rate_per_sec)
        for r in spark.sql(
            """SELECT * FROM t_rate_s
               WHERE (event_type, n_samples) IN
                     (SELECT event_type, max(n_samples) FROM t_rate_s GROUP BY event_type)"""
        ).collect()
    }
    # batch twin: same fold expressed as lag window + aggregate
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    prev = F.lag("value").over(w)
    increase = (
        F.when(prev.isNull(), F.lit(0.0))
        .when(F.col("value") >= prev, F.col("value") - prev)
        .otherwise(F.col("value"))
    )
    is_reset = (prev.isNotNull() & (F.col("value") < prev)).cast("long")
    want = {
        r.event_type: (r.n, r.nr, r.cents, r.rate)
        for r in ev.select(
            "event_type", F.col("ts").cast("double").alias("es"),
            increase.alias("inc"), is_reset.alias("rst"),
        )
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("rst").alias("nr"),
            F.sum(F.floor(F.col("inc") * 100 + 0.5).cast("long")).alias("cents"),
            F.round(
                F.sum(F.floor(F.col("inc") * 100 + 0.5).cast("long"))
                / 100.0 / (F.max("es") - F.min("es")),
                6,
            ).alias("rate"),
        )
        .collect()
    }
    assert set(got) == set(want)
    for k in want:
        assert got[k][:3] == want[k][:3], (k, got[k], want[k])
        assert got[k][3] == pytest.approx(want[k][3], abs=1e-6), k


def test_session_timeout_stream_emits_final_sessions(
    spark, events_slice, tmp_path
):
    """T6 event-time timeout: gap sessions close EITHER by a
    beyond-gap event or by the watermark passing last+gap (GroupState
    EventTimeTimeout). After a terminal watermark-advancing sentinel,
    the stream's output equals the FULL batch sessionization —
    including each key's final session, the rows the append-mode
    session ops must withhold."""
    from eventstreams_spark.streaming.replay import stage_files
    from eventstreams_spark.streaming.stateful import session_timeout_stream

    ev = events_slice.select("event_id", "ts", "user_id")
    # 3 time-contiguous chunks + a far-future sentinel that pushes the
    # watermark past every real session's last+gap
    src = str(tmp_path / "src")
    from pyspark.sql import Window as W

    chunked = ev.withColumn(
        "_c", F.ntile(3).over(W.orderBy("ts", "event_id"))
    )
    for i in range(1, 4):
        stage_files(chunked.filter(F.col("_c") == i).drop("_c"), src, i)
    sentinel = spark.createDataFrame(
        [(999999, "2025-01-01 00:00:00", -1)],
        "event_id long, ts_s string, user_id long",
    ).select("event_id", F.to_timestamp("ts_s").alias("ts"), "user_id")
    stage_files(sentinel, src, 4)

    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .withWatermark("ts", "0 seconds")
    )
    out = session_timeout_stream(stream, "user_id", "ts", gap_seconds=1800)
    run_to_memory(out, "t_sesstmo_s", output_mode="append")
    got = _rows(
        spark.sql(
            "SELECT user_id, session_start, session_end, n_events"
            " FROM t_sesstmo_s WHERE user_id >= 0"
        )
    )

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    sess = (
        ev.withColumn("prev_ts", F.lag("ts").over(w))
        .withColumn(
            "new_s",
            (
                F.col("prev_ts").isNull()
                | (
                    F.col("ts").cast("double")
                    - F.col("prev_ts").cast("double")
                    > 1800
                )
            ).cast("long"),
        )
        .withColumn("sid", F.sum("new_s").over(w))
    )
    want = _rows(
        sess.groupBy("user_id", "sid").agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
        ).select("user_id", "session_start", "session_end", "n_events")
    )
    assert len(got) == len(want)
    assert got == want
