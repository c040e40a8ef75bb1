"""Structured Streaming tests: bounded drain through the writer sink,
and batch/stream equivalence of the windowed transforms (SURVEY §7
hard-5: session/watermark semantics bound by construction tests)."""

from __future__ import annotations

import pyspark.sql.functions as F

import os

import pytest

from target_iceberg_spark.sources.tables import load_table
from target_iceberg_spark.streaming.pipeline import (
    read_event_stream,
    run_bounded,
    session_counts,
    tumbling_counts,
)
from target_iceberg_spark.writer import StreamWriter, WriterConfig


@pytest.fixture()
def events_dir(sf_smoke, tmp_path):
    """File streaming sources need a directory; symlink the events file."""
    d = tmp_path / "events_src"
    d.mkdir()
    os.symlink(f"{sf_smoke}/events.parquet", d / "events.parquet")
    return str(d)


def test_stream_passthrough_lands_all_rows(spark, sf_smoke, events_dir, tmp_path):
    writer = StreamWriter(spark, WriterConfig(warehouse=str(tmp_path / "wh")), mode="parquet")
    run_bounded(
        spark,
        events_dir,
        writer,
        "events_stream",
        str(tmp_path / "ckpt"),
    )
    n_stream = writer.read("events_stream").count()
    n_batch = load_table(spark, sf_smoke, "events").count()
    assert n_stream == n_batch
    # ts survived the nanos->timestamp normalization
    assert dict(writer.read("events_stream").dtypes)["ts"].startswith("timestamp")


def test_tumbling_stream_equals_batch(spark, sf_smoke, events_dir, tmp_path):
    writer = StreamWriter(spark, WriterConfig(warehouse=str(tmp_path / "wh")), mode="parquet")
    run_bounded(
        spark,
        events_dir,
        writer,
        "hourly",
        str(tmp_path / "ckpt"),
        transform=lambda ev: tumbling_counts(ev, "1 hour", "2 hours"),
    )
    got = {
        (r["win_start"], r["event_type"]): (r["n_events"], r["sum_value"])
        for r in writer.read("hourly").collect()
    }
    batch = (
        load_table(spark, sf_smoke, "events")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("s"))
        .select(F.col("w.start").alias("ws"), "event_type", "n", "s")
    )
    want = {(r["ws"], r["event_type"]): (r["n"], r["s"]) for r in batch.collect()}
    assert got == want


def test_session_stream_builds(spark, events_dir):
    """Session windows are valid on an unbounded plan (schema check —
    value equivalence is covered by the batch oracle stream_session)."""
    ev = read_event_stream(spark, events_dir)
    out = session_counts(ev)
    assert out.isStreaming
    assert set(out.columns) == {"user_id", "sess_start", "n_events", "sum_value"}


def test_watermark_drops_late_events(spark, tmp_path):
    """Late-data policy (SURVEY §2B streaming row): an event arriving
    after the watermark has passed its window is dropped from the
    windowed aggregate; on-time events in later epochs still count."""
    import pandas as pd

    src = tmp_path / "late_src"
    src.mkdir()

    def write_file(name, rows):
        pdf = pd.DataFrame(
            {
                "event_id": [r[0] for r in rows],
                "ts": [int(pd.Timestamp(r[1]).value) for r in rows],  # epoch ns
                "user_id": [1] * len(rows),
                "event_type": ["click"] * len(rows),
                "value": [1.0] * len(rows),
                "props": ["{}"] * len(rows),
            }
        )
        pdf.to_parquet(src / name)

    from target_iceberg_spark.streaming.pipeline import (
        read_event_stream,
        tumbling_counts,
    )

    out_dir = str(tmp_path / "out")

    def run_once():
        # watermark state persists in the checkpoint across runs
        events = read_event_stream(spark, str(src))
        agg = tumbling_counts(events, "1 hour", "1 hour")
        q = (
            agg.writeStream.outputMode("append")  # append => finalized windows
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .format("parquet")
            .option("path", out_dir)
            .start()
        )
        q.awaitTermination()

    # run 1: ten events in the 00:00 hour + one at 05:00 that pushes
    # the watermark (1h delay) to 04:00, far past the 00:00 window
    write_file(
        "0.parquet",
        [(i, f"2024-01-01 00:{i:02d}:00") for i in range(10)]
        + [(99, "2024-01-01 05:00:00")],
    )
    run_once()
    # run 2: one LATE event back in the finalized 00:00 window (dropped),
    # one admissible into the open 05:00 window (counted), one pusher
    # that moves the watermark to 06:30 past the 05:00 window's end
    write_file(
        "1.parquet",
        [
            (100, "2024-01-01 00:30:00"),
            (101, "2024-01-01 05:30:00"),
            (102, "2024-01-01 07:30:00"),
        ],
    )
    run_once()
    # run 3: a batch under the 06:30 watermark flushes the finalized
    # 05:00 window; 08:30's own window (and 07:00's) stay open
    write_file("2.parquet", [(103, "2024-01-01 08:30:00")])
    run_once()

    got = {
        r["win_start"].hour: (r["n_events"], r["sum_value"])
        for r in spark.read.parquet(out_dir).collect()
    }
    # exact finalized-window contents: the 00:00 window holds 10 events
    # (the too-late event_id=100 must NOT be counted — 11 means the
    # watermark leaked), the 05:00 window holds its on-time event plus
    # the admissible run-2 event; no other window may have finalized
    assert got == {0: (10, 10.0), 5: (2, 2.0)}


def test_epoch_marker_is_per_checkpoint_not_per_table(spark, sf_smoke, tmp_path):
    """A SECOND streaming query (fresh checkpoint) appending to the same
    table must not be suppressed by the first query's epoch marker."""
    import os

    from target_iceberg_spark.streaming.pipeline import run_bounded

    src1 = tmp_path / "src1"; src1.mkdir()
    src2 = tmp_path / "src2"; src2.mkdir()
    os.symlink(f"{sf_smoke}/events.parquet", src1 / "a.parquet")
    os.symlink(f"{sf_smoke}/events.parquet", src2 / "b.parquet")
    writer = StreamWriter(spark, WriterConfig(warehouse=str(tmp_path / "wh")), mode="parquet")
    run_bounded(spark, str(src1), writer, "ev", str(tmp_path / "ckpt1"))
    n1 = writer.read("ev").count()
    run_bounded(spark, str(src2), writer, "ev", str(tmp_path / "ckpt2"))
    n2 = writer.read("ev").count()
    assert n2 == 2 * n1  # the second query's epoch 0 must land


def test_stateful_first_seen_dedup_stream_equals_batch(spark, sf_smoke, events_dir, tmp_path):
    """applyInPandasWithState first-seen dedup: the streaming operator's
    output matches the batch twin (row_number ascending == 1) on the
    same bounded input — one row per user, the (ts, event_id)-minimal
    one."""
    from target_iceberg_spark.plans.registry import queries
    from target_iceberg_spark.streaming.stateful import first_seen_dedup

    stream = read_event_stream(spark, events_dir)
    deduped = first_seen_dedup(
        stream.select("user_id", "event_id", "ts", "event_type"),
        key_col="user_id",
        order_cols=("ts", "event_id"),
        state_timeout_ms=None,  # bounded drain: see first_seen_dedup docstring
    )
    q = (
        deduped.writeStream.format("memory")
        .queryName("first_seen_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_dedup"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["user_id"], r["event_id"])
        for r in spark.table("first_seen_out").collect()
    }
    batch = queries()["stream_dedup_first"](spark, sf_smoke)
    expect = {(r["user_id"], r["event_id"]) for r in batch.collect()}
    assert got == expect and got


def test_stateful_dedup_suppresses_cross_batch_duplicates(spark, tmp_path):
    """Duplicates arriving in a LATER micro-batch are suppressed by the
    per-key state (the property plain dropDuplicates-per-batch lacks).
    maxFilesPerTrigger=1 forces the two files into separate micro-batches
    of one run; file mtimes fix the batch order."""
    import os

    import pandas as pd

    from target_iceberg_spark.streaming.stateful import first_seen_dedup

    src = tmp_path / "dup_src"
    src.mkdir()
    pd.DataFrame(
        {"event_id": [1, 2], "user_id": [10, 20], "ts": [100, 200]}
    ).to_parquet(src / "a.parquet")
    # batch 2: same event_ids again with different users (+ one new key)
    pd.DataFrame(
        {"event_id": [1, 2, 3], "user_id": [99, 99, 30], "ts": [300, 400, 500]}
    ).to_parquet(src / "b.parquet")
    os.utime(src / "a.parquet", (1_000_000, 1_000_000))
    os.utime(src / "b.parquet", (2_000_000, 2_000_000))
    stream = (
        spark.readStream.schema("event_id LONG, user_id LONG, ts LONG")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    deduped = first_seen_dedup(
        stream, key_col="event_id", order_cols=("ts",), state_timeout_ms=None
    )
    q = (
        deduped.writeStream.format("memory")
        .queryName("dup_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_dup"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = {r["event_id"]: r["user_id"] for r in spark.table("dup_out").collect()}
    # keys 1/2 keep their batch-1 rows (99s suppressed); 3 emits from batch 2
    assert rows == {1: 10, 2: 20, 3: 30}


def test_stateful_sessionize_matches_batch_closed_sessions(spark, sf_smoke, events_dir, tmp_path):
    """Custom applyInPandasWithState sessionization: every session the
    watermark has passed is emitted and matches the built-in
    session_window batch twin (stream_session) exactly; open tail
    sessions (last_ts + gap > final watermark) are the only ones
    allowed to be missing."""
    import datetime as dt

    from target_iceberg_spark.plans.registry import queries
    from target_iceberg_spark.streaming.stateful import sessionize

    stream = read_event_stream(spark, events_dir)
    q = (
        sessionize(stream.select("user_id", "ts", "value"))
        .writeStream.format("memory")
        .queryName("sess_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_sess"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {
        (r["user_id"], r["sess_start"], r["n_events"], r["sum_value"])
        for r in spark.table("sess_out").collect()
    }

    batch = queries()["stream_session"](spark, sf_smoke)
    ev = load_table(spark, sf_smoke, "events")
    max_ts = ev.agg(F.max("ts")).collect()[0][0]  # watermark after drain
    gap = dt.timedelta(minutes=30)
    expect_closed = set()
    tail = set()
    # session end = sess_start-anchored last event; recompute ends from
    # the raw events to classify closed vs open-tail sessions
    ends = {
        (r["user_id"], r["sess_start"]): r["sess_end"]
        for r in ev.groupBy(
            F.session_window("ts", "30 minutes").alias("w"), "user_id"
        )
        .agg(F.max("ts").alias("last_ts"))
        .select(
            "user_id",
            F.col("w.start").alias("sess_start"),
            F.col("last_ts").alias("sess_end"),
        )
        .collect()
    }
    for r in batch.collect():
        row = (r["user_id"], r["sess_start"], r["n_events"], r["sum_value"])
        if ends[(r["user_id"], r["sess_start"])] + gap <= max_ts:
            expect_closed.add(row)
        else:
            tail.add(row)
    assert expect_closed, "testdata produced no closed sessions"
    assert expect_closed <= got  # every watermark-passed session emitted
    assert got <= expect_closed | tail  # nothing invented


def test_stream_stream_interval_join_equals_batch(spark, sf_smoke, events_dir, tmp_path):
    """Watermarked stream-stream inner join drains to exactly the batch
    interval-join result on bounded input (inner join + availableNow =>
    every match emitted once)."""
    from target_iceberg_spark.plans.registry import queries
    from target_iceberg_spark.streaming.pipeline import interval_join

    ev = read_event_stream(spark, events_dir)
    p = ev.where(F.col("event_type") == "purchase").select(
        "user_id",
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
    )
    c = ev.where(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user_id"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    q = (
        interval_join(p, c)
        .writeStream.format("memory")
        .queryName("ij_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_ij"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {
        (r["user_id"], r["purchase_id"], r["click_id"])
        for r in spark.table("ij_out").collect()
    }
    batch = queries()["stream_join_interval"](spark, sf_smoke)
    want = {
        (r["user_id"], r["purchase_id"], r["click_id"]) for r in batch.collect()
    }
    assert got == want and got


def test_stateful_sessionize_carries_state_across_batches(spark, tmp_path):
    """Two micro-batches: the open session carried in state is extended
    by a continuing event, closed by a gap event in the later batch, and
    an idle key's open session is flushed by the event-time timeout once
    another key's events advance the watermark."""
    import pandas as pd

    from target_iceberg_spark.streaming.stateful import sessionize

    t0 = pd.Timestamp("2024-01-01 00:00:00")

    def mk(name, rows):
        pd.DataFrame(
            {
                "user_id": [r[0] for r in rows],
                "ts": [int((t0 + pd.Timedelta(minutes=r[1])).value) for r in rows],
                "value": [r[2] for r in rows],
            }
        ).to_parquet(tmp_path / "sess_src" / name)

    src = tmp_path / "sess_src"
    src.mkdir()
    # batch 1: user 1 two events (open session), user 2 one event
    mk("a.parquet", [(1, 0, 1.0), (1, 10, 2.0), (2, 5, 5.0)])
    # batch 2: user 1 continues at +20min (gap 10 < 30 extends), then a
    # +120min event closes the carried session; user 2 idle -> its open
    # session must flush via timeout when the watermark hits +120min
    mk("b.parquet", [(1, 20, 3.0), (1, 120, 4.0)])
    import os

    os.utime(src / "a.parquet", (1_000_000, 1_000_000))
    os.utime(src / "b.parquet", (2_000_000, 2_000_000))

    stream = (
        spark.readStream.schema("user_id LONG, ts LONG, value DOUBLE")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    # ts arrives as epoch nanos; normalize like read_event_stream does
    stream = stream.withColumn(
        "ts", F.timestamp_micros((F.col("ts") / 1000).cast("long")).cast("timestamp")
    )
    q = (
        sessionize(stream)
        .writeStream.format("memory")
        .queryName("sess_xbatch")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_sx"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    rows = {
        (r["user_id"], r["sess_start"], r["n_events"], r["sum_value"])
        for r in spark.table("sess_xbatch").collect()
    }
    expect = {
        # user 1: carried session t0..t0+20 (3 events) closed by the gap
        (1, (t0).to_pydatetime(), 3, 6.0),
        # user 2: open session flushed by watermark timeout
        (2, (t0 + pd.Timedelta(minutes=5)).to_pydatetime(), 1, 5.0),
    }
    # user 1's +120min tail stays open (timeout beyond final watermark)
    assert rows == expect


def test_streaming_upsert_sink_applies_last_write_wins(spark, tmp_path):
    """foreachBatch upsert sink (streaming CDC apply): a later
    micro-batch's row for an existing key REPLACES it instead of
    appending — one row per key at the end, carrying the newest
    values."""
    import os

    import pandas as pd

    src = tmp_path / "cdc_src"
    src.mkdir()

    def mk(name, rows):
        pd.DataFrame(
            {
                "event_id": [r[0] for r in rows],
                "ts": [int(pd.Timestamp(r[1]).value) for r in rows],
                "user_id": [r[2] for r in rows],
                "event_type": ["click"] * len(rows),
                "value": [r[3] for r in rows],
                "props": ["{}"] * len(rows),
            }
        ).to_parquet(src / name)

    mk("a.parquet", [(1, "2024-01-01 00:00:00", 10, 1.0), (2, "2024-01-01 00:01:00", 20, 2.0)])
    mk("b.parquet", [(1, "2024-01-01 01:00:00", 10, 9.0), (3, "2024-01-01 01:01:00", 30, 3.0)])
    os.utime(src / "a.parquet", (1_000_000, 1_000_000))
    os.utime(src / "b.parquet", (2_000_000, 2_000_000))

    from target_iceberg_spark.streaming.pipeline import run_bounded

    writer = StreamWriter(
        spark, WriterConfig(warehouse=str(tmp_path / "wh")), mode="parquet"
    )
    # force two micro-batches so the upsert crosses epochs
    import target_iceberg_spark.streaming.pipeline as pl

    events = pl.read_event_stream(spark, str(src), max_files_per_trigger=1)
    q = pl.write_stream_to_table(
        events, writer, "cdc", str(tmp_path / "ckpt_cdc"), upsert_keys=["event_id"]
    )
    q.awaitTermination()
    rows = {r["event_id"]: r["value"] for r in writer.read("cdc").collect()}
    assert rows == {1: 9.0, 2: 2.0, 3: 3.0}  # key 1 updated, not duplicated


def test_stateful_sessionize_late_event_does_not_rewind_session(spark, tmp_path):
    """With a non-zero watermark delay, an admissible late event (older
    than the carried session's last_ts) merges INTO the open session
    without rewinding it: a following event within gap of the TRUE
    last_ts must extend, not split, and the late event can stretch the
    session backward."""
    import os

    import pandas as pd

    from target_iceberg_spark.streaming.stateful import sessionize

    t0 = pd.Timestamp("2024-01-01 12:00:00")

    def mk(name, rows):
        pd.DataFrame(
            {
                "user_id": [r[0] for r in rows],
                "ts": [int((t0 + pd.Timedelta(minutes=r[1])).value) for r in rows],
                "value": [r[2] for r in rows],
            }
        ).to_parquet(tmp_path / "late_sess" / name)

    src = tmp_path / "late_sess"
    src.mkdir()
    # batch 1: open session for user 1 with last_ts = +0min
    mk("a.parquet", [(1, 0, 1.0)])
    # batch 2: late event at -4min (admissible: watermark delay 10min),
    # then +26min (26 < 30 gap from TRUE last 0min — must EXTEND), then
    # +120min closes the session; separate user 9 advances watermark
    mk("b.parquet", [(1, -4, 2.0), (1, 26, 3.0), (1, 120, 4.0), (9, 180, 0.0)])
    os.utime(src / "a.parquet", (1_000_000, 1_000_000))
    os.utime(src / "b.parquet", (2_000_000, 2_000_000))

    stream = (
        spark.readStream.schema("user_id LONG, ts LONG, value DOUBLE")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    stream = stream.withColumn(
        "ts", F.timestamp_micros((F.col("ts") / 1000).cast("long")).cast("timestamp")
    )
    q = (
        sessionize(stream, watermark_delay="10 minutes")
        .writeStream.format("memory")
        .queryName("late_sess_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_ls"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {
        (r["user_id"], r["sess_start"], r["n_events"], r["sum_value"])
        for r in spark.table("late_sess_out").collect()
    }
    # user 1's first session: stretched back to -4min, extended to
    # +26min (NOT split at the late event), 3 events, sum 6.0; the
    # +120min tail then flushes by timeout (watermark reaches +170min
    # via user 9, past 120+30)
    merged = (1, (t0 - pd.Timedelta(minutes=4)).to_pydatetime(), 3, 6.0)
    tail = (1, (t0 + pd.Timedelta(minutes=120)).to_pydatetime(), 1, 4.0)
    assert {r for r in got if r[0] == 1} == {merged, tail}, got


def test_stateful_sessionize_deep_late_event_forms_own_session(spark, tmp_path):
    """An admissible late event MORE than gap before the carried
    session's start must NOT merge into it (session_window merges only
    events within gap of the interval): it forms its own closed
    session, and the carried session is unaffected."""
    import os

    import pandas as pd

    from target_iceberg_spark.streaming.stateful import sessionize

    t0 = pd.Timestamp("2024-01-01 12:00:00")

    def mk(name, rows):
        pd.DataFrame(
            {
                "user_id": [r[0] for r in rows],
                "ts": [int((t0 + pd.Timedelta(minutes=r[1])).value) for r in rows],
                "value": [r[2] for r in rows],
            }
        ).to_parquet(tmp_path / "dl_src" / name)

    src = tmp_path / "dl_src"
    src.mkdir()
    # batch 1: open session [12:00] for user 1
    mk("a.parquet", [(1, 0, 1.0)])
    # batch 2: deep-late event at -60min (gap 30 => disconnected), a
    # continuation at +10min, then +120min closes the carried session;
    # user 9 pushes the final watermark to +90min (delay 2h)
    mk("b.parquet", [(1, -60, 5.0), (1, 10, 2.0), (1, 120, 4.0), (9, 210, 0.0)])
    os.utime(src / "a.parquet", (1_000_000, 1_000_000))
    os.utime(src / "b.parquet", (2_000_000, 2_000_000))

    stream = (
        spark.readStream.schema("user_id LONG, ts LONG, value DOUBLE")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    stream = stream.withColumn(
        "ts", F.timestamp_micros((F.col("ts") / 1000).cast("long")).cast("timestamp")
    )
    q = (
        sessionize(stream, watermark_delay="2 hours")
        .writeStream.format("memory")
        .queryName("dl_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_dl"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {
        (r["user_id"], r["sess_start"], r["n_events"], r["sum_value"])
        for r in spark.table("dl_out").collect()
    }
    u1 = {r for r in got if r[0] == 1}
    # the deep-late event is its own session; the carried session keeps
    # start 12:00 and absorbs only the +10min continuation
    late = (1, (t0 - pd.Timedelta(minutes=60)).to_pydatetime(), 1, 5.0)
    main = (1, t0.to_pydatetime(), 2, 3.0)
    assert late in u1 and main in u1, got


def test_stateful_sessionize_tie_at_session_start_does_not_bridge(spark, tmp_path):
    """A real event at EXACTLY the carried session's start ts must not
    act as a bridge between a disconnected deep-late row and the
    carried session: the late row stays its own closed session."""
    import os

    import pandas as pd

    from target_iceberg_spark.streaming.stateful import sessionize

    t0 = pd.Timestamp("2024-01-01 12:00:00")

    def mk(name, rows):
        pd.DataFrame(
            {
                "user_id": [r[0] for r in rows],
                "ts": [int((t0 + pd.Timedelta(minutes=r[1])).value) for r in rows],
                "value": [r[2] for r in rows],
            }
        ).to_parquet(tmp_path / "tie_src" / name)

    src = tmp_path / "tie_src"
    src.mkdir()
    # batch 1: carried session [12:00, 12:10]
    mk("a.parquet", [(1, 0, 1.0), (1, 10, 1.0)])
    # batch 2: deep-late at -60min, duplicate-ts row at exactly 12:00,
    # closer at +120min; user 9 advances the watermark
    mk("b.parquet", [(1, -60, 9.0), (1, 0, 1.0), (1, 120, 4.0), (9, 300, 0.0)])
    os.utime(src / "a.parquet", (1_000_000, 1_000_000))
    os.utime(src / "b.parquet", (2_000_000, 2_000_000))

    stream = (
        spark.readStream.schema("user_id LONG, ts LONG, value DOUBLE")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    stream = stream.withColumn(
        "ts", F.timestamp_micros((F.col("ts") / 1000).cast("long")).cast("timestamp")
    )
    q = (
        sessionize(stream, watermark_delay="2 hours")
        .writeStream.format("memory")
        .queryName("tie_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_tie"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    u1 = {
        (r["sess_start"], r["n_events"], r["sum_value"])
        for r in spark.table("tie_out").collect()
        if r["user_id"] == 1
    }
    late = ((t0 - pd.Timedelta(minutes=60)).to_pydatetime(), 1, 9.0)
    main = (t0.to_pydatetime(), 3, 3.0)  # carried 2 events + the tie row
    assert late in u1 and main in u1, u1


def test_stream_stream_left_join_emits_unmatched_after_watermark(spark, tmp_path):
    """Stream-stream LEFT OUTER interval join: a matched purchase emits
    its match; an unmatched purchase is held in state and emitted with
    NULL click columns only once the click-side watermark passes its
    join window."""
    import pandas as pd

    from target_iceberg_spark.streaming.pipeline import (
        interval_join_left,
        read_event_stream,
    )

    src = tmp_path / "lj_src"
    src.mkdir()

    def write_file(name, rows):  # rows: (event_id, ts, event_type)
        pd.DataFrame(
            {
                "event_id": [r[0] for r in rows],
                "ts": [int(pd.Timestamp(r[1]).value) for r in rows],
                "user_id": [1] * len(rows),
                "event_type": [r[2] for r in rows],
                "value": [1.0] * len(rows),
                "props": ["{}"] * len(rows),
            }
        ).to_parquet(src / name)

    def run_once():
        ev = read_event_stream(spark, str(src))
        p = ev.where(F.col("event_type") == "purchase").select(
            "user_id",
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
        )
        c = ev.where(F.col("event_type") == "click").select(
            F.col("user_id").alias("c_user_id"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
        q = (
            interval_join_left(p, c)
            .writeStream.outputMode("append")
            .option("checkpointLocation", str(tmp_path / "lj_ckpt"))
            .trigger(availableNow=True)
            .format("parquet")
            .option("path", str(tmp_path / "lj_out"))
            .start()
        )
        q.awaitTermination()

    # C1 matches P1 (within the preceding hour); P2 has no click
    write_file(
        "0.parquet",
        [
            (1, "2024-01-01 00:30:00", "click"),
            (2, "2024-01-01 01:00:00", "purchase"),
            (3, "2024-01-01 02:00:00", "purchase"),
        ],
    )
    run_once()
    # the join's GLOBAL watermark is the min over both sides, so BOTH
    # sides need later events: P4+C9 (a matched pair) move the purchase
    # watermark to 06:00 and the click watermark to 05:00 — global
    # 05:00, past P2's join window
    write_file(
        "1.parquet",
        [(9, "2024-01-01 05:00:00", "click"), (4, "2024-01-01 06:00:00", "purchase")],
    )
    run_once()
    # one more click batch advances the click side; global watermark
    # min(06:00, 09:00) = 06:00 > 02:00 flushes P2 as unmatched
    write_file("2.parquet", [(10, "2024-01-01 09:00:00", "click")])
    run_once()

    got = {
        (r["purchase_id"], r["click_id"])
        for r in spark.read.parquet(str(tmp_path / "lj_out")).collect()
    }
    assert got == {(2, 1), (4, 9), (3, None)}


def test_stateful_last_touch_attribution_stream_equals_batch(
    spark, sf_smoke, events_dir, tmp_path
):
    """Streaming last-touch attribution matches the batch window twin
    (last non-purchase type over the preceding frame) on a bounded
    in-order drain — per-purchase channel credit, '(none)' when no
    touch precedes."""
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    from target_iceberg_spark.sources.tables import load_table
    from target_iceberg_spark.streaming.stateful import last_touch_attribution

    stream = read_event_stream(spark, events_dir)
    attributed = last_touch_attribution(
        stream.select("user_id", "event_id", "ts", "event_type"),
        key_col="user_id",
        state_timeout_ms=None,  # bounded drain
    )
    q = (
        attributed.writeStream.format("memory")
        .queryName("attrib_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_attrib"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["user_id"], r["event_id"], r["channel"])
        for r in spark.table("attrib_out").collect()
    }
    ev = load_table(spark, sf_smoke, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    batch = (
        ev.select(
            "user_id",
            "event_id",
            "event_type",
            F.last(
                F.when(F.col("event_type") != "purchase", F.col("event_type")),
                ignorenulls=True,
            )
            .over(w.rowsBetween(Window.unboundedPreceding, -1))
            .alias("lt"),
        )
        .where(F.col("event_type") == "purchase")
        .select(
            "user_id", "event_id", F.coalesce("lt", F.lit("(none)")).alias("channel")
        )
    )
    expect = {
        (r["user_id"], r["event_id"], r["channel"]) for r in batch.collect()
    }
    assert got == expect and got


def test_stateful_attribution_state_carries_across_batches(spark, tmp_path):
    """A touch seen in batch N credits a conversion arriving in batch
    N+1 (per-key last-touch state persists), and a conversion whose
    key never touched credits '(none)'. maxFilesPerTrigger=1 splits
    the two files into ordered micro-batches."""
    import os

    import pandas as pd

    from target_iceberg_spark.streaming.stateful import last_touch_attribution

    src = tmp_path / "attrib_src"
    src.mkdir()
    # batch 1: user 1 clicks; user 2 converts untouched
    pd.DataFrame(
        {
            "user_id": [1, 2],
            "event_id": [10, 20],
            "ts": pd.to_datetime(
                ["2024-01-01 00:00:01", "2024-01-01 00:00:02"]
            ).astype("datetime64[us]"),
            "event_type": ["click", "purchase"],
        }
    ).to_parquet(src / "a.parquet")
    # batch 2: user 1 converts (credited to batch-1 click), then views,
    # then converts again (credited to the fresher view)
    pd.DataFrame(
        {
            "user_id": [1, 1, 1],
            "event_id": [11, 12, 13],
            "ts": pd.to_datetime(
                ["2024-01-01 00:01:00", "2024-01-01 00:02:00", "2024-01-01 00:03:00"]
            ).astype("datetime64[us]"),
            "event_type": ["purchase", "view", "purchase"],
        }
    ).to_parquet(src / "b.parquet")
    os.utime(src / "a.parquet", (1_000_000, 1_000_000))
    os.utime(src / "b.parquet", (2_000_000, 2_000_000))
    stream = (
        spark.readStream.schema(
            "user_id LONG, event_id LONG, ts TIMESTAMP, event_type STRING"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    attributed = last_touch_attribution(stream, state_timeout_ms=None)
    q = (
        attributed.writeStream.format("memory")
        .queryName("attrib_xbatch")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_xbatch"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["user_id"], r["event_id"], r["channel"])
        for r in spark.table("attrib_xbatch").collect()
    }
    assert got == {
        (2, 20, "(none)"),  # untouched key
        (1, 11, "click"),  # credited across the batch boundary
        (1, 13, "view"),  # fresher same-batch touch wins
    }


def test_stateful_attribution_nondefault_schema(spark, tmp_path):
    """A STRING key plus renamed id/ts/type columns round-trips: the
    output struct is derived from the input schema, not hard-coded to
    the demo events layout (regression: key was pinned to 'long' and
    the column names to event_id/ts/event_type)."""
    import pandas as pd

    from target_iceberg_spark.streaming.stateful import last_touch_attribution

    src = tmp_path / "attrib_str_src"
    src.mkdir()
    pd.DataFrame(
        {
            "device_id": ["a", "a", "b"],
            "eid": [1, 2, 3],
            "event_ts": pd.to_datetime(
                ["2024-01-01 00:00:01", "2024-01-01 00:00:02", "2024-01-01 00:00:03"]
            ).astype("datetime64[us]"),
            "etype": ["swipe", "install", "install"],
        }
    ).to_parquet(src / "a.parquet")
    stream = spark.readStream.schema(
        "device_id STRING, eid LONG, event_ts TIMESTAMP, etype STRING"
    ).parquet(str(src))
    attributed = last_touch_attribution(
        stream,
        key_col="device_id",
        conversion_type="install",
        order_cols=("event_ts", "eid"),
        id_col="eid",
        ts_col="event_ts",
        type_col="etype",
    )
    assert [f.name for f in attributed.schema.fields] == [
        "device_id", "eid", "event_ts", "channel",
    ]
    assert attributed.schema["device_id"].dataType.simpleString() == "string"
    q = (
        attributed.writeStream.format("memory")
        .queryName("attrib_str")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_attrib_str"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["device_id"], r["eid"], r["channel"])
        for r in spark.table("attrib_str").collect()
    }
    assert got == {("a", 2, "swipe"), ("b", 3, "(none)")}


def test_ohlc_stream_equals_batch(spark, sf_smoke, events_dir, tmp_path):
    """Streaming OHLC candles (min_by/max_by state merged across
    micro-batches) must equal the batch events_ohlc aggregate on the
    same bounded input."""
    from target_iceberg_spark.streaming.pipeline import ohlc_candles

    writer = StreamWriter(
        spark, WriterConfig(warehouse=str(tmp_path / "wh")), mode="parquet"
    )
    run_bounded(
        spark,
        events_dir,
        writer,
        "candles",
        str(tmp_path / "ckpt"),
        transform=lambda ev: ohlc_candles(ev, "1 hour", "2 hours"),
    )
    got = {
        (r["hour"], r["event_type"]): (
            r["open"], r["high"], r["low"], r["close"], r["n_events"], r["volume"]
        )
        for r in writer.read("candles").collect()
    }
    from target_iceberg_spark.plans import all_specs

    batch = all_specs()["events_ohlc"].builder(spark, sf_smoke)
    want = {
        (r["hour"], r["event_type"]): (
            r["open"], r["high"], r["low"], r["close"], r["n_events"], r["volume"]
        )
        for r in batch.collect()
    }
    assert got == want


def test_streaming_heavy_hitters_survival_across_batches(spark, tmp_path):
    """The MG survival guarantee must hold over the WHOLE stream, not
    per batch: a key heavy overall but split thin across micro-batches
    survives the final sketch because state persists. Final candidates
    must cover the exact top-3; per-bucket snapshots carry increasing
    epochs proving cross-batch state."""
    import os

    import pandas as pd

    from target_iceberg_spark.streaming.stateful import streaming_heavy_hitters

    src = tmp_path / "hh_src"
    src.mkdir()
    # 'hot' is heavy overall; each batch alone also carries tail noise.
    batch1 = ["hot"] * 60 + [f"t{i}" for i in range(30)]
    batch2 = ["hot"] * 60 + ["warm"] * 50 + [f"u{i}" for i in range(30)]
    pd.DataFrame({"token": batch1}).to_parquet(src / "a.parquet")
    pd.DataFrame({"token": batch2}).to_parquet(src / "b.parquet")
    os.utime(src / "a.parquet", (1_000_000, 1_000_000))
    os.utime(src / "b.parquet", (2_000_000, 2_000_000))
    stream = (
        spark.readStream.schema("token STRING")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    cands = streaming_heavy_hitters(stream, n_buckets=4, capacity=16)
    q = (
        cands.writeStream.format("memory")
        .queryName("hh_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_hh"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.table("hh_out").collect()
    assert rows
    # keep each bucket's LAST snapshot (highest epoch) — the final sketch
    last_epoch: dict[int, int] = {}
    for r in rows:
        last_epoch[r["bucket"]] = max(last_epoch.get(r["bucket"], 0), r["epoch"])
    final = {
        r["token"]
        for r in rows
        if r["epoch"] == last_epoch[r["bucket"]]
    }
    # exact top-2 by true frequency: hot=120, warm=50 — both must survive
    assert {"hot", "warm"} <= final
    # cross-batch state: hot's bucket reached epoch 2 (updated by both
    # batches) — epoch 1 everywhere would mean state never carried
    assert max(last_epoch.values()) >= 2
    # bounded state: nothing beyond the sketch capacity per bucket
    from collections import Counter

    per_bucket = Counter(
        r["bucket"] for r in rows if r["epoch"] == last_epoch[r["bucket"]]
    )
    assert all(n <= 16 for n in per_bucket.values())


def test_window_topk_stream_panes_plus_finisher_equals_batch(
    spark, sf_smoke, events_dir, tmp_path
):
    """The streaming form of events_window_topk: the STREAM maintains
    the finalized per-(day, key) pane counts (watermarked tumbling
    aggregate, append mode — each pane emitted exactly once when the
    watermark closes it); the top-k rank is the cheap FINISHER over
    the finalized pane table, per-day-partitioned exactly like the
    batch plan. End-to-end must equal the batch query."""
    from pyspark.sql import Window

    from target_iceberg_spark.plans import all_specs
    from target_iceberg_spark.streaming.pipeline import tumbling_counts

    writer = StreamWriter(
        spark, WriterConfig(warehouse=str(tmp_path / "wh")), mode="parquet"
    )
    run_bounded(
        spark,
        events_dir,
        writer,
        "daily_panes",
        str(tmp_path / "ckpt"),
        transform=lambda ev: tumbling_counts(ev, "1 day", "2 hours"),
    )
    panes = writer.read("daily_panes").select(
        F.to_date("win_start").alias("day"), "event_type", F.col("n_events").alias("n")
    )
    rnk = F.row_number().over(
        Window.partitionBy("day").orderBy(F.desc("n"), "event_type")
    )
    got = {
        (r["day"], r["event_type"], r["n"], r["rnk"])
        for r in panes.withColumn("rnk", rnk).where(F.col("rnk") <= 3).collect()
    }
    batch = all_specs()["events_window_topk"].builder(spark, sf_smoke)
    want = {
        (r["day"], r["event_type"], r["n"], r["rnk"]) for r in batch.collect()
    }
    assert got == want


def test_stateful_cdc_current_state_equals_batch_compaction(spark, tmp_path):
    """Streaming CDC apply must converge to the batch last-writer-wins
    compaction: feed a keyed changelog split across two micro-batches;
    each key's LAST emission (highest epoch) must equal folding the
    whole changelog in (ts, seq) order — including a key whose final
    op is a delete (tombstone) and a key that only appears in batch 1.
    Keys touched by both batches must show epoch 2 (state carried)."""
    import os

    import pandas as pd

    from target_iceberg_spark.streaming.stateful import cdc_current_state

    src = tmp_path / "cdc_src"
    src.mkdir()
    b1 = pd.DataFrame(
        {
            "key": [1, 1, 2, 3],
            "ts": [10, 20, 10, 10],
            "seq": [0, 1, 0, 0],
            "is_delete": [False, False, False, False],
            "value": [100.0, 110.0, 200.0, 300.0],
        }
    )
    b2 = pd.DataFrame(
        {
            "key": [1, 2, 2],
            "ts": [30, 30, 40],
            "seq": [0, 0, 1],
            "is_delete": [False, False, True],  # key 2 ends deleted
            "value": [120.0, 210.0, 0.0],
        }
    )
    b1.to_parquet(src / "a.parquet")
    b2.to_parquet(src / "b.parquet")
    os.utime(src / "a.parquet", (1_000_000, 1_000_000))
    os.utime(src / "b.parquet", (2_000_000, 2_000_000))

    stream = (
        spark.readStream.schema(
            "key LONG, ts LONG, seq LONG, is_delete BOOLEAN, value DOUBLE"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    out = cdc_current_state(stream, order_cols=("ts", "seq"))
    q = (
        out.writeStream.format("memory")
        .queryName("cdc_state_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_cdc"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.table("cdc_state_out").collect()
    final = {}
    for r in rows:
        if r["key"] not in final or r["epoch"] > final[r["key"]]["epoch"]:
            final[r["key"]] = r

    # batch twin: fold the full changelog in (ts, seq) order per key
    full = pd.concat([b1, b2]).sort_values(["ts", "seq"], kind="mergesort")
    for key, grp in full.groupby("key"):
        last = grp.iloc[-1]
        got = final[key]
        assert got["is_deleted"] == bool(last["is_delete"])
        if last["is_delete"]:
            assert got["value"] is None  # tombstone carries no value
        else:
            assert got["value"] == last["value"]
    assert final[1]["epoch"] == 2 and final[2]["epoch"] == 2  # state carried
    assert final[3]["epoch"] == 1  # batch-1-only key emitted once


def test_stateful_cdc_current_state_string_value_column(spark, tmp_path):
    """The generic value_col contract: a STRING value column must
    round-trip untouched (out/state schemas are derived from it — a
    float coercion would kill every task)."""
    import pandas as pd

    from target_iceberg_spark.streaming.stateful import cdc_current_state

    src = tmp_path / "cdc_str_src"
    src.mkdir()
    pd.DataFrame(
        {
            "key": [1, 1, 2],
            "ts": [10, 20, 10],
            "seq": [0, 1, 0],
            "is_delete": [False, False, True],
            "value": ["alice", "bob", "gone"],
        }
    ).to_parquet(src / "a.parquet")
    stream = spark.readStream.schema(
        "key LONG, ts LONG, seq LONG, is_delete BOOLEAN, value STRING"
    ).parquet(str(src))
    out = cdc_current_state(stream, order_cols=("ts", "seq"))
    q = (
        out.writeStream.format("memory")
        .queryName("cdc_str_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_cdc_str"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = {r["key"]: r for r in spark.table("cdc_str_out").collect()}
    assert rows[1]["value"] == "bob" and not rows[1]["is_deleted"]
    assert rows[2]["value"] is None and rows[2]["is_deleted"]


def test_streaming_ewma_equals_batch_recursion_across_batches(spark, tmp_path):
    """Two chronologically-ordered micro-batches: the carried (n, s)
    state must make the final per-key snapshot equal a from-scratch
    pandas recursion over the WHOLE series, and the batch-1 snapshot
    equal the recursion over the prefix."""
    import os

    import pandas as pd

    from target_iceberg_spark.streaming.stateful import streaming_ewma

    t0 = pd.Timestamp("2024-01-01 00:00:00")
    series = {
        "click": [1.0, 5.0, 2.0, 8.0, 3.0, 9.0],
        "view": [10.0, 20.0, 30.0, 40.0],
    }

    def rows_for(keys_slice):
        out = []
        for k, vals in keys_slice:
            for i, v in vals:
                out.append((k, int((t0 + pd.Timedelta(minutes=i)).value), v))
        return out

    src = tmp_path / "ewma_src"
    src.mkdir()
    b1 = rows_for(
        [("click", list(enumerate(series["click"][:3]))),
         ("view", list(enumerate(series["view"][:2])))]
    )
    b2 = rows_for(
        [("click", list(enumerate(series["click"][3:], start=3))),
         ("view", list(enumerate(series["view"][2:], start=2)))]
    )
    for name, rows, mt in (("a.parquet", b1, 1_000_000), ("b.parquet", b2, 2_000_000)):
        pd.DataFrame(
            {
                "event_type": [r[0] for r in rows],
                "ts": [r[1] for r in rows],
                "value": [r[2] for r in rows],
            }
        ).to_parquet(src / name)
        os.utime(src / name, (mt, mt))

    stream = (
        spark.readStream.schema("event_type STRING, ts LONG, value DOUBLE")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    stream = stream.withColumn(
        "ts", F.timestamp_micros((F.col("ts") / 1000).cast("long")).cast("timestamp")
    )
    q = (
        streaming_ewma(stream, alpha=0.3)
        .writeStream.format("memory")
        .queryName("ewma_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_ewma"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = spark.table("ewma_stream").collect()

    def recur(vals, alpha=0.3):
        s = None
        for x in vals:
            s = x if s is None else alpha * x + (1 - alpha) * s
        return s

    by_epoch = {(r["event_type"], r["epoch"]): r for r in got}
    # final snapshots (epoch 2) = full-series recursion
    for k, vals in series.items():
        r = by_epoch[(k, 2)]
        assert r["n_seen"] == len(vals)
        assert abs(r["ewma"] - recur(vals)) < 1e-12
    # intermediate snapshots (epoch 1) = prefix recursion -> proves the
    # state actually carried rather than being recomputed per batch
    assert abs(by_epoch[("click", 1)]["ewma"] - recur(series["click"][:3])) < 1e-12
    assert by_epoch[("click", 1)]["n_seen"] == 3
    assert abs(by_epoch[("view", 1)]["ewma"] - recur(series["view"][:2])) < 1e-12


def test_streaming_ewma_multichunk_batch_folds_in_global_ts_order(
    spark, tmp_path
):
    """Regression: with arrow.maxRecordsPerBatch small enough that one
    key's micro-batch spans several pandas chunks, the fold must sort
    the WHOLE batch, not each chunk (chunk-local sorting folds chunks
    in arrival order and corrupts the recursion)."""
    import os

    import pandas as pd

    from target_iceberg_spark.streaming.stateful import streaming_ewma

    t0 = pd.Timestamp("2024-01-01 00:00:00")
    vals = [1.0, 5.0, 2.0, 8.0, 3.0, 9.0]
    src = tmp_path / "ewma_chunks"
    src.mkdir()
    # one file = one micro-batch, rows written in REVERSE ts order
    pd.DataFrame(
        {
            "event_type": ["click"] * len(vals),
            "ts": [
                int((t0 + pd.Timedelta(minutes=i)).value)
                for i in reversed(range(len(vals)))
            ],
            "value": list(reversed(vals)),
        }
    ).to_parquet(src / "a.parquet")
    os.utime(src / "a.parquet", (1_000_000, 1_000_000))

    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", None)
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "2")
    try:
        stream = (
            spark.readStream.schema("event_type STRING, ts LONG, value DOUBLE")
            .parquet(str(src))
        )
        stream = stream.withColumn(
            "ts",
            F.timestamp_micros((F.col("ts") / 1000).cast("long")).cast(
                "timestamp"
            ),
        )
        q = (
            streaming_ewma(stream, alpha=0.3)
            .writeStream.format("memory")
            .queryName("ewma_chunked")
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ckpt_ewma_ch"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(180)
    finally:
        if old is None:
            spark.conf.unset("spark.sql.execution.arrow.maxRecordsPerBatch")
        else:
            spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)
    rows = spark.table("ewma_chunked").collect()
    s = None
    for x in vals:
        s = x if s is None else 0.3 * x + 0.7 * s
    final = max(rows, key=lambda r: r["epoch"])
    assert final["n_seen"] == len(vals)
    assert abs(final["ewma"] - s) < 1e-12, (final["ewma"], s)


def test_streaming_decay_features_equals_direct_sum_across_batches(
    spark, tmp_path
):
    """Two micro-batches: each key's carried (n, dc, dv, last_ts) state,
    decayed from its own anchor to a common reference time T, must
    equal the direct sum(e^(-l*(T-t_i))) / sum(v_i*e^(-l*(T-t_i)))
    over the WHOLE series — proving both the cross-batch state carry
    and the reader-side re-anchoring identity."""
    import math
    import os

    import pandas as pd

    from target_iceberg_spark.streaming.stateful import (
        streaming_decay_features,
    )

    t0 = pd.Timestamp("2024-01-01 00:00:00")
    series = {
        7: [(0, 2.0), (30, 6.0), (90, 1.0), (240, 4.0)],
        9: [(10, 10.0), (2000, 5.0)],
    }

    def rows_for(slices):
        return [
            (k, int((t0 + pd.Timedelta(minutes=m)).value), v)
            for k, pts in slices
            for m, v in pts
        ]

    src = tmp_path / "decay_src"
    src.mkdir()
    b1 = rows_for([(7, series[7][:2]), (9, series[9][:1])])
    b2 = rows_for([(7, series[7][2:]), (9, series[9][1:])])
    for name, rows, mt in (
        ("a.parquet", b1, 1_000_000),
        ("b.parquet", b2, 2_000_000),
    ):
        pd.DataFrame(
            {
                "user_id": [r[0] for r in rows],
                "ts": [r[1] for r in rows],
                "value": [r[2] for r in rows],
            }
        ).to_parquet(src / name)
        os.utime(src / name, (mt, mt))

    stream = (
        spark.readStream.schema("user_id LONG, ts LONG, value DOUBLE")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    stream = stream.withColumn(
        "ts",
        F.timestamp_micros((F.col("ts") / 1000).cast("long")).cast(
            "timestamp"
        ),
    )
    q = (
        streaming_decay_features(stream, halflife_days=7.0)
        .writeStream.format("memory")
        .queryName("decay_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_decay"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {
        (r["user_id"], r["epoch"]): r for r in spark.table("decay_stream").collect()
    }

    lam = math.log(2.0) / 7.0
    t_ref = t0 + pd.Timedelta(minutes=3000)

    def direct(pts):
        dc = sum(
            math.exp(-lam * (t_ref - (t0 + pd.Timedelta(minutes=m))).total_seconds() / 86400.0)
            for m, _ in pts
        )
        dv = sum(
            v
            * math.exp(-lam * (t_ref - (t0 + pd.Timedelta(minutes=m))).total_seconds() / 86400.0)
            for m, v in pts
        )
        return dc, dv

    for k, pts in series.items():
        r = got[(k, 2)]
        assert r["n_events"] == len(pts)
        # re-anchor the snapshot from the key's last event to T
        age_d = (t_ref - pd.Timestamp(r["last_ts"])).total_seconds() / 86400.0
        w = math.exp(-lam * age_d)
        dc_t, dv_t = direct(pts)
        assert abs(r["decayed_count"] * w - dc_t) < 1e-9
        assert abs(r["decayed_value"] * w - dv_t) < 1e-9
    # epoch-1 snapshots = prefix state (the carry is real, not a rerun)
    r1 = got[(7, 1)]
    assert r1["n_events"] == 2
    age_d = (t_ref - pd.Timestamp(r1["last_ts"])).total_seconds() / 86400.0
    dc_t, dv_t = direct(series[7][:2])
    w = math.exp(-lam * age_d)
    assert abs(r1["decayed_count"] * w - dc_t) < 1e-9
    assert abs(r1["decayed_value"] * w - dv_t) < 1e-9


def test_streaming_decay_features_late_cross_batch_event(spark, tmp_path):
    """A second micro-batch delivering an event OLDER than the carried
    last_ts must not regress the anchor or un-decay state: the late
    event is decayed down to the existing anchor, so the snapshot still
    equals the batch-twin sum anchored at the key's true latest event
    (the round-6 advisor's late-data divergence, now in contract)."""
    import math
    import os

    import pandas as pd

    from target_iceberg_spark.streaming.stateful import (
        streaming_decay_features,
    )

    t0 = pd.Timestamp("2024-01-01 00:00:00")
    pts = [(0, 2.0), (240, 6.0), (30, 1.0)]  # third arrives LATE

    def mk(name, rows, mt):
        pd.DataFrame(
            {
                "user_id": [7] * len(rows),
                "ts": [int((t0 + pd.Timedelta(minutes=m)).value) for m, _ in rows],
                "value": [v for _, v in rows],
            }
        ).to_parquet(src / name)
        os.utime(src / name, (mt, mt))

    src = tmp_path / "decay_late_src"
    src.mkdir()
    mk("a.parquet", pts[:2], 1_000_000)
    mk("b.parquet", pts[2:], 2_000_000)

    stream = (
        spark.readStream.schema("user_id LONG, ts LONG, value DOUBLE")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    stream = stream.withColumn(
        "ts",
        F.timestamp_micros((F.col("ts") / 1000).cast("long")).cast("timestamp"),
    )
    q = (
        streaming_decay_features(stream, halflife_days=7.0)
        .writeStream.format("memory")
        .queryName("decay_late")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_decay_late"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    final = max(
        spark.table("decay_late").collect(), key=lambda r: r["epoch"]
    )
    lam = math.log(2.0) / 7.0
    anchor = t0 + pd.Timedelta(minutes=240)  # latest EVENT, not arrival
    assert pd.Timestamp(final["last_ts"]) == anchor
    assert final["n_events"] == 3
    dc = sum(
        math.exp(-lam * (anchor - (t0 + pd.Timedelta(minutes=m))).total_seconds() / 86400.0)
        for m, _ in pts
    )
    dv = sum(
        v * math.exp(-lam * (anchor - (t0 + pd.Timedelta(minutes=m))).total_seconds() / 86400.0)
        for m, v in pts
    )
    assert abs(final["decayed_count"] - dc) < 1e-9
    assert abs(final["decayed_value"] - dv) < 1e-9


def test_streaming_sessionize_detail_equals_batch_numbering(
    spark, sf_smoke, events_dir, tmp_path
):
    """The detail-row twin: every event gets its session index as it
    flows; rolling the streamed detail rows up must reproduce the
    batch events_sessionize_gap rollup exactly (same numbering, same
    per-session counts/starts/durations) on in-order input."""
    from target_iceberg_spark.plans.registry import queries
    from target_iceberg_spark.streaming.stateful import (
        streaming_sessionize_detail,
    )

    stream = read_event_stream(spark, events_dir)
    q = (
        streaming_sessionize_detail(
            stream.select("user_id", "event_id", "ts")
        )
        .writeStream.format("memory")
        .queryName("sess_detail")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_sess_detail"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    detail = spark.table("sess_detail")
    ev = load_table(spark, sf_smoke, "events")
    assert detail.count() == ev.count()  # every event assigned exactly once
    rolled = {
        (r["user_id"], r["session_idx"], r["n_events"], r["session_start"], r["dur_us"])
        for r in detail.groupBy("user_id", "session_idx")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("ts").alias("session_start"),
            (F.unix_micros(F.max("ts")) - F.unix_micros(F.min("ts"))).alias(
                "dur_us"
            ),
        )
        .collect()
    }
    want = {
        (r["user_id"], r["session_idx"], r["n_events"], r["session_start"], r["dur_us"])
        for r in queries()["events_sessionize_gap"](spark, sf_smoke).collect()
    }
    assert rolled == want and rolled


def test_streaming_sessionize_detail_state_carries_across_batches(
    spark, tmp_path
):
    """Batch 2 continues batch 1's open session (same index, no
    renumbering) and a late event joins the current session without
    regressing the anchor."""
    import os

    import pandas as pd

    from target_iceberg_spark.streaming.stateful import (
        streaming_sessionize_detail,
    )

    t0 = pd.Timestamp("2024-01-01 00:00:00")
    src = tmp_path / "sess_detail_src"
    src.mkdir()

    def mk(name, rows, mt):
        pd.DataFrame(
            {
                "user_id": [7] * len(rows),
                "event_id": [eid for eid, _ in rows],
                "ts": [
                    int((t0 + pd.Timedelta(minutes=m)).value) for eid, m in rows
                ],
            }
        ).to_parquet(src / name)
        os.utime(src / name, (mt, mt))

    # batch 1: session 1 = {1,2}; session 2 opens with {3}
    mk("a.parquet", [(1, 0), (2, 10), (3, 100)], 1_000_000)
    # batch 2: 4 extends session 2 (within 30 min of 100');
    # 5 is LATE (95' < 110') -> current session, anchor not regressed;
    # 6 starts session 3 (>30 min after 110')
    mk("b.parquet", [(4, 110), (5, 95), (6, 200)], 2_000_000)

    stream = spark.readStream.schema(
        "user_id LONG, event_id LONG, ts LONG"
    ).option("maxFilesPerTrigger", 1).parquet(str(src))
    stream = stream.withColumn(
        "ts",
        F.timestamp_micros((F.col("ts") / 1000).cast("long")).cast("timestamp"),
    )
    q = (
        streaming_sessionize_detail(stream)
        .writeStream.format("memory")
        .queryName("sess_detail_carry")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_sdc"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {
        r["event_id"]: r["session_idx"]
        for r in spark.table("sess_detail_carry").collect()
    }
    assert got == {1: 1, 2: 1, 3: 2, 4: 2, 5: 2, 6: 3}


def test_streaming_sessionize_detail_straggler_does_not_split_session(
    spark, tmp_path
):
    """Regression (round-7 ADVICE): a late straggler at the HEAD of a
    micro-batch must not become the in-batch predecessor of an on-time
    event. Carried anchor = 100', batch = [10', 110'], gap = 30': the
    10' straggler joins the open session AND the 110' event's gap is
    measured against the anchor (10' <= 30'), not against the
    straggler (100' > 30') — both stay in session 2."""
    import os

    import pandas as pd

    from target_iceberg_spark.streaming.stateful import (
        streaming_sessionize_detail,
    )

    t0 = pd.Timestamp("2024-01-01 00:00:00")
    src = tmp_path / "sess_detail_straggler"
    src.mkdir()

    def mk(name, rows, mt):
        pd.DataFrame(
            {
                "user_id": [7] * len(rows),
                "event_id": [eid for eid, _ in rows],
                "ts": [
                    int((t0 + pd.Timedelta(minutes=m)).value) for eid, m in rows
                ],
            }
        ).to_parquet(src / name)
        os.utime(src / name, (mt, mt))

    # batch 1: session 1 = {1,2}; session 2 opens with {3} at 100'
    mk("a.parquet", [(1, 0), (2, 10), (3, 100)], 1_000_000)
    # batch 2: 4 is a LATE straggler (10' << anchor 100'); 5 is
    # on-time at 110' (10' past the anchor, inside the 30' gap)
    mk("b.parquet", [(4, 10), (5, 110)], 2_000_000)

    stream = spark.readStream.schema(
        "user_id LONG, event_id LONG, ts LONG"
    ).option("maxFilesPerTrigger", 1).parquet(str(src))
    stream = stream.withColumn(
        "ts",
        F.timestamp_micros((F.col("ts") / 1000).cast("long")).cast("timestamp"),
    )
    q = (
        streaming_sessionize_detail(stream)
        .writeStream.format("memory")
        .queryName("sess_detail_straggler")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_sds"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {
        r["event_id"]: r["session_idx"]
        for r in spark.table("sess_detail_straggler").collect()
    }
    assert got == {1: 1, 2: 1, 3: 2, 4: 2, 5: 2}


def test_streaming_asof_tolerance_equals_batch(
    spark, sf_smoke, events_dir, tmp_path
):
    """The streaming as-of-tolerance twin drained over the bounded
    events stream must reproduce the batch join_asof_tolerance rows
    exactly: same matches, same NULLed stale/missing refs, same
    staleness seconds."""
    from target_iceberg_spark.plans.registry import queries
    from target_iceberg_spark.streaming.stateful import (
        streaming_asof_tolerance,
    )

    stream = read_event_stream(spark, events_dir)
    q = (
        streaming_asof_tolerance(
            stream.select("event_id", "user_id", "ts", "event_type")
        )
        .writeStream.format("memory")
        .queryName("asof_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_asof_tol"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {
        (r["event_id"], r["user_id"], r["ref_event_id"], r["staleness_s"])
        for r in spark.table("asof_stream").collect()
    }
    want = {
        (r["event_id"], r["user_id"], r["signup_event_id"], r["staleness_s"])
        for r in queries()["join_asof_tolerance"](spark, sf_smoke).collect()
    }
    assert got == want and got
    # the tolerance is live: the batch has both matched and NULLed rows
    assert any(t[2] is None for t in want)
    assert any(t[2] is not None for t in want)


def test_streaming_asof_tolerance_state_carries_and_never_regresses(
    spark, tmp_path
):
    """Batch 2's probe matches batch 1's carried reference; a LATE
    reference older than the stored one is ignored (anchor
    discipline); a probe beyond the tolerance gets NULL."""
    import os

    import pandas as pd

    from target_iceberg_spark.streaming.stateful import (
        streaming_asof_tolerance,
    )

    t0 = pd.Timestamp("2024-01-01 00:00:00")
    src = tmp_path / "asof_src"
    src.mkdir()

    def mk(name, rows, mt):  # rows: (id, minutes, type)
        pd.DataFrame(
            {
                "event_id": [r[0] for r in rows],
                "user_id": [7] * len(rows),
                "ts": [int((t0 + pd.Timedelta(minutes=r[1])).value) for r in rows],
                "event_type": [r[2] for r in rows],
            }
        ).to_parquet(src / name)
        os.utime(src / name, (mt, mt))

    tol_min = 48 * 60
    mk("a.parquet", [(1, 0, "signup"), (2, 10, "error")], 1_000_000)
    mk(
        "b.parquet",
        [
            (3, 20, "error"),  # matches carried ref 1 (20 min stale)
            (4, -10, "signup"),  # LATE ref BEHIND the stored anchor -> ignored
            (5, 30, "error"),  # still matches ref 1, not regressive ref 4
            (6, tol_min + 60, "error"),  # beyond 48 h budget -> NULL
        ],
        2_000_000,
    )
    stream = spark.readStream.schema(
        "event_id LONG, user_id LONG, ts LONG, event_type STRING"
    ).option("maxFilesPerTrigger", 1).parquet(str(src))
    stream = stream.withColumn(
        "ts",
        F.timestamp_micros((F.col("ts") / 1000).cast("long")).cast("timestamp"),
    )
    q = (
        streaming_asof_tolerance(stream)
        .writeStream.format("memory")
        .queryName("asof_carry")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_asof_carry"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {
        r["event_id"]: (r["ref_event_id"], r["staleness_s"])
        for r in spark.table("asof_carry").collect()
    }
    assert got == {
        2: (1, 600),
        3: (1, 1200),
        5: (1, 1800),
        6: (None, None),
    }  # a ref newer than the anchor but late vs probes is NOT ignored —
    # it correctly wins (event-time latest); see the equivalence test


# -- streaming bloom-gated dedup (round-8 twin) ------------------------------


def _bloom_fold_reference(keys_in_order, m_bits, n_shards):
    """Plain-Python reference of the streaming gate: same md5 windows,
    same per-shard filters, same sequential first-sighting-sets-bits
    fold."""
    import hashlib

    shards: dict = {}
    out = []
    for kval in keys_in_order:
        s = (
            int(hashlib.md5(f"shard|{kval}".encode()).hexdigest()[:8], 16)
            % n_shards
        )
        words = shards.setdefault(s, [0] * (m_bits // 32))
        h = hashlib.md5(str(kval).encode()).hexdigest()
        pos = [int(h[j * 8 : j * 8 + 8], 16) % m_bits for j in range(4)]
        hit = all((words[p // 32] >> (p % 32)) & 1 for p in pos)
        if not hit:
            for p in pos:
                words[p // 32] |= 1 << (p % 32)
        out.append((int(kval), not hit))
    return out


@pytest.mark.parametrize("n_shards", [1, 4])
def test_streaming_bloom_dedup_equals_fold_and_batch_counts(
    spark, sf_oracle, tmp_path, n_shards
):
    """The bloom-gate twin must (a) reproduce the plain-Python
    sequential fold CELL-EXACTLY (same provably_new flag per key
    occurrence, across micro-batch boundaries and shard routing), and
    (b) after the exact verify — provably-new keys join-free, bloom-
    positive candidates anti-joined against history — land the SAME
    new/seen counts as the batch dedup_bloom_incremental query,
    REGARDLESS of which false positives the filter happens to make."""
    import pandas as pd

    from target_iceberg_spark.plans.registry import queries
    from target_iceberg_spark.streaming.stateful import streaming_bloom_dedup

    li = load_table(spark, sf_oracle, "lineitem")
    cutoff = F.lit("1995-06-01 00:00:00").cast("timestamp")
    hist_keys = [
        r["k"]
        for r in li.where(F.col("l_shipdate") < cutoff)
        .select(F.col("l_partkey").alias("k"))
        .distinct()
        .orderBy("k")
        .collect()
    ]
    batch_keys = [
        r["k"]
        for r in li.where(F.col("l_shipdate") >= cutoff)
        .select(F.col("l_partkey").alias("k"))
        .distinct()
        .orderBy("k")
        .collect()
    ]

    src = tmp_path / f"bloom_keys_{n_shards}"
    src.mkdir()

    def mk(name, keys, offset, mt):
        # ts as LONG seconds: the gate only ORDERS by ts (pandas
        # writes ns-int64 parquet that a TIMESTAMP read rejects)
        pd.DataFrame(
            {"k": keys, "ts": [offset + i for i in range(len(keys))]}
        ).to_parquet(src / name)
        os.utime(src / name, (mt, mt))

    # micro-batch 1 = history ingest, micro-batch 2 = today's batch
    mk("a.parquet", hist_keys, 0, 1_000_000)
    mk("b.parquet", batch_keys, 100_000, 2_000_000)

    stream = (
        spark.readStream.schema("k LONG, ts LONG")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = (
        streaming_bloom_dedup(stream, n_shards=n_shards)
        .writeStream.format("memory")
        .queryName(f"bloom_gate_{n_shards}")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / f"ckpt_bloom_{n_shards}"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    drained = spark.table(f"bloom_gate_{n_shards}").collect()

    # (a) cell-exact vs the reference fold (multiset: a seen-before
    # key emits one row per phase and the memory sink's row order is
    # arbitrary)
    from collections import Counter

    ref = _bloom_fold_reference(hist_keys + batch_keys, 1 << 15, n_shards)
    assert len(drained) == len(hist_keys) + len(batch_keys)
    assert Counter((r["k"], r["provably_new"]) for r in drained) == Counter(ref)

    # (b) gate + exact verify == the batch query's counts. Phase-2
    # classification comes from the (just-verified) ordered fold.
    batch_set = set(batch_keys)
    hist_set = set(hist_keys)
    phase2 = ref[len(hist_keys):]
    provably_new = {k for k, new in phase2 if new}
    candidates = {k for k, new in phase2 if not new}
    verified_new = candidates - hist_set
    # no false negatives: nothing provably-new may exist in history
    assert not (provably_new & hist_set)
    brow = queries()["dedup_bloom_incremental"](spark, sf_oracle).collect()[0]
    assert brow["batch_keys"] == len(batch_set)
    assert brow["new_keys"] == len(provably_new) + len(verified_new)
    assert brow["seen_before"] == len(batch_set) - brow["new_keys"]


def test_streaming_bloom_dedup_stream_static_verify(spark, sf_oracle, tmp_path):
    """The full streaming pipeline shape: gate -> split -> stream-
    static LEFT ANTI against the static history table, unioned with
    the join-free provably-new branch — the candidates' exact verify
    runs INSIDE the stream (stream on the left, static on the right is
    a supported stream-static join)."""
    import pandas as pd

    from target_iceberg_spark.streaming.stateful import streaming_bloom_dedup

    li = load_table(spark, sf_oracle, "lineitem")
    cutoff = F.lit("1995-06-01 00:00:00").cast("timestamp")
    hist = (
        li.where(F.col("l_shipdate") < cutoff)
        .select(F.col("l_partkey").alias("k"))
        .distinct()
    )
    hist_keys = [r["k"] for r in hist.orderBy("k").collect()]
    batch_keys = [
        r["k"]
        for r in li.where(F.col("l_shipdate") >= cutoff)
        .select(F.col("l_partkey").alias("k"))
        .distinct()
        .orderBy("k")
        .collect()
    ]

    src = tmp_path / "bloom_verify_src"
    src.mkdir()
    pd.DataFrame(
        {"k": batch_keys, "ts": [100_000 + i for i in range(len(batch_keys))]}
    ).to_parquet(src / "batch.parquet")

    # pre-seed the gate's filter with history INSIDE the stream would
    # re-test the previous case; here history arrives as the STATIC
    # side only, so every batch key gates provably-new or candidate
    # against an empty filter — all provably-new — and the anti-join
    # branch must still remove nothing (empty candidates) while the
    # union must still carry every truly-new key. To exercise BOTH
    # branches, stream history first, then the batch file.
    pd.DataFrame(
        {"k": hist_keys, "ts": list(range(len(hist_keys)))}
    ).to_parquet(src / "a_hist.parquet")
    os.utime(src / "a_hist.parquet", (1_000_000, 1_000_000))
    os.utime(src / "batch.parquet", (2_000_000, 2_000_000))

    stream = (
        spark.readStream.schema("k LONG, ts LONG")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    gated = streaming_bloom_dedup(stream, n_shards=4)
    # ONE stateful op per streaming query (Spark rejects a union that
    # references it twice), so the gate/verify split is expressed as a
    # single stream-static LEFT OUTER against the marked history: a
    # row is new iff provably_new (join result ignored — the join-free
    # guarantee shows up as the marker being irrelevant) or the exact
    # verify finds no history match.
    marked = hist.withColumn("_in_hist", F.lit(True))
    new_stream = (
        gated.join(marked, "k", "left_outer")
        .where(F.col("provably_new") | F.col("_in_hist").isNull())
        .select("k", "ts")
    )
    q = (
        new_stream.writeStream.format("memory")
        .queryName("bloom_verified_new")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_bloom_verify"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    # phase-1 history rows all gate provably-new against the empty
    # filter and pass through; the gate carries ts, so phase-2 rows
    # (ts >= 100_000) are exactly today's batch — and the verified
    # stream must emit exactly the truly-new keys among them.
    got_new = {
        r["k"]
        for r in spark.table("bloom_verified_new").collect()
        if r["ts"] >= 100_000
    }
    want_new = set(batch_keys) - set(hist_keys)
    assert got_new == want_new


def test_streaming_kmv_ndv_merges_bit_exact(spark, sf_oracle, tmp_path):
    """The drained per-shard bottom-k sketches, merged, must equal a
    plain Python bottom-k recompute over all distinct keys WORD FOR
    WORD (the semilattice property), and the merged estimate must
    land within 15% of the true distinct count."""
    import hashlib

    import pandas as pd

    from target_iceberg_spark.streaming.stateful import streaming_kmv_ndv

    ev = load_table(spark, sf_oracle, "events")
    rows = ev.select("event_id", "user_id").orderBy("event_id").collect()
    keys = [r["user_id"] for r in rows]
    half = len(keys) // 2

    src = tmp_path / "kmv_src"
    src.mkdir()
    for name, part, mt, off in (
        ("a.parquet", keys[:half], 1_000_000, 0),
        ("b.parquet", keys[half:], 2_000_000, half),
    ):
        pd.DataFrame(
            {"k": part, "ts": [off + i for i in range(len(part))]}
        ).to_parquet(src / name)
        os.utime(src / name, (mt, mt))

    stream = (
        spark.readStream.schema("k LONG, ts LONG")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = (
        streaming_kmv_ndv(stream, kmv_k=128, n_shards=4)
        .writeStream.format("memory")
        .queryName("kmv_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_kmv"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    drained = spark.table("kmv_stream").collect()
    assert drained
    last = {}
    for r in drained:
        if r["shard"] not in last or r["n_seen"] > last[r["shard"]]["n_seen"]:
            last[r["shard"]] = r
    merged = sorted({hv for r in last.values() for hv in r["hvs"]})[:128]

    distinct = sorted(set(keys))
    want = sorted(
        {
            int(hashlib.md5(str(k).encode()).hexdigest()[:8], 16)
            for k in distinct
        }
    )[:128]
    assert merged == want  # bit-exact semilattice merge

    est = (
        len(merged)
        if len(merged) < 128
        else (128 - 1) * 4294967296.0 / merged[-1]
    )
    assert abs(est - len(distinct)) / len(distinct) < 0.15


# -- streaming SLO burn-rate pager (round-9 twin) ----------------------------


def test_streaming_slo_burn_twin_matches_batch(spark, sf_oracle, tmp_path):
    """The multi-window burn-rate twin must reproduce the batch
    events_slo_burn backtest row-for-row: drain the events stream in
    daily micro-batches (well inside the 2x24 h disorder horizon),
    take each hour's max-epoch emission, keep the fired ones, and the
    (hour, burn_long, burn_short) set equals the batch query's. Also
    pins the state bound: every emitted epoch's state held at most
    2x long_h hourly buckets."""
    import pandas as pd

    from target_iceberg_spark.plans.registry import queries
    from target_iceberg_spark.streaming.stateful import streaming_slo_burn

    ev = (
        load_table(spark, sf_oracle, "events")
        .select(
            (F.unix_micros(F.col("ts").cast("timestamp")) / 1_000_000)
            .cast("long")
            .alias("ts"),
            "event_type",
        )
        .withColumn("svc", F.lit("all"))
    )
    pdf = ev.toPandas().sort_values("ts", kind="mergesort")
    pdf["_day"] = pdf["ts"] // 86_400
    src = tmp_path / "slo_stream"
    src.mkdir()
    for i, (_, day) in enumerate(pdf.groupby("_day")):
        f = src / f"day{i:03d}.parquet"
        day[["svc", "ts", "event_type"]].to_parquet(f)
        os.utime(f, (1_000_000 + i, 1_000_000 + i))

    stream = (
        spark.readStream.schema("svc STRING, ts LONG, event_type STRING")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = (
        streaming_slo_burn(stream)
        .writeStream.format("memory")
        .queryName("slo_burn_twin")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_slo"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    drained = spark.table("slo_burn_twin").collect()
    assert drained

    final: dict[int, tuple] = {}
    for r in drained:
        if r["h"] not in final or r["epoch"] > final[r["h"]][2]:
            final[r["h"]] = (r["burn_long"], r["burn_short"], r["epoch"], r["fired"])
    # every populated hour of the corpus got a final emission
    assert len(final) == 720

    got = {
        (h, round(v[0], 4), round(v[1], 4))
        for h, v in final.items()
        if v[3]
    }
    batch = {
        (r["hs"], r["burn_long"], r["burn_short"])
        for r in queries()["events_slo_burn"](spark, sf_oracle)
        .select(
            (F.unix_micros("h") / 1_000_000).cast("long").alias("hs"),
            "burn_long",
            "burn_short",
        )
        .collect()
    }
    assert got == batch
    assert batch  # the policy actually fires on this corpus

    # re-emissions never change an hour's value (trailing windows)
    seen: dict[int, tuple] = {}
    for r in drained:
        key = (round(r["burn_long"], 10), round(r["burn_short"], 10))
        assert seen.setdefault(r["h"], key) == key

    # state bound: an epoch can emit at most the retained bucket map
    # (2 x long_h hours), so per-epoch output is O(window), O(events)
    from collections import Counter

    from target_iceberg_spark.plans.analytics_slo import SLO_LONG_H

    per_epoch = Counter(r["epoch"] for r in drained)
    assert max(per_epoch.values()) <= 2 * SLO_LONG_H


# -- streaming fixed-length pattern matching (round-9 twin) -------------------


def test_streaming_vshape_twin_matches_batch(spark, sf_oracle, tmp_path):
    """The stateful pattern scan must reproduce the batch
    win_match_pattern counts per user after a full in-order drain:
    drain purchase events in daily micro-batches, take each user's
    max-epoch emission, and (n_anchors, n_vshapes) equals the batch
    query's per-user frame — including patterns that SPAN micro-batch
    boundaries (a day split cuts many users' sequences mid-window)."""
    import pandas as pd

    from target_iceberg_spark.plans.registry import queries
    from target_iceberg_spark.streaming.stateful import streaming_vshape

    ev = (
        load_table(spark, sf_oracle, "events")
        .where(F.col("event_type") == "purchase")
        .select(
            "user_id",
            F.unix_micros(F.col("ts").cast("timestamp")).alias("ts"),
            "event_id",
            "value",
        )
    )
    pdf = ev.toPandas().sort_values(["ts", "event_id"], kind="mergesort")
    pdf["_day"] = pdf["ts"] // (86_400 * 1_000_000)
    src = tmp_path / "vshape_stream"
    src.mkdir()
    for i, (_, day) in enumerate(pdf.groupby("_day")):
        f = src / f"day{i:03d}.parquet"
        day[["user_id", "ts", "event_id", "value"]].to_parquet(f)
        os.utime(f, (1_000_000 + i, 1_000_000 + i))

    stream = (
        spark.readStream.schema(
            "user_id LONG, ts LONG, event_id LONG, value DOUBLE"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = (
        streaming_vshape(stream)
        .writeStream.format("memory")
        .queryName("vshape_twin")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_vshape"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    drained = spark.table("vshape_twin").collect()
    assert drained

    final: dict[int, tuple] = {}
    for r in drained:
        if (
            r["user_id"] not in final
            or r["epoch"] > final[r["user_id"]][2]
        ):
            final[r["user_id"]] = (r["n_anchors"], r["n_vshapes"], r["epoch"])

    # independent per-user recompute (the batch query's exact logic)
    per_user: dict[int, list] = {}
    for _, row in pdf.iterrows():
        per_user.setdefault(row["user_id"], []).append(row["value"])
    want = {}
    for uid, vs in per_user.items():
        n = sum(
            1
            for i in range(len(vs) - 3)
            if vs[i] > vs[i + 1] > vs[i + 2] < vs[i + 3]
        )
        want[uid] = (len(vs), n)
    assert {u: v[:2] for u, v in final.items()} == want

    # cross-batch coverage: daily splits genuinely cut sequences
    # mid-window, so some user must accrue v-shapes across >1 epoch
    grew = set()
    seen_counts: dict[int, int] = {}
    for r in sorted(drained, key=lambda r: r["epoch"]):
        prev = seen_counts.get(r["user_id"])
        if prev is not None and r["n_vshapes"] > prev > 0:
            grew.add(r["user_id"])
        seen_counts[r["user_id"]] = r["n_vshapes"]
    assert grew, "no pattern spanned a micro-batch boundary"

    # and the batch QUERY's emitted top rows agree with the twin
    for r in queries()["win_match_pattern"](spark, sf_oracle).collect():
        assert final[r["user_id"]][:2] == (r["n_anchors"], r["n_vshapes"])
