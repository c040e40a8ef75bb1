"""Sink-behavior tests — FIXTURES.md §B6, modeling the reference's
stream->table lifecycle (reference sinks.py) on the parquet warehouse."""

from __future__ import annotations

import json
import threading
import uuid
import warnings

import pytest

from target_iceberg_spark.sources.singer import SingerTarget, demux_singer_file
from target_iceberg_spark.writer import StreamWriter, WriterConfig

USERS_SCHEMA = {
    "type": "SCHEMA",
    "stream": "users",
    "key_properties": ["id"],
    "schema": {
        "properties": {
            "id": {"type": ["integer"]},
            "name": {"type": ["string", "null"]},
            "created_at": {"type": ["string", "null"], "format": "date-time"},
        }
    },
}


def _record(stream, **rec):
    return json.dumps({"type": "RECORD", "stream": stream, "record": rec})


@pytest.fixture()
def writer(spark, tmp_path):
    return StreamWriter(spark, WriterConfig(warehouse=str(tmp_path)), mode="parquet")


def test_two_interleaved_streams_two_tables(spark, writer):
    """B6: table per stream, name = stream name (ref sinks.py:85-86)."""
    orders_schema = {
        "type": "SCHEMA",
        "stream": "orders_n",
        "key_properties": [],
        "schema": {"properties": {"oid": {"type": ["integer"]}}},
    }
    lines = [
        json.dumps(USERS_SCHEMA),
        json.dumps(orders_schema),
        _record("users", id=1, name="a", created_at="2024-01-02T03:04:05Z"),
        _record("orders_n", oid=10),
        _record("users", id=2, name="b", created_at=None),
        json.dumps({"type": "STATE", "value": {"bookmark": 1}}),
    ]
    target = SingerTarget(spark, writer, max_batch_size=100)
    stats = target.run(lines)
    assert stats == {
        "users": {"records": 2, "batches": 1},
        "orders_n": {"records": 1, "batches": 1},
    }
    assert writer.read("users").count() == 2
    assert writer.read("orders_n").count() == 1
    assert target.emitted_states == [{"bookmark": 1}]
    # timestamp coercion survived the round trip
    row = writer.read("users").where("id = 1").collect()[0]
    assert row["created_at"].year == 2024


def test_batching_drains_at_max_size(spark, writer):
    """B6: 25 records with max_batch_size=10 -> 3 appends (ref sinks.py:18)."""
    lines = [json.dumps(USERS_SCHEMA)] + [
        _record("users", id=i, name=f"u{i}", created_at=None) for i in range(25)
    ]
    target = SingerTarget(spark, writer, max_batch_size=10)
    stats = target.run(lines)
    assert stats["users"] == {"records": 25, "batches": 3}
    assert writer.read("users").count() == 25


def test_append_only_keeps_duplicates_by_default(spark, writer):
    """B6: duplicate keys persist — parity with the reference's unused
    key_properties (ref sinks.py:25,100)."""
    lines = [json.dumps(USERS_SCHEMA)] + [
        _record("users", id=1, name="first", created_at=None),
        _record("users", id=1, name="second", created_at=None),
    ]
    SingerTarget(spark, writer, max_batch_size=100).run(lines)
    assert writer.read("users").count() == 2


def test_upsert_mode_last_write_wins(spark, writer):
    """B6 extension: upsert_on_keys merges on key_properties."""
    target = SingerTarget(spark, writer, max_batch_size=1, upsert_on_keys=True)
    target.run(
        [json.dumps(USERS_SCHEMA), _record("users", id=1, name="first", created_at=None)]
    )
    target.run([_record("users", id=1, name="second", created_at=None)])
    rows = writer.read("users").collect()
    assert len(rows) == 1
    assert rows[0]["name"] == "second"


def test_record_metadata_columns(spark, tmp_path):
    """B6: add_record_metadata=true -> _sdc_* columns (ref target.py:16)."""
    writer = StreamWriter(
        spark,
        WriterConfig(warehouse=str(tmp_path), add_record_metadata=True),
        mode="parquet",
    )
    SingerTarget(spark, writer).run(
        [json.dumps(USERS_SCHEMA), _record("users", id=1, name="a", created_at=None)]
    )
    cols = writer.read("users").columns
    assert {"_sdc_received_at", "_sdc_batched_at", "_sdc_sequence"} <= set(cols)


def test_record_before_schema_raises(spark, writer):
    with pytest.raises(ValueError, match="before its SCHEMA"):
        SingerTarget(spark, writer).run([_record("users", id=1)])


def _vrecord(stream, version, **rec):
    return json.dumps(
        {"type": "RECORD", "stream": stream, "version": version, "record": rec}
    )


def test_activate_version_retires_old_versions(spark, writer):
    """Engine extension for A16 (reference ignores ACTIVATE_VERSION):
    activating version v removes rows of older versions while keeping
    EVERY batch of the activated version — including ones drained long
    before the activation message arrived."""
    target = SingerTarget(spark, writer, max_batch_size=2)
    # version-1 sync
    target.run(
        [json.dumps(USERS_SCHEMA)]
        + [_vrecord("users", 1, id=i, name=f"v1_{i}", created_at=None) for i in range(3)]
        + [json.dumps({"type": "ACTIVATE_VERSION", "stream": "users", "version": 1})]
    )
    assert writer.read("users").count() == 3
    # version-2 full refresh: 5 records across multiple drains (batch=2),
    # STATE mid-way forces a drain before activation
    for line in (
        [_vrecord("users", 2, id=i, name=f"v2_{i}", created_at=None) for i in range(3)]
        + [json.dumps({"type": "STATE", "value": {"n": 3}})]
        + [_vrecord("users", 2, id=i, name=f"v2_{i}", created_at=None) for i in range(3, 5)]
        + [json.dumps({"type": "ACTIVATE_VERSION", "stream": "users", "version": 2})]
    ):
        target.process_line(line)
    rows = writer.read("users").collect()
    assert len(rows) == 5  # all v2 batches survive, all v1 rows retired
    assert all(r["name"].startswith("v2_") for r in rows)


def test_activate_version_without_versions_keeps_data(spark, writer):
    """Unversioned records + late ACTIVATE_VERSION is ambiguous — the
    target must never guess-and-wipe."""
    target = SingerTarget(spark, writer, max_batch_size=1)
    target.run(
        [json.dumps(USERS_SCHEMA), _record("users", id=1, name="a", created_at=None)]
    )
    target.process_line(
        json.dumps({"type": "ACTIVATE_VERSION", "stream": "users", "version": 9})
    )
    assert writer.read("users").count() == 1


def test_demux_singer_file_distributed(spark, writer, tmp_path):
    """Scale path: bulk JSONL -> per-stream DataFrames via from_json."""
    p = tmp_path / "dump.jsonl"
    lines = [json.dumps(USERS_SCHEMA)] + [
        _record("users", id=i, name=f"u{i}", created_at="2024-01-02T03:04:05Z")
        for i in range(50)
    ]
    p.write_text("\n".join(lines) + "\n")
    dfs = demux_singer_file(spark, str(p))
    assert set(dfs) == {"users"}
    users = dfs["users"]
    assert users.count() == 50
    assert dict(users.dtypes)["created_at"] == "timestamp"
    writer.append(users, "users_bulk")
    assert writer.read("users_bulk").count() == 50


def test_demux_drops_corrupt_record_lines(spark, writer, tmp_path):
    p = tmp_path / "corrupt.jsonl"
    lines = [
        json.dumps(USERS_SCHEMA),
        _record("users", id=1, name="ok", created_at=None),
        '{"type": "RECORD", "stream": "users", "record": }',  # broken JSON
        '{"type": "RECORD", "stream": "users"}',  # record key missing
        _record("users", id=2, name="ok2", created_at=None),
    ]
    p.write_text("\n".join(lines) + "\n")
    dfs = demux_singer_file(spark, str(p))
    rows = dfs["users"].collect()
    assert sorted(r["id"] for r in rows) == [1, 2]


def test_compact_reduces_file_count(spark, writer):
    lines = [json.dumps(USERS_SCHEMA)] + [
        _record("users", id=i, name=f"u{i}", created_at=None) for i in range(40)
    ]
    SingerTarget(spark, writer, max_batch_size=5).run(lines)  # 8 appends
    import os as _os

    path = writer.table_path("users")
    before = sum(1 for f in _os.listdir(path) if f.endswith(".parquet"))
    after = writer.compact("users", target_file_mb=128)
    assert before >= 8
    assert after == 1
    assert writer.read("users").count() == 40


def test_upsert_last_write_wins_within_batch(spark, writer):
    """Two updates to the same key in ONE batch: the later record wins
    (deterministic arrival-order dedupe, not an arbitrary tie)."""
    target = SingerTarget(spark, writer, max_batch_size=100, upsert_on_keys=True)
    target.run(
        [
            json.dumps(USERS_SCHEMA),
            _record("users", id=1, name="first", created_at=None),
            _record("users", id=1, name="second", created_at=None),
            _record("users", id=2, name="only", created_at=None),
        ]
    )
    rows = {r["id"]: r["name"] for r in writer.read("users").collect()}
    assert rows == {1: "second", 2: "only"}


def test_partitioned_upsert_preserves_existing_partitions(spark, tmp_path):
    """table_exists must see data under partition subdirectories —
    otherwise the second upsert silently replaces the whole table."""
    w = StreamWriter(
        spark,
        WriterConfig(warehouse=str(tmp_path), partition_by=("name",)),
        mode="parquet",
    )
    t = SingerTarget(spark, w, max_batch_size=1, upsert_on_keys=True)
    t.run([json.dumps(USERS_SCHEMA), _record("users", id=1, name="a", created_at=None)])
    t.run([_record("users", id=2, name="b", created_at=None)])
    rows = {r["id"]: r["name"] for r in w.read("users").collect()}
    assert rows == {1: "a", 2: "b"}


def test_schema_evolution_adds_column(spark, writer):
    """The reference left schema evolution as a TODO (ref sinks.py:92);
    the engine supports additive evolution: a replacement SCHEMA with a
    new column drains cleanly, and reads surface the union of columns
    with NULLs for pre-evolution rows."""
    v2 = {
        "type": "SCHEMA",
        "stream": "users",
        "key_properties": ["id"],
        "schema": {
            "properties": {
                "id": {"type": ["integer"]},
                "name": {"type": ["string", "null"]},
                "created_at": {"type": ["string", "null"], "format": "date-time"},
                "email": {"type": ["string", "null"]},
            }
        },
    }
    target = SingerTarget(spark, writer, max_batch_size=100)
    target.run(
        [json.dumps(USERS_SCHEMA), _record("users", id=1, name="a", created_at=None)]
    )
    target.run(
        [json.dumps(v2), _record("users", id=2, name="b", created_at=None, email="b@x")]
    )
    out = writer.read("users")
    assert "email" in out.columns
    rows = {r["id"]: r["email"] for r in out.collect()}
    assert rows == {1: None, 2: "b@x"}


def test_metadata_all_six_sdc_columns(spark, tmp_path):
    """A12 parity: the SDK stamps SIX _sdc_* columns, not three
    (SURVEY §2 A12, ref target.py:16). _sdc_table_version set by the
    versioned-record path must pass through, not be clobbered."""
    writer = StreamWriter(
        spark,
        WriterConfig(warehouse=str(tmp_path), add_record_metadata=True),
        mode="parquet",
    )
    SingerTarget(spark, writer).run(
        [json.dumps(USERS_SCHEMA), _vrecord("users", 7, id=1, name="a", created_at=None)]
    )
    out = writer.read("users")
    assert {
        "_sdc_extracted_at",
        "_sdc_received_at",
        "_sdc_batched_at",
        "_sdc_deleted_at",
        "_sdc_sequence",
        "_sdc_table_version",
    } <= set(out.columns)
    row = out.collect()[0]
    assert row["_sdc_table_version"] == 7  # source-attached value survives
    assert row["_sdc_deleted_at"] is None
    assert row["_sdc_received_at"] is not None


def test_batch_message_loads_manifest_files(spark, writer, tmp_path):
    """Singer SDK BATCH message (SURVEY §2 A1): manifest files of bare
    JSONL records land via the distributed path, after buffered RECORDs
    drain (order), with stats counted."""
    f1, f2 = tmp_path / "b1.jsonl", tmp_path / "b2.jsonl"
    f1.write_text(
        "\n".join(
            json.dumps({"id": i, "name": f"b{i}", "created_at": None})
            for i in range(3)
        )
    )
    f2.write_text(json.dumps({"id": 3, "name": "b3", "created_at": "2024-05-06T07:08:09Z"}))
    lines = [
        json.dumps(USERS_SCHEMA),
        _record("users", id=100, name="buffered", created_at=None),
        json.dumps(
            {
                "type": "BATCH",
                "stream": "users",
                "encoding": {"format": "jsonl", "compression": "none"},
                "manifest": [f"file://{f1}", str(f2)],
            }
        ),
    ]
    target = SingerTarget(spark, writer, max_batch_size=100)
    stats = target.run(lines)
    assert stats["users"] == {"records": 5, "batches": 2}  # buffered + batch
    rows = {r["id"] for r in writer.read("users").collect()}
    assert rows == {0, 1, 2, 3, 100}
    ts = writer.read("users").where("id = 3").collect()[0]["created_at"]
    assert ts is not None and ts.year == 2024


def test_batch_before_schema_raises(spark, writer):
    with pytest.raises(ValueError, match="before its SCHEMA"):
        SingerTarget(spark, writer).run(
            [json.dumps({"type": "BATCH", "stream": "users", "manifest": ["/x"]})]
        )


def test_batch_unsupported_encoding_raises(spark, writer):
    with pytest.raises(ValueError, match="encoding"):
        SingerTarget(spark, writer).run(
            [
                json.dumps(USERS_SCHEMA),
                json.dumps(
                    {
                        "type": "BATCH",
                        "stream": "users",
                        "encoding": {"format": "parquet"},
                        "manifest": ["/x"],
                    }
                ),
            ]
        )


def test_schema_redeclaration_preserves_activate_version(spark, writer):
    """A tap re-emitting SCHEMA mid-sync (routine) must not reset the
    stream's version/progress — otherwise the following ACTIVATE_VERSION
    looks like a start-of-sync announcement and the full refresh is
    silently skipped (ADVICE r1)."""
    target = SingerTarget(spark, writer, max_batch_size=100)
    target.run(
        [json.dumps(USERS_SCHEMA)]
        + [_vrecord("users", 1, id=i, name=f"v1_{i}", created_at=None) for i in range(3)]
        + [json.dumps({"type": "ACTIVATE_VERSION", "stream": "users", "version": 1})]
    )
    for line in (
        [_vrecord("users", 2, id=10, name="v2_a", created_at=None)]
        + [json.dumps(USERS_SCHEMA)]  # mid-sync SCHEMA re-emit
        + [_vrecord("users", 2, id=11, name="v2_b", created_at=None)]
        + [json.dumps({"type": "ACTIVATE_VERSION", "stream": "users", "version": 2})]
    ):
        target.process_line(line)
    rows = writer.read("users").collect()
    assert len(rows) == 2
    assert all(r["name"].startswith("v2_") for r in rows)


def test_delete_where_keeps_null_condition_rows(spark, writer):
    """Parquet-mode delete_where matches SQL DELETE: rows where the
    condition is NULL (e.g. untagged _sdc_table_version) are KEPT, as
    Iceberg-mode DELETE keeps them (ADVICE r1, medium)."""
    df = spark.createDataFrame(
        [(1, None), (2, 1), (3, 2)], "id long, _sdc_table_version long"
    )
    writer.append(df, "vt")
    writer.delete_where("vt", "_sdc_table_version < 2")
    kept = {r["id"] for r in writer.read("vt").collect()}
    assert kept == {1, 3}  # NULL row survives; version-1 row deleted


def test_time_extracted_feeds_sdc_extracted_at(spark, tmp_path):
    """A RECORD's time_extracted lands in _sdc_extracted_at (SDK A12);
    records lacking it default to the drain time, not NULL."""
    from datetime import datetime

    writer = StreamWriter(
        spark,
        WriterConfig(warehouse=str(tmp_path), add_record_metadata=True),
        mode="parquet",
    )
    lines = [
        json.dumps(USERS_SCHEMA),
        json.dumps(
            {
                "type": "RECORD",
                "stream": "users",
                "time_extracted": "2024-02-03T04:05:06Z",
                "record": {"id": 1, "name": "a", "created_at": None},
            }
        ),
        _record("users", id=2, name="b", created_at=None),
    ]
    SingerTarget(spark, writer).run(lines)
    rows = {r["id"]: r["_sdc_extracted_at"] for r in writer.read("users").collect()}
    assert rows[1] == datetime(2024, 2, 3, 4, 5, 6)
    assert rows[2] is not None and rows[2].year >= 2026  # drain-time default


def test_drain_preserves_buffer_when_write_fails(spark, tmp_path):
    """A transient write failure must NOT lose buffered records: the
    buffer is cleared only after the write succeeds, so a retry drains
    the same records (at-least-once)."""
    writer = StreamWriter(
        spark, WriterConfig(warehouse=str(tmp_path)), mode="parquet"
    )
    target = SingerTarget(spark, writer)
    target.process_line(json.dumps(USERS_SCHEMA))
    target.process_line(_record("users", id=1, name="a", created_at=None))

    orig_append = writer.append
    calls = {"n": 0}

    def flaky_append(df, stream):
        calls["n"] += 1
        if calls["n"] == 1:
            raise OSError("transient warehouse failure")
        return orig_append(df, stream)

    writer.append = flaky_append
    stream = target.streams["users"]
    try:
        target._drain(stream)
    except OSError:
        pass
    assert len(stream.buffer) == 1  # records survived the failure
    target._drain(stream)  # retry succeeds
    assert len(stream.buffer) == 0
    assert {r["id"] for r in writer.read("users").collect()} == {1}


def test_integral_value_in_number_field_is_stored_as_double(spark, writer):
    """JSON cannot tell 5 from 5.0: an int in a ``number`` field is a
    double, as the reference's pyarrow conversion stores it."""
    schema = {
        "type": "SCHEMA",
        "stream": "scores",
        "key_properties": ["id"],
        "schema": {
            "properties": {
                "id": {"type": ["integer"]},
                "score": {"type": ["number", "null"]},
            }
        },
    }
    lines = [json.dumps(schema), _record("scores", id=1, score=5), _record("scores", id=2, score=2.5)]
    SingerTarget(spark, writer).run(lines)
    rows = {r["id"]: r["score"] for r in writer.read("scores").collect()}
    assert rows == {1: 5.0, 2: 2.5}
    assert isinstance(rows[1], float)


def test_timestamps_are_utc_whatever_the_host_zone(spark, tmp_path):
    """Date-times and time_extracted are stored as UTC instants even when
    the Python process runs in another zone."""
    import os
    import time

    writer = StreamWriter(
        spark,
        WriterConfig(warehouse=str(tmp_path), add_record_metadata=True),
        mode="parquet",
    )
    record = {
        "type": "RECORD",
        "stream": "users",
        "time_extracted": "2024-01-01T12:00:00+02:00",
        "record": {"id": 1, "name": "a", "created_at": "2024-01-01T12:00:00+02:00"},
    }
    old_tz = os.environ.get("TZ")
    os.environ["TZ"] = "America/New_York"
    time.tzset()
    try:
        SingerTarget(spark, writer).run([json.dumps(USERS_SCHEMA), json.dumps(record)])
    finally:
        if old_tz is None:
            del os.environ["TZ"]
        else:
            os.environ["TZ"] = old_tz
        time.tzset()
    row = writer.read("users").selectExpr(
        "cast(created_at as string) AS ts", "cast(_sdc_extracted_at as string) AS te"
    ).first()
    assert (row["ts"], row["te"]) == ("2024-01-01 10:00:00", "2024-01-01 10:00:00")


def test_activate_version_raises_when_existing_table_is_unreadable(spark, writer):
    """ACTIVATE_VERSION skips retirement only when no table exists; a read
    error on an existing table surfaces instead of silently keeping the
    retired version's rows."""
    target = SingerTarget(spark, writer)
    target.run(
        [json.dumps(USERS_SCHEMA), _vrecord("users", 1, id=1, name="a", created_at=None)]
    )
    target.process_line(_vrecord("users", 2, id=2, name="b", created_at=None))

    def unreadable(stream):
        raise OSError("transient warehouse failure")

    writer.read = unreadable
    with pytest.raises(OSError, match="transient"):
        target.process_line(
            json.dumps({"type": "ACTIVATE_VERSION", "stream": "users", "version": 2})
        )


# -- concurrent drains at STATE ---------------------------------------------

_STREAMS = ("s_a", "s_b", "s_c")


def _buffer_three_streams(target):
    """Declare three streams and buffer one record in each."""
    for name in _STREAMS:
        target.process_line(json.dumps({
            "type": "SCHEMA", "stream": name, "key_properties": [],
            "schema": {"properties": {"id": {"type": ["integer"]}}},
        }))
    for i, name in enumerate(_STREAMS):
        target.process_line(_record(name, id=i))


def _state(n):
    return json.dumps({"type": "STATE", "value": {"n": n}})


def test_state_drains_buffered_streams_concurrently(spark, writer):
    """Each append waits on a 3-party barrier, so the STATE passes only
    if the three streams' writes are in flight at once; a sequential
    drain would break the barrier on its timeout."""
    target = SingerTarget(spark, writer)
    _buffer_three_streams(target)
    barrier = threading.Barrier(3, timeout=30)
    orig_append = writer.append

    def append_at_barrier(df, stream):
        barrier.wait()
        return orig_append(df, stream)

    writer.append = append_at_barrier
    target.process_line(_state(1))
    assert target.emitted_states == [{"n": 1}]
    assert [writer.read(s).count() for s in _STREAMS] == [1, 1, 1]


def test_failed_drain_keeps_its_buffer_and_withholds_state(spark, writer):
    """One stream's failed write: the other streams commit and clear,
    the failed one keeps its records, STATE is not emitted, and the
    raised error is that stream's. The next STATE commits the rest."""
    states = []
    target = SingerTarget(spark, writer, state_callback=states.append)
    _buffer_three_streams(target)
    orig_append = writer.append
    broken = {"s_b"}

    def append_failing(df, stream):
        if stream in broken:
            raise OSError(f"{stream}: warehouse failure")
        return orig_append(df, stream)

    writer.append = append_failing
    with pytest.raises(OSError, match="s_b"):
        target.process_line(_state(1))
    assert states == [] and target.emitted_states == []
    assert [len(target.streams[s].buffer) for s in _STREAMS] == [0, 1, 0]
    assert writer.read("s_a").count() == 1 and writer.read("s_c").count() == 1
    assert not writer.table_exists("s_b")

    broken.clear()
    target.process_line(_state(2))
    assert states == [{"n": 2}]
    assert [writer.read(s).count() for s in _STREAMS] == [1, 1, 1]
    assert [target.streams[s].batches_written for s in _STREAMS] == [1, 1, 1]


def test_uncoercible_record_fails_only_its_streams_drain(spark, writer):
    """A bad value fails its stream's drain before any write starts; the
    streams declared before and after it are still written."""
    states = []
    target = SingerTarget(spark, writer, state_callback=states.append)
    _buffer_three_streams(target)
    target.process_line(_record("s_b", id="not-an-int"))
    with pytest.raises(TypeError, match="'id'"):
        target.process_line(_state(1))
    assert states == []
    assert [len(target.streams[s].buffer) for s in _STREAMS] == [0, 2, 0]
    assert writer.read("s_a").count() == 1 and writer.read("s_c").count() == 1
    assert not writer.table_exists("s_b")


def test_failed_drains_raise_in_declaration_order(spark, writer):
    """With two failing streams the error raised is the first declared
    stream's, even when the later one fails first."""
    target = SingerTarget(spark, writer)
    _buffer_three_streams(target)
    c_failed = threading.Event()

    def append_failing(df, stream):
        if stream == "s_b":
            c_failed.wait(timeout=30)
            raise OSError("s_b: warehouse failure")
        if stream == "s_c":
            c_failed.set()
            raise OSError("s_c: warehouse failure")

    writer.append = append_failing
    with pytest.raises(OSError, match="s_b"):
        target.process_line(_state(1))
    assert c_failed.is_set()
    assert [len(target.streams[s].buffer) for s in _STREAMS] == [0, 1, 1]


def test_concurrent_drains_get_distinct_batch_sequences(spark, tmp_path):
    """``_sdc_sequence`` is one counter on the writer; three streams
    drained in one STATE must each get their own value."""
    writer = StreamWriter(
        spark,
        WriterConfig(warehouse=str(tmp_path), add_record_metadata=True),
        mode="parquet",
    )
    target = SingerTarget(spark, writer)
    _buffer_three_streams(target)
    target.process_line(_state(1))
    seqs = {s: writer.read(s).first()["_sdc_sequence"] for s in _STREAMS}
    assert sorted(seqs.values()) == [1, 2, 3]


def test_concurrent_drains_run_in_the_callers_job_group(spark, tmp_path):
    """Drain threads inherit the caller's Spark local properties: the
    write jobs of a 3-stream STATE belong to the caller's job group, so
    cancelling or tracing that group covers them. A sorted table is
    written by Spark (a plain append starts no job, see
    test_singer_file_append.py); these one-column streams cannot be
    partitioned by their only column."""
    writer = StreamWriter(
        spark, WriterConfig(warehouse=str(tmp_path), sort_by=("id",)), mode="parquet"
    )
    target = SingerTarget(spark, writer)
    _buffer_three_streams(target)
    sc = spark.sparkContext
    group = f"test-singer-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "3-stream STATE")
    try:
        target.process_line(_state(1))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # the status tracker is fed by the listener bus, asynchronously
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert len(sc.statusTracker().getJobIdsForGroup(group)) >= len(_STREAMS)


def test_concurrent_drains_do_not_share_local_properties(spark, writer):
    """Spark sets per-query local properties (the SQL execution id) on
    the running thread during a write. Each drain thread must hold its
    own copy of the caller's properties, or one stream's write would
    overwrite another's while both are in flight."""
    target = SingerTarget(spark, writer)
    _buffer_three_streams(target)
    sc = spark.sparkContext
    barrier = threading.Barrier(3, timeout=30)
    seen = {}
    orig_append = writer.append

    def append_probe(df, stream):
        sc.setLocalProperty("test.drain.stream", stream)
        barrier.wait()
        seen[stream] = sc.getLocalProperty("test.drain.stream")
        return orig_append(df, stream)

    writer.append = append_probe
    target.process_line(_state(1))
    assert seen == {s: s for s in _STREAMS}
    assert sc.getLocalProperty("test.drain.stream") is None


def test_concurrent_drains_raise_no_user_warning(spark, writer):
    """PySpark warns when a thread wrapper is built without the session;
    a 3-stream STATE must not warn."""
    target = SingerTarget(spark, writer)
    _buffer_three_streams(target)
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        target.process_line(_state(1))
    assert [str(w.message) for w in caught if issubclass(w.category, UserWarning)] == []
