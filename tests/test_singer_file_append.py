"""The parquet-mode file append: a drained Singer batch bound for an
unpartitioned, unsorted table without record metadata is written by
pyarrow as one file, published by one rename, with no Spark job
(``writer.py::StreamWriter._append_file``).

Pinned here: nulls in non-nullable slots are rejected before anything
is written (pyarrow would store them as 0), a failed rename publishes
nothing and keeps the buffer, the file path reads back exactly as a
Spark write of the same table, and which configurations route a table
through Spark instead.
"""

from __future__ import annotations

import json
import os
import uuid

import pytest

import target_iceberg_spark.writer as writer_mod
from target_iceberg_spark.sources.singer import SingerTarget
from target_iceberg_spark.writer import StreamWriter, WriterConfig

USERS = {
    "type": "SCHEMA",
    "stream": "users",
    "key_properties": ["id"],
    "schema": {
        "properties": {
            "id": {"type": ["integer"]},
            "name": {"type": ["string", "null"]},
            "addr": {
                "type": ["object", "null"],
                "properties": {"zip": {"type": ["integer"]}},
            },
        }
    },
}

FLAT = {
    "type": "SCHEMA",
    "stream": "flat",
    "key_properties": ["id"],
    "schema": {
        "properties": {
            "id": {"type": ["integer"]},
            "name": {"type": ["string", "null"]},
            "score": {"type": ["number", "null"]},
            "active": {"type": ["boolean", "null"]},
            "signup_date": {"type": ["string", "null"], "format": "date"},
            "created_at": {"type": ["string", "null"], "format": "date-time"},
        }
    },
}

NESTED = {
    "type": "SCHEMA",
    "stream": "nested",
    "key_properties": ["id"],
    "schema": {
        "properties": {
            "id": {"type": ["integer"]},
            "customer": {
                "type": ["object", "null"],
                "properties": {
                    "name": {"type": ["string", "null"]},
                    "tier": {"type": ["integer", "null"]},
                    "address": {
                        "type": ["object", "null"],
                        "properties": {
                            "city": {"type": ["string", "null"]},
                            "zip": {"type": ["string", "null"]},
                        },
                    },
                },
            },
            "tags": {"type": ["array", "null"], "items": {"type": ["string"]}},
            "qty": {"type": ["array", "null"], "items": {"type": ["integer"]}},
        }
    },
}

TEXT = {
    "type": "SCHEMA",
    "stream": "text",
    "key_properties": ["id"],
    "schema": {
        "properties": {
            "id": {"type": ["integer"]},
            "title": {"type": ["string", "null"]},
            "body": {"type": ["string", "null"]},
            "lang": {"type": ["string", "null"]},
        }
    },
}


def _record(stream, rec):
    return json.dumps({"type": "RECORD", "stream": stream, "record": rec})


def _state(n):
    return json.dumps({"type": "STATE", "value": {"n": n}})


def _files(path, suffix):
    return sorted(
        f for _, _, files in os.walk(path) for f in files if f.endswith(suffix)
    )


def _three_stream_lines() -> list[str]:
    """Flat rows with dates, date-times and nulls, a nested struct with
    arrays, and long text; three records per stream."""
    flat = [
        {"id": 1, "name": "a", "score": 1.5, "active": True,
         "signup_date": "2024-02-29", "created_at": "2024-01-01T12:00:00+02:00"},
        {"id": 2, "name": None, "score": 3, "active": None,
         "signup_date": None, "created_at": "2023-12-31T23:59:59.123456Z"},
        {"id": 3},
    ]
    nested = [
        {"id": 1, "customer": {"name": "c", "tier": 2,
                               "address": {"city": "Oslo", "zip": "0150"}},
         "tags": ["x", "y"], "qty": [1, 2, 3]},
        {"id": 2, "customer": {"name": None, "tier": None, "address": None},
         "tags": [], "qty": None},
        {"id": 3, "customer": None, "tags": None, "qty": []},
    ]
    text = [
        {"id": i, "title": f"t{i}", "body": ("lorem ipsum " * 800) + str(i),
         "lang": None if i == 2 else "en"}
        for i in (1, 2, 3)
    ]
    lines = [json.dumps(FLAT), json.dumps(NESTED), json.dumps(TEXT)]
    for rows in zip(flat, nested, text):
        for stream, rec in zip(("flat", "nested", "text"), rows):
            lines.append(_record(stream, rec))
    return lines


def _state_jobs(spark, target, n) -> list[int]:
    sc = spark.sparkContext
    group = f"test-file-append-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "STATE")
    try:
        target.process_line(_state(n))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # the status tracker is fed by the listener bus, asynchronously
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return list(sc.statusTracker().getJobIdsForGroup(group))


def _writer(spark, tmp_path, name="wh", **config):
    return StreamWriter(
        spark, WriterConfig(warehouse=str(tmp_path / name), **config), mode="parquet"
    )


@pytest.fixture()
def writer(spark, tmp_path):
    return _writer(spark, tmp_path)


# -- nulls in non-nullable slots ---------------------------------------------

@pytest.mark.parametrize(
    "record",
    [{"id": None}, {"id": 1, "addr": {"zip": None}}],
    ids=["top_level", "struct_field"],
)
def test_null_in_a_non_nullable_slot_fails_before_any_file(spark, writer, record):
    """pyarrow stores a null in an ``int64 not null`` column as 0; the
    drain must raise instead, keep the buffer, withhold STATE and leave
    no file in the table directory."""
    states = []
    target = SingerTarget(spark, writer, state_callback=states.append)
    target.process_line(json.dumps(USERS))
    target.process_line(_record("users", record))
    with pytest.raises(ValueError, match="not nullable"):
        target.process_line(_state(1))
    assert target.streams["users"].buffer == [record]
    assert states == [] and target.emitted_states == []
    assert _files(writer.table_path("users"), "") == []


# -- the commit: one rename --------------------------------------------------

def test_failed_rename_publishes_nothing_and_the_retry_commits_once(
    spark, writer, monkeypatch
):
    """The rename is the commit: when it fails, the drain raises, the
    table's visible rows are unchanged, the temp file is gone, the
    buffer is kept and STATE is withheld. The next STATE commits the
    batch exactly once."""
    states = []
    target = SingerTarget(spark, writer, state_callback=states.append)
    target.process_line(json.dumps(USERS))
    target.process_line(_record("users", {"id": 1}))
    target.process_line(_state(1))
    target.process_line(_record("users", {"id": 2}))
    target.process_line(_record("users", {"id": 3}))

    rename = os.rename
    failures = []

    def rename_failing_once(src, dst):
        if not failures:
            failures.append(src)
            raise OSError("rename failed")
        return rename(src, dst)

    monkeypatch.setattr(writer_mod.os, "rename", rename_failing_once)
    with pytest.raises(OSError, match="rename failed"):
        target.process_line(_state(2))
    assert os.path.basename(failures[0]).startswith(".")
    assert writer.read("users").count() == 1
    assert _files(writer.table_path("users"), ".tmp") == []
    assert len(target.streams["users"].buffer) == 2
    assert states == [{"n": 1}]

    target.process_line(_state(3))
    assert states == [{"n": 1}, {"n": 3}]
    assert sorted(r["id"] for r in writer.read("users").collect()) == [1, 2, 3]
    assert target.streams["users"].records_written == 3


def test_three_stream_state_writes_three_files(spark, writer):
    """One file per stream per drain, no temp file left over, and no
    Spark job."""
    target = SingerTarget(spark, writer)
    lines = _three_stream_lines()
    target.run(lines)
    before = _files(writer.config.warehouse, ".parquet")
    for line in lines[3:]:
        target.process_line(line)
    assert _state_jobs(spark, target, 1) == []
    after = _files(writer.config.warehouse, ".parquet")
    assert len(before) == 3
    assert len(set(after) - set(before)) == 3
    assert _files(writer.config.warehouse, ".tmp") == []


# -- parity with a Spark write -----------------------------------------------

class _SparkAppendWriter(StreamWriter):
    """Writes every appended table as ``spark.createDataFrame(table)``."""

    def append(self, data, stream):
        super().append(self.spark.createDataFrame(data), stream)


def test_file_append_reads_back_as_a_spark_write(spark, tmp_path):
    """The same drained tables, written by pyarrow and by Spark, read
    back with equal schemas and equal rows."""
    lines = _three_stream_lines()
    by_file = _writer(spark, tmp_path, "file")
    by_spark = _SparkAppendWriter(
        spark, WriterConfig(warehouse=str(tmp_path / "spark")), mode="parquet"
    )
    SingerTarget(spark, by_file).run(lines)
    SingerTarget(spark, by_spark).run(lines)
    for stream in ("flat", "nested", "text"):
        got, want = by_file.read(stream), by_spark.read(stream)
        assert got.schema == want.schema, stream
        assert got.count() == 3
        assert got.exceptAll(want).count() == 0, stream
        assert want.exceptAll(got).count() == 0, stream
    row = by_file.read("flat").where("id = 1").selectExpr(
        "cast(signup_date as string) AS d", "cast(created_at as string) AS ts"
    ).first()
    assert (row["d"], row["ts"]) == ("2024-02-29", "2024-01-01 10:00:00")


def test_table_of_spark_and_pyarrow_files_reads_under_the_merged_schema(
    spark, writer, tmp_path
):
    """A BATCH file (written by Spark) and a later RECORD file (written
    by pyarrow, under a schema with one more column) read back as one
    table: the BATCH rows have NULL in the added column."""
    f = tmp_path / "batch.jsonl"
    f.write_text('{"id": 1, "name": "a"}\n{"id": 2, "name": "b"}\n')
    narrow = {**USERS, "schema": {"properties": {
        "id": {"type": ["integer"]}, "name": {"type": ["string", "null"]}}}}
    target = SingerTarget(spark, writer)
    target.run([
        json.dumps(narrow),
        json.dumps({"type": "BATCH", "stream": "users", "manifest": [str(f)]}),
        json.dumps(USERS),
        _record("users", {"id": 3, "name": "c", "addr": {"zip": 7}}),
    ])
    df = writer.read("users")
    assert df.columns == ["id", "name", "addr"]
    rows = {r["id"]: (r["name"], r["addr"] and r["addr"]["zip"]) for r in df.collect()}
    assert rows == {1: ("a", None), 2: ("b", None), 3: ("c", 7)}


# -- routing -----------------------------------------------------------------

@pytest.mark.parametrize(
    "config, upsert, by_spark",
    [
        ({}, False, False),
        ({"partition_by": ("id",)}, False, True),
        ({"sort_by": ("id",)}, False, True),
        ({"add_record_metadata": True}, False, True),
        ({}, True, True),
    ],
    ids=["plain", "partition_by", "sort_by", "add_record_metadata", "upsert"],
)
def test_which_drains_go_through_spark(spark, tmp_path, config, upsert, by_spark):
    """Partitioned, sorted and metadata-stamped tables, and upserts, are
    written by Spark jobs in the caller's job group; a plain append
    starts no Spark job."""
    writer = _writer(spark, tmp_path, **config)
    target = SingerTarget(spark, writer, upsert_on_keys=upsert)
    target.process_line(json.dumps(USERS))
    for i in range(3):
        target.process_line(_record("users", {"id": i, "name": f"n{i}"}))
    jobs = _state_jobs(spark, target, 1)
    assert (len(jobs) > 0) == by_spark, jobs
    assert sorted(r["id"] for r in writer.read("users").collect()) == [0, 1, 2]
