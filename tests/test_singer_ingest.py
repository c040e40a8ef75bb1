"""Pins for the ingest paths' shape: one window per parquet upsert, one
drain path (pool threads in the caller's job group), the loud failure
of BATCH and of the bulk demux on lines that do not fit the stream
schema, and the CLI's quiet stderr."""

from __future__ import annotations

import json
import re
import uuid

import pytest

import target_iceberg_spark.__main__ as cli
from target_iceberg_spark.sources.singer import SingerTarget, demux_singer_file
from target_iceberg_spark.writer import StreamWriter, WriterConfig

SCHEMA = {
    "type": "SCHEMA",
    "stream": "users",
    "key_properties": ["id"],
    "schema": {
        "properties": {
            "id": {"type": ["integer"]},
            "name": {"type": ["string", "null"]},
        }
    },
}
STATE = json.dumps({"type": "STATE", "value": {"n": 1}})


def _record(**rec):
    return json.dumps({"type": "RECORD", "stream": "users", "record": rec})


@pytest.fixture()
def writer(spark, tmp_path):
    return StreamWriter(spark, WriterConfig(warehouse=str(tmp_path)), mode="parquet")


# -- parquet upsert -----------------------------------------------------------

def _users(spark, rows):
    return spark.createDataFrame(rows, "id long, name string")


def test_upsert_batch_last_row_wins_over_table_and_batch(spark, writer):
    """Key 1 is untouched, key 2 takes the batch's LAST row (not its
    first, not the stored one), key 3 is inserted."""
    writer.upsert(_users(spark, [(1, "stored1"), (2, "stored2")]), "users", ["id"])
    batch = _users(spark, [(2, "first"), (3, "new"), (2, "last")])
    writer.upsert(batch, "users", ["id"])
    rows = {r["id"]: r["name"] for r in writer.read("users").collect()}
    assert rows == {1: "stored1", 2: "last", 3: "new"}


def test_parquet_upsert_plans_one_window(spark, writer):
    """Batch dedupe and table merge are one window: the frame handed to
    the table swap has exactly one Window node in its optimized plan."""
    writer.upsert(_users(spark, [(1, "a"), (2, "b")]), "users", ["id"])
    handed = []
    swap = writer._swap_write

    def capture(df, stream, n_files=None):
        handed.append(df)
        return swap(df, stream, n_files)

    writer._swap_write = capture
    writer.upsert(_users(spark, [(2, "c"), (3, "d")]), "users", ["id"])
    plan = handed[0]._jdf.queryExecution().optimizedPlan().toString()
    # "Window [" and not "WindowGroupLimit [", which the optimizer adds
    # below a row_number() == 1 filter
    assert len(re.findall(r"\bWindow \[", plan)) == 1, plan


# -- one drain path -----------------------------------------------------------

@pytest.mark.parametrize("trigger", ["state", "size"])
def test_single_stream_drain_runs_in_the_callers_job_group(spark, tmp_path, trigger):
    """A 1-stream STATE and a size-triggered drain write on a pool
    thread; the write still carries the caller's job group. The table
    is partitioned, so Spark writes it (a file append starts no job)."""
    writer = StreamWriter(
        spark, WriterConfig(warehouse=str(tmp_path), partition_by=("id",)), mode="parquet"
    )
    target = SingerTarget(spark, writer, max_batch_size=2)
    target.process_line(json.dumps(SCHEMA))
    target.process_line(_record(id=1, name="a"))
    groups = []
    append = writer.append
    sc = spark.sparkContext

    def probe(df, stream):
        groups.append(sc.getLocalProperty("spark.jobGroup.id"))
        return append(df, stream)

    writer.append = probe
    group = f"test-singer-{uuid.uuid4().hex}"
    sc.setJobGroup(group, f"1-stream {trigger} drain")
    try:
        target.process_line(STATE if trigger == "state" else _record(id=2, name="b"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # the status tracker is fed by the listener bus, asynchronously
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert groups == [group]
    assert len(sc.statusTracker().getJobIdsForGroup(group)) >= 1
    assert target.streams["users"].buffer == []


# -- BATCH lines that do not fit the schema -----------------------------------

BAD_LINES = {
    "malformed": '{"id": 2, "name": }',
    "not_json": "not json",
    "string_in_integer": '{"id": "x", "name": "b"}',
    "float_in_integer": '{"id": 3.5, "name": "b"}',
}


@pytest.mark.parametrize("bad", BAD_LINES.values(), ids=BAD_LINES.keys())
def test_batch_with_a_bad_line_raises_before_writing(spark, writer, tmp_path, bad):
    """Raised as a ValueError naming the stream; no BATCH row is written
    and the STATE after it is withheld."""
    f = tmp_path / "batch.jsonl"
    f.write_text('{"id": 1, "name": "a"}\n' + bad + "\n")
    batch = json.dumps({"type": "BATCH", "stream": "users", "manifest": [str(f)]})
    states = []
    target = SingerTarget(spark, writer, state_callback=states.append)
    with pytest.raises(ValueError, match=r"BATCH for stream 'users'.*batch\.jsonl"):
        target.run([json.dumps(SCHEMA), batch, STATE])
    assert not writer.table_exists("users")
    assert states == []


def test_batch_with_a_bad_line_still_commits_buffered_records(spark, writer, tmp_path):
    """RECORDs buffered before the BATCH drain first and stay committed."""
    f = tmp_path / "batch.jsonl"
    f.write_text('{"id": 1, "name": "a"}\n{"id": "x", "name": "b"}\n')
    batch = json.dumps({"type": "BATCH", "stream": "users", "manifest": [str(f)]})
    states = []
    target = SingerTarget(spark, writer, state_callback=states.append)
    with pytest.raises(ValueError, match="failed to parse"):
        target.run([json.dumps(SCHEMA), _record(id=100, name="buffered"), batch, STATE])
    assert [r["id"] for r in writer.read("users").collect()] == [100]
    assert target.streams["users"].records_written == 1
    assert states == []


# -- bulk demux: the same malformed-record policy ----------------------------

def test_demux_fails_loudly_on_a_record_that_does_not_fit(spark, tmp_path):
    """A RECORD whose payload does not fit the stream schema fails the
    read, as a BATCH line does, instead of landing as a row of NULLs;
    lines that are not Singer RECORDs are still skipped."""
    good = [json.dumps(SCHEMA), "not json", STATE, _record(id=1, name="a")]
    p = tmp_path / "good.jsonl"
    p.write_text("\n".join(good) + "\n")
    assert [r["id"] for r in demux_singer_file(spark, str(p))["users"].collect()] == [1]

    p = tmp_path / "bad.jsonl"
    p.write_text("\n".join([*good, _record(id="x", name="b")]) + "\n")
    users = demux_singer_file(spark, str(p))["users"]
    with pytest.raises(Exception, match="MALFORMED_RECORD_IN_PARSING"):
        users.collect()


# -- CLI ----------------------------------------------------------------------

def test_cli_turns_off_console_progress(spark, tmp_path, monkeypatch, capsys):
    """Spark's stage progress bars would interleave with the per-stream
    summary on stderr."""
    confs = []

    def get_spark(app_name, master=None, extra_conf=None):
        confs.append(extra_conf or {})
        return spark

    monkeypatch.setattr(cli, "get_spark", get_spark)
    cfg = tmp_path / "config.json"
    cfg.write_text(json.dumps({"warehouse": str(tmp_path / "wh")}))
    src = tmp_path / "in.jsonl"
    src.write_text("\n".join([json.dumps(SCHEMA), _record(id=1, name="a"), STATE]) + "\n")
    assert cli.main(["--config", str(cfg), "--input", str(src), "--mode", "parquet"]) == 0
    assert [c.get("spark.ui.showConsoleProgress") for c in confs] == ["false"]
    assert "users: 1 records in 1 batches" in capsys.readouterr().err
