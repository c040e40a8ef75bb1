"""The Singer target's hand-off to the writer: each drained buffer becomes
one ``pyarrow.Table`` (``sources/singer.py::_drain``).

pyarrow accepts values the row-wise ``createDataFrame(list[dict])``
verifier rejected, and the other way round, so ``_coerce_value`` carries
the verifier's rules. The matrix below pins them: for every value x
Spark type x position (top level, struct field, array element) the
drained row must equal what ``createDataFrame(rows, schema)`` builds
from the same record, or both must raise. Two cells differ on purpose:
an int in a double slot is stored as a float (the row verifier raised),
and temporal values are checked against literal UTC instants (the row
path is only right on a UTC host).
"""

from __future__ import annotations

import json
from collections.abc import Callable
from functools import partial
from types import SimpleNamespace
from typing import Any

import pyarrow as pa
import pytest
import pyspark.sql.functions as F
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DateType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from target_iceberg_spark.sources.singer import SingerTarget, _StreamState

RAISES = "raises"

TYPES = {
    "string": StringType(),
    "long": LongType(),
    "double": DoubleType(),
    "boolean": BooleanType(),
    "timestamp": TimestampType(),
    "date": DateType(),
}

VALUES = [
    "abc", "12345", 5, 0, -7, 3.5, 3.0, True, False, None,
    "2024-01-01T12:00:00+02:00", "2024-01-02", {"k": 1}, [1, 2], 2**63,
]

# temporal slots: ISO strings parse, None stays null, everything else raises
TEMPORAL = {
    "timestamp": {
        "2024-01-01T12:00:00+02:00": "2024-01-01T10:00:00.000Z",
        "2024-01-02": "2024-01-02T00:00:00.000Z",
    },
    "date": {"2024-01-02": "2024-01-02"},
}


def _slot(kind: str, position: str) -> tuple[StructType, Callable[[int, Any], dict]]:
    """(stream schema, (id, value) -> record) with the slot at ``position``."""
    t = TYPES[kind]
    key = StructField("id", LongType(), False)
    if position == "top":
        return StructType([key, StructField("c", t, True)]), (
            lambda i, v: {"id": i, "c": v})
    if position == "struct":
        inner = StructType([StructField("c", t, True)])
        return StructType([key, StructField("s", inner, True)]), (
            lambda i, v: {"id": i, "s": {"c": v}})
    return StructType([key, StructField("a", ArrayType(t, containsNull=True), True)]), (
        lambda i, v: {"id": i, "a": [v]})


def _json_rows(df) -> list[str]:
    return [r[0] for r in df.select(F.to_json(F.struct("*"))).collect()]


class _CaptureWriter:
    """Stands in for StreamWriter: keeps each appended table's type and
    its rows, as Spark reads them from the table."""

    config = SimpleNamespace(add_record_metadata=False)

    def __init__(self, spark, collect: bool = True):
        self.spark = spark
        self.collect = collect
        self.batches: list[list[str]] = []
        self.types: list[type] = []

    def append(self, table, stream):
        self.types.append(type(table))
        rows = _json_rows(self.spark.createDataFrame(table)) if self.collect else []
        self.batches.append(rows)


def _drain(spark, schema: StructType, records: list[dict], collect: bool = True):
    """Feed ``records`` through a target and drain them at STATE;
    returns the written rows (as JSON), or RAISES."""
    writer = _CaptureWriter(spark, collect)
    target = SingerTarget(spark, writer)
    # nested temporal slots have no JSON-Schema spelling: set the schema
    target.streams["s"] = _StreamState("s", schema, [])
    for r in records:
        target.process_line(json.dumps({"type": "RECORD", "stream": "s", "record": r}))
    try:
        target.process_line(json.dumps({"type": "STATE", "value": {}}))
    except (TypeError, ValueError, OverflowError, pa.ArrowException):
        assert target.streams["s"].buffer == records  # kept for a retry
        return RAISES
    (batch,) = writer.batches
    return batch


def _row_path(spark, schema: StructType, records: list[dict], collect: bool = True):
    """What ``createDataFrame(list[dict], schema)`` stores, or RAISES."""
    try:
        df = spark.createDataFrame(records, schema=schema)
    except (TypeError, ValueError, OverflowError):
        return RAISES
    return _json_rows(df) if collect else []


def _by_id(rows: list[str]) -> dict[int, str]:
    return {json.loads(r)["id"]: r for r in rows}


def _outcomes(build, schema, records: dict[int, dict]) -> dict[int, str]:
    """Per record id: its row, or RAISES. Each record is first tried
    alone without running a job (both paths raise before any job);
    the accepted ones then go through together, in one job."""
    out = {i: RAISES for i, r in records.items() if build(schema, [r], collect=False) == RAISES}
    ok = [r for i, r in records.items() if i not in out]
    return {**out, **_by_id(build(schema, ok) if ok else [])}


@pytest.mark.parametrize("position", ["top", "struct", "array"])
@pytest.mark.parametrize("kind", list(TYPES))
def test_handoff_matches_row_path(spark, kind, position):
    schema, make = _slot(kind, position)
    got = _outcomes(partial(_drain, spark), schema, {i: make(i, v) for i, v in enumerate(VALUES)})
    literal, reference = {}, {}
    for i, v in enumerate(VALUES):
        if kind in TEMPORAL and v is not None:
            instant = TEMPORAL[kind].get(v) if isinstance(v, str) else None
            literal[i] = RAISES if instant is None else json.dumps(
                make(i, instant), separators=(",", ":"))
        else:
            # the one intended change: a JSON 5 in a number slot is 5.0
            as_double = kind == "double" and type(v) is int
            reference[i] = make(i, float(v) if as_double else v)
    want = {**literal, **_outcomes(partial(_row_path, spark), schema, reference)}
    mismatches = [
        f"{VALUES[i]!r}: drained {got[i]} != expected {want[i]}"
        for i in range(len(VALUES)) if got[i] != want[i]
    ]
    assert not mismatches, "\n".join(mismatches)


USERS = {
    "type": "SCHEMA",
    "stream": "users",
    "key_properties": ["id"],
    "schema": {
        "properties": {
            "id": {"type": ["integer"]},
            "n": {"type": ["integer", "null"]},
            "score": {"type": ["number", "null"]},
            "at": {"type": ["string", "null"], "format": "date-time"},
            "tags": {"type": ["array", "null"], "items": {"type": ["string"]}},
            "addr": {
                "type": ["object", "null"],
                "properties": {"zip": {"type": ["integer"]}},
            },
        }
    },
}


@pytest.mark.parametrize(
    "record",
    [
        {"id": 1, "n": 3.5},  # pyarrow would truncate to 3
        {"id": 1, "n": 3.0},
        {"id": 1, "score": True},  # pyarrow would store 1.0
        {"id": None},  # null in a non-nullable key
        {"id": 2**63},  # int64 overflow
        {"id": 1, "addr": {"zip": None}},  # null in a non-nullable nested field
        {"id": 1, "at": 1704067200},  # pyarrow would read an epoch offset
        {"id": 1, "tags": "abc"},  # pyarrow would split the string
    ],
)
def test_rejected_values_fail_the_drain_and_keep_the_buffer(spark, record):
    target = SingerTarget(spark, _CaptureWriter(spark, collect=False))
    target.process_line(json.dumps(USERS))
    target.process_line(json.dumps({"type": "RECORD", "stream": "users", "record": record}))
    with pytest.raises((TypeError, ValueError, OverflowError)):
        target.process_line(json.dumps({"type": "STATE", "value": {}}))
    assert target.streams["users"].buffer == [record]
    assert target.emitted_states == []


def test_json_array_in_object_slot_is_positional(spark):
    """The row verifier read a list in a struct slot by position."""
    schema = StructType([
        StructField("id", LongType(), False),
        StructField("s", StructType([StructField("a", StringType()), StructField("b", LongType())])),
    ])
    record = {"id": 1, "s": ["x", 2]}
    assert _drain(spark, schema, [record]) == _row_path(spark, schema, [record])
    assert _drain(spark, schema, [{"id": 1, "s": ["x"]}], collect=False) == RAISES


def test_each_drain_hands_spark_one_arrow_table(spark):
    writer = _CaptureWriter(spark)
    target = SingerTarget(spark, writer, max_batch_size=3)
    target.process_line(json.dumps(USERS))
    for i in range(5):  # one full-buffer drain, then one at STATE
        target.process_line(json.dumps(
            {"type": "RECORD", "stream": "users", "record": {"id": i, "score": i}}))
    target.process_line(json.dumps({"type": "STATE", "value": {}}))
    assert writer.types == [pa.Table, pa.Table]
    assert [len(b) for b in writer.batches] == [3, 2]
