"""Singer JSONL message source — the reference's ingestion surface.

The reference (a Meltano Singer target) reads JSONL messages on stdin:
SCHEMA declares a stream's JSON Schema, RECORD carries one row, STATE
is a bookmark to re-emit once preceding records are durably written,
ACTIVATE_VERSION signals a full refresh (reference target.py:6,12 —
SDK-inherited listen loop; sinks.py:20-41 — per-stream buffering with
``max_size = 10000``, sinks.py:18).

Two ingestion paths, same semantics:

  * :class:`SingerTarget` — the parity path. A driver-side listen loop:
    demux messages per stream, buffer up to ``max_batch_size`` records,
    drain each full buffer (and all buffers at STATE/EOF) through the
    writer as one ``pyarrow.Table`` (the reference's
    ``pa.Table.from_pylist``, sinks.py:82). The writer commits it as
    the reference's ``table.append`` does: in parquet mode an append is
    one file written in-process by pyarrow, with no Spark job; upserts,
    Iceberg mode and partitioned, sorted or metadata-stamped tables
    hand the table to Spark. Matches the reference's lifecycle
    (SURVEY §3) including at-least-once STATE emission. Every drain
    goes through :meth:`SingerTarget._drain`: at STATE/EOF the streams
    holding records are written concurrently, each on its own thread,
    so their writes overlap; STATE is emitted only once every drain has
    succeeded.

  * :func:`demux_singer_file` — the scale path the reference lacks.
    For bulk backfills (a 100 TB pile of Singer JSONL on object
    storage) the listen loop's driver-side buffering is the bottleneck,
    so instead: read the files as a distributed text DataFrame, filter
    RECORD lines per stream, and parse them executor-side with
    ``from_json`` under the translated schema, failing loudly on a
    payload that does not fit it, as BATCH does. One Spark job per
    stream, fully parallel, no driver round-trip.
"""

from __future__ import annotations

import json
from collections.abc import Callable, Iterable
from concurrent.futures import Future, ThreadPoolExecutor
from dataclasses import dataclass, field
from datetime import date, datetime, timezone
from typing import Any

import pyarrow as pa
import pyspark.sql.functions as F
from py4j.protocol import Py4JJavaError
from pyspark.errors import PySparkException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DataType,
    DateType,
    DoubleType,
    LongType,
    StringType,
    StructType,
    TimestampType,
)
from pyspark.util import inheritable_thread_target

from target_iceberg_spark.bounded import bounded_collect
from target_iceberg_spark.schema import json_schema_to_struct_type
from target_iceberg_spark.writer import StreamWriter

DEFAULT_MAX_BATCH_SIZE = 10_000  # reference sinks.py:18
# Upper bound on the streams drained at once at a STATE boundary.
_DRAIN_THREADS = 8


def _parse_timestamp(value: str) -> datetime:
    """ISO-8601 -> naive UTC datetime. The Arrow timestamp columns are
    ``timestamp[us, UTC]``, which reads naive values as UTC, so the
    stored instant never depends on the host's time zone."""
    dt = datetime.fromisoformat(value.replace("Z", "+00:00"))
    if dt.tzinfo is not None:
        dt = dt.astimezone(timezone.utc).replace(tzinfo=None)
    return dt


def _coerce_value(value: Any, dtype: DataType, name: str, nullable: bool) -> Any:
    """Turn one JSON value into what pyarrow stores under ``dtype``'s
    Arrow type, or raise. Recurses into structs and
    array elements.

    ISO strings become dates and timestamps (the reference gets this
    from pyarrow's string->timestamp cast, sinks.py:82). Other values
    keep the rules the row-wise ``createDataFrame`` verifier enforced,
    since pyarrow alone would store some of them silently:

      * a non-string scalar in a string slot is stored as ``str(v)``,
        bools as ``'true'``/``'false'``;
      * an integer slot takes only ints (pyarrow truncates 3.5 to 3),
        a number slot ints and floats (a JSON ``5`` is ``5.0``) but not
        bools, a boolean slot only bools;
      * a temporal slot takes only strings (pyarrow reads an int as an
        epoch offset), an array slot only lists (pyarrow splits a
        string into characters);
      * None is taken only where ``nullable`` (the field's
        ``nullable``, an array's ``containsNull``) allows it: pyarrow
        stores a null in a non-nullable column as 0 or ''.

    Integers outside int64 are left to pyarrow, which raises."""
    if value is None:
        if nullable:
            return None
        raise ValueError(f"field {name!r}: {dtype.simpleString()} is not nullable, got None")
    kind, vtype = type(dtype), type(value)
    if kind is StringType:
        if vtype is str:
            return value
        return ("true" if value else "false") if vtype is bool else str(value)
    if kind is LongType:
        if vtype is int:
            return value
    elif kind is DoubleType:
        if vtype is float:
            return value
        if vtype is int:
            return float(value)
    elif kind is BooleanType:
        if vtype is bool:
            return value
    elif kind is TimestampType:
        if vtype is str:
            return _parse_timestamp(value)
    elif kind is DateType:
        if vtype is str:
            return date.fromisoformat(value)
    elif kind is StructType:
        if vtype is dict:
            return _coerce_record(value, dtype)
        if vtype in (list, tuple) and len(value) == len(dtype.fields):
            # positional, as the row verifier accepted
            return _coerce_record(dict(zip(dtype.names, value)), dtype)
    elif kind is ArrayType:
        if vtype in (list, tuple):
            return [
                _coerce_value(v, dtype.elementType, name, dtype.containsNull)
                for v in value
            ]
    else:
        return value
    raise TypeError(
        f"field {name!r}: {dtype.simpleString()} can not accept {value!r} ({vtype.__name__})"
    )


def _coerce_record(record: dict[str, Any], schema: StructType) -> dict[str, Any]:
    return {
        f.name: _coerce_value(record.get(f.name), f.dataType, f.name, f.nullable)
        for f in schema.fields
    }


@dataclass
class _StreamState:
    """Per-stream sink state (mirrors one reference IcebergSink,
    sinks.py:20-34: stream_name + schema + key_properties + buffer)."""

    name: str
    schema: StructType
    key_properties: list[str]
    # raw RECORD payloads; coerced when drained
    buffer: list[dict[str, Any]] = field(default_factory=list)
    # per-record raw time_extracted, parallel to buffer (None when absent)
    extracted: list[Any] = field(default_factory=list)
    records_written: int = 0
    batches_written: int = 0
    version: int | None = None  # Singer table version (ACTIVATE_VERSION)
    wrote_untagged: bool = False  # batches drained before any version known

    def __post_init__(self) -> None:
        self.set_schema(self.schema)

    def set_schema(self, schema: StructType) -> None:
        self.schema = schema
        self.arrow_schema = to_arrow_schema(schema)


class SingerTarget:
    """Listen-loop target: Singer JSONL in, engine tables out.

    ``upsert_on_keys=True`` turns keyed streams into last-write-wins
    merges (engine extension); False replicates the reference's
    append-only behavior exactly (sinks.py:25,100).
    """

    def __init__(
        self,
        spark: SparkSession,
        writer: StreamWriter,
        max_batch_size: int = DEFAULT_MAX_BATCH_SIZE,
        upsert_on_keys: bool = False,
        state_callback: Callable[[dict[str, Any]], None] | None = None,
    ):
        self.spark = spark
        self.writer = writer
        self.max_batch_size = max_batch_size
        self.upsert_on_keys = upsert_on_keys
        self.state_callback = state_callback
        self.streams: dict[str, _StreamState] = {}
        self.emitted_states: list[dict[str, Any]] = []

    # -- message handling ------------------------------------------------
    def process_line(self, line: str) -> None:
        line = line.strip()
        if not line:
            return
        msg = json.loads(line)
        mtype = msg.get("type")
        if mtype == "SCHEMA":
            self._handle_schema(msg)
        elif mtype == "RECORD":
            self._handle_record(msg)
        elif mtype == "STATE":
            # STATE only re-emitted after preceding records are durable:
            # at-least-once, like the SDK (SURVEY §2 A15).
            self._drain_all()
            state = msg.get("value", {})
            self.emitted_states.append(state)
            if self.state_callback:
                self.state_callback(state)
        elif mtype == "ACTIVATE_VERSION":
            self._handle_activate(msg)
        elif mtype == "BATCH":
            self._handle_batch(msg)
        # unknown message types are ignored, as in the Singer spec

    def run(self, lines: Iterable[str]) -> dict[str, dict[str, int]]:
        for line in lines:
            self.process_line(line)
        self._drain_all()
        return {
            name: {"records": s.records_written, "batches": s.batches_written}
            for name, s in self.streams.items()
        }

    # -- internals -------------------------------------------------------
    def _handle_schema(self, msg: dict[str, Any]) -> None:
        name = msg["stream"]
        schema = json_schema_to_struct_type(msg["schema"])
        key_properties = list(msg.get("key_properties") or [])
        existing = self.streams.get(name)
        if existing is not None:
            # Taps routinely re-emit SCHEMA mid-sync. Replacing the
            # stream state here would reset version / records_written /
            # wrote_untagged, and a later ACTIVATE_VERSION would then
            # look like a start-of-sync announcement and silently skip
            # retiring older-version rows. Drain under the old schema,
            # then swap schema/keys in place, keeping sync progress.
            if existing.buffer:
                self._drain(existing)
            existing.set_schema(schema)
            existing.key_properties = key_properties
            return
        self.streams[name] = _StreamState(
            name=name, schema=schema, key_properties=key_properties
        )

    def _handle_record(self, msg: dict[str, Any]) -> None:
        name = msg["stream"]
        if name not in self.streams:
            raise ValueError(f"RECORD for stream {name!r} before its SCHEMA")
        stream = self.streams[name]
        if msg.get("version") is not None:
            stream.version = int(msg["version"])
        stream.buffer.append(msg["record"])
        # RECORD's optional time_extracted feeds _sdc_extracted_at
        # (SDK metadata, SURVEY §2 A12) when the writer stamps metadata
        stream.extracted.append(msg.get("time_extracted"))
        if len(stream.buffer) >= self.max_batch_size:
            self._drain(stream)

    def _handle_activate(self, msg: dict[str, Any]) -> None:
        """Singer ACTIVATE_VERSION (the reference parses-but-ignores it —
        SURVEY §2 A16): activating version v completes a full refresh, so
        rows of OLDER versions are retired. Batches of the activated
        version already on disk are preserved (never an overwrite-with-
        current-buffer, which would destroy earlier-drained batches of
        the same sync). Rows written before any version was known can't
        be attributed — they are left in place rather than guessed at."""
        stream = self.streams.get(msg.get("stream", ""))
        version = msg.get("version")
        if stream is None or version is None:
            return
        version = int(version)
        if stream.version is None and not stream.buffer and stream.records_written == 0:
            # start-of-sync announcement: just adopt the version
            stream.version = version
            return
        if stream.version is None:
            stream.version = version  # tag the still-buffered rows
        self._drain(stream)
        if stream.wrote_untagged:
            return  # ambiguous history — keep data, don't guess
        if not self.writer.table_exists(stream.name):
            return  # nothing on disk yet
        if "_sdc_table_version" not in self.writer.read(stream.name).columns:
            return  # pre-existing unversioned table — keep data
        self.writer.delete_where(
            stream.name, f"_sdc_table_version < {version}"
        )

    def _handle_batch(self, msg: dict[str, Any]) -> None:
        """Singer SDK ``BATCH`` message (SURVEY §2 A1): the tap has
        already written records to files — JSONL, one bare record dict
        per line — and sends a manifest of paths. The reference's SDK
        parses these; this engine routes them down the distributed bulk
        path: the files are read as a text DataFrame and parsed
        executor-side with ``from_json`` (same plan as
        :func:`demux_singer_file`), skipping the driver-side record
        buffer entirely — which is the point of BATCH at scale."""
        name = msg.get("stream", "")
        if name not in self.streams:
            raise ValueError(f"BATCH for stream {name!r} before its SCHEMA")
        stream = self.streams[name]
        fmt = (msg.get("encoding") or {}).get("format", "jsonl")
        if fmt != "jsonl":
            raise ValueError(f"unsupported BATCH encoding format: {fmt!r}")
        manifest = msg.get("manifest") or []
        if not manifest:
            return
        # drain buffered RECORDs first so per-stream arrival order holds
        self._drain(stream)
        # gzip et al. are handled by the text source via file extension
        paths = [p.removeprefix("file://") for p in manifest]
        parsed = (
            self.spark.read.text(paths)
            # trim: a whitespace-only separator line is blank, not a
            # malformed record — without it the loud-fail check below
            # would reject the whole batch over a stray " \n"
            .where(F.trim(F.col("value")) != "")
            # FAILFAST: under PERMISSIVE a malformed line or a mistyped
            # value parses to a struct of NULLs, written as a row; the
            # RECORD path (and the reference SDK) fails loudly, so must this
            .select(
                F.from_json("value", stream.schema, {"mode": "FAILFAST"}).alias("r")
            )
        )
        # The count must read the parsed column: a count of rows alone
        # lets the optimizer drop the parse, and nothing would raise.
        try:
            n_records = parsed.agg(F.count("r")).first()[0]
        except (Py4JJavaError, PySparkException) as e:
            if "MALFORMED_RECORD_IN_PARSING" not in str(e):
                raise
            raise ValueError(
                f"BATCH for stream {name!r}: a line in {paths} failed to "
                "parse under the stream schema"
            ) from e
        df = parsed.select("r.*")
        if stream.version is not None:
            df = df.withColumn("_sdc_table_version", F.lit(stream.version).cast("long"))
        self._write(stream, df, n_records)

    def _write(
        self, stream: _StreamState, data: DataFrame | pa.Table, n_records: int
    ) -> None:
        if stream.version is None:
            stream.wrote_untagged = True
        if self.upsert_on_keys and stream.key_properties:
            self.writer.upsert(data, stream.name, stream.key_properties)
        else:
            self.writer.append(data, stream.name)
        stream.records_written += n_records
        stream.batches_written += 1

    def _to_table(self, stream: _StreamState) -> pa.Table:
        """The buffer as one Arrow table under the stream schema, plus
        ``_sdc_extracted_at`` when the writer stamps metadata and
        ``_sdc_table_version`` when the stream's version is known.
        Leaves the buffer untouched."""
        # column by column, as from_pylist splits rows itself: no coerced
        # dict per record, so a drain leaves the cyclic GC few new
        # objects to track (its full passes cost ~0.1 s at this heap size)
        buffer = stream.buffer
        table = pa.Table.from_arrays(
            [[_coerce_value(r.get(f.name), f.dataType, f.name, f.nullable) for r in buffer]
             for f in stream.schema.fields],
            schema=stream.arrow_schema,
        )
        add_meta = getattr(self.writer.config, "add_record_metadata", False)
        if add_meta and any(e is not None for e in stream.extracted):
            # per-record time_extracted; the writer gives records lacking
            # it the drain time. timestamp[us, UTC] reads the naive UTC
            # values as UTC
            extracted = [
                _parse_timestamp(e) if isinstance(e, str) else None
                for e in stream.extracted
            ]
            table = table.append_column(
                "_sdc_extracted_at", pa.array(extracted, pa.timestamp("us", tz="UTC"))
            )
        if stream.version is not None:
            table = table.append_column(
                "_sdc_table_version",
                pa.repeat(pa.scalar(stream.version, pa.int64()), len(buffer)),
            )
        return table

    def _commit(self, stream: _StreamState, table: pa.Table) -> None:
        self._write(stream, table, len(stream.buffer))
        # cleared only AFTER the write succeeds
        stream.buffer = []
        stream.extracted = []

    def _drain_all(self) -> None:
        """Drain every stream that holds records (STATE is emitted after
        this returns)."""
        self._drain(*self.streams.values())

    def _drain(self, *streams: _StreamState) -> None:
        """Write each given stream's buffer as one batch, and return
        only when every write has finished. Streams with empty buffers
        are skipped.

        This thread builds each stream's Arrow table in turn (coercion
        and conversion: the CPU-bound Python part, which threads would
        only contend for under the GIL) and hands its write to a pool of
        up to ``_DRAIN_THREADS`` threads. A parquet-mode append is one
        ``pq.write_table``, which releases the GIL, so the file writes
        overlap with each other and with the next stream's build; a
        write that goes through Spark overlaps its Spark job the same
        way.
        Each stream is written by one thread, so its records still reach
        the writer in arrival order. Each write runs under a copy of the
        caller's Spark local properties (job group, scheduler pool) taken
        here, so the writes stay in the caller's job group. The copy is
        made per stream: a wrapper installs its one copy in every thread
        that runs it, so threads sharing a wrapper would overwrite each
        other's SQL execution id.

        Every drain is attempted. A drain that succeeded has committed
        and cleared its buffer; a failed one keeps its buffer for the
        replay (at-least-once, never silent loss). If any failed, the
        exception of the first failing stream in the order given is
        raised."""
        pending = [s for s in streams if s.buffer]
        if not pending:
            return
        outcomes: list[Future | Exception] = []
        with ThreadPoolExecutor(max_workers=min(len(pending), _DRAIN_THREADS)) as pool:
            for stream in pending:
                try:
                    table = self._to_table(stream)
                except Exception as e:
                    outcomes.append(e)
                    continue
                commit = inheritable_thread_target(self.spark)(self._commit)
                outcomes.append(pool.submit(commit, stream, table))
        for outcome in outcomes:  # the order given
            if isinstance(outcome, Exception):
                raise outcome
            outcome.result()


def demux_singer_file(
    spark: SparkSession, path: str, schemas: dict[str, dict[str, Any]] | None = None
) -> dict[str, DataFrame]:
    """Distributed bulk demux of Singer JSONL file(s).

    ``schemas``: stream -> Singer JSON Schema. When None, SCHEMA
    messages are collected from the file head driver-side (they are a
    handful of lines; the RECORD volume stays distributed).

    Returns one DataFrame per stream, parsed executor-side via
    ``from_json`` — the 100 TB path: no driver buffering, text-splitting
    and JSON parsing scale with executors. Lines that are not RECORDs
    of the stream, or carry no JSON ``record``, are skipped; a payload
    that does not fit the stream schema fails the job that reads it
    (FAILFAST, as BATCH parses), instead of landing as a row of NULLs.
    """
    text = spark.read.text(path)
    if schemas is None:
        # key-order-agnostic: parse the type field, don't prefix-match the
        # serialization (taps order JSON keys however they like)
        schema_rows = bounded_collect(
            text.where(F.get_json_object("value", "$.type") == "SCHEMA"),
            cap=10_000,
            why="one SCHEMA message per Singer stream (streams, not rows)",
            structural=False,
        )
        schemas = {}
        for row in schema_rows:
            msg = json.loads(row["value"])
            schemas[msg["stream"]] = msg["schema"]

    out: dict[str, DataFrame] = {}
    for stream, json_schema in schemas.items():
        struct = json_schema_to_struct_type(json_schema)
        payload = F.get_json_object("value", "$.record")
        records = (
            text.select(F.from_json("value", "type STRING, stream STRING").alias("m"),
                        F.col("value"))
            .where((F.col("m.type") == "RECORD") & (F.col("m.stream") == stream))
            # drops RECORD lines that are not JSON or carry no record
            .where(payload.isNotNull())
            .select(F.from_json(payload, struct, {"mode": "FAILFAST"}).alias("r"))
            .select("r.*")
        )
        out[stream] = records
    return out
