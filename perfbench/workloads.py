"""The closed-loop, single-client workloads.

Each workload has the same life cycle, driven by ``run.py``:

``__init__``   generate the seeded inputs (untimed, not set-up);
``setup``      build the program objects on a fresh session; fixture
               loading inside it is reported apart so ``run.py`` can
               exclude it from set-up time;
``op``         one timed op; returns its latency in seconds;
``check``      compare the program's outputs with the expected ones;
               returns one message per mismatch.
"""

from __future__ import annotations

import math
import os
import time

import numpy as np

import inputs
import verify

_now = time.perf_counter

# An odd-sized rotation: the median op then falls on one query's latency
# instead of between two, where it would jump from run to run.
# join_asof is the rotation's operator-driven query (operators.asof).
QUERY_SHORT = (
    "agg_group", "fn_string", "win_lag", "q3_shipping_priority",
    "join_broadcast", "agg_rollup", "agg_distinct", "join_semi",
    "join_asof",
)


def parquet_files(root: str) -> dict[str, int]:
    """Path -> size of every parquet file under ``root``."""
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            if f.endswith(".parquet"):
                path = os.path.join(d, f)
                out[path] = os.path.getsize(path)
    return out


class IngestWorkload:
    """Singer JSONL through ``SingerTarget.process_line`` into a parquet
    warehouse. One op is one STATE ack: the RECORD lines since the last
    STATE are fed first (they count toward throughput, not latency), then
    the STATE line is timed until the state callback fires."""

    kind = "ingest"

    def __init__(self, warehouse: str, data: inputs.IngestInput, *, upsert: bool):
        self.warehouse = warehouse
        self.data = data
        self.upsert = upsert
        self.consumed: list[int] = []  # chunk indices committed, in order
        self.records = 0  # records committed by timed ops
        self._acked = 0.0

    # -- set-up ----------------------------------------------------------
    def setup(self, spark) -> float:
        """Build writer and target; returns seconds spent loading fixtures
        (the pre-load chunk and its STATE, fed through the target)."""
        from target_iceberg_spark.sources.singer import SingerTarget
        from target_iceberg_spark.writer import StreamWriter, WriterConfig

        self.spark = spark
        self.writer = StreamWriter(spark, WriterConfig(warehouse=self.warehouse), mode="parquet")
        # the target's default max_batch_size: the reference's 10k records
        self.target = SingerTarget(
            spark, self.writer, upsert_on_keys=self.upsert, state_callback=self._on_state)
        for line in self.data.schema_lines:
            self.target.process_line(line)
        pre = self.data.preload
        if pre is None:
            return 0.0
        # a target of its own, so each base table is written in one batch
        t0 = _now()
        loader = SingerTarget(spark, self.writer, upsert_on_keys=True,
                              max_batch_size=pre.n_records)
        for line in (*self.data.schema_lines, *pre.lines, inputs.state_line(-1)):
            loader.process_line(line)
        return _now() - t0

    def _on_state(self, _state) -> None:
        self._acked = _now()

    # -- ops -------------------------------------------------------------
    def exhausted(self) -> bool:
        return len(self.consumed) == len(self.data.chunks)

    def op(self, k: int, timed: bool = True) -> float:
        i = len(self.consumed)
        chunk = self.last_chunk = self.data.chunks[i]
        process = self.target.process_line
        for line in chunk.lines:
            process(line)
        t0 = _now()
        process(inputs.state_line(i))
        latency = self._acked - t0
        self.consumed.append(i)
        if timed:
            self.records += chunk.n_records
        return latency

    def work_units(self) -> int:
        return self.records

    # -- check -----------------------------------------------------------
    def _fed(self) -> list[inputs.Chunk]:
        chunks = [self.data.chunks[i] for i in self.consumed]
        return chunks if self.data.preload is None else [self.data.preload, *chunks]

    def expected(self) -> dict[str, tuple[int, int]]:
        """Per stream, the digest of every record (append) or of the last
        write per key (upsert)."""
        out = {}
        for s in self.data.streams:
            ids = np.concatenate([c.rows[s.name][0] for c in self._fed()])
            hashes = np.concatenate([c.rows[s.name][1] for c in self._fed()])
            if self.upsert:
                # first occurrence in reverse arrival order = last write
                _, last = np.unique(ids[::-1], return_index=True)
                hashes = hashes[::-1][last]
            out[s.name] = verify.digest(hashes)
        return out

    def check(self) -> tuple[int, list[str]]:
        exp = self.expected()
        return len(exp), verify.check_ingest(self.writer, exp)

    def input_bytes(self) -> int:
        return sum(c.payload_bytes for c in self._fed())

    def warehouse_bytes(self) -> int:
        return sum(parquet_files(self.warehouse).values())


class QueryWorkload:
    """A fixed rotation over registry queries, each materialized through
    the ``noop`` sink. One op is one query."""

    kind = "query"

    # Sizes the timed phase in whole rotations (see run.timed_phase): the
    # mean query latency of QUERY_SHORT (the inverse of its throughput),
    # measured on a 4-vCPU host with 2 task cores.
    mean_op_s = 0.44

    def __init__(self, sf_dir: str, rotation: tuple[str, ...]):
        self.sf_dir = sf_dir
        self.rotation = rotation
        self.done = 0

    def setup(self, spark) -> float:
        from target_iceberg_spark.plans.registry import all_specs

        self.spark = spark
        specs = all_specs()
        self.specs = {name: specs[name] for name in self.rotation}
        return 0.0

    def build(self, k: int):
        return self.specs[self.rotation[k % len(self.rotation)]].builder(self.spark, self.sf_dir)

    @staticmethod
    def execute(df) -> None:
        df.write.format("noop").mode("overwrite").save()

    def op(self, k: int, timed: bool = True) -> float:
        t0 = _now()
        self.execute(self.build(k))
        if timed:
            self.done += 1
        return _now() - t0

    def work_units(self) -> int:
        return self.done

    @staticmethod
    def exhausted() -> bool:
        return False

    def check(self, on_first=None) -> tuple[int, list[str]]:
        """Run every query of the rotation once against its DuckDB
        oracle. Before timing this pass is also the warm-up: its first
        query is the set-up's warm-up op, and ``on_first`` is called as
        soon as that query's Spark side has finished."""
        errors = []
        con = None
        try:
            for name, spec in self.specs.items():
                try:
                    got = spec.builder(self.spark, self.sf_dir).toPandas()
                    if on_first is not None:
                        on_first()
                        on_first = None
                    con = con or verify.duckdb_connect(self.sf_dir)
                    diff = verify.compare_frames(got, con.sql(spec.oracle).df())
                except Exception as e:  # a failing query is a mismatch
                    diff = f"raised {e!r}"
                if diff:
                    errors.append(f"{name}: {diff}")
        finally:
            if con is not None:
                con.close()
        return len(self.specs), errors


# Ingest inputs are generated before timing and must outlast set-up,
# settling and the timed phase. They are sized for this many records per
# second, over twice the fastest rate measured (about 12k records/s for
# append, 1.2k for upsert); a program that still outpaces them ends the
# timed phase early, and the detail line says so.
APPEND_MAX_RATE = 25_000
UPSERT_MAX_RATE = 2_500


def _n_chunks(seconds: float, max_rate: int, chunk_records: int) -> int:
    return 1 + math.ceil(seconds * max_rate / chunk_records)  # 1: the warm-up op


def make(name: str, seed: int, run_dir: str, seconds: float):
    """Generate the workload's inputs for ``seed`` under ``run_dir``;
    ``seconds``: how long ops are issued after the warm-up op."""
    if name == "ingest_append":
        data = inputs.append_input(
            seed, n_chunks=_n_chunks(seconds, APPEND_MAX_RATE, 10_000), chunk_records=10_000)
        return IngestWorkload(os.path.join(run_dir, "warehouse"), data, upsert=False)
    if name == "ingest_upsert":
        data = inputs.upsert_input(
            seed, base_keys=25_000, n_chunks=_n_chunks(seconds, UPSERT_MAX_RATE, 1_000),
            chunk_records=1_000, update_share=0.5)
        return IngestWorkload(os.path.join(run_dir, "warehouse"), data, upsert=True)
    if name == "query_short":
        sf_dir = os.path.join(run_dir, "sf0.01")
        tables = ("region", "nation", "customer", "part", "orders", "lineitem", "events")
        inputs.write_tables(inputs.make_tables(seed, 0.01, tables), sf_dir)
        return QueryWorkload(sf_dir, QUERY_SHORT)
    raise ValueError(f"unknown workload {name!r}")


NAMES = ("ingest_append", "ingest_upsert", "query_short")
