"""Seeded inputs for the benchmark workloads.

Everything here is generated in memory from the run's seed before any
timing starts. The program under test only ever receives what these
functions return: Singer JSONL lines for the ingest workloads, parquet
table files for the query workloads.

Each ingest input also carries what the output check needs: per stream,
the id and the hash of the canonical form of every record (one string
per row, see ``canon_*`` below and ``verify.CANON_SQL``), and the byte
size of every RECORD payload, for ``space_amp``.
"""

from __future__ import annotations

import json
import os
import random
from dataclasses import dataclass
from datetime import date, datetime, timedelta, timezone

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from verify import NULL, SEP, row_hashes

TEXT_WORDS = (
    "lakehouse ingest commit batch snapshot schema record stream table column "
    "partition merge upsert append parquet iceberg catalog writer reader "
    "query plan shuffle stage task driver executor memory buffer arrow json "
    "state bookmark tap target sync version file bytes latency throughput"
).split()


# -- Singer streams ------------------------------------------------------

FLAT_SCHEMA = {
    "type": "object",
    "properties": {
        "id": {"type": ["integer"]},
        "name": {"type": ["string", "null"]},
        "score": {"type": ["number", "null"]},
        "active": {"type": ["boolean", "null"]},
        "signup_date": {"type": ["string", "null"], "format": "date"},
        "created_at": {"type": ["string", "null"], "format": "date-time"},
    },
}

NESTED_SCHEMA = {
    "type": "object",
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
    },
}

TEXT_SCHEMA = {
    "type": "object",
    "properties": {
        "id": {"type": ["integer"]},
        "title": {"type": ["string", "null"]},
        "body": {"type": ["string", "null"]},
        "lang": {"type": ["string", "null"]},
    },
}

CITIES = ["Lisbon", "Osaka", "Lagos", "Quito", "Oslo", "Perth", "Pune", "Reno"]
NAMES = ["ana", "bo", "chen", "dara", "eli", "fay", "gus", "hana", "ivo", "jun"]
_EPOCH = datetime(2024, 1, 1, tzinfo=timezone.utc)
_OFFSETS = [timezone.utc, timezone(timedelta(hours=2)), timezone(timedelta(hours=-5))]


def _s(v) -> str:
    return NULL if v is None else str(v)


def _money(v) -> str:
    return NULL if v is None else str(round(v * 100))


def canon_flat(r: dict) -> str:
    created = r["created_at"]
    if created is not None:
        created = (
            datetime.fromisoformat(created.replace("Z", "+00:00"))
            .astimezone(timezone.utc)
            .strftime("%Y-%m-%d %H:%M:%S")
        )
    active = None if r["active"] is None else ("true" if r["active"] else "false")
    return SEP.join(
        [str(r["id"]), _s(r["name"]), _money(r["score"]), _s(active),
         _s(r["signup_date"]), _s(created)]
    )


def canon_nested(r: dict) -> str:
    c = r["customer"]
    if c is None:
        cust = [NULL] * 4
    else:
        a = c["address"]
        cust = [_s(c["name"]), _s(c["tier"]),
                _s(None if a is None else a["city"]), _s(None if a is None else a["zip"])]
    tags = NULL if r["tags"] is None else "|".join(r["tags"])
    qty = NULL if r["qty"] is None else "|".join(str(q) for q in r["qty"])
    return SEP.join([str(r["id"]), *cust, tags, qty])


def canon_text(r: dict) -> str:
    return SEP.join([str(r["id"]), _s(r["title"]), _s(r["body"]), _s(r["lang"])])


def _ts(rng: random.Random) -> str:
    t = _EPOCH + timedelta(seconds=rng.randrange(0, 90 * 86400))
    tz = rng.choice(_OFFSETS)
    t = t.astimezone(tz)
    return t.strftime("%Y-%m-%dT%H:%M:%SZ") if tz is timezone.utc else t.isoformat()


def _maybe(rng: random.Random, v, p_null: float = 0.05):
    return None if rng.random() < p_null else v


def flat_record(rng: random.Random, rid: int) -> dict:
    return {
        "id": rid,
        "name": _maybe(rng, f"{rng.choice(NAMES)}-{rng.randrange(10**6)}"),
        "score": _maybe(rng, round(rng.uniform(0, 10_000), 2)),
        "active": _maybe(rng, rng.random() < 0.5),
        "signup_date": _maybe(rng, (date(2020, 1, 1) + timedelta(days=rng.randrange(1500))).isoformat()),
        "created_at": _maybe(rng, _ts(rng)),
    }


def nested_record(rng: random.Random, rid: int) -> dict:
    customer = None
    if rng.random() > 0.05:
        address = None if rng.random() < 0.1 else {
            "city": rng.choice(CITIES), "zip": f"{rng.randrange(10**5):05d}"}
        customer = {"name": rng.choice(NAMES), "tier": rng.randrange(1, 5), "address": address}
    return {
        "id": rid,
        "customer": customer,
        "tags": _maybe(rng, rng.sample(TEXT_WORDS, rng.randrange(0, 5))),
        "qty": _maybe(rng, [rng.randrange(1, 100) for _ in range(rng.randrange(1, 6))]),
    }


def text_record(rng: random.Random, rid: int) -> dict:
    return {
        "id": rid,
        "title": " ".join(rng.choices(TEXT_WORDS, k=6)),
        "body": _maybe(rng, " ".join(rng.choices(TEXT_WORDS, k=rng.randrange(20, 100))), 0.02),
        "lang": rng.choice(["en", "de", "fr", "es", "zh"]),
    }


@dataclass
class StreamSpec:
    name: str
    schema: dict
    make: object  # (rng, id) -> record
    canon: object  # record -> canonical string
    keys: tuple[str, ...] = ()


APPEND_STREAMS = (
    StreamSpec("flat", FLAT_SCHEMA, flat_record, canon_flat),
    StreamSpec("nested", NESTED_SCHEMA, nested_record, canon_nested),
    StreamSpec("text", TEXT_SCHEMA, text_record, canon_text),
)
# Keyed streams for the upsert workload (key_properties = ["id"]). One
# schema for both: each STATE commits one of them, and two schemas of
# different commit cost would split the op latencies into two clusters,
# between which the median jumps from run to run.
UPSERT_STREAMS = (
    StreamSpec("accounts", FLAT_SCHEMA, flat_record, canon_flat, ("id",)),
    StreamSpec("contacts", FLAT_SCHEMA, flat_record, canon_flat, ("id",)),
)


@dataclass
class Chunk:
    """RECORD lines between two STATEs, i.e. the input of one op."""

    lines: list[str]
    # stream -> (ids, row hashes) in arrival order
    rows: dict[str, tuple[np.ndarray, np.ndarray]]
    payload_bytes: int

    @property
    def n_records(self) -> int:
        return len(self.lines)


@dataclass
class IngestInput:
    streams: tuple[StreamSpec, ...]
    schema_lines: list[str]
    chunks: list[Chunk]
    # fed through the target before set-up (the upsert base keys)
    preload: Chunk | None = None


def _schema_lines(streams) -> list[str]:
    return [
        json.dumps({"type": "SCHEMA", "stream": s.name, "schema": s.schema,
                    "key_properties": list(s.keys)})
        for s in streams
    ]


def state_line(i: int) -> str:
    return json.dumps({"type": "STATE", "value": {"bookmarks": {"op": i}}})


# A record is an id plus a body (every other field) drawn from a seeded
# pool of this many bodies per stream. The JSON and canonical form of a
# body are made once, so the inputs of a long run are cheap to generate.
POOL = 4096


def _pools(rng: random.Random, streams) -> list[list[tuple[str, str]]]:
    """Per stream: (JSON after '{"id": 0, ', canonical row after '0<SEP>')."""
    head, chead = len('{"id": 0, '), len("0" + SEP)
    out = []
    for s in streams:
        recs = [s.make(rng, 0) for _ in range(POOL)]
        out.append([(json.dumps(r)[head:], s.canon(r)[chead:]) for r in recs])
    return out


def _chunk(streams, pools, picks) -> Chunk:
    """``picks``: [(stream index, id, body index)] in arrival order."""
    lines, nbytes = [], 0
    ids: dict[str, list[int]] = {s.name: [] for s in streams}
    canon: dict[str, list[str]] = {s.name: [] for s in streams}
    for si, rid, j in picks:
        name = streams[si].name
        body, canon_tail = pools[si][j]
        payload = f'{{"id": {rid}, {body}'
        nbytes += len(payload)  # json.dumps output is ASCII
        lines.append(f'{{"type": "RECORD", "stream": "{name}", "record": {payload}}}')
        ids[name].append(rid)
        canon[name].append(f"{rid}{SEP}{canon_tail}")
    rows = {name: (np.array(ids[name], dtype=np.int64), row_hashes(canon[name])) for name in ids}
    return Chunk(lines, rows, nbytes)


def append_input(seed: int, n_chunks: int, chunk_records: int) -> IngestInput:
    """Three interleaved append-only streams; one STATE per chunk."""
    rng = random.Random(seed)
    streams = APPEND_STREAMS
    pools = _pools(rng, streams)
    next_id = [0, 0, 0]
    chunks = []
    for _ in range(n_chunks):
        picks = []
        for _ in range(chunk_records):
            si = rng.randrange(3)
            picks.append((si, next_id[si], rng.randrange(POOL)))
            next_id[si] += 1
        chunks.append(_chunk(streams, pools, picks))
    return IngestInput(streams, _schema_lines(streams), chunks)


def upsert_input(
    seed: int, base_keys: int, n_chunks: int, chunk_records: int, update_share: float
) -> IngestInput:
    """Two keyed streams, each pre-loaded with ``base_keys`` ids (the
    pre-load interleaves them). The timed chunks alternate between the
    streams, one stream per chunk, as a tap emits one stream at a time:
    each STATE then commits one table, and a run holds twice as many
    ops. In them ``update_share`` of the records hit an existing id and
    the rest insert a new one."""
    rng = random.Random(seed)
    streams = UPSERT_STREAMS
    pools = _pools(rng, streams)
    preload = _chunk(streams, pools, [
        (si, k, rng.randrange(POOL)) for k in range(base_keys) for si in range(2)
    ])
    next_id = [base_keys, base_keys]
    chunks = []
    for c in range(n_chunks):
        si = c % 2
        picks = []
        for _ in range(chunk_records):
            if rng.random() < update_share:
                rid = rng.randrange(next_id[si])
            else:
                rid = next_id[si]
                next_id[si] += 1
            picks.append((si, rid, rng.randrange(POOL)))
        chunks.append(_chunk(streams, pools, picks))
    return IngestInput(streams, _schema_lines(streams), chunks, preload=preload)


# -- query tables --------------------------------------------------------

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def _days(rng: np.random.Generator, start: str, span_days: int, n: int) -> pa.Array:
    base = np.datetime64(start, "us")
    d = rng.integers(0, span_days, n).astype("timedelta64[D]").astype("timedelta64[us]")
    return pa.array(base + d, pa.timestamp("us"))


def _money2(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return rng.integers(round(lo * 100), round(hi * 100), n) / 100.0


def make_tables(seed: int, sf: float, names: tuple[str, ...]) -> dict[str, pa.Table]:
    """TPC-H-shaped star schema plus ``events`` at scale factor ``sf``
    (sf 1 = 6M lineitems), with the column names, types and value ranges
    of the test tables described in TESTDATA.md."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp = int(150_000 * sf), max(10, int(10_000 * sf))
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_ev = int(1_000_000 * sf)
    out: dict[str, pa.Table] = {}
    # every table is drawn, in a fixed order, so each one depends only on
    # the seed and sf, not on which other tables a workload asks for
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()), "r_name": _REGIONS})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money2(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": [_SEGMENTS[j] for j in rng.integers(0, 5, n_cust)],
    })
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money2(rng, -999.99, 9999.99, n_supp),
    })
    adj, noun = rng.integers(0, 8, n_part), rng.integers(0, 8, n_part)
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [f"{_PART_ADJ[a]} {_PART_NOUN[b]}" for a, b in zip(adj, noun)],
        "p_brand": [f"Brand#{j}" for j in rng.integers(1, 26, n_part)],
        "p_type": [_PART_TYPES[j] for j in rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": 900.0 + (np.arange(n_part) % 1000) / 10.0,
    })
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": [("F", "O", "P")[j] for j in rng.integers(0, 3, n_ord)],
        "o_totalprice": _money2(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _days(rng, "1995-01-01", 2404, n_ord),
        "o_orderpriority": [_PRIORITIES[j] for j in rng.integers(0, 5, n_ord)],
    })
    per_order = rng.integers(1, 8, n_ord)
    n_li = int(per_order.sum())
    starts = np.repeat(np.cumsum(per_order) - per_order, per_order)
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(np.repeat(np.arange(n_ord), per_order), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(np.arange(n_li) - starts + 1, pa.int32()),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money2(rng, 900.0, 105_000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": [("A", "N", "R")[j] for j in rng.integers(0, 3, n_li)],
        "l_linestatus": [("F", "O")[j] for j in rng.integers(0, 2, n_li)],
        "l_shipdate": _days(rng, "1995-01-02", 2498, n_li),
    })
    gaps = rng.integers(1, 2 * 30 * 86400 * 10**6 // max(n_ev, 1), n_ev)
    ts = np.datetime64("2024-01-01T00:00:00", "us") + np.cumsum(gaps).astype("timedelta64[us]")
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(1, int(15_000 * sf)), n_ev), pa.int64()),
        "event_type": [_EVENT_TYPES[j] for j in rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {j}}}' for j in rng.integers(0, 100, n_ev)],
    })
    return {name: out[name] for name in names}


def write_tables(tables: dict[str, pa.Table], sf_dir: str) -> None:
    os.makedirs(sf_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(sf_dir, f"{name}.parquet"))
