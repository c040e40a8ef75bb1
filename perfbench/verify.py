"""Output checks, run outside the timed phase.

Ingest: each table is read back through the writer and compared with
the generator's expected rows by row count and an order-insensitive
hash. Every row is reduced to one canonical string, in Spark SQL here
and in Python in ``inputs.canon_*``; the hash is the wrapping sum of
pandas' 64-bit hashes of those strings.

Queries: each query's result is compared with its ``oracle_sql()`` run
by DuckDB over the same parquet files: same columns, same row count and
the same multiset of rows, with doubles equal to a relative and
absolute tolerance of 1e-6 (two engines may sum doubles in another
order and round the last place differently).
"""

from __future__ import annotations

import math
import os

import numpy as np
import pandas as pd

NULL = "<null>"
SEP = "\x1f"


def _c(expr: str) -> str:
    return f"coalesce({expr}, '{NULL}')"


_TS = "date_format(created_at, 'yyyy-MM-dd HH:mm:ss')"
_FLAT = [
    "cast(id as string)", _c("name"), _c("cast(cast(round(score * 100) as bigint) as string)"),
    _c("cast(active as string)"), _c("cast(signup_date as string)"), _c(_TS),
]
_NESTED = [
    "cast(id as string)", _c("customer.name"), _c("cast(customer.tier as string)"),
    _c("customer.address.city"), _c("customer.address.zip"),
    _c("array_join(tags, '|')"),
    _c("array_join(transform(qty, x -> cast(x as string)), '|')"),
]
_TEXT = ["cast(id as string)", _c("title"), _c("body"), _c("lang")]

# stream -> canonical-row SQL, mirroring inputs.canon_* field by field
CANON_SQL = {
    "flat": _FLAT, "accounts": _FLAT, "contacts": _FLAT,
    "nested": _NESTED,
    "text": _TEXT,
}


def row_hashes(rows) -> np.ndarray:
    """pandas' 64-bit hash of each canonical row string."""
    s = pd.Series(list(rows), dtype=object)
    return pd.util.hash_pandas_object(s, index=False).to_numpy(dtype=np.uint64)


def digest(hashes: np.ndarray) -> tuple[int, int]:
    """(count, order-insensitive hash): the wrapping sum of row hashes."""
    return len(hashes), int(hashes.sum(dtype=np.uint64))


def table_digest(writer, stream: str) -> tuple[int, int]:
    cols = ", ".join(CANON_SQL[stream])
    df = writer.read(stream).selectExpr(f"concat_ws('{SEP}', {cols}) AS c")
    return digest(row_hashes(df.toPandas()["c"]))


def check_ingest(writer, expected: dict[str, tuple[int, int]]) -> list[str]:
    """Compare every stream's table digest with the expected one;
    returns one message per mismatch."""
    errors = []
    for stream, want in expected.items():
        try:
            got = table_digest(writer, stream)
        except Exception as e:  # a missing or unreadable table is a mismatch
            errors.append(f"{stream}: read-back failed: {e!r}")
            continue
        if got != want:
            errors.append(f"{stream}: rows/hash {got} != expected {want}")
    return errors


# -- queries ---------------------------------------------------------------

def duckdb_connect(sf_dir: str):
    import duckdb

    con = duckdb.connect()
    for fname in sorted(os.listdir(sf_dir)):
        if fname.endswith(".parquet"):
            name = fname[: -len(".parquet")]
            con.sql(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{sf_dir}/{fname}')")
    return con


def _cell(v):
    """Canonical cell: ('n', float) for numbers, ('s', str) otherwise."""
    if v is None or v is pd.NaT:
        return ("s", NULL)
    if isinstance(v, (bool, np.bool_)):
        return ("s", str(bool(v)))
    if isinstance(v, (int, float, np.integer, np.floating)):
        f = float(v)
        return ("s", NULL) if math.isnan(f) else ("n", f)
    if isinstance(v, (list, tuple, np.ndarray)):
        return ("s", repr([_cell(x) for x in v]))
    if isinstance(v, pd.Timestamp):
        return ("s", v.isoformat())
    if hasattr(v, "isoformat"):
        iso = v.isoformat()
        return ("s", iso if "T" in iso else iso + "T00:00:00")
    try:
        if pd.isna(v):
            return ("s", NULL)
    except (TypeError, ValueError):
        pass
    return ("s", str(v))


def _rows(pdf: pd.DataFrame) -> list[tuple]:
    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    rows = [tuple(_cell(v) for v in row) for row in pdf.itertuples(index=False, name=None)]
    # sort numbers by a coarse key so rows that differ only in the last
    # rounded digit still line up
    return sorted(rows, key=lambda r: tuple(
        (k, round(x, 3)) if k == "n" else (k, x) for k, x in r))


def _same(a: tuple, b: tuple) -> bool:
    for (ka, xa), (kb, xb) in zip(a, b):
        if ka != kb:
            return False
        if ka == "n":
            if not math.isclose(xa, xb, rel_tol=1e-6, abs_tol=1e-6):
                return False
        elif xa != xb:
            return False
    return True


def compare_frames(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """None when equal; otherwise a one-line description."""
    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} != {sorted(want.columns)}"
    if len(got) != len(want):
        return f"rows {len(got)} != {len(want)}"
    bad = sum(not _same(a, b) for a, b in zip(_rows(got), _rows(want)))
    return f"{bad} of {len(got)} rows differ" if bad else None
