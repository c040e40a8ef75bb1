"""Query registry — the engine's public query catalog.

Every operator in SURVEY.md §2 is exposed as one named entry: a builder
``(spark, sf_dir) -> DataFrame`` plus (when SQL-expressible) the exact
ANSI-SQL string a DuckDB oracle runs over the same parquet tables. The
driver compares the two (row count + schema + order-insensitive value
hash), so builders alias every computed column to the same name the
oracle uses.

Conventions for oracle-stable results:
  - Aggregates over doubles are ROUND()ed identically on both sides
    (sum order differs between engines at the ulp level; rounding
    collapses it).
  - Integer SUMs are CAST to BIGINT in the oracle (DuckDB widens to
    HUGEINT, Spark to LONG).
  - Money converts to BIGINT cents via FLOOR(x * 100 + 0.5), never
    ROUND: a product can land exactly on a half-cent (292701.85 * 1.1)
    where Spark's HALF_UP-on-decimal-repr rounds up but DuckDB's
    std::round on the binary double rounds down; FLOOR of the
    identical IEEE product is bit-stable on both engines
    (plans/cdc_ivm.py, plans/corpus_stats.py::events_rfm).
  - Timestamps are either kept as-is (both engines surface naive µs) or
    cast to DATE; never tz-aware.
  - Transcendental fns (ln, pow) are rounded — libm vs JVM differ in
    the last ulp.
"""

from __future__ import annotations

import importlib
import json
import pkgutil
import re
from collections.abc import Callable
from dataclasses import dataclass, field
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

Builder = Callable[[SparkSession, str], DataFrame]

_REGISTRY: dict[str, "QuerySpec"] = {}


@dataclass(frozen=True)
class QuerySpec:
    name: str
    builder: Builder
    oracle: str | None  # None => driver runs a rows-only check
    tags: tuple[str, ...] = field(default_factory=tuple)
    doc: str = ""
    bench: bool = True  # False: correctness-only (e.g. multi-run streaming)


def register(
    name: str,
    oracle: str | None = None,
    tags: tuple[str, ...] = (),
    bench: bool = True,
) -> Callable[[Builder], Builder]:
    def deco(fn: Builder) -> Builder:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name: {name}")
        _REGISTRY[name] = QuerySpec(
            name, fn, oracle, tags, (fn.__doc__ or "").strip(), bench
        )
        return fn

    return deco


# The external checker hashes the first WINDOW entries of the registry
# each round and records them as CORRECTNESS_r{N}.json. Registry order
# is derived from those files (see ``_rank``), so queries lacking fresh
# evidence reach the window with no bookkeeping.
WINDOW = 50

# Queries whose output changed since their last green checker row. The
# CORRECTNESS files record no hashes, so this is the one input that
# cannot be derived from them; empty it once the window re-proves them.
OUTPUT_CHANGED: tuple[str, ...] = ()

_REPO_ROOT = Path(__file__).resolve().parents[2]
_EVIDENCE_FILE = re.compile(r"CORRECTNESS_r(\d+)\.json")


def _import_plans() -> None:
    """Import every plan module so its ``@register`` decorators run."""
    for info in sorted(pkgutil.iter_modules([str(Path(__file__).parent)]), key=lambda m: m.name):
        if info.name not in ("registry", "catalog"):
            importlib.import_module(f"{__package__}.{info.name}")


def load_evidence(root: Path = _REPO_ROOT) -> dict[int, dict[str, bool]]:
    """Checker rows per round, ``{round: {name: green}}``, in file order,
    read from the CORRECTNESS_r*.json files at ``root`` and in
    ``root/artifacts``. A row is green when rows, schema and value hash
    all matched."""
    evidence = {}
    for path in [*root.glob("CORRECTNESS_r*.json"), *root.glob("artifacts/CORRECTNESS_r*.json")]:
        m = _EVIDENCE_FILE.fullmatch(path.name)
        if m:
            rows = json.loads(path.read_text())
            evidence[int(m.group(1))] = {
                name: all(row.get(k) is True for k in ("rows_match", "schema_match", "hash_match"))
                for name, row in rows.items()
            }
    return evidence


def _rank(
    spec: QuerySpec, evidence: dict[int, dict[str, bool]], output_changed: tuple[str, ...]
) -> tuple[int, int, str]:
    """Sort key: (tier, newest green round, name).

    0. oracle-backed, newest row failed or never green;
    1. named in ``output_changed``;
    2. oracle-backed, by newest green round, oldest first;
    3. rows-only (the checker cannot hash them), last.
    """
    if spec.oracle is None:
        return (3, 0, spec.name)
    rows = [(r, evidence[r][spec.name]) for r in sorted(evidence) if spec.name in evidence[r]]
    green = [r for r, ok in rows if ok]
    if not green or not rows[-1][1]:
        return (0, 0, spec.name)
    if spec.name in output_changed:
        return (1, 0, spec.name)
    return (2, green[-1], spec.name)


def ordered(
    specs: dict[str, QuerySpec],
    evidence: dict[int, dict[str, bool]],
    output_changed: tuple[str, ...] = OUTPUT_CHANGED,
) -> dict[str, QuerySpec]:
    return dict(
        sorted(specs.items(), key=lambda item: _rank(item[1], evidence, output_changed))
    )


def all_specs() -> dict[str, QuerySpec]:
    _import_plans()
    return ordered(_REGISTRY, load_evidence())


def queries() -> dict[str, Builder]:
    return {name: spec.builder for name, spec in all_specs().items()}


def oracle_sql() -> dict[str, str]:
    return {
        name: spec.oracle for name, spec in all_specs().items() if spec.oracle is not None
    }
