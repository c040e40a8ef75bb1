"""Generated query-catalog document (QUERIES.md).

One row per registered query, in REGISTRY ORDER (derived from the
CORRECTNESS_r*.json files by ``registry._rank``; the first ``WINDOW``
rows are the external checker's verification window), with tags,
oracle kind, and the first docstring line. Regenerate with:

    python -m target_iceberg_spark.plans.catalog

tests/test_catalog_doc.py fails when QUERIES.md is stale, so the
checked-in file always matches the registry.
"""

from __future__ import annotations

import os

from target_iceberg_spark.plans.registry import all_specs

HEADER = """# Query catalog (generated — do not edit)

One row per registered query in REGISTRY ORDER, derived from the
external correctness checker's `CORRECTNESS_r*.json` rows: queries
without current green evidence first, then oldest green evidence first,
rows-only last. The first 50 rows are the checker's verification window
for the next round. Oracle
`hash` = bit-exact DuckDB comparison (row count + schema + value
hash); `rows-only` = inherently approximate / multi-run / driver-side
linear algebra, covered instead by dedicated bound/recall/equivalence
unit tests named in the query's docstring. Full design arguments live
on each builder's docstring (file:line via `plans/`).

| # | query | tags | oracle | what it does |
|---|---|---|---|---|
"""


def render() -> str:
    lines = [HEADER]
    for i, (name, spec) in enumerate(all_specs().items(), start=1):
        flat = " ".join((spec.doc or "").split())
        # first sentence (docstrings open with a one-sentence summary),
        # hard-capped so one long opener can't blow up the table
        dot = flat.find(". ")
        first = flat if dot < 0 else flat[: dot + 1]
        if len(first) > 220:
            first = first[:217] + "..."
        # keep the table readable: no pipes inside a cell
        first = first.replace("|", "/")
        tags = ", ".join(spec.tags)
        oracle = "hash" if spec.oracle else "rows-only"
        lines.append(f"| {i} | `{name}` | {tags} | {oracle} | {first} |\n")
    return "".join(lines)


def write(path: str | None = None) -> str:
    if path is None:
        path = os.path.join(
            os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
            "QUERIES.md",
        )
    content = render()
    with open(path, "w") as fh:
        fh.write(content)
    return path


if __name__ == "__main__":
    print(write())
