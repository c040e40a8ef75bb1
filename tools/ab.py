#!/usr/bin/env python
"""Same-JVM interleaved A/B of one code change, per query.

    python tools/ab.py q1 q2 ... --sf DIR --patch MODULE:ATTR=EXPR [--patch ...] [--reps 3]

Arm "off" runs with every ``--patch`` applied; arm "on" runs the code as
written. Each query gets one untimed warm-up per arm, then ``--reps``
alternating off/on noop-sink executions (``System.gc()`` before each,
the bench's timed form) inside ONE JVM; the per-arm minimum is reported.
This removes the JVM-to-JVM variance that dominates back-to-back
``bench.py --only`` comparisons.

``EXPR`` is evaluated in MODULE's namespace, and ATTR may be dotted
(``Class.method``). When the original is a function or class, every
module-level alias of it in ``sys.modules`` is rebound too: a plan
module that did ``from ...operators.pagerank import pagerank`` at import
sees the patch. Examples:

    # no-op every localCheckpoint (the pre-checkpoint lineage); the
    # classic DataFrame overrides the pyspark.sql.DataFrame method
    --patch 'pyspark.sql.classic.dataframe:DataFrame.localCheckpoint=lambda self, eager=True, storageLevel=None: self'
    # scan fan-out gate off
    --patch 'target_iceberg_spark.sources.tables:_FANOUT_MIN_BYTES=1 << 60'
    # band-key table without its checkpoint, for every MinHash caller
    --patch 'target_iceberg_spark.operators.dedup:minhash_candidate_pairs=lambda df, id_col, text_col, n=3, num_hashes=16, bands=4, shingles=None: candidate_pairs(lsh_band_keys(minhash_signatures(shingles if shingles is not None else shingle_table(df, id_col, text_col, n), id_col, num_hashes), id_col, num_hashes, bands), id_col)'

Dev tool only.
"""

from __future__ import annotations

import argparse
import importlib
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def apply_patch(spec: str) -> list[tuple[object, str, object]]:
    """Apply ``MODULE:ATTR=EXPR``; return the undo list for ``restore``."""
    target, expr = spec.split("=", 1)
    module_name, path = target.strip().split(":", 1)
    module = importlib.import_module(module_name)
    *owner_path, attr = path.split(".")
    owner = module
    for part in owner_path:
        owner = getattr(owner, part)
    original = getattr(owner, attr)
    replacement = eval(expr, vars(module))  # noqa: S307 - dev tool input
    undo = [(owner, attr, original)]
    setattr(owner, attr, replacement)
    if callable(original):
        for mod in list(sys.modules.values()):
            for name, value in list(getattr(mod, "__dict__", {}).items()):
                if value is original:
                    undo.append((mod, name, original))
                    setattr(mod, name, replacement)
    return undo


def restore(undo: list[tuple[object, str, object]]) -> None:
    for owner, attr, original in reversed(undo):
        setattr(owner, attr, original)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--sf", required=True, help="scale-factor data directory")
    ap.add_argument("--patch", action="append", required=True,
                    help="MODULE:ATTR=EXPR applied in the 'off' arm (repeatable)")
    ap.add_argument("--reps", type=int, default=3)
    args = ap.parse_args()

    from target_iceberg_spark.plans.registry import all_specs
    from target_iceberg_spark.session import get_spark

    spark = get_spark("ab")
    specs = all_specs()

    def run(name: str, arm: str) -> float:
        undo = [u for spec in args.patch for u in apply_patch(spec)] if arm == "off" else []
        try:
            spark._jvm.System.gc()
            t0 = time.perf_counter()
            specs[name].builder(spark, args.sf).write.format("noop").mode("overwrite").save()
            return time.perf_counter() - t0
        finally:
            restore(undo)

    results = {}
    for name in args.queries:
        arms = {"off": [], "on": []}
        for arm in arms:  # warm-up
            run(name, arm)
        for _ in range(args.reps):
            for arm in arms:
                arms[arm].append(run(name, arm))
        off, on = min(arms["off"]), min(arms["on"])
        results[name] = (off, on)
        print(
            f"{name}: off {off:.2f}s -> on {on:.2f}s ({on / off:.2f}x)  "
            f"raw off={[round(x, 2) for x in arms['off']]} "
            f"on={[round(x, 2) for x in arms['on']]}",
            flush=True,
        )
    t_off = sum(v[0] for v in results.values())
    t_on = sum(v[1] for v in results.values())
    print(f"TOTAL: off {t_off:.2f}s -> on {t_on:.2f}s ({t_on / t_off:.2f}x)")
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
