#!/usr/bin/env python
"""Diff two BENCH_DETAIL artifacts and rank per-query warm movement —
the cross-round triage step that separates plan regressions from
session noise before anyone stares at 300 numbers.

    python tools/bench_compare.py OLD.json NEW.json [--threshold 1.5]
        [--min-abs 0.3] [--out FILE]

Reports: common-query warm totals and ratio, queries slower than
--threshold x (ignoring sub---min-abs absolute times, where ratios
are noise), queries that improved by the same margin, and adds/drops.
Within one run, the queries that moved most between its two warm
sweeps are a sort over `queries_warm_sweep1` and `queries_warm_sweep2`.
Follow-up for anything flagged: `python bench.py --only q1,q2` in a
fresh JVM (isolated cost unchanged => session noise; see bench.py's
module docstring).
"""

from __future__ import annotations

import argparse
import json


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("old")
    ap.add_argument("new")
    ap.add_argument("--threshold", type=float, default=1.5)
    ap.add_argument("--min-abs", type=float, default=0.3)
    ap.add_argument("--out", default=None)
    args = ap.parse_args()

    old = json.load(open(args.old))["queries_warm"]
    new = json.load(open(args.new))["queries_warm"]
    common = sorted(
        q for q in old if q in new and old[q] > 0 and new[q] > 0
    )
    t_old = round(sum(old[q] for q in common), 3)
    t_new = round(sum(new[q] for q in common), 3)

    def movers(direction: int) -> list[dict]:
        out = []
        for q in common:
            hi, lo = (new[q], old[q]) if direction > 0 else (old[q], new[q])
            if hi >= args.threshold * lo and hi >= args.min_abs:
                out.append(
                    {
                        "query": q,
                        "old": old[q],
                        "new": new[q],
                        "ratio": round(new[q] / old[q], 2),
                    }
                )
        return sorted(out, key=lambda d: -abs(d["ratio"] - 1))

    report = {
        "n_common": len(common),
        "warm_total_old": t_old,
        "warm_total_new": t_new,
        "ratio": round(t_new / t_old, 3) if t_old else None,
        "regressed": movers(+1),
        "improved": movers(-1),
        "added": sorted(q for q in new if q not in old),
        "dropped": sorted(q for q in old if q not in new),
    }
    text = json.dumps(report, indent=1)
    if args.out:
        with open(args.out, "w") as fh:
            fh.write(text)
    print(text)


if __name__ == "__main__":
    main()
