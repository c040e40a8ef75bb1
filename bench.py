#!/usr/bin/env python
"""Benchmark runner: times every benched query at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] (default 32)
and prints ONE SMALL JSON line (≤ ~200 bytes, so a harness that keeps
only the tail of the output never truncates it):

  {"metric": "total_query_sec", "value": N, "unit": "sec", "sf": 0.1,
   "warm_total_sec": M, "n_queries": K, "n_failed": F,
   "detail": "BENCH_DETAIL_c32.json"}

Each run materializes the query through the `noop` sink (a count()
would let Catalyst prune projections and under-measure). The
protocol is 3 executions per query:

1. FORWARD SWEEP (in name order). Each query runs cold, timed as its
   cold sample (`value` is the sum; first-run codegen lands here),
   then at once again, timed as its sweep-1 warm sample: the second
   of two back-to-back runs of the same plan.
2. REVERSE SWEEP. Each query runs once more, timed as its sweep-2
   warm sample.
3. `warm_total_sec` is the sum of the per-query MINIMUM of the two
   warm samples.

Why two sweeps: repeated back-to-back runs are blind to a SUSTAINED
contention window (a background compaction or heap ramp lasting
seconds inflates every run of whichever query holds that session
slot). Reversing the order puts each query at a second, maximally
distant session position, so such a window inflates it in at most one
sweep. Why the minimum: timing noise is one-sided; nothing makes a
fixed plan run faster than its cost, so the min of repeated timings
is the steady-state estimator and discards the inflated sweep.

Why GC runs before each timed run: a full `System.gc()`, outside the
timed window, keeps one query's garbage from being charged to the
next query. The sweep-1 warm sample skips it: the only garbage then is
the same query's own cold run, and any inflation it causes is
discarded by the per-query minimum whenever the reverse sweep runs.

Why the budget gate: $SPARK_GRAFT_BENCH_BUDGET_SEC (default 2100)
bounds the whole process: a caller's wall-clock timeout loses the
whole run, not just its last sweep. The reverse sweep starts only if its estimate
(the sweep-1 warm total plus 0.25 s per query of GC and bookkeeping)
fits the remaining budget with a 120 s margin. Otherwise warm is the
sweep-1 samples alone (upward-biased, never deflated) and the detail
file records `sweep2_skipped: "budget"`.

Per-query detail goes to BENCH_DETAIL_c{CPUS}.json next to this
script, one file per core count so runs at two core counts do not
overwrite each other: cold, warm (the min) and both sweep columns,
the builder's share of each sweep-1 sample, and the generated-code
classes each timed sample compiled (a warm sample normally compiles
none; session.py sizes Spark's codegen cache to the registry, so a
nonzero count marks a plan that generates fresh code on every run).
The sweep-to-sweep spread of the totals is the run's session-noise
error bar; the queries that moved most are a sort over the two sweep
columns, and `python bench.py --only q1,q2` re-times them in a fresh
JVM (detail to BENCH_DETAIL_only.json): a plan regression shows up
isolated, session noise does not.

State that outlives a run: the `sim_ivf_*` queries read an IVF index
persisted under the cache root and keyed by corpus content
(operators/ivf.py), as a warehouse maintains a secondary index. The
first run on a corpus pays the k-means build; every later run pays
only the search. Within a run, `sources/tables.py::load_table` keeps
each table file's inferred schema in memory, so only a table's first
load starts a schema-inference job. No DataFrame, plan or result is
reused.
"""
from __future__ import annotations

import json
import math
import os
import sys
import time


def _env_number(name: str, default: str) -> float:
    """A non-negative finite number from the environment, or exit."""
    raw = os.environ.get(name, default)
    try:
        value = float(raw)
    except ValueError:
        value = math.nan
    if not math.isfinite(value) or value < 0:
        sys.exit(f"bench: {name} must be a non-negative number, got {raw!r}")
    return value


def main() -> None:
    t_start = time.perf_counter()
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else -1.0
    # Parsed here, before the sweep: a bad value must not surface only
    # when it is first used, after a full run.
    budget_sec = _env_number("SPARK_GRAFT_BENCH_BUDGET_SEC", "2100")
    cpus_env = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if not cpus_env.isdigit() or int(cpus_env) < 1:
        sys.exit(f"bench: SPARK_GRAFT_CPUS must be a positive integer, got {cpus_env!r}")
    cpus = int(cpus_env)

    from target_iceberg_spark.plans import all_specs
    from target_iceberg_spark.session import codegen_compiles, get_spark

    spark = get_spark("engine-bench")
    # Spark warns on every unpartitioned window. The audited bounded
    # ones (tests/test_plans.py::UNPARTITIONED_WINDOW_OK, where a test
    # fails on any other) would fill the tail of the bench's stderr.
    # WindowExecBase logs under the runtime class name, WindowExec.
    jvm = spark._jvm
    jvm.org.apache.logging.log4j.core.config.Configurator.setLevel(
        "org.apache.spark.sql.execution.window.WindowExec",
        jvm.org.apache.logging.log4j.Level.ERROR,
    )
    specs = all_specs()

    # `python bench.py --only q1,q2` benches only the named queries in
    # this fresh JVM: a plan regression shows up isolated, cross-query
    # session pressure does not.
    only = None
    if len(sys.argv) >= 3 and sys.argv[1] == "--only":
        only = sys.argv[2].split(",")
        missing = [n for n in only if n not in specs]
        if missing:
            sys.exit(f"bench: unknown queries {missing}")

    # JVM/codegen warmup on the flagship so query 1 isn't charged startup.
    specs["agg_group"].builder(spark, sf_dir).write.format("noop").mode(
        "overwrite"
    ).save()

    if only is not None:
        specs = {n: specs[n] for n in only}
    specs = {n: s for n, s in specs.items() if s.bench}

    def run_once(spec, gc: bool = True) -> tuple[float, float, int]:
        # Full JVM GC before a timed run, outside the timed window
        # (0.13-0.32 s per System.gc() on a warm heap). The sweep-1 warm
        # sample passes gc=False; see the module docstring.
        # Returns (total, build, compiles): the timed total covers the
        # builder and the noop write; build is the builder's share of it
        # (table resolution, eager checkpoints and any job started before
        # the DataFrame is returned); compiles counts the generated-code
        # classes the run compiled, read outside the timed window.
        if gc:
            spark._jvm.System.gc()
        c0 = codegen_compiles(spark)
        t0 = time.perf_counter()
        df = spec.builder(spark, sf_dir)
        t1 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        total = round(time.perf_counter() - t0, 3)
        return total, round(t1 - t0, 3), codegen_compiles(spark) - c0

    times: dict[str, float] = {}
    failed_set: set[str] = set()

    # --- forward sweep: each query cold, then at once warm (sweep 1).
    sweep1: dict[str, float] = {}
    sweep1_build: dict[str, float] = {}
    sweep1_compiles: dict[str, int] = {}
    for name, spec in sorted(specs.items()):
        try:
            times[name] = run_once(spec)[0]
        except Exception as exc:  # a broken query must not kill the bench
            times[name] = -1.0
            failed_set.add(name)
            print(f"bench: {name} FAILED: {exc}", file=sys.stderr)
            continue
        try:
            sweep1[name], sweep1_build[name], sweep1_compiles[name] = run_once(
                spec, gc=False)
        except Exception as exc:
            failed_set.add(name)
            print(f"bench: {name} FAILED (warm): {exc}", file=sys.stderr)

    # --- reverse sweep (sweep 2), if its estimate fits the budget.
    sweep2: dict[str, float] = {}
    sweep2_compiles: dict[str, int] = {}
    sweep2_skipped = None
    elapsed = time.perf_counter() - t_start
    remaining = budget_sec - elapsed
    sweep2_est = sum(t for t in sweep1.values() if t >= 0) + 0.25 * len(sweep1)
    if remaining < sweep2_est + 120.0:
        sweep2_skipped = "budget"
        print(
            f"bench: reverse sweep skipped — est {sweep2_est:.0f}s exceeds "
            f"remaining budget {remaining:.0f}s of {budget_sec:.0f}s; warm "
            f"falls back to sweep-1 samples (upward-biased, never deflated)",
            file=sys.stderr,
        )
    else:
        for name, spec in sorted(specs.items(), reverse=True):
            if name in failed_set:
                continue
            try:
                sweep2[name], _, sweep2_compiles[name] = run_once(spec)
            except Exception as exc:
                failed_set.add(name)
                print(f"bench: {name} FAILED (warm): {exc}", file=sys.stderr)

    sweeps = [sweep1, sweep2] if sweep2_skipped is None else [sweep1]
    warm: dict[str, float] = {}
    for name in specs:
        if name in failed_set:
            warm[name] = -1.0
        else:
            warm[name] = min(s[name] for s in sweeps)

    total = round(sum(t for t in times.values() if t >= 0), 3)
    warm_total = round(sum(t for t in warm.values() if t >= 0), 3)
    sweep_totals = [
        round(sum(t for n, t in s.items() if n not in failed_set), 3)
        for s in sweeps
    ]
    # sweep-to-sweep spread: the documented session-noise error bar
    spread_pct = (
        round(
            100.0
            * abs(sweep_totals[0] - sweep_totals[1])
            / min(sweep_totals),
            2,
        )
        if len(sweep_totals) == 2 and min(sweep_totals) > 0
        else 0.0
    )

    # Per-query detail goes to a side file, not the stdout line. A
    # --only run writes its own file, so a spot check never overwrites
    # the last full-sweep detail.
    detail_name = (
        f"BENCH_DETAIL_c{cpus}.json" if only is None else "BENCH_DETAIL_only.json"
    )
    detail_path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                               detail_name)
    detail = {
        "sf": sf,
        "cpus": cpus,
        "budget_sec": budget_sec,
        "elapsed_sec": round(time.perf_counter() - t_start, 1),
        "total_cold_sec": total,
        "total_warm_sec": warm_total,
        "warm_sweep_totals": sweep_totals,
        "warm_sweep_spread_pct": spread_pct,
        "queries_cold": times,
        "queries_warm": warm,  # per-query MIN across the two sweeps
        "queries_warm_sweep1": sweep1,
        # builder share of each sweep-1 sample (the rest is execution)
        "queries_build_sweep1": sweep1_build,
        # generated-code classes each sample compiled (cache misses)
        "queries_compiles_sweep1": sweep1_compiles,
        "queries_warm_sweep2": sweep2,
        "queries_compiles_sweep2": sweep2_compiles,
    }
    if sweep2_skipped is not None:
        detail["sweep2_skipped"] = sweep2_skipped
    with open(detail_path, "w") as fh:
        json.dump(detail, fh, indent=1, sort_keys=True)
    print(f"bench: per-query detail written to {detail_path}", file=sys.stderr)
    print(
        f"bench: warm sweeps {' / '.join(str(t) + 's' for t in sweep_totals)} "
        f"(spread {spread_pct}%), min-total {warm_total}s; classes compiled "
        f"{sum(sweep1_compiles.values())} / {sum(sweep2_compiles.values())}",
        file=sys.stderr,
    )

    print(
        json.dumps(
            {
                "metric": "total_query_sec",
                "value": total,
                "unit": "sec",
                "sf": sf,
                "warm_total_sec": warm_total,
                "n_queries": len(times),
                "n_failed": len(failed_set),
                "detail": detail_name,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
