#!/usr/bin/env python
"""Benchmark runner — executes every registered query at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE SMALL JSON line (≤ ~200 bytes
so bounded tail-capture harnesses never truncate it):

  {"metric": "total_query_sec", "value": N, "unit": "sec", "sf": 0.1,
   "warm_total_sec": M, "n_queries": K, "detail": "BENCH_DETAIL_c32.json"}

`value` is the COLD first-run total (includes one-shot codegen
compile, which lands on queries essentially at random and adds ±15 s
of run-to-run noise at sf0.1); `warm_total_sec` is the sum of
per-query MINIMA of one steady-state timing taken in each of two
SWEEPS of the full query set, the second sweep in reverse order.

Why sweeps, not only immediate re-runs (the round-7 variance
post-mortem): through round 7 the warm number was the median of 3
back-to-back re-runs per query. That votes out single-run GC/JIT
excursions but is blind to SUSTAINED contention windows — a
background compaction or heap ramp lasting 10 s inflates all three
immediate runs of whichever query occupies that session slot, which
is exactly the fn_conditional/fn_date/events_* drift flagged in
rounds 6 and 7 (full-session warm totals of identical plans spread
193.4 vs 218.2 s, ~12%, while isolated --only timings were
unchanged). Two sweeps place every query at two DIFFERENT session
positions (reverse order maximizes the position distance), so a
contention window inflates a given query in at most one sweep and
the per-query min discards it. The min of repeated timings is the
standard steady-state estimator (timing noise is one-sided: nothing
makes a fixed plan run faster than its cost).

SWEEP STRUCTURE (round-14 budget fix, declared in
OPTIMIZATION_r14.md — the r13 driver run overran its own 2100 s
budget by ~900 s and survived only because the outer timeout was
larger). Through round 13 the protocol was 4 executions per query:
a cold sweep, then a forward warm sweep that ran each query TWICE
(an untimed "restore" run, then the timed steady-state sample), then
a reverse warm sweep timing a single run. Round 14 FUSES the cold
sweep and the forward warm sweep: each query runs cold (timed as
cold) and then immediately again (timed as the sweep-1 warm sample)
— the warm sample is still the second of two back-to-back
executions of the same plan, exactly what the old restore+timed
pair measured, but the separate restore execution (and its wall
clock) is gone: 3 executions per query instead of 4, ~20-25% of
total wall cut with per-query semantics intact. The reverse sweep
is unchanged (single timed run; it vetoes sweep-1 contention
inflation — the only job min-of-sweeps asks of it). Both sweep
columns are kept in the detail artifact, so the sweep-to-sweep
spread — the session-noise error bar — is documented per run
instead of discovered across rounds.

GENERATED CODE. Every run of a query needs its generated classes;
a class missing from Spark's generated-code cache is compiled with
Janino first, inside the timed window. With Spark's default cache
of 100 classes, a full sweep (about 5.3k distinct classes) evicted
each query's classes long before the next sweep reached it, so a
reverse pass over the registry recompiled ~7.7k classes. session.py
sizes the cache to the registry, so a query's classes stay cached
wherever its next run falls (the same reverse pass: 247 compiles).
`queries_compiles_sweep1` and `queries_compiles_sweep2` count the
classes each timed sample compiled: a warm sample normally compiles
none, and a nonzero count marks either eviction or a plan that
generates fresh code on every run.

The whole run is WALL-CLOCK BUDGETED: $SPARK_GRAFT_BENCH_BUDGET_SEC
(default 2100) bounds the process. Budget gates (round 14): the
reverse sweep launches only if its estimated cost (the sweep-1 warm
total plus per-query GC overhead) fits the remaining budget — when
it cannot, warm falls back to the sweep-1 samples alone (upward-
biased under contention, never deflated) and the detail artifact
records `sweep2_skipped: "budget"`. The optional movers annex
likewise launches only if its estimated cost fits (else
`movers_skipped: "budget"`), and its subprocess timeout is capped
at the remaining budget, never a flat 1800 s.

Per-query cold/min/per-sweep timings go to BENCH_DETAIL_c{CPUS}.json
next to this script — one file PER CORE COUNT (round 14: the
driver benches at two core counts to measure scaling, and a shared
name made the second run clobber the first's per-query detail; with
distinct files the per-query c8/c32 warm ratios are computable from
the artifacts). The file name is echoed in the stdout JSON line's
`detail` field. When the sweep-to-sweep spread exceeds 10%
(round-12 hygiene), the top-10 movers are automatically re-timed
ISOLATED in a fresh JVM (`--only` subprocess) and the isolated
warms land in the detail file's `isolated_movers` annex, so verdict
diffs can separate plan regressions (reproduce isolated) from
session noise (don't). `queries_warm` (the per-query min) remains
the headline per-query column; pre-round-8 artifacts' `queries_warm`
was a median of immediate re-runs — comparable in the no-contention
case, upward-biased otherwise.

Each query is fully materialized through the `noop` sink (df.count()
would let Catalyst prune projections and under-measure).

DECLARED CROSS-RUN STATE (round-14, per the r13 verdict): the
`sim_ivf_*` queries read a persisted IVF index keyed by corpus
CONTENT (operators/ivf.py — the warehouse-index amortization
posture: on a real deployment the IVF index is a maintained table
artifact, like any secondary index, rebuilt when the corpus
changes). Consequence for timings: the first-ever run on a given
corpus pays the k-means index build; every later run (including
every run of this bench after the first) reads the index back and
pays only the probe/search side. The index is content-keyed, so
regenerating the test data invalidates it; nothing else in the
bench persists intermediates or results across runs.

Within one run, `sources/tables.py::load_table` keeps each table
file's inferred parquet schema in memory, keyed on the file's identity
(path, size, mtime, inode) and the parquet type-conversion confs, so
only the first load of each table in the process starts the
schema-inference job. This is the metadata an Iceberg catalog hands
the engine; no DataFrame, plan or result is reused, and the cache dies
with the process, so nothing of it persists across runs.
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
    spread_gate = _env_number("SPARK_GRAFT_SPREAD_PCT", "10.0")
    cpus_env = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if not cpus_env.isdigit() or int(cpus_env) < 1:
        sys.exit(f"bench: SPARK_GRAFT_CPUS must be a positive integer, got {cpus_env!r}")
    cpus = int(cpus_env)

    from target_iceberg_spark.plans import all_specs
    from target_iceberg_spark.session import codegen_compiles, get_spark

    spark = get_spark("engine-bench")
    specs = all_specs()

    # Isolated-timing mode: `python bench.py --only q1,q2` benches ONLY
    # the named queries in this (fresh) JVM. Round-4 post-mortem showed
    # in-session warm medians excursing 6x over isolated cost after ~170
    # queries of JVM pressure; this flag separates plan regressions
    # (shows up isolated) from session noise (doesn't) without running
    # the full 100+-query sweep.
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
        # Full JVM GC before a timed run (outside the timed window):
        # keeps one query's garbage from being charged to the next
        # query's timing (round-4 post-mortem; measured 0.13-0.32 s per
        # System.gc() on the warm heap). The fused forward pass GCs
        # once per query, before the COLD run — the warm-1 sample that
        # immediately follows the same query's cold run passes gc=False
        # (the only garbage in the JVM is that query's own; collecting
        # it mid-sample is one-directional inflation the per-query min
        # discards whenever the reverse sweep — full GC discipline —
        # runs). Measured ~130 s of the 415 s per-run bookkeeping
        # overhead, round-14 budget fix.
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

    # --- fused cold + forward warm sweep (registry order): each query
    # runs cold (first execution in this JVM — codegen compile charged
    # here) and then immediately again for the sweep-1 steady-state
    # sample. The warm sample is the second of two back-to-back
    # executions, exactly what the pre-round-14 restore+timed pair
    # measured (see module docstring). ------------------------------
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

    # --- reverse warm sweep: every query at a maximally-distant
    # session position, so a sustained contention window inflates it
    # in at most one sweep and the per-query min discards it.
    # Budget gate (round 14): launch only if the estimated cost (the
    # sweep-1 warm total plus ~0.25 s/query of GC + bookkeeping) fits
    # the remaining budget with a 120 s shutdown margin; else fall
    # back to sweep-1 samples (never deflates a reported time). -----
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
    failed = sorted(failed_set)

    # --- spread hygiene (round-12): a sweep-to-sweep spread above ~10%
    # means a sustained contention window dominated one sweep, so
    # like-for-like round diffs of the in-session numbers would be
    # noise. Auto-apply the round-4 protocol: re-run the top-10 movers
    # (largest sweep1/sweep2 delta) ISOLATED in a fresh JVM via
    # `--only`, and record the isolated warms as an annex in the
    # detail artifact. `--only` runs never recurse.
    movers_annex = None
    if (
        only is None
        and sweep2_skipped is None
        and spread_pct > spread_gate
        and not failed_set
    ):
        deltas = sorted(
            (
                (round(abs(sweeps[0][n] - sweeps[1][n]), 3), n)
                for n in sweeps[0]
                if n in sweeps[1]
            ),
            reverse=True,
        )
        movers = [n for _, n in deltas[:10]]
        # Budget gate (round-13, after the r12 driver run died at its
        # wall-clock timeout DURING this annex): the subprocess pays a
        # fresh JVM (~90 s) plus 3 executions per mover (fused
        # cold+warm pair + reverse single); estimate each execution at
        # the mover's observed cold time (its per-run ceiling in this
        # session) and launch only when the estimate fits the
        # remaining budget with a 60 s shutdown margin.
        elapsed = time.perf_counter() - t_start
        remaining = budget_sec - elapsed
        annex_est = 90.0 + 3.0 * sum(max(times.get(n, 0.0), 0.0) for n in movers)
        if remaining < annex_est + 60.0:
            # Round-14 fallback: the fresh-JVM subprocess does not fit,
            # but a third IN-SESSION timing of each mover (GC + one
            # timed run, at yet another session position) usually does
            # — min-of-3 still separates a sustained contention window
            # (the re-time recovers) from a plan regression (it
            # doesn't), at ~1/5 the cost. Cleanest-arm isolation still
            # needs a fresh JVM; the mode field says which ran.
            retime_est = sum(max(warm.get(n, 0.0), 0.0) for n in movers) + 5.0
            movers_annex = {
                "movers": movers,
                "in_session_sweep_delta": {n: d for d, n in deltas[:10]},
                "movers_skipped": "budget",
                "annex_est_sec": round(annex_est, 1),
                "remaining_budget_sec": round(remaining, 1),
            }
            if remaining >= retime_est + 60.0:
                print(
                    f"bench: spread {spread_pct}% > {spread_gate}% — "
                    f"fresh-JVM annex over budget (est {annex_est:.0f}s "
                    f"+ 60s margin vs {remaining:.0f}s left); in-session "
                    f"re-time of movers instead: {','.join(movers)}",
                    file=sys.stderr,
                )
                retimed: dict[str, float] = {}
                incomplete: list[dict[str, str]] = []
                for n in movers:
                    try:
                        retimed[n] = run_once(specs[n])[0]
                    except Exception as exc:  # annex must never kill the bench
                        incomplete.append({"query": n, "error": f"{type(exc).__name__}: {exc}"})
                        print(f"bench: in-session re-time of {n} failed: "
                              f"{incomplete[-1]['error']}", file=sys.stderr)
                movers_annex["mode"] = "in_session_retime"
                movers_annex["retime_warm"] = retimed
                if incomplete:
                    movers_annex["retime_incomplete"] = incomplete
                del movers_annex["movers_skipped"]
            else:
                print(
                    f"bench: spread {spread_pct}% > {spread_gate}% but "
                    f"movers annex skipped — est {annex_est:.0f}s exceeds "
                    f"remaining budget {remaining:.0f}s of "
                    f"{budget_sec:.0f}s",
                    file=sys.stderr,
                )
        else:
            print(
                f"bench: spread {spread_pct}% > {spread_gate}% — isolated "
                f"--only re-run of top movers: {','.join(movers)}",
                file=sys.stderr,
            )
            import subprocess

            here = os.path.dirname(os.path.abspath(__file__))
            try:
                subprocess.run(
                    [sys.executable, os.path.abspath(__file__), "--only",
                     ",".join(movers)],
                    check=True,
                    cwd=here,
                    stdout=subprocess.DEVNULL,
                    stderr=subprocess.DEVNULL,
                    timeout=max(60.0, remaining - 60.0),
                )
                with open(os.path.join(here, "BENCH_DETAIL_only.json")) as fh:
                    iso = json.load(fh)
                movers_annex = {
                    "movers": movers,
                    "in_session_sweep_delta": {n: d for d, n in deltas[:10]},
                    "isolated_warm": iso["queries_warm"],
                }
            except Exception as exc:  # the annex must never kill the bench
                movers_annex = {"movers": movers, "error": str(exc)}

    # Per-query detail goes to a side file (and stderr) — NOT the stdout
    # JSON line, which bounded tail-capture harnesses would truncate.
    # Full sweeps write one file PER CORE COUNT so the driver's c8 run
    # no longer clobbers the c32 per-query detail (round 14); isolated
    # --only runs write a SEPARATE file so a spot-check never clobbers
    # the last full-sweep detail kept in-repo for round diffs.
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
    if movers_annex is not None:
        detail["isolated_movers"] = movers_annex
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
                "n_failed": len(failed),
                "detail": detail_name,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
