"""Benchmark runner: one workload, one seed, one process.

    python3 perfbench/run.py --workload ingest_append --seed 1 --seconds 12 --trace 0

Run from the root of a checkout: the program is imported from there and
every file the run writes stays under ``.perfbench/`` there. See
``perfbench/README.md`` for the method and the metric definitions.

Phases of a run:

1. generate the seeded inputs (untimed);
2. cold set-up: ``get_spark``, the workload's writer/target or registry,
   one untimed warm-up op;
3. query workloads only: the output check, which runs each query of the
   rotation once before timing; its first query is the warm-up op;
4. untimed ops for 0.4 of ``--seconds``, so the JIT settles;
5. the timed phase: closed loop, one client, ops until ``--seconds``
   have passed (with ``--trace 1`` every second op is traced);
6. ingest workloads only: the output check.

The last stdout line is the result JSON; the line before it carries the
details (settings, tail percentile, error rate, space amplification).
"""

from __future__ import annotations

import time

_T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
from dataclasses import dataclass  # noqa: E402

_now = time.perf_counter
HERE = os.path.dirname(os.path.abspath(__file__))
DRIVER_MEM = "2g"
# Untimed ops after set-up and the check, for this share of --seconds, so
# that the JIT has settled before timing: with a quarter, the first timed
# STATE acks of ingest_append were still up to a fifth slower than the
# later ones.
SETTLE_SHARE = 0.4


def _cpus() -> int:
    try:
        return min(2, len(os.sched_getaffinity(0)))
    except AttributeError:
        return min(2, os.cpu_count() or 1)


def pin_environment(run_dir: str) -> dict[str, str]:
    """Deployment settings for this run; set before the JVM starts."""
    dirs = {k: os.path.join(run_dir, k) for k in ("local", "cache", "tmp", "spark-warehouse")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    env = {
        "SPARK_GRAFT_CPUS": str(_cpus()),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": dirs["local"],
        "SPARK_GRAFT_CACHE_ROOT": dirs["cache"],
        "TMPDIR": dirs["tmp"],
    }
    os.environ.update(env)
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    env["spark_conf"] = spark_conf(run_dir)
    return env


def spark_conf(run_dir: str) -> dict[str, str]:
    return {
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "spark-warehouse"),
        # -Xms = -Xmx, touched at start: a fixed, resident heap, so peak
        # RSS does not follow heap resizing or GC timing; -UsePerfData: no
        # hsperfdata file in the system temp dir
        "spark.driver.extraJavaOptions": (
            f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch -XX:-UsePerfData "
            f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}"),
    }


# -- process memory ------------------------------------------------------------

def _hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def _reset_hwm(pid: int) -> None:
    try:
        with open(f"/proc/{pid}/clear_refs", "w") as f:
            f.write("5")
    except OSError:
        pass  # peak then counts from process start


def jvm_pid(spark) -> int:
    return int(spark._jvm.java.lang.ProcessHandle.current().pid())


# -- host ------------------------------------------------------------------------
# Recorded on the detail line beside the metrics, never mixed into them, so
# that a slow run can be told apart as a slow host or a slow program.

_TICK = os.sysconf("SC_CLK_TCK")


def cpu_s(pid: int) -> float:
    """User + system CPU seconds of one process so far."""
    with open(f"/proc/{pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) / _TICK


def steal_s() -> float:
    """CPU seconds stolen from this VM by its hypervisor, all CPUs."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / _TICK


def host_probe() -> float:
    """Best of three timings of a fixed pure-Python loop: on a steady host
    the same from run to run."""
    best = float("inf")
    for _ in range(3):
        t, acc = _now(), 0
        for i in range(1_500_000):
            acc += i * i % 7
        best = min(best, _now() - t)
    return best


def host_sample(pids) -> tuple[float, ...]:
    return (_now(), steal_s(), *(cpu_s(p) for p in pids))


# -- statistics ------------------------------------------------------------------

def tail(latencies: list[float]) -> tuple[float, float]:
    """(value, percentile) at the highest percentile with at least ten
    samples beyond it (p90 at 100 ops). Below 50 ops a fifth of the
    samples, and at least one, is kept beyond it instead (p80), so that
    the tail stays above the median."""
    xs = sorted(latencies)
    n = len(xs)
    k = n - min(10, max(1, n // 5))
    k = max(k, 1)
    return xs[k - 1], 100.0 * k / n


# -- phases ----------------------------------------------------------------------

@dataclass
class Op:
    latency_s: float
    cycle_s: float  # wall time of the whole op, input feeding included
    units: int  # records committed (ingest) or queries completed
    traced: bool
    counters: dict  # traced ops only: Spark job counters and plan phases


@dataclass
class Phase:
    ops: list[Op]
    elapsed: float
    attempted: int
    failures: list[str]

    def latencies(self, traced: bool | None = None) -> list[float]:
        return [o.latency_s for o in self.ops if traced is None or o.traced == traced]

    def rate(self, traced: bool) -> float:
        sel = [o for o in self.ops if o.traced == traced]
        return sum(o.units for o in sel) / max(sum(o.cycle_s for o in sel), 1e-9)


def start_session(conf: dict[str, str]):
    from target_iceberg_spark.session import get_spark

    return get_spark(app_name="perfbench", extra_conf=conf)


def shutdown(spark) -> None:
    """Stop the session and the JVM, and wait for the JVM to exit."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def timed_phase(wl, seconds: float, tracer=None, sc=None) -> Phase:
    """Closed loop, one client: issue ops until ``seconds`` have passed.

    A query workload times whole rotations, so every run times the same
    mix of queries, and a fixed number of them: as many as take nearest
    to ``seconds`` at the workload's nominal op time (at least one).
    Counting them from measured time would flip between two counts from
    run to run.

    With a tracer, ops alternate untraced and traced; a query workload
    runs each query of the rotation twice in a row, once each way. The
    two halves then share the same mix, warm-up trend and host noise,
    and their difference is the tracing overhead."""
    import workloads

    ops: list[Op] = []
    failures: list[str] = []
    step = 1 if tracer is None else 2
    n_ops = None
    if wl.kind == "query":
        rotation_s = len(wl.rotation) * wl.mean_op_s
        n_ops = step * len(wl.rotation) * max(1, round(seconds / rotation_s))
    k = 0
    t0 = _now()
    while not wl.exhausted() and (k < n_ops if n_ops is not None else _now() - t0 < seconds):
        # within each pair of ops, alternate which one is traced
        traced = step == 2 and k % 2 != (k // 2) % 2
        units0 = wl.work_units()
        counters: dict = {}
        before = workloads.parquet_files(wl.warehouse) if traced and wl.kind == "ingest" else None
        start = _now()
        try:
            if traced:
                latency = traced_op(wl, k // step, tracer, sc, k, counters)
            else:
                latency = wl.op(k // step)
            cycle = _now() - start
            if traced:
                counters.update(op_counters(wl, sc, k, before))
            ops.append(Op(latency, cycle, wl.work_units() - units0, traced, counters))
        except Exception as e:  # a failed op counts against the run, which goes on
            failures.append(f"op {k}: {e!r}")
        k += 1
    return Phase(ops, _now() - t0, k, failures)


def traced_op(wl, i: int, tracer, sc, trace_id: int, rec: dict) -> float:
    """One op under a root span, its Spark jobs in the op's job groups;
    a query's plan phase times go to ``rec``."""
    import spans

    group = f"perfbench-op-{trace_id}"
    with tracer.op(trace_id):
        if wl.kind == "query":
            t0 = _now()
            sc.setJobGroup(f"{group}-build", "plans build")
            with tracer.span("plans.build"):
                df = wl.build(i)
            with tracer.span("spark.plan"):
                rec["phases"] = spans.plan_phases(df)
            sc.setJobGroup(f"{group}-exec", "execute")
            with tracer.span("spark.exec"):
                wl.execute(df)
            latency = _now() - t0
            wl.done += 1
        else:
            sc.setJobGroup(f"{group}-exec", "ingest op")
            latency = wl.op(i)
    return latency


def op_counters(wl, sc, trace_id: int, before: dict | None) -> dict:
    """Counters of one traced op, read after its clock has stopped: Spark
    jobs per job group and, for ingest, the parquet files it wrote."""
    import spans
    import workloads

    group = f"perfbench-op-{trace_id}"
    rec = {"trace_id": trace_id, "exec": spans.job_counts(sc, f"{group}-exec")}
    if wl.kind == "query":
        rec["build"] = spans.job_counts(sc, f"{group}-build")
    if before is not None:
        after = workloads.parquet_files(wl.warehouse)
        written = [size for path, size in after.items() if before.get(path) != size]
        rec["files_written"] = len(written)
        rec["bytes_written"] = sum(written)
        rec["input_bytes"] = wl.last_chunk.payload_bytes
    return rec


def layer_metrics(tracer, ph: Phase, gc0, gc1, ctx: dict) -> dict[str, tuple[float, str]]:
    """Per-layer metrics: per traced op, except the ratios, the peaks and
    what is measured over all ops of the phase (files, bytes, GC)."""
    ops = tracer.per_op()
    per_op = [o.counters for o in ph.ops if o.traced]
    n = max(len(per_op), 1)

    def total(name: str, idx: int) -> float:
        return sum(o["by_name"].get(name, (0, 0.0, 0.0))[idx] for o in ops.values())

    def prefixed(prefix: str, idx: int) -> float:
        return sum(v[idx] for o in ops.values() for nm, v in o["by_name"].items()
                   if nm.startswith(prefix))

    def counter(key: str, part: str | None = None) -> float:
        return sum((r.get(part, {}) if part else r).get(key, 0) for r in per_op)

    def phase(key: str) -> float:
        return sum(r.get("phases", {}).get(key, 0.0) for r in per_op)

    m: dict[str, tuple[float, str]] = {}
    m["session.start_s"] = (ctx["session_start_s"], "s")
    m["singer.lines"] = (total("singer.process_line", 0) / n, "1/op")
    m["singer.records"] = (ctx["records"] / n, "1/op")
    m["singer.drains"] = ((total("writer.append", 0) + total("writer.upsert", 0)) / n, "1/op")
    m["singer.self_s"] = (total("singer.process_line", 2) / n, "s/op")
    m["spark.create_df_calls"] = (total("spark.create_df", 0) / n, "1/op")
    m["spark.create_df_s"] = (total("spark.create_df", 1) / n, "s/op")
    for w in ("append", "upsert", "read"):
        m[f"writer.{w}_calls"] = (total(f"writer.{w}", 0) / n, "1/op")
        m[f"writer.{w}_s"] = (total(f"writer.{w}", 1) / n, "s/op")
    m["writer.files_written"] = (counter("files_written") / n, "1/op")
    m["writer.bytes_written"] = (counter("bytes_written") / n, "B/op")
    m["writer.write_amp"] = (counter("bytes_written") / max(counter("input_bytes"), 1), "ratio")
    m["writer.space_amp"] = (ctx["space_amp"], "ratio")
    m["tables.load_calls"] = (total("tables.load", 0) / n, "1/op")
    m["tables.load_s"] = (total("tables.load", 1) / n, "s/op")
    m["plans.build_s"] = (total("plans.build", 1) / n, "s/op")
    m["plans.build_jobs"] = (counter("jobs", "build") / n, "1/op")
    m["operators.calls"] = (prefixed("operators.", 0) / n, "1/op")
    m["operators.self_s"] = (prefixed("operators.", 2) / n, "s/op")
    m["spark.analysis_s"] = (phase("analysis") / n, "s/op")
    m["spark.optimization_s"] = (phase("optimization") / n, "s/op")
    m["spark.planning_s"] = (phase("planning") / n, "s/op")
    m["spark.exec_s"] = (total("spark.exec", 1) / n, "s/op")
    for key in ("jobs", "stages", "tasks", "failed_tasks"):
        m[f"spark.{key}"] = ((counter(key, "build") + counter(key, "exec")) / n, "1/op")
    n_all = max(len(ph.ops), 1)
    m["jvm.gc_s"] = ((gc1[0] - gc0[0]) / n_all, "s/op")
    m["jvm.gc_count"] = ((gc1[1] - gc0[1]) / n_all, "1/op")
    m["jvm.peak_rss_mb"] = (ctx["jvm_mb"], "MB")
    m["driver.peak_rss_mb"] = (ctx["driver_mb"], "MB")
    # The self times of an op's spans sum to its root span; the runner's
    # own clock around the op gives its wall time. Time inside the root
    # span but in no layer span is unattributed: a layer that loses its
    # wrapper shows up there.
    cycle = {o.counters["trace_id"]: o.cycle_s for o in ph.ops if o.traced}
    err = max((abs(cycle[tid] - o["self_sum_s"]) for tid, o in ops.items()), default=0.0)
    m["trace.self_sum_err_s"] = (err, "s")
    m["trace.unattributed_s"] = (total("op", 2) / n, "s/op")
    m["trace.overhead_p50"] = (ctx["overhead_p50"], "ratio")
    m["trace.overhead_throughput"] = (ctx["overhead_throughput"], "ratio")
    return m


def run(args, run_dir: str) -> dict:
    env = pin_environment(run_dir)
    try:
        import pyspark  # noqa: F401
        import target_iceberg_spark  # noqa: F401
    except ImportError as e:
        raise SystemExit(f"perfbench: the program is not importable from {os.getcwd()}: {e}")
    import workloads

    startup_s = _now() - _T_START
    t = _now()
    wl = workloads.make(args.workload, args.seed, run_dir, args.seconds * (1 + SETTLE_SHARE))
    gen_s = _now() - t

    # -- cold set-up -------------------------------------------------------
    t = _now()
    spark = start_session(env["spark_conf"])
    session_start_s = _now() - t
    t = _now()
    fixture_s = wl.setup(spark)
    n_checked, errors, check_s = 0, [], 0.0
    if wl.kind == "query":
        warm: list[float] = []
        n_checked, errors = wl.check(on_first=lambda: warm.append(_now()))
        check_s = _now() - (warm[0] if warm else t)
        setup_end = warm[0] if warm else _now()
    else:
        wl.op(0, timed=False)
        setup_end = _now()
    setup_s = startup_s + session_start_s + (setup_end - t - fixture_s)
    settle = timed_phase(wl, args.seconds * SETTLE_SHARE)

    pids = (os.getpid(), jvm_pid(spark))
    probe_before = host_probe()
    for p in pids:
        _reset_hwm(p)

    # -- timed phase ---------------------------------------------------------
    tracer = None
    if args.trace:
        import spans

        tracer = spans.Tracer()
        spans.install(tracer, spark)
        gc0 = spans.gc_totals(spark)
    h0 = host_sample(pids)
    ph = timed_phase(wl, args.seconds, tracer, spark.sparkContext)
    h1 = host_sample(pids)
    if tracer is not None:
        gc1 = spans.gc_totals(spark)
        tracer.uninstall()
    rss_driver = _hwm_kb(pids[0]) / 1024.0
    rss_jvm = _hwm_kb(pids[1]) / 1024.0

    ingest = {}
    if wl.kind == "ingest":
        ingest["space_amp"] = wl.warehouse_bytes() / max(wl.input_bytes(), 1)
        t = _now()
        n_checked, errors = wl.check()
        check_s = _now() - t

    shutdown(spark)
    wall = h1[0] - h0[0]
    host = {
        "probe_s": [probe_before, host_probe()],
        "steal_share": (h1[1] - h0[1]) / wall / (os.cpu_count() or 1),
        "cpu_s": {"driver": h1[2] - h0[2], "jvm": h1[3] - h0[3]},
        "cpu_share": {"driver": (h1[2] - h0[2]) / wall, "jvm": (h1[3] - h0[3]) / wall},
    }

    attempted = settle.attempted + ph.attempted + n_checked
    failures = settle.failures + ph.failures + errors
    lat = ph.latencies()
    tail_v, tail_p = tail(lat)
    end_to_end = {
        "setup_s": (setup_s, "s"),
        "throughput_per_s": (sum(o.units for o in ph.ops) / ph.elapsed, "1/s"),
        "latency_p50_s": (statistics.median(lat), "s"),
        "latency_tail_s": (tail_v, "s"),
        "peak_rss_mb": (rss_driver + rss_jvm, "MB"),
    }
    detail = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "ops": len(lat), "timed_s": ph.elapsed, "inputs_exhausted": wl.exhausted(),
        "tail_percentile": tail_p,
        "latencies_s": lat,
        "error_rate": len(failures) / max(attempted, 1), "checked": n_checked,
        "failures": failures,
        "phases_s": {"startup": startup_s, "input_gen": gen_s, "session_start": session_start_s,
                     "fixture": fixture_s, "check": check_s, "run": _now() - _T_START},
        "environment": env, "host": host, **ingest,
        "end_to_end": {name: v for name, (v, _) in end_to_end.items()},
    }
    metrics = end_to_end
    if tracer is not None:
        traced, untraced = ph.latencies(True), ph.latencies(False)
        ctx = {
            "session_start_s": session_start_s,
            "records": sum(o.units for o in ph.ops if o.traced) if wl.kind == "ingest" else 0,
            "space_amp": ingest.get("space_amp", 0.0),
            "jvm_mb": rss_jvm, "driver_mb": rss_driver,
            "overhead_p50": statistics.median(traced) / statistics.median(untraced) - 1.0,
            "overhead_throughput": 1.0 - ph.rate(True) / ph.rate(False),
        }
        metrics = layer_metrics(tracer, ph, gc0, gc1, ctx)
        out_dir = os.path.join(os.getcwd(), ".perfbench", "traces")
        os.makedirs(out_dir, exist_ok=True)
        trace_path = os.path.join(out_dir, f"{args.workload}-seed{args.seed}.jsonl")
        tracer.dump(trace_path)
        detail["trace_file"] = os.path.relpath(trace_path)
        detail["traced_vs_untraced"] = {
            "ops": [len(traced), len(untraced)],
            "latency_p50_s": [statistics.median(traced), statistics.median(untraced)],
            "units_per_s": [ph.rate(True), ph.rate(False)],
        }
    return {
        "detail": detail,
        "result": {
            "correct": not failures,
            "attempted": attempted,
            "failed": len(failures),
            "metrics": {name: {"value": v, "unit": u} for name, (v, u) in metrics.items()},
        },
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    sys.path.insert(0, HERE)
    import workloads

    if args.workload not in workloads.NAMES:
        ap.error(f"--workload must be one of {', '.join(workloads.NAMES)}")
    sys.path.insert(0, os.getcwd())
    run_dir = os.path.join(os.getcwd(), ".perfbench", f"run-{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(run_dir)
    try:
        out = run(args, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(out["detail"]))
    print(json.dumps(out["result"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
