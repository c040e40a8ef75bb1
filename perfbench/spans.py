"""Spans around the program's layer boundaries, recorded from outside.

The tracer wraps the public calls the benchmark drives and the module
functions they reach:

* ``SingerTarget.process_line``              -> ``singer.process_line``
* ``SparkSession.createDataFrame`` (target's) -> ``spark.create_df``
* ``StreamWriter.append / upsert / read``    -> ``writer.*``
* ``sources.tables.load_table``              -> ``tables.load``
* every ``operators.*`` function that returns a DataFrame
                                             -> ``operators.<name>``

A module function is rebound in every loaded module that holds a
reference to it (``from ... import load_table`` copies the reference,
so patching the defining module alone would miss those callers).

Spans are kept in memory as tuples, one trace id per op, and written
out as JSON lines when the run ends. Outside an op the wrappers only
forward the call.
"""

from __future__ import annotations

import functools
import importlib
import json
import pkgutil
import sys
import time
from collections import defaultdict
from contextlib import contextmanager

_now = time.perf_counter


class Tracer:
    def __init__(self) -> None:
        # (trace_id, span_id, parent_id, name, t0, t1)
        self.spans: list[tuple] = []
        self._stack: list[int] = []
        self.trace_id: int | None = None
        self._next_id = 0
        self._undo: list[tuple[object, str, object]] = []

    # -- spans ----------------------------------------------------------
    @contextmanager
    def span(self, name: str):
        if self.trace_id is None:
            yield
            return
        sid = self._next_id
        self._next_id += 1
        parent = self._stack[-1] if self._stack else None
        self._stack.append(sid)
        t0 = _now()
        try:
            yield
        finally:
            t1 = _now()
            self._stack.pop()
            self.spans.append((self.trace_id, sid, parent, name, t0, t1))

    @contextmanager
    def op(self, trace_id: int):
        """Root span of one op; every span opened inside shares its id."""
        self.trace_id = trace_id
        try:
            with self.span("op"):
                yield
        finally:
            self.trace_id = None

    def _wrap(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if self.trace_id is None:
                return fn(*args, **kwargs)
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    # -- installing -----------------------------------------------------
    def _set(self, owner, attr: str, value) -> None:
        self._undo.append((owner, attr, vars(owner).get(attr, _MISSING)))
        setattr(owner, attr, value)

    def patch_method(self, cls: type, attr: str, name: str) -> None:
        self._set(cls, attr, self._wrap(getattr(cls, attr), name))

    def patch_instance(self, obj, attr: str, name: str) -> None:
        self._set(obj, attr, self._wrap(getattr(obj, attr), name))

    def rebind_function(self, fn, name: str, package: str) -> None:
        """Replace ``fn`` by a traced wrapper in every loaded module of
        ``package`` that refers to it."""
        traced = self._wrap(fn, name)
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not mod_name.startswith(package):
                continue
            for attr, value in list(vars(mod).items()):
                if value is fn:
                    self._set(mod, attr, traced)

    def uninstall(self) -> None:
        for owner, attr, old in reversed(self._undo):
            if old is _MISSING:
                delattr(owner, attr)
            else:
                setattr(owner, attr, old)
        self._undo.clear()

    # -- results --------------------------------------------------------
    def per_op(self) -> dict[int, dict]:
        """Per trace id: the sum of all spans' self times, and per span
        name the call count, inclusive seconds and self seconds (duration
        minus the part covered by child spans)."""
        child_s: dict[tuple[int, int], float] = defaultdict(float)
        for tid, _sid, parent, _name, t0, t1 in self.spans:
            if parent is not None:
                child_s[(tid, parent)] += t1 - t0
        ops: dict[int, dict] = {}
        for tid, sid, parent, name, t0, t1 in self.spans:
            op = ops.setdefault(tid, {"self_sum_s": 0.0, "by_name": {}})
            dur = t1 - t0
            self_s = dur - child_s.get((tid, sid), 0.0)
            op["self_sum_s"] += self_s
            agg = op["by_name"].setdefault(name, [0, 0.0, 0.0])
            agg[0] += 1
            agg[1] += dur
            agg[2] += self_s
        return ops

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for tid, sid, parent, name, t0, t1 in self.spans:
                f.write(json.dumps({"trace": tid, "span": sid, "parent": parent,
                                    "name": name, "start": t0, "end": t1}) + "\n")


_MISSING = object()


def install(tracer: Tracer, spark) -> None:
    """Wrap the program's layer entry points (see module docstring).
    The registry must already be loaded so every plan module's imported
    references are rebound."""
    import target_iceberg_spark.operators as ops_pkg
    import target_iceberg_spark.sources.tables as tables
    from target_iceberg_spark.sources.singer import SingerTarget
    from target_iceberg_spark.writer import StreamWriter

    tracer.patch_method(SingerTarget, "process_line", "singer.process_line")
    for attr in ("append", "upsert", "read"):
        tracer.patch_method(StreamWriter, attr, f"writer.{attr}")
    tracer.patch_instance(spark, "createDataFrame", "spark.create_df")
    tracer.rebind_function(tables.load_table, "tables.load", "target_iceberg_spark")
    # Only the driver-side entry points that return a DataFrame: functions
    # shipped to executors (mapInPandas bodies, UDFs) must stay unwrapped,
    # or the wrapper and the tracer would be pickled along with them.
    for info in pkgutil.iter_modules(ops_pkg.__path__):
        mod = importlib.import_module(f"{ops_pkg.__name__}.{info.name}")
        for attr, fn in list(vars(mod).items()):
            if (callable(fn) and getattr(fn, "__module__", None) == mod.__name__
                    and not attr.startswith("_")
                    and "DataFrame" in str(getattr(fn, "__annotations__", {}).get("return", ""))):
                tracer.rebind_function(fn, f"operators.{attr}", "target_iceberg_spark")


# -- Spark-side counters -----------------------------------------------------

def job_counts(sc, group: str) -> dict[str, int]:
    """Jobs, executed stages and tasks of one job group, from the status
    tracker."""
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stage_ids = set()
    for jid in jobs:
        info = st.getJobInfo(jid)
        if info is not None:
            stage_ids.update(info.stageIds)
    stages = tasks = failed = 0
    for sid in stage_ids:
        s = st.getStageInfo(sid)
        if s is None or s.numCompletedTasks + s.numFailedTasks == 0:
            continue  # skipped (reused) stage
        stages += 1
        tasks += s.numCompletedTasks
        failed += s.numFailedTasks
    return {"jobs": len(jobs), "stages": stages, "tasks": tasks, "failed_tasks": failed}


def gc_totals(spark) -> tuple[float, int]:
    """(seconds, collections) summed over the JVM's garbage collectors."""
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    secs = count = 0
    for b in beans:
        secs += max(0, b.getCollectionTime())
        count += max(0, b.getCollectionCount())
    return secs / 1000.0, count


def plan_phases(df) -> dict[str, float]:
    """Force the executed plan, then read the query's phase times (s)."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    out = {}
    for phase in ("analysis", "optimization", "planning"):
        opt = phases.get(phase)
        out[phase] = opt.get().durationMs() / 1000.0 if opt.isDefined() else 0.0
    return out
