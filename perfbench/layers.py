"""Per-layer tracing for the traced benchmark run.

Spans are recorded from outside the engine, around the calls the
harness makes into each layer; nothing in the package is edited:

* ``catalog``  - ``load_tables`` is imported by name into each
  ``datawarehouse_spark`` module, so it is wrapped in every module
  namespace that holds it. Its time is thread-time: suites that build
  members on a thread pool overlap their calls.
* ``queries``  - the registry callable, up to the DataFrame it returns
  (eager checkpoints and driver syncs run here).
* ``catalyst`` - ``QueryExecution.tracker().phases()`` of the returned
  DataFrame after forcing its physical plan.
* ``exec``     - jobs, stages and tasks from ``setJobGroup`` plus the
  status tracker; run time, bytes and spill from Spark's status store.
* ``snapshot`` - merge, read-back, optimize and vacuum of a
  ``SnapshotTable``.

Spans stay in memory; ``Tracer.spans`` is written out when the run ends.
The time the tracer spends on its own bookkeeping is summed in
``overhead_s``.
"""

from __future__ import annotations

import sys
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError

CATALYST_PHASES = ("analysis", "optimization", "planning")


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self._store = self.sc._jsc.sc().statusStore()
        self._bus = self.sc._jsc.sc().listenerBus()
        self.spans: list[dict] = []
        self.totals: dict[str, float] = defaultdict(float)
        self.overhead_s = 0.0
        self._lock = threading.Lock()
        self._stack: list[dict] = []
        self._group = None
        self._last_job = self._max_job_id()
        self._patched: list[tuple[object, object]] = []

    # -- catalog ----------------------------------------------------------
    def wrap_catalog(self) -> None:
        """Count ``load_tables`` calls and their thread-time in every
        package module that imported it by name."""
        from datawarehouse_spark import catalog

        orig = catalog.load_tables
        tracer = self

        def load_tables(*args, **kwargs):
            t0 = time.perf_counter()
            try:
                return orig(*args, **kwargs)
            finally:
                dt = time.perf_counter() - t0
                with tracer._lock:
                    tracer.totals["catalog.load_tables.calls"] += 1
                    tracer.totals["catalog.load_tables.s"] += dt

        for name, mod in list(sys.modules.items()):
            if name.startswith("datawarehouse_spark") and \
                    getattr(mod, "load_tables", None) is orig:
                setattr(mod, "load_tables", load_tables)
                self._patched.append((mod, orig))

    def unwrap_catalog(self) -> None:
        for mod, orig in self._patched:
            mod.load_tables = orig
        self._patched.clear()

    # -- spans ------------------------------------------------------------
    @contextmanager
    def op(self, name: str):
        """One benchmark operation: a root span whose jobs carry the
        operation's name as their job group."""
        t0 = time.perf_counter()
        self._group = f"perfbench:{len(self.spans)}:{name}"
        self.sc.setJobGroup(self._group, name)
        self._last_job = self._max_job_id()
        self.overhead_s += time.perf_counter() - t0
        try:
            with self.span("op", name) as s:
                yield s
        finally:
            self.sc._jsc.clearJobGroup()
            self._group = None

    @contextmanager
    def span(self, layer: str, name: str = ""):
        """Record a span. Jobs that start inside it and not inside an
        inner span that closed earlier are attributed to it."""
        parent = self._stack[-1]["id"] if self._stack else None
        s = {"id": len(self.spans), "parent": parent, "layer": layer,
             "name": name, "start": time.perf_counter()}
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            s["end"] = time.perf_counter()
            self._stack.pop()
            t0 = time.perf_counter()
            s.update(self._jobs_since_last())
            self.overhead_s += time.perf_counter() - t0

    def catalyst(self, df) -> None:
        """Force the DataFrame's physical plan and read Catalyst's
        per-phase milliseconds."""
        with self.span("catalyst") as s:
            qe = df._jdf.queryExecution()
            qe.executedPlan()
            phases = qe.tracker().phases()
            for ph in CATALYST_PHASES:
                opt = phases.get(ph)
                s[f"{ph}_ms"] = float(opt.get().durationMs()) if opt.isDefined() else 0.0

    # -- Spark execution counts -------------------------------------------
    def _max_job_id(self) -> int:
        st = self.sc.statusTracker()
        ids = list(st.getJobIdsForGroup(None))
        if self._group:
            ids += list(st.getJobIdsForGroup(self._group))
        return max(ids, default=-1)

    def _jobs_since_last(self) -> dict[str, float]:
        """Jobs started since the previous span closed, with their stage
        and task counts, run time, bytes and spill. Operations run one at
        a time, so job ids above the watermark belong to this span."""
        self._bus.waitUntilEmpty()
        st = self.sc.statusTracker()
        ids = set(st.getJobIdsForGroup(None))
        if self._group:
            ids |= set(st.getJobIdsForGroup(self._group))
        new = sorted(j for j in ids if j > self._last_job)
        if new:
            self._last_job = new[-1]
        out = {"jobs": len(new), "stages": 0, "tasks": 0, "failed_tasks": 0,
               "executor_run_s": 0.0, "input_bytes": 0,
               "shuffle_write_bytes": 0, "spill_bytes": 0}
        stages: set[int] = set()
        for j in new:
            info = st.getJobInfo(j)
            if info is not None:
                stages.update(info.stageIds)
        for sid in stages:
            try:
                sd = self._store.lastStageAttempt(sid)
            except Py4JJavaError:  # stage no longer in the status store
                continue
            if str(sd.status().toString()) == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += sd.numTasks()
            out["failed_tasks"] += sd.numFailedTasks()
            out["executor_run_s"] += sd.executorRunTime() / 1000.0
            out["input_bytes"] += sd.inputBytes()
            out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
            out["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
        return out

