"""Timing and tracing of public package calls, from outside the package.

Every call the benchmark makes into the package goes through
``Tracer.call``, which times three phases: *construct* (the Python call
that returns the DataFrame, including any Spark jobs it runs), *plan*
(forcing ``queryExecution().executedPlan()``) and *execute* (collecting the
result).  Untraced, that is all it does.  Traced, each phase also runs
under its own Spark job group, and afterwards the tracer reads that
group's jobs and stages from Spark's status store and, for the execute
phase, the SQL metrics of the executed plan.  Spans and counts stay in
memory until ``Tracer.dump``.
"""

from __future__ import annotations

import json
import statistics
import time
from collections import defaultdict
from dataclasses import dataclass, field

from py4j.protocol import Py4JJavaError

# Task-duration skew is read only where a per-layer metric reports it:
# summarising task quantiles is the costliest status-store query.
SKEW_LAYERS = ("operators.persist.write_index", "operators.similarity.semdedup")
PYTHON_NODES = ("ArrowEvalPython", "FlatMapGroupsInPandas", "MapInPandas",
                "FlatMapCoGroupsInPandas", "BatchEvalPython")


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    run_id: str
    attrs: dict = field(default_factory=dict)


def _items(seq) -> list:
    """Elements of a Scala collection.  Iterating a py4j list proxy ends
    on a Java exception, which costs tens of milliseconds per call."""
    it, out = seq.iterator(), []
    while it.hasNext():
        out.append(it.next())
    return out


def gc_seconds(jvm) -> float:
    """Time the driver JVM has spent in garbage collection so far."""
    beans = jvm.java.lang.management.ManagementFactory \
        .getGarbageCollectorMXBeans()
    return sum(b.getCollectionTime() for b in _items(beans)) / 1e3


class Tracer:
    """Times calls always; records spans and counts only while
    ``enabled``."""

    def __init__(self, spark, run_id: str):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.enabled = False
        self.spans: list[Span] = []
        self.values: dict[str, list[float]] = defaultdict(list)
        self.bookkeeping_s = 0.0
        self._seq = 0
        self._stack: list[int] = []
        jvm = self.sc._jvm
        self._store = self.sc._jsc.sc().statusStore()
        self._bus = self.sc._jsc.sc().listenerBus()
        self._quantiles = self.sc._gateway.new_array(jvm.double, 2)
        self._quantiles[0], self._quantiles[1] = 0.5, 1.0

    # -- spans -------------------------------------------------------------
    def begin(self, name: str, **attrs) -> int:
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, time.perf_counter(), 0.0, parent,
                               self.run_id, attrs))
        self._stack.append(len(self.spans) - 1)
        return len(self.spans) - 1

    def end(self, idx: int) -> float:
        span = self.spans[idx]
        span.end = time.perf_counter()
        self._stack.pop()
        return span.end - span.start

    def record(self, name: str, value: float) -> None:
        if self.enabled:
            self.values[name].append(float(value))

    # -- calls -------------------------------------------------------------
    def call(self, layer: str, construct, execute=None):
        """Run one public call and return its result.

        ``construct`` is the package call.  ``execute`` (optional) turns
        the returned DataFrame into the client's result, e.g. ``collect``;
        when it is given the plan is forced first, so construct, plan and
        execute are timed apart."""
        t0 = time.perf_counter()
        op = self.begin(layer) if self.enabled else None
        counts: dict[str, float] = defaultdict(float)
        try:
            result = self._phase(layer, "construct", construct, counts)
            if execute is not None:
                df = result
                self._phase(layer, "plan",
                            lambda: df._jdf.queryExecution().executedPlan(),
                            counts)
                result = self._phase(layer, "exec", lambda: execute(df),
                                     counts, plan_of=df)
        finally:
            if op is not None:
                self.end(op)
        self.record(f"{layer}_s", time.perf_counter() - t0)
        for k, v in counts.items():
            self.record(f"{layer}.{k}", v)
        return result

    def _phase(self, layer: str, phase: str, fn, counts, plan_of=None):
        if not self.enabled:
            return fn()
        self._seq += 1
        group = f"{self.run_id}-{self._seq}"
        self.sc.setJobGroup(group, f"{layer}.{phase}")
        idx = self.begin(f"{layer}.{phase}", group=group)
        try:
            out = fn()
        finally:
            dur = self.end(idx)
            self.sc.setJobGroup(f"{self.run_id}-idle", "bench client")
        t = time.perf_counter()
        self.record(f"{layer}.{phase}_s", dur)
        found = self._group_counts(group, layer in SKEW_LAYERS)
        self.spans[idx].attrs.update(found)
        for k, v in found.items():
            counts[k] = max(counts[k], v) if k.startswith("task_") \
                else counts[k] + v
        if plan_of is not None:
            for k, v in self._plan_counts(plan_of).items():
                self.record(f"{layer}.{k}", v)
        self.bookkeeping_s += time.perf_counter() - t
        return out

    # -- status store ------------------------------------------------------
    def _group_counts(self, group: str, skew: bool) -> dict[str, float]:
        """Jobs, shuffle bytes written, bytes spilled and (with ``skew``)
        the worst max/median task-duration ratio of one job group."""
        self._bus.waitUntilEmpty()
        tracker = self.sc.statusTracker()
        job_ids = list(tracker.getJobIdsForGroup(group))
        shuffle = spill = 0
        worst = 0.0
        for jid in job_ids:
            info = tracker.getJobInfo(jid)
            for sid in (info.stageIds if info else []):
                try:
                    st = self._store.lastStageAttempt(sid)
                except Py4JJavaError:  # stage evicted from the store
                    continue
                shuffle += st.shuffleWriteBytes()
                spill += st.memoryBytesSpilled() + st.diskBytesSpilled()
                if skew and st.numCompleteTasks() > 0:
                    worst = max(worst, self._task_skew(sid, st.attemptId()))
        counts = {"jobs": len(job_ids), "shuffle_write_bytes": shuffle,
                  "spill_bytes": spill}
        if skew:
            counts["task_max_over_median"] = worst
        return counts

    def _task_skew(self, sid: int, attempt: int) -> float:
        opt = self._store.taskSummary(sid, attempt, self._quantiles)
        if not opt.isDefined():
            return 0.0
        q = opt.get().duration()
        median, top = q.apply(0), q.apply(1)
        return top / median if median > 0 else 1.0

    def _plan_counts(self, df) -> dict[str, float]:
        """SQL metrics of the executed plan, summed by node kind."""
        sums: dict[str, float] = defaultdict(float)
        self._walk(df._jdf.queryExecution().executedPlan(), sums)
        return sums

    def _walk(self, node, sums) -> None:
        name = node.getClass().getSimpleName()
        metrics = node.metrics()

        def metric(key: str) -> float:
            return metrics.apply(key).value() if metrics.contains(key) else 0

        if name == "FileSourceScanExec":
            sums["files_read"] += metric("numFiles")
            sums["bytes_read"] += metric("filesSize")
            sums["rows_read"] += metric("numOutputRows")
        elif name == "BroadcastExchangeExec":
            sums["broadcast_build_s"] += metric("buildTime") / 1e3
        elif name.startswith(PYTHON_NODES):
            sums["python_bytes"] += (metric("pythonDataSent")
                                     + metric("pythonDataReceived"))
        if name == "AdaptiveSparkPlanExec":
            kids = [node.executedPlan()]
        elif name.endswith("QueryStageExec"):
            kids = [node.plan()]
        elif name == "ReusedExchangeExec":
            kids = [node.child()]
        else:
            kids = _items(node.children())
        for kid in kids + _items(node.subqueries()):
            self._walk(kid, sums)

    # -- output ------------------------------------------------------------
    def median(self, name: str) -> float:
        vals = self.values.get(name)
        return statistics.median(vals) if vals else 0.0

    def dump(self, path: str, facts: dict) -> None:
        with open(path, "w") as f:
            json.dump({"facts": facts,
                       "spans": [s.__dict__ for s in self.spans],
                       "values": self.values}, f)
