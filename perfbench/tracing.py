"""Spans and per-layer counters recorded from the benchmark's side of
each call into the engine.

A :class:`Tracer` built with ``enabled=False`` records nothing and makes
no JVM call, so untraced runs time the engine alone. A traced run tags
every Spark job a span launches with the span's job group and, when the
span ends, reads the deltas from Spark's own status stores:

* ``AppStatusStore`` per stage: tasks, executor run/CPU/GC time,
  shuffle bytes, spill;
* the SQL status store per execution: the "data sent to Python
  workers" metric of Python-boundary nodes;
* ``getRDDStorageInfo``: cached RDDs and their bytes.

Time spent inside the tracer itself is summed as its overhead.
"""

from __future__ import annotations

import contextlib
import json
import re
import statistics
import time
from collections import defaultdict

_SIZE = re.compile(r"([\d.]+)\s*(B|KiB|MiB|GiB|TiB)\b")
_UNIT = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}
_MB = 2**20
_PY_SENT = "data sent to Python workers:"


def _bytes(metric_text: str) -> float:
    """First size in a SQL metric's display text, in bytes (the total
    when the text lists total, min, median and max)."""
    m = _SIZE.search(metric_text)
    return float(m.group(1)) * _UNIT[m.group(2)] if m else 0.0


def count_plan_nodes(plan: str) -> dict[str, int]:
    """Scans, exchanges and reused exchanges in a physical plan's text."""
    exchanges = re.findall(r"\b(\w*Exchange)\b", plan)
    return {
        "plan.scans": len(re.findall(r"\b(?:FileScan|BatchScan|InMemoryTableScan|Scan \w+)", plan)),
        "plan.exchanges": sum(1 for e in exchanges if e != "ReusedExchange"),
        "plan.reused_exchanges": exchanges.count("ReusedExchange"),
    }


class Tracer:
    """Spans and per-operation samples of one run; inert unless
    *enabled*."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._groups = 0
        self.overhead_s = 0.0
        #: metric -> operation -> samples; reduced by :meth:`per_layer`
        self.samples: dict[str, dict[str, list[float]]] = defaultdict(
            lambda: defaultdict(list)
        )
        self.peaks: dict[str, float] = defaultdict(float)
        self.spark = None

    def bind(self, spark) -> None:
        """Point the tracer at the session the measured loop runs in."""
        self.spark = spark

    def record(self, metric: str, op: str, value: float) -> None:
        if self.enabled:
            self.samples[metric][op].append(value)

    @contextlib.contextmanager
    def span(self, name: str, op: str | None = None, spark_deltas: bool = False):
        """Time *name*. With *spark_deltas*, read the Spark work it
        launched into the span's attributes, and with *op* also into
        that operation's ``exec.*`` and ``python.*`` samples. Yields the
        attribute dict."""
        if not self.enabled:
            yield {}
            return
        t = time.perf_counter()
        attrs: dict = {}
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        self.spans.append({"name": name, "parent": parent, "attrs": attrs})
        self._stack.append(idx)
        if spark_deltas:
            sc = self.spark.sparkContext
            self._groups += 1
            group = f"perfbench-{self._groups}"
            sc.setJobGroup(group, name)
            sql_before = self._last_execution()
        self.overhead_s += time.perf_counter() - t
        start = time.perf_counter()
        try:
            yield attrs
        finally:
            end = time.perf_counter()
            t = time.perf_counter()
            self._stack.pop()
            self.spans[idx].update(start=start, end=end)
            if spark_deltas:
                sc._jsc.clearJobGroup()
                deltas = self._deltas(group, sql_before, end - start)
                attrs.update(deltas)
                if op is not None:
                    for k, v in deltas.items():
                        self.record(k, op, v)
                    self.record("exec.wall_s", op, end - start)
            self.overhead_s += time.perf_counter() - t

    def add_overhead(self, seconds: float) -> None:
        """Charge tracing-only work done by the caller to the overhead."""
        self.overhead_s += seconds

    def _last_execution(self) -> int:
        store = self.spark._jsparkSession.sharedState().statusStore()
        n = store.executionsCount()
        if n == 0:
            return -1
        return store.executionsList(n - 1, 1).apply(0).executionId()

    def _deltas(self, group: str, sql_before: int, wall: float) -> dict:
        sc = self.spark.sparkContext
        jsc = sc._jsc.sc()
        jvm = sc._jvm
        jsc.listenerBus().waitUntilEmpty()
        tracker = sc.statusTracker()
        store = jsc.statusStore()
        out = defaultdict(float)
        jobs = tracker.getJobIdsForGroup(group)
        out["exec.jobs"] = len(jobs)
        no_quantiles = sc._gateway.new_array(jvm.double, 0)
        for job in jobs:
            info = tracker.getJobInfo(job)
            for sid in info.stageIds if info else []:
                attempts = store.stageData(sid, False, jvm.java.util.ArrayList(), False, no_quantiles)
                for i in range(attempts.size()):
                    s = attempts.apply(i)
                    if s.status().toString() == "SKIPPED":
                        continue
                    out["exec.stages"] += 1
                    out["exec.tasks"] += s.numTasks()
                    out["exec.task_s"] += s.executorRunTime() / 1e3
                    out["exec.cpu_s"] += s.executorCpuTime() / 1e9
                    out["exec.gc_s"] += s.jvmGcTime() / 1e3
                    out["exec.shuffle_write_mb"] += s.shuffleWriteBytes() / _MB
                    out["exec.shuffle_read_mb"] += s.shuffleReadBytes() / _MB
                    out["exec.spill_mb"] += (s.memoryBytesSpilled() + s.diskBytesSpilled()) / _MB
        out["exec.core_util"] = out["exec.task_s"] / (wall * sc.defaultParallelism)
        out["python.data_sent_mb"] = self._python_sent(sql_before) / _MB
        rdds = jsc.getRDDStorageInfo()
        cached = sum(r.memSize() + r.diskSize() for r in rdds) / _MB
        self.peaks["cache.rdds"] = max(self.peaks["cache.rdds"], len(rdds))
        self.peaks["cache.mb"] = max(self.peaks["cache.mb"], cached)
        return dict(out)

    def _python_sent(self, after_id: int) -> float:
        """Bytes sent to Python workers by SQL executions newer than
        *after_id*."""
        store = self.spark._jsparkSession.sharedState().statusStore()
        n = store.executionsCount()
        recent = store.executionsList(max(0, n - 64), min(n, 64))
        sent = 0.0
        for i in reversed(range(recent.size())):
            eid = recent.apply(i).executionId()
            if eid <= after_id:
                break
            # the plan graph rendered with its metric values: one JVM
            # call instead of one per node and metric
            dot = store.planGraph(eid).makeDotFile(store.executionMetrics(eid))
            for part in dot.split(_PY_SENT)[1:]:
                sent += _bytes(part[:200])
        return sent

    def catalyst(self, df, op: str) -> None:
        """Force the physical plan of a freshly built *df* and record
        its Catalyst phase times and plan shape. The noop-sink write
        re-plans through its own command, so without this the
        DataFrame's phase tracker would only hold analysis."""
        if not self.enabled:
            return
        t = time.perf_counter()
        qe = df._jdf.queryExecution()
        plan = qe.executedPlan().toString()
        phases = qe.tracker().phases()
        for phase in ("analysis", "optimization", "planning"):
            p = phases.get(phase)
            self.record(f"catalyst.{phase}_s", op, p.get().durationMs() / 1e3 if p.isDefined() else 0.0)
        for k, v in count_plan_nodes(plan).items():
            self.record(k, op, v)
        self.overhead_s += time.perf_counter() - t

    def per_layer(self, names: list[str]) -> dict[str, float]:
        """Each metric in *names*: the sum over operations of the median
        over that operation's samples (peaks as recorded); 0 where the
        layer was not exercised."""
        out = {}
        for name in names:
            if name in self.peaks:
                out[name] = self.peaks[name]
            else:
                ops = self.samples.get(name, {})
                out[name] = sum(statistics.median(v) for v in ops.values())
        return out

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({**extra, "spans": self.spans}, f, indent=1)
