"""Per-layer tracing for the benchmark, read from Spark's own metrics.

Each span runs under its own Spark job group. When a span closes, the
tracer waits for the listener bus to drain and folds the span's jobs into
one record, using the in-process status stores (they answer with the UI
off):

- stage attempts, executor CPU, JVM GC and shuffle bytes from the core
  ``AppStatusStore``;
- Python worker time (start + init + run) from the SQL plan-node metrics
  of the ``MapInArrow`` / ``MapInPandas`` / Arrow UDF nodes;
- driver time as the span wall minus the union of its stage intervals;
- task skew (max / median task run time) of the span's longest stage.

A child span's jobs are folded into its parent too. The tracer's own
bookkeeping is timed and taken off the parent's wall, so it does not
inflate the layer numbers. Spans stay in memory; :func:`span_metrics`
turns them into medians at the end of the run.

Nothing inside ``light_curve_spark`` is instrumented. Storage calls are
timed through :class:`TracedStorage`, a delegating wrapper passed via the
library's public ``storage=`` parameter.
"""

from __future__ import annotations

import json
import statistics
import time
from contextlib import contextmanager, nullcontext

# SQL plan-node metrics that make up a Python worker's time
_PY_METRICS = (
    "time to start Python workers",
    "time to initialize Python workers",
    "time to run Python workers",
)
_TIME_UNITS_MS = {"ms": 1.0, "s": 1e3, "m": 6e4, "h": 3.6e6}

FULL_SUFFIXES = {
    "wall_ms": "ms",
    "stages": "count",
    "cpu_ms": "ms",
    "gc_ms": "ms",
    "shuffle_mb": "MB",
    "py_ms": "ms",
    "driver_ms": "ms",
    "skew": "ratio",
}
SHORT_SUFFIXES = {"wall_ms": "ms", "stages": "count", "driver_ms": "ms"}


def parse_time_metric_ms(text: str) -> float:
    """Total of a formatted SQL timing metric, in ms.

    Spark prints a single-task value as ``"16 ms"`` and a multi-task one
    as ``"total (min, med, max (stageId: taskId))\\n6.0 s (213 ms, ...)"``;
    the total is the first value on the last line."""
    value, unit = text.rsplit("\n", 1)[-1].split()[:2]
    return float(value.replace(",", "")) * _TIME_UNITS_MS[unit]


def union_ms(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


class Tracer:
    """Spans with Spark job groups; ``enabled=False`` makes every span a
    no-op, so traced and untraced cycles run the same workload code."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        jvm = self.sc._jvm
        self._store = self.sc._jsc.sc().statusStore()
        self._sql_store = spark._jsparkSession.sharedState().statusStore()
        self._bus = self.sc._jsc.sc().listenerBus()
        self._json = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        self._json.registerModule(jvm.com.fasterxml.jackson.module.scala.DefaultScalaModule())
        self._no_statuses = jvm.java.util.ArrayList()
        self._no_quantiles = self.sc._gateway.new_array(jvm.double, 0)
        self._median_max = self.sc._gateway.new_array(jvm.double, 2)
        self._median_max[0], self._median_max[1] = 0.5, 1.0
        self._executions_seen = self._sql_store.executionsCount()
        self._execution_jobs: dict[int, set[int]] = {}
        self._execution_py: dict[int, float] = {}
        self._stack: list[dict] = []
        self._n = 0
        self.enabled = False
        self.records: list[dict] = []
        self.cache_peak_bytes = 0
        self.overhead_s = 0.0

    def _to_py(self, jobj):
        return json.loads(self._json.writeValueAsString(jobj))

    def span(self, name: str):
        return self._span(name) if self.enabled else nullcontext()

    @contextmanager
    def _span(self, name: str):
        self._n += 1
        group = f"perfbench-{self._n}"
        span = {"name": name, "group": group, "jobs": set(), "overhead_s": 0.0}
        parent = self._stack[-1] if self._stack else None
        self._stack.append(span)
        self.sc.setJobGroup(group, name)
        start_epoch_ms, t0 = time.time() * 1e3, time.perf_counter()
        try:
            yield
        finally:
            wall_s = time.perf_counter() - t0
            end_epoch_ms = time.time() * 1e3
            self._stack.pop()
            if parent is None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            else:
                self.sc.setJobGroup(parent["group"], parent["name"])
            b0 = time.perf_counter()
            rec = self._collect(span, start_epoch_ms, end_epoch_ms, wall_s)
            rec["top_level"] = parent is None
            self.records.append(rec)
            self.sample_cache()
            cost = time.perf_counter() - b0
            self.overhead_s += cost
            if parent is not None:
                parent["jobs"] |= span["jobs"]
                parent["overhead_s"] += span["overhead_s"] + cost

    def _collect(self, span: dict, lo_ms: float, hi_ms: float, wall_s: float) -> dict:
        self._bus.waitUntilEmpty(60_000)
        span["jobs"] |= set(self.sc.statusTracker().getJobIdsForGroup(span["group"]))
        stage_ids = set()
        for jid in span["jobs"]:
            stage_ids.update(self._to_py(self._store.job(jid))["stageIds"])
        cpu_ns = gc_ms = shuffle_b = 0
        n_stages, intervals, longest = 0, [], None
        for sid in sorted(stage_ids):
            for a in self._to_py(
                self._store.stageData(sid, False, self._no_statuses, False, self._no_quantiles)
            ):
                if a["status"] not in ("COMPLETE", "FAILED"):
                    continue  # SKIPPED: shuffle output reused, no work ran
                n_stages += 1
                cpu_ns += a["executorCpuTime"]
                gc_ms += a["jvmGcTime"]
                shuffle_b += a["shuffleWriteBytes"]
                if a.get("submissionTime") and a.get("completionTime"):
                    iv = (a["submissionTime"], a["completionTime"])
                    intervals.append(iv)
                    if longest is None or iv[1] - iv[0] > longest[0]:
                        longest = (iv[1] - iv[0], sid, a["attemptId"])
        skew = 1.0
        if longest is not None:
            summary = self._store.taskSummary(longest[1], longest[2], self._median_max)
            if summary.isDefined():
                med, mx = self._to_py(summary.get())["executorRunTime"]
                skew = mx / med if med > 0 else 1.0
        wall_ms = (wall_s - span["overhead_s"]) * 1e3
        return {
            "name": span["name"],
            "wall_ms": wall_ms,
            "stages": n_stages,
            "cpu_ms": cpu_ns / 1e6,
            "gc_ms": float(gc_ms),
            "shuffle_mb": shuffle_b / 1e6,
            "py_ms": self._python_ms(span["jobs"]),
            "driver_ms": max(0.0, wall_ms - union_ms(intervals, lo_ms, hi_ms)),
            "skew": skew,
        }

    def _python_ms(self, jobs: set[int]) -> float:
        """Python worker time of the SQL executions that ran ``jobs``."""
        count = self._sql_store.executionsCount()
        if count > self._executions_seen:
            for ex in self._to_py(
                self._sql_store.executionsList(self._executions_seen, count - self._executions_seen)
            ):
                self._execution_jobs[ex["executionId"]] = {int(j) for j in ex["jobs"]}
            self._executions_seen = count
        return sum(
            self._execution_python_ms(eid)
            for eid, ejobs in self._execution_jobs.items()
            if ejobs & jobs
        )

    def _execution_python_ms(self, exec_id: int) -> float:
        if exec_id not in self._execution_py:
            values = self._to_py(self._sql_store.executionMetrics(exec_id))
            self._execution_py[exec_id] = sum(
                parse_time_metric_ms(values[str(m["accumulatorId"])])
                for node in self._to_py(self._sql_store.planGraph(exec_id).allNodes())
                for m in node.get("metrics", [])
                if m["name"] in _PY_METRICS and str(m["accumulatorId"]) in values
            )
        return self._execution_py[exec_id]

    def sample_cache(self) -> None:
        """Record Spark storage memory held by persisted frames."""
        held = sum(
            info.memSize() + info.diskSize()
            for info in self.sc._jsc.sc().getRDDStorageInfo()
        )
        self.cache_peak_bytes = max(self.cache_peak_bytes, held)


class TracedStorage:
    """Delegating storage wrapper: each ``append`` is a span named
    ``sources.catalog.append.<table>``; everything else passes through."""

    def __init__(self, inner, tracer: Tracer):
        self._inner = inner
        self._tracer = tracer

    def __getattr__(self, name):
        return getattr(self._inner, name)

    def append(self, df, table, *args, **kwargs):
        with self._tracer.span(f"sources.catalog.append.{table}"):
            return self._inner.append(df, table, *args, **kwargs)


def span_metrics(records: list[dict], name: str, suffixes: dict[str, str]) -> dict:
    """Median of each suffix over the spans called ``name``; 0 when the
    workload never opened that span."""
    mine = [r for r in records if r["name"] == name]
    return {
        f"{name}.{s}": (statistics.median(r[s] for r in mine) if mine else 0.0, unit)
        for s, unit in suffixes.items()
    }
