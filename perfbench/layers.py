"""Tracing, layer readers and summary statistics for the benchmark.

Everything here observes the engine from outside:

- ``Tracer`` keeps spans in memory (name, start, end, parent, request
  id) around the benchmark's own calls into the engine, and derives
  each layer's self time from them.
- ``plan_metrics`` walks a DataFrame's executed physical plan (through
  AQE query stages) and sums the SQL metrics of the scan, filter,
  exchange and Python (``FlatMapGroupsInPandas``) operators.
- ``JobGroups`` tags the Spark jobs of one request with a job group and
  reads their stages from the status tracker and the application
  status store (executor run time, CPU, shuffle, spill).
- ``jvm_gc_s``/``jvm_heap_used_mb``/``peak_rss_mb`` read the driver JVM
  MXBeans through py4j and peak resident memory from /proc.
- ``percentile``/``median``/``tail_percentile``/``quartile_spread`` are
  the summary statistics every reported number goes through.
"""

from __future__ import annotations

import glob
import json
import math
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


# ---------------------------------------------------------------- stats

def percentile(values, p: float) -> float:
    """Linear-interpolated percentile (numpy's default ``linear``
    method) of a non-empty sequence; ``p`` in [0, 100]."""
    xs = sorted(float(v) for v in values)
    if not xs:
        raise ValueError("percentile of an empty sequence")
    pos = (len(xs) - 1) * p / 100.0
    lo = math.floor(pos)
    hi = math.ceil(pos)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values) -> float:
    return percentile(values, 50.0)


TAIL_CANDIDATES = (99.0, 95.0, 90.0, 75.0, 50.0)


def tail_percentile(n: int, beyond: int = 10) -> float | None:
    """Highest of the candidate percentiles that leaves at least
    ``beyond`` of ``n`` samples above it, or None if even the median
    does not."""
    for p in TAIL_CANDIDATES:
        if n * (100.0 - p) / 100.0 >= beyond:
            return p
    return None


def quartile_spread(values) -> float:
    """(Q3 - Q1) / median with the quartiles of
    ``statistics.quantiles(values, n=4)`` (the exclusive method)."""
    import statistics

    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2 if q2 else float("inf")


# -------------------------------------------------------------- tracing

@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None  # index into Tracer.spans
    request: int
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder. ``enabled=False`` makes every call a
    no-op context, so untraced runs pay one attribute check per span."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._next_request = 0

    def new_request(self) -> int:
        self._next_request += 1
        return self._next_request

    @contextmanager
    def span(self, name: str, request: int = 0, **attrs):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        if parent is not None and not request:
            request = self.spans[parent].request
        sp = Span(name, time.perf_counter(), 0.0, parent, request, attrs)
        self.spans.append(sp)
        idx = len(self.spans) - 1
        self._stack.append(idx)
        try:
            yield sp
        finally:
            self._stack.pop()
            sp.end = time.perf_counter()

    def self_times(self) -> dict[str, float]:
        """Total self time per span name: each span's duration minus the
        part of its interval its direct children cover."""
        children: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append(s)
        out: dict[str, float] = {}
        for i, s in enumerate(self.spans):
            covered = 0.0
            cur_lo = cur_hi = None
            for c in sorted(children.get(i, []), key=lambda c: c.start):
                lo, hi = max(c.start, s.start), min(c.end, s.end)
                if hi <= lo:
                    continue
                if cur_hi is None or lo > cur_hi:
                    if cur_hi is not None:
                        covered += cur_hi - cur_lo
                    cur_lo, cur_hi = lo, hi
                else:
                    cur_hi = max(cur_hi, hi)
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            out[s.name] = out.get(s.name, 0.0) + s.duration - covered
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({
                    "name": s.name, "start": s.start, "end": s.end,
                    "parent": s.parent, "request": s.request,
                    "attrs": s.attrs}) + "\n")


# ------------------------------------------------------- plan metrics

def _as_java(spark, scala_coll):
    return spark._jvm.scala.jdk.javaapi.CollectionConverters.asJava(scala_coll)


def _plan_nodes(spark, node):
    """Pre-order walk of a physical plan, descending into the final plan
    of AdaptiveSparkPlanExec and into every query stage."""
    stack = [node]
    while stack:
        n = stack.pop()
        yield n
        cls = n.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            kids = [n.executedPlan()]
        elif cls.endswith("QueryStageExec"):
            kids = [n.plan()]
        else:
            kids = list(_as_java(spark, n.children()))
        stack.extend(reversed(kids))


def _metric_values(spark, node) -> dict[str, tuple[str, int]]:
    ms = _as_java(spark, node.metrics())
    out = {}
    for key in ms.keySet():
        m = ms.get(key)
        out[str(key)] = (str(m.metricType()), int(m.value()))
    return out


def _value(metrics: dict, key: str) -> int:
    return metrics.get(key, ("", 0))[1]


def _to_seconds(kind: str, value: int) -> float:
    if kind == "nsTiming":
        return value / 1e9
    return value / 1e3  # "timing" metrics are milliseconds


PLAN_KEYS = (
    "scan.rows_read", "scan.rows_kept", "scan.bytes", "scan.files",
    "scan.time_ms", "exchange.bytes", "exchange.records",
    "scorer.python_s", "scorer.arrow_sent_bytes", "scorer.arrow_recv_bytes",
    "scorer.nodes",
)


def _feeds_from_scan(spark, node) -> bool:
    """True when a parquet scan sits directly below ``node``, through
    codegen adapters only."""
    passthrough = ("ColumnarToRow", "InputAdapter", "WholeStageCodegen")
    while True:
        kids = list(_as_java(spark, node.children()))
        if len(kids) != 1:
            return False
        node = kids[0]
        name = str(node.nodeName())
        if name.startswith("Scan parquet"):
            return True
        if not name.startswith(passthrough):
            return False


def plan_metrics(df) -> dict[str, float]:
    """Sum SQL metrics of an executed DataFrame's physical plan.

    rows_read is the parquet scan's output; rows_kept is the output of
    the Filter directly above it (the row-level term predicate), or the
    scan output when no Filter sits there. Call after the DataFrame has
    been collected: before execution every metric reads 0.
    """
    spark = df.sparkSession
    out = {k: 0.0 for k in PLAN_KEYS}
    for n in _plan_nodes(spark, df._jdf.queryExecution().executedPlan()):
        name = str(n.nodeName())
        if name.startswith("Scan parquet"):
            m = _metric_values(spark, n)
            out["scan.rows_read"] += _value(m, "numOutputRows")
            out["scan.bytes"] += _value(m, "filesSize")
            out["scan.files"] += _value(m, "numFiles")
            if "scanTime" in m:
                out["scan.time_ms"] += _to_seconds(*m["scanTime"]) * 1e3
        elif name == "Filter" and _feeds_from_scan(spark, n):
            out["scan.rows_kept"] += _value(_metric_values(spark, n), "numOutputRows")
        elif name == "Exchange":
            m = _metric_values(spark, n)
            out["exchange.bytes"] += _value(m, "dataSize")
            out["exchange.records"] += _value(m, "shuffleRecordsWritten")
        elif name in ("FlatMapGroupsInPandas", "FlatMapCoGroupsInPandas"):
            m = _metric_values(spark, n)
            out["scorer.nodes"] += 1
            if "pythonTotalTime" in m:
                out["scorer.python_s"] += _to_seconds(*m["pythonTotalTime"])
            out["scorer.arrow_sent_bytes"] += _value(m, "pythonDataSent")
            out["scorer.arrow_recv_bytes"] += _value(m, "pythonDataReceived")
    if not out["scan.rows_kept"]:
        out["scan.rows_kept"] = out["scan.rows_read"]
    return out


# ------------------------------------------------- job groups + stages

STAGE_KEYS = ("run_s", "cpu_s", "shuffle_bytes", "spill_bytes", "jobs",
              "stages", "tasks", "post_shuffle_run_s")


class JobGroups:
    """Tag the jobs of one unit of work with a fresh job group, then
    read their stages back (status tracker for the job -> stage map,
    AppStatusStore.stageData for per-stage task metrics)."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self._n = 0
        self._empty_quantiles = self.sc._gateway.new_array(
            self.sc._jvm.double, 0)

    def start(self, label: str) -> str:
        self._n += 1
        group = f"perfbench-{self._n}-{label}"
        self.sc.setJobGroup(group, label)
        return group

    def stop(self) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)

    def read(self, group: str) -> dict[str, float]:
        """Stage totals of a finished group. Waits for the listener bus
        so the status store has every task end event."""
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        tracker = self.sc.statusTracker()
        store = jsc.statusStore()
        out = {k: 0.0 for k in STAGE_KEYS}
        stage_ids: set[int] = set()
        for jid in tracker.getJobIdsForGroup(group):
            info = tracker.getJobInfo(jid)
            if info is None:
                continue
            out["jobs"] += 1
            stage_ids.update(info.stageIds)
        empty = self.sc._jvm.java.util.ArrayList()
        for sid in stage_ids:
            for sd in _as_java(self.spark, store.stageData(
                    sid, False, empty, False, self._empty_quantiles)):
                if sd.numCompleteTasks() == 0:
                    continue  # skipped: its output was reused
                out["stages"] += 1
                out["tasks"] += sd.numCompleteTasks()
                run_s = sd.executorRunTime() / 1e3
                out["run_s"] += run_s
                out["cpu_s"] += sd.executorCpuTime() / 1e9
                out["shuffle_bytes"] += sd.shuffleWriteBytes()
                out["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
                # stages that read a shuffle with more than one task: the
                # scorer stage behind the scan's exchange (a final
                # one-task merge is excluded)
                if sd.shuffleReadBytes() > 0 and sd.numCompleteTasks() > 1:
                    out["post_shuffle_run_s"] += run_s
        return out


# ----------------------------------------------------- driver process

def jvm_gc_s(spark) -> float:
    beans = spark._jvm.java.lang.management.ManagementFactory \
        .getGarbageCollectorMXBeans()
    return sum(max(int(b.getCollectionTime()), 0) for b in beans) / 1e3


def jvm_heap_used_mb(spark) -> float:
    mem = spark._jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    return mem.getHeapMemoryUsage().getUsed() / 2**20


def _vm_hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def jvm_pid(spark) -> int:
    return int(spark._jvm.java.lang.ProcessHandle.current().pid())


def peak_rss_mb(jvm_process_id: int) -> float:
    """Peak resident set of the driver JVM plus this Python process."""
    return (_vm_hwm_kb(jvm_process_id) + _vm_hwm_kb("self")) / 1024.0


# ------------------------------------------------------ pruning stats

def drain_prune_stats(directory: str) -> dict[str, int]:
    """Sum and delete the scorer's per-call block counter files."""
    out: dict[str, int] = {}
    for path in glob.glob(os.path.join(directory, "*.json")):
        try:
            with open(path) as f:
                stat = json.load(f)
        except (OSError, ValueError):
            continue  # a worker is still writing it: counted next drain
        os.remove(path)
        for k, v in stat.items():
            out[k] = out.get(k, 0) + int(v)
    return out
