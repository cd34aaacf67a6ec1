"""Measurement from outside the program: timed wrappers around public
functions, Catalyst phase times, and Spark's own status stores.

Nothing here edits the program. ``Spans`` swaps a module attribute for a
timing wrapper and puts it back on ``close()``. ``PhaseListener``
registers a ``QueryExecutionListener`` (through the py4j callback
server) that sums each action's ``tracker()`` phases. ``StatusCapture``
reads the SQL status store (plan graphs, node metrics) and the app
status store (jobs, stages, tasks) for the executions of one interval.
"""

from __future__ import annotations

import hashlib
import re
import statistics
import time
from collections import defaultdict

PHASES = ("analysis", "optimization", "planning")


class Spans:
    """Sum of wall time spent in wrapped callables, per bucket."""

    def __init__(self) -> None:
        self.totals: dict[str, float] = defaultdict(float)
        self._restore: list[tuple[object, str, object]] = []

    def wrap(self, module, name: str, bucket: str) -> None:
        fn = getattr(module, name)
        totals = self.totals

        def timed(*args, **kwargs):
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                totals[bucket] += time.perf_counter() - t0

        self._restore.append((module, name, fn))
        setattr(module, name, timed)

    def close(self) -> None:
        for module, name, fn in reversed(self._restore):
            setattr(module, name, fn)
        self._restore.clear()


class PhaseListener:
    """Per-action Catalyst phase times and execution durations."""

    def __init__(self, spark) -> None:
        from pyspark.java_gateway import ensure_callback_server_started

        ensure_callback_server_started(spark.sparkContext._gateway)
        self.actions: list[dict] = []
        # Registered once: py4j would hand `unregister` a new proxy that
        # the listener manager does not know, so recording is gated.
        self.active = False
        spark._jsparkSession.listenerManager().register(self)

    # QueryExecutionListener, called from the JVM's listener bus.
    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802
        if not self.active:
            return
        phases = qe.tracker().phases()
        rec = {"func": func_name, "duration_s": duration_ns / 1e9}
        for p in PHASES:
            opt = phases.get(p)
            rec[p] = opt.get().durationMs() / 1e3 if opt.isDefined() else 0.0
        self.actions.append(rec)

    def onFailure(self, func_name, qe, exception):  # noqa: N802
        if self.active:
            self.actions.append({"func": func_name, "duration_s": 0.0, "failed": True})

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


def drain(spark) -> None:
    """Wait until every listener has seen every event posted so far."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


_SHAPE_IDS = [
    (re.compile(r"#\d+L?"), ""),
    (re.compile(r"plan_id=\d+"), "plan_id"),
    (re.compile(r"\[id=#?\d+\]"), ""),
    (re.compile(r"\(\d+\)"), ""),
]


def plan_shape(description: str) -> str:
    """The operator tree of a formatted physical plan, without node
    numbers, expression ids or statistics."""
    tree = description.split("\n\n", 1)[0]
    tree = re.sub(r", Statistics\(.*?\)$", "", tree, flags=re.M)
    for pattern, repl in _SHAPE_IDS:
        tree = pattern.sub(repl, tree)
    return tree


def plan_digest(description: str) -> str:
    return hashlib.sha256(plan_shape(description).encode()).hexdigest()[:16]


_DURATION = re.compile(r"([\d.,]+) (ms|s|m|h)\b")
_UNIT_S = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}


def timing_metric_s(text: str) -> float:
    """Seconds from a formatted SQL timing metric ('53 ms', or
    'total (min, med, max ...)\\n1.2 s (...)')."""
    m = _DURATION.search(text.split("\n")[-1])
    return float(m.group(1).replace(",", "")) * _UNIT_S[m.group(2)] if m else 0.0


def _seq(jseq):
    return [jseq.apply(i) for i in range(jseq.size())]


def _iter(jcoll):
    it = jcoll.iterator()
    while it.hasNext():
        yield it.next()


# The band self-join of the MinHash-LSH screen: an equi-join on
# (band, band_hash) of the band relation with itself.
_BAND_JOIN = re.compile(
    r"Left keys \[2\]: \[band#\d+, band_hash#\d+\]\n"
    r"Right keys \[2\]: \[band#\d+, band_hash#\d+\]"
)


class StatusCapture:
    def __init__(self, spark) -> None:
        self.spark = spark
        self.sql = spark._jsparkSession.sharedState().statusStore()
        self.app = spark.sparkContext._jsc.sc().statusStore()
        self.cores = spark.sparkContext.defaultParallelism

    def mark(self) -> int:
        """Id of the newest SQL execution so far (-1 if none)."""
        drain(self.spark)
        n = self.sql.executionsCount()
        return _seq(self.sql.executionsList(n - 1, 1))[0].executionId() if n else -1

    def executions(self, since: int) -> list:
        drain(self.spark)
        n = self.sql.executionsCount()
        recent = _seq(self.sql.executionsList(max(0, n - 200), 200))
        return [e for e in recent if e.executionId() > since]

    def collect(self, since: int, start: float, end: float) -> dict:
        """Execution metrics of every SQL execution after `since`, over
        the wall interval [start, end] (epoch seconds)."""
        execs = self.executions(since)
        out = defaultdict(float)
        jobs, stages, intervals, plans = set(), set(), [], []
        for e in execs:
            desc = e.physicalPlanDescription()
            plans.append(desc)
            out["band_joins"] += 1 if _BAND_JOIN.search(desc) else 0
            jobs.update(_iter(e.jobs().keySet()))
            stages.update(_iter(e.stages()))
            values = self.sql.executionMetrics(e.executionId())
            for node in _seq(self.sql.planGraph(e.executionId()).allNodes()):
                name = node.name().strip()
                if name == "Exchange":
                    out["exchanges"] += 1
                elif name.startswith("Broadcast") and name.endswith("Join"):
                    out["broadcast_joins"] += 1
                elif name == "SortMergeJoin":
                    out["sort_merge_joins"] += 1
                elif re.search(r"Python|Pandas|InArrow", name):
                    out["python_eval_nodes"] += 1
                if name.startswith("Scan"):
                    for m in _seq(node.metrics()):
                        if m.name() == "scan time":
                            v = values.get(m.accumulatorId())
                            if v.isDefined():
                                out["scan_time_s"] += timing_metric_s(v.get())
        for j in jobs:
            jd = self.app.job(j)
            if jd.submissionTime().isDefined() and jd.completionTime().isDefined():
                intervals.append(
                    (jd.submissionTime().get().getTime() / 1e3,
                     jd.completionTime().get().getTime() / 1e3)
                )
        heaviest = None
        for sid in stages:
            sd = self.app.lastStageAttempt(sid)
            out["tasks"] += sd.numTasks()
            out["task_run_s"] += sd.executorRunTime() / 1e3
            out["task_cpu_s"] += sd.executorCpuTime() / 1e9
            out["gc_s"] += sd.jvmGcTime() / 1e3
            out["scan_bytes"] += sd.inputBytes()
            out["scan_rows"] += sd.inputRecords()
            out["output_bytes"] += sd.outputBytes()
            out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
            out["shuffle_records"] += sd.shuffleWriteRecords()
            out["fetch_wait_s"] += sd.shuffleFetchWaitTime() / 1e3
            out["spill_disk_bytes"] += sd.diskBytesSpilled()
            out["peak_exec_mem_bytes"] = max(
                out["peak_exec_mem_bytes"], sd.peakExecutionMemory()
            )
            if heaviest is None or sd.executorRunTime() > heaviest.executorRunTime():
                heaviest = sd
        if heaviest is not None and heaviest.numTasks() > 1:
            runs = [
                t.taskMetrics().get().executorRunTime()
                for t in _seq(self.app.taskList(heaviest.stageId(), heaviest.attemptId(), 100_000))
                if t.taskMetrics().isDefined()
            ]
            med = statistics.median(runs) if runs else 0
            out["max_task_over_median"] = max(runs) / med if med else 1.0
        wall = max(end - start, 1e-9)
        out["jobs"] = float(len(jobs))
        out["stages"] = float(len(stages))
        out["core_idle_frac"] = 1.0 - out["task_run_s"] / (self.cores * wall)
        out["driver_gap_s"] = wall - _covered(intervals, start, end)
        out["plan_digests"] = [plan_digest(p) for p in plans]
        return dict(out)


def _covered(intervals: list[tuple[float, float]], start: float, end: float) -> float:
    """Length of the union of `intervals`, clipped to [start, end]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted((max(lo, start), min(hi, end)) for lo, hi in intervals):
        if hi <= lo:
            continue
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def jvm_peak_rss_mb(spark) -> float:
    """Peak resident set of the driver JVM (VmHWM), in MB."""
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status", encoding="ascii") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0
