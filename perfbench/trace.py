"""Spans around calls into the package's layers, and the Spark-side
cost of each span read from Spark's live status stores.

Each span runs under its own Spark job group, so every job it triggers
can be found again with ``statusTracker().getJobIdsForGroup``. After a
pass, :meth:`Tracer.collect` reads, per span:

* jobs, completed stages and completed tasks (``AppStatusStore.job``);
* executor run, CPU and GC time, shuffle and spill bytes
  (``AppStatusStore.stageData``);
* the bytes sent to and returned from Python workers, from the SQL
  metrics of the Python exec nodes (``SQLAppStatusStore``);
* ``driver_s``: span wall time not covered by any of its jobs — planning,
  driver-side pandas work and py4j round trips.

All of these stores stay live with ``spark.ui.enabled=false``. With
tracing off, :meth:`Tracer.span` only times the block, so the untraced
passes carry no job-group or store cost.
"""

from __future__ import annotations

import re
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

IDLE_GROUP = "perfbench.idle"

_SIZE_UNITS = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}
_SIZE_RE = re.compile(r"([\d.]+) (B|KiB|MiB|GiB|TiB)")


@dataclass
class Span:
    layer: str
    group: str
    start: float
    end: float
    metrics: dict[str, float] = field(default_factory=dict)

    @property
    def wall_s(self) -> float:
        return self.end - self.start


def _seq(scala_seq) -> list:
    return [scala_seq.apply(i) for i in range(scala_seq.length())]


def _size_total(formatted: str) -> float:
    """Bytes from a SQL size metric's display string, whose second line
    starts with the total: "total (min, med, max ...)\\n61.0 MiB (...)"."""
    m = _SIZE_RE.search(formatted.split("\n")[-1])
    return float(m.group(1)) * _SIZE_UNITS[m.group(2)] if m else 0.0


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[Span] = []
        self._pass = 0
        self._next_execution = 0
        if enabled:
            sc = spark.sparkContext
            self._jvm = sc._jvm
            self._store = sc._jsc.sc().statusStore()
            self._sql = spark._jsparkSession.sharedState().statusStore()
            self._no_quantiles = sc._gateway.new_array(self._jvm.double, 0)
            self._python_bytes_by_job()  # skip executions before the first pass

    def start_pass(self, index: int) -> None:
        self._pass = index
        self.spans = []

    @contextmanager
    def span(self, layer: str):
        group = f"perfbench.{self._pass}.{len(self.spans)}.{layer}"
        sc = self.spark.sparkContext
        if self.enabled:
            sc.setJobGroup(group, layer)
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            if self.enabled:
                sc.setJobGroup(IDLE_GROUP, "outside any span")
            # wall clock for job intervals, perf_counter for durations
            offset = time.time() - time.perf_counter()
            self.spans.append(Span(layer, group, start + offset, end + offset))

    # -- reading the status stores ----------------------------------------

    def collect(self) -> list[Span]:
        """Fill ``metrics`` of this pass's spans; returns the spans."""
        if not self.enabled:
            return self.spans
        python_bytes = self._python_bytes_by_job()
        tracker = self.spark.sparkContext.statusTracker()
        for span in self.spans:
            m = dict.fromkeys(
                ("jobs", "stages", "tasks", "exec_run_s", "exec_cpu_s", "gc_s",
                 "shuffle_mb", "spill_mb", "py_out_mb", "py_in_mb"),
                0.0,
            )
            intervals = []
            for job_id in sorted(tracker.getJobIdsForGroup(span.group)):
                job = self._store.job(job_id)
                m["jobs"] += 1
                m["stages"] += job.numCompletedStages()
                m["tasks"] += job.numCompletedTasks()
                if job.submissionTime().isDefined() and job.completionTime().isDefined():
                    intervals.append((
                        job.submissionTime().get().getTime() / 1e3,
                        job.completionTime().get().getTime() / 1e3,
                    ))
                for stage_id in _seq(job.stageIds()):
                    self._add_stage(m, stage_id)
                out, back = python_bytes.get(job_id, (0.0, 0.0))
                m["py_out_mb"] += out / 1e6
                m["py_in_mb"] += back / 1e6
            m["driver_s"] = max(0.0, span.wall_s - _covered(intervals, span.start, span.end))
            m["wall_s"] = span.wall_s
            span.metrics = m
        return self.spans

    def _add_stage(self, m: dict, stage_id: int) -> None:
        attempts = self._store.stageData(
            stage_id, False, self._jvm.java.util.ArrayList(), False, self._no_quantiles
        )
        for s in _seq(attempts):
            m["exec_run_s"] += s.executorRunTime() / 1e3
            m["exec_cpu_s"] += s.executorCpuTime() / 1e9
            m["gc_s"] += s.jvmGcTime() / 1e3
            m["shuffle_mb"] += s.shuffleWriteBytes() / 1e6
            m["spill_mb"] += s.diskBytesSpilled() / 1e6

    def _python_bytes_by_job(self) -> dict[int, tuple[float, float]]:
        """{first job id of a SQL execution: (bytes sent to Python,
        bytes returned)} for the executions since the last call."""
        out: dict[int, tuple[float, float]] = {}
        for data in _seq(self._sql.executionsList()):
            execution_id = data.executionId()
            if execution_id < self._next_execution:
                continue
            self._next_execution = max(self._next_execution, execution_id + 1)
            job_ids = []
            it = data.jobs().keysIterator()
            while it.hasNext():
                job_ids.append(it.next())
            if not job_ids:
                continue
            values = self._sql.executionMetrics(execution_id)
            sent = back = 0.0
            for node in _seq(self._sql.planGraph(execution_id).allNodes()):
                for metric in _seq(node.metrics()):
                    name = metric.name()
                    if name not in ("data sent to Python workers",
                                    "data returned from Python workers"):
                        continue
                    value = values.get(metric.accumulatorId())
                    if value.isDefined():
                        b = _size_total(value.get())
                        if name.startswith("data sent"):
                            sent += b
                        else:
                            back += b
            out[min(job_ids)] = (sent, back)
        return out


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cursor = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, cursor), min(b, hi)
        if b > a:
            total += b - a
            cursor = b
    return total
