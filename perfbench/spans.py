"""Spans around calls into the library, with Spark's runtime metrics
attributed to them.

A span records name, start, end and parent. Each span runs its Spark jobs
under its own job group, so after an operation the status store yields
the jobs, stages and task metrics of exactly that span, and the SQL
status store yields the Python exec nodes' metrics of the SQL executions
those jobs belong to. Spans stay in memory; ``write`` saves them when the
run ends.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import os
import re
import time
from dataclasses import asdict, dataclass, field

# per-stage fields of the status store's v1.StageData, summed per span
_STAGE_FIELDS = {
    "spark.tasks": ("numCompleteTasks", 1),
    "spark.failed_tasks": ("numFailedTasks", 1),
    "spark.executor_run_s": ("executorRunTime", 1e-3),
    "spark.executor_cpu_s": ("executorCpuTime", 1e-9),
    "spark.jvm_gc_s": ("jvmGcTime", 1e-3),
    "spark.shuffle_write_bytes": ("shuffleWriteBytes", 1),
    "spark.shuffle_read_bytes": ("shuffleReadBytes", 1),
    "spark.spill_bytes": ("diskBytesSpilled", 1),
    "spark.peak_exec_mem_bytes": ("peakExecutionMemory", 1),
}

# SQL metric display names of the Python exec nodes (PythonSQLMetrics)
_PY_METRICS = {
    "time to start Python workers": "py.start_s",
    "time to initialize Python workers": "py.init_s",
    "time to run Python workers": "py.run_s",
    "data sent to Python workers": "py.bytes_sent",
    "data returned from Python workers": "py.bytes_returned",
}
_PY_METRIC_RE = re.compile(
    r"SQLPlanMetric\((" + "|".join(map(re.escape, _PY_METRICS)) + r"),(\d+),"
)
_UNITS = {
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
    "B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
}
_VALUE_RE = re.compile(r"([\d,]+(?:\.\d+)?)\s*(ms|s|m|h|B|KiB|MiB|GiB|TiB)\b")


def parse_metric(text: str) -> float:
    """Value of a formatted SQL metric: the total on the last line,
    e.g. ``'total (min, med, max ...)\\n6.2 s (1 ms, ...)'`` -> 6.2."""
    match = _VALUE_RE.search(text.rsplit("\n", 1)[-1])
    if match is None:
        raise ValueError(f"unparsed SQL metric value {text!r}")
    return float(match.group(1).replace(",", "")) * _UNITS[match.group(2)]


@dataclass
class Span:
    id: int
    parent: int | None
    name: str
    start: float
    end: float | None = None
    attrs: dict = field(default_factory=dict)
    spark: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class NullTracer:
    """Tracing off: spans cost one no-op context manager."""

    def span(self, name: str, **attrs):
        return contextlib.nullcontext()


class Tracer:
    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._jsc = self._sc._jsc.sc()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._t0 = time.perf_counter()
        self._ids = itertools.count(1)
        self._stack: list[Span] = []
        self._tag = f"perfbench-{os.getpid()}"
        self._seen_stages: set[int] = set()
        self._seen_accs: set[str] = set()
        self._sql_done = self._sql.executionsCount()
        self.spans: list[Span] = []

    def _group(self, span: Span) -> str:
        return f"{self._tag}-{span.id}"

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1] if self._stack else None
        rec = Span(next(self._ids), parent.id if parent else None, name,
                   time.perf_counter() - self._t0, attrs=dict(attrs))
        self._stack.append(rec)
        self._sc.setJobGroup(self._group(rec), name)
        try:
            yield rec
        finally:
            rec.end = time.perf_counter() - self._t0
            self._stack.pop()
            if parent is not None:
                self._sc.setJobGroup(self._group(parent), parent.name)
            else:
                self._sc.setLocalProperty("spark.jobGroup.id", None)
                self._sc.setLocalProperty("spark.job.description", None)
            self.spans.append(rec)

    def attribute(self, spans: list[Span]) -> None:
        """Fill ``span.spark`` for finished spans: job/stage/task metrics
        from the status store, Python-node metrics from the SQL store."""
        self._jsc.listenerBus().waitUntilEmpty()
        tracker = self._sc.statusTracker()
        store = self._jsc.statusStore()
        job_span: dict[int, Span] = {}
        for span in spans:
            m = dict.fromkeys(["spark.jobs", "spark.stages", *_STAGE_FIELDS], 0.0)
            m.update(dict.fromkeys(_PY_METRICS.values(), 0.0))
            for job in tracker.getJobIdsForGroup(self._group(span)):
                job_span[job] = span
                m["spark.jobs"] += 1
                info = tracker.getJobInfo(job)
                for stage in info.stageIds if info else ():
                    # a stage shared by several jobs ran once: count it once
                    if stage in self._seen_stages:
                        continue
                    self._seen_stages.add(stage)
                    data = store.lastStageAttempt(stage)
                    if str(data.status()) == "SKIPPED":
                        continue
                    m["spark.stages"] += 1
                    for key, (getter, scale) in _STAGE_FIELDS.items():
                        m[key] += getattr(data, getter)() * scale
            span.spark = m
        self._attribute_sql(job_span)

    def _attribute_sql(self, job_span: dict[int, Span]) -> None:
        total = self._sql.executionsCount()
        execs = self._sql.executionsList(self._sql_done, total - self._sql_done)
        self._sql_done = total
        for i in range(execs.size()):
            ex = execs.apply(i)
            jobs = ex.jobs().keysIterator()
            owner = None
            while owner is None and jobs.hasNext():
                owner = job_span.get(jobs.next())
            if owner is None:
                continue
            values = self._sql.executionMetrics(ex.executionId())
            # adaptive re-planning lists a node's metrics again; a cached
            # plan's nodes recur across executions: read each one once
            for name, acc in set(_PY_METRIC_RE.findall(ex.metrics().toString())):
                if acc in self._seen_accs:
                    continue
                self._seen_accs.add(acc)
                opt = values.get(int(acc))
                if opt.isDefined():
                    owner.spark[_PY_METRICS[name]] += parse_metric(opt.get())

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)


def spark_totals(spans: list[Span], cores: int) -> dict[str, float]:
    """Sum the per-span Spark metrics of one operation's spans; slot idle
    time is the operation's wall time on every core minus task run time."""
    out: dict[str, float] = {}
    for span in spans:
        for key, value in span.spark.items():
            out[key] = out.get(key, 0.0) + value
    ids = {s.id for s in spans}
    wall = sum(s.seconds for s in spans if s.parent not in ids)
    out["spark.slot_idle_s"] = wall * cores - out.get("spark.executor_run_s", 0.0)
    return out
