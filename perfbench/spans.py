"""In-memory tracing for the traced run.

A span records name, start, end, parent span and the trace id shared by
every span of one pass.  While a span is open its Spark job group is set,
so the jobs it launched can be read back afterwards from Spark's own
stores: ``SparkStatusTracker`` (jobs -> stages), ``AppStatusStore.
lastStageAttempt`` (task counts, executor time, shuffle, spill, output
bytes) and the SQL status store (Python/Arrow node metrics).  All three
work with ``spark.ui.enabled=false``.

With tracing off a span only yields; it sets no job group and reads no
clock, so an untraced pass runs exactly the program's own jobs.
"""

from __future__ import annotations

import itertools
import json
import re
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

from py4j.protocol import Py4JJavaError

PY_METRICS = {
    "data sent to Python workers": "py_sent_mb",
    "data returned from Python workers": "py_returned_mb",
    "time to run Python workers": "py_run_s",
    "time to start Python workers": "py_start_s",
}
_UNITS = {
    "B": 1 / 2**20, "KiB": 1 / 2**10, "MiB": 1.0, "GiB": 2**10, "TiB": 2**20,
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
}
_VALUE = re.compile(r"([0-9][0-9,]*\.?[0-9]*) (B|KiB|MiB|GiB|TiB|ms|s|m|h)\b")


def parse_metric(text: str) -> float:
    """Total of a formatted SQL metric (``'1.2 MiB'``, ``'total (min, med,
    max ...)\\n8.8 s (...)'``) in MB or seconds."""
    m = _VALUE.search(text.rsplit("\n", 1)[-1])
    return float(m.group(1).replace(",", "")) * _UNITS[m.group(2)] if m else 0.0


@dataclass
class Span:
    trace_id: str
    span_id: int
    parent: int | None
    name: str
    start: float
    end: float = 0.0
    groups: list[str] = field(default_factory=list)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._ids = itertools.count(1)
        self.trace_id = ""
        self._exec_floor: dict[str, int] = {}
        self._executions: dict[str, list] = {}

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        if parent is None:
            self._exec_floor[self.trace_id] = _last_execution_id(self.spark)
        s = Span(
            self.trace_id, next(self._ids), parent.span_id if parent else None,
            name, time.perf_counter(),
        )
        s.groups.append(f"perfbench-{s.trace_id}-{s.span_id}")
        self._stack.append(s)
        self._set_group(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            self._set_group(parent)
            self.spans.append(s)

    def _set_group(self, s: Span | None) -> None:
        sc = self.spark.sparkContext
        if s is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        else:
            sc.setJobGroup(s.groups[0], s.name)

    def attach_group(self, group: str) -> None:
        """Attribute another job group (a stream's run id) to the innermost
        open span."""
        if self.enabled and self._stack:
            self._stack[-1].groups.append(group)

    # -- reading back -------------------------------------------------------
    def pass_spans(self, trace_id: str) -> list[Span]:
        return [s for s in self.spans if s.trace_id == trace_id]

    def jobs(self, spans: list[Span]) -> list[int]:
        st = self.spark.sparkContext.statusTracker()
        return sorted({j for s in spans for g in s.groups for j in st.getJobIdsForGroup(g)})

    def executions(self, trace_id: str) -> list[tuple[set, dict]]:
        """(job ids, Python metric totals) of each SQL execution the pass
        ran, read once per pass."""
        if trace_id not in self._executions:
            self._executions[trace_id] = _executions_after(
                self.spark, self._exec_floor.get(trace_id, -1)
            )
        return self._executions[trace_id]

    def counters(self, spans: list[Span]) -> dict[str, float]:
        """Spark counters of the jobs these spans launched (all from one pass)."""
        return spark_counters(self.spark, self.jobs(spans), self.executions(spans[0].trace_id))

    def dump(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")


def spark_counters(spark, job_ids: list[int], executions: list[tuple[set, dict]]) -> dict[str, float]:
    """Jobs, stages, tasks, executor time, shuffle/spill/output volume of
    the given jobs, and the Python-boundary metrics of the ``executions``
    that ran any of them."""
    sc = spark.sparkContext
    st = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    stages: set[int] = set()
    for j in job_ids:
        info = st.getJobInfo(j)
        if info is not None:
            stages.update(info.stageIds)
    c = dict.fromkeys(
        ["stages", "tasks", "failed_tasks", "executor_run_s", "executor_cpu_s",
         "shuffle_read_mb", "shuffle_write_mb", "spill_mb", "output_mb", *PY_METRICS.values()],
        0.0,
    )
    c["jobs"] = float(len(job_ids))
    for sid in stages:
        try:
            sd = store.lastStageAttempt(sid)
        except Py4JJavaError:
            continue
        if sd.status().toString() == "SKIPPED":
            continue
        c["stages"] += 1
        c["tasks"] += sd.numCompleteTasks()
        c["failed_tasks"] += sd.numFailedTasks()
        c["executor_run_s"] += sd.executorRunTime() / 1e3
        c["executor_cpu_s"] += sd.executorCpuTime() / 1e9
        c["shuffle_read_mb"] += sd.shuffleReadBytes() / 2**20
        c["shuffle_write_mb"] += sd.shuffleWriteBytes() / 2**20
        c["spill_mb"] += (sd.memoryBytesSpilled() + sd.diskBytesSpilled()) / 2**20
        c["output_mb"] += sd.outputBytes() / 2**20
    wanted = set(job_ids)
    for jobs, metrics in executions:
        if jobs & wanted:
            for k, v in metrics.items():
                c[k] += v
    return c


def _sql_store(spark):
    conv = spark.sparkContext._jvm.scala.jdk.javaapi.CollectionConverters
    return conv, spark._jsparkSession.sharedState().statusStore()


def _last_execution_id(spark) -> int:
    conv, store = _sql_store(spark)
    n = store.executionsCount()
    return conv.asJava(store.executionsList(int(n) - 1, 1))[0].executionId() if n else -1


def _executions_after(spark, floor: int) -> list[tuple[set, dict]]:
    """Job ids and summed Python/Arrow node metrics of every SQL execution
    with an id above ``floor``."""
    conv, store = _sql_store(spark)
    out = []
    listed = conv.asJava(store.executionsList())
    for i in range(listed.size() - 1, -1, -1):
        ex = listed.get(i)
        if ex.executionId() <= floor:
            break
        values = conv.asJava(store.executionMetrics(ex.executionId()))
        metrics, seen = dict.fromkeys(PY_METRICS.values(), 0.0), set()
        for m in conv.asJava(ex.metrics()):
            key, acc = PY_METRICS.get(m.name()), m.accumulatorId()
            if key is None or acc in seen:
                continue
            seen.add(acc)
            text = values.get(acc)
            if text is not None:
                metrics[key] += parse_metric(text)
        out.append((set(conv.asJava(ex.jobs().keySet())), metrics))
    return out


def self_seconds(span: Span, children: list[Span]) -> float:
    """The span's duration minus the part of it its children cover."""
    covered, last = 0.0, span.start
    for c in sorted(children, key=lambda c: c.start):
        lo, hi = max(c.start, last), min(c.end, span.end)
        if hi > lo:
            covered += hi - lo
            last = hi
    return span.seconds - covered


def layer_table(tracer: Tracer, trace_ids: list[str]) -> list[dict]:
    """One row per span name, averaged over the given passes: calls, wall
    and self seconds, and the Spark counters of the jobs launched while
    that layer (not a child) was innermost."""
    keys = ("jobs", "tasks", "executor_run_s", "shuffle_write_mb", "py_run_s")
    rows: dict[str, dict] = {}
    n = max(1, len(trace_ids))
    for tid in trace_ids:
        spans = tracer.pass_spans(tid)
        for s in spans:
            kids = [c for c in spans if c.parent == s.span_id]
            r = rows.setdefault(
                s.name, {"layer": s.name, "calls": 0, "wall_s": 0.0, "self_s": 0.0,
                         **{f"self_{k}": 0.0 for k in keys}},
            )
            r["calls"] += 1
            r["wall_s"] += s.seconds / n
            r["self_s"] += self_seconds(s, kids) / n
            c = tracer.counters([s])
            for k in keys:
                r[f"self_{k}"] += c[k] / n
    return sorted(rows.values(), key=lambda r: -r["self_s"])
