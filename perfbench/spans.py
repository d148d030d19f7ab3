"""Spans around calls into the package, attributed to Spark's own
status store.

A span has a name, start, end, parent and run id, lives in memory and
is written out when the run ends. Entering a span labels every Spark
job submitted inside it through ``SparkContext.setJobDescription``
(``<run>/<span id>:<name>``); Spark copies that label onto the job,
its stages and its SQL execution. After the run, ``StatusReader``
reads ``AppStatusStore`` (jobs, stages) and ``SQLAppStatusStore``
(executions, plan graphs, per-node metrics) through py4j and hands
each record to the span whose label it carries.

The reader refuses to under-report: a job without a label, or a gap in
the job, stage or execution ids (the store evicted records past its
retention limit), raises ``AttributionError``.
"""

from __future__ import annotations

import re
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

# Retention well above any run's job/stage/execution count, so that
# eviction is an error rather than a silent loss.
RETENTION = 100_000
RETENTION_CONF = {
    "spark.ui.retainedJobs": str(RETENTION),
    "spark.ui.retainedStages": str(RETENTION),
    "spark.sql.ui.retainedExecutions": str(RETENTION),
}

# Python-worker metrics that Spark's Python exec nodes report
# (FlatMapGroupsInPandas, ArrowEvalPython, MapInPandas, ...).
UDF_METRICS = {
    "time to start Python workers": "worker_start_s",
    "time to run Python workers": "worker_run_s",
    "data sent to Python workers": "bytes_sent",
    "data returned from Python workers": "bytes_returned",
}


class AttributionError(RuntimeError):
    pass


@dataclass
class Span:
    id: int
    name: str
    start: float
    parent: int | None
    run_id: str
    end: float = 0.0

    @property
    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    """Collects spans in memory. ``bind`` attaches the SparkContext whose
    jobs the spans label (None before a session exists or while it is
    being rebuilt)."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._sc = None

    def bind(self, sc) -> None:
        self._sc = sc

    def _label(self, span: Span | None) -> None:
        if self._sc is None:
            return
        self._sc.setJobDescription(
            None if span is None else f"{self.run_id}/{span.id}:{span.name}"
        )

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, time.perf_counter(), parent.id if parent else None, self.run_id)
        self.spans.append(s)
        self._stack.append(s)
        self._label(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            self._label(self._stack[-1] if self._stack else None)

    def children(self, span: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == span.id]

    def self_time(self, span: Span) -> float:
        """Duration minus the union of the intervals its children cover."""
        covered, cur_s, cur_e = 0.0, None, None
        for c in sorted(self.children(span), key=lambda c: c.start):
            if cur_e is None or c.start > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = c.start, c.end
            else:
                cur_e = max(cur_e, c.end)
        if cur_e is not None:
            covered += cur_e - cur_s
        return span.duration - covered

    def dump(self) -> list[dict]:
        return [asdict(s) for s in self.spans]

    def descendants(self, span: Span) -> list[Span]:
        out, todo = [], [span]
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(self.children(s))
        return out


# --- status store -----------------------------------------------------

_SIZE = {"B": 1, "KiB": 1024, "MiB": 1024**2, "GiB": 1024**3, "TiB": 1024**4}
_TIME = {"ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_PYTHON_NODE = re.compile(r"Python|Pandas|Arrow")
_VALUE = re.compile(r"^\s*([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]*)")


def parse_metric(text: str | None) -> float:
    """A formatted SQL metric ('16.3 KiB', '2.2 s', '1,000', or the
    'total (min, med, max ...)' two-line form) as bytes, seconds or a
    plain number."""
    if not text:
        return 0.0
    if text.startswith("total"):
        text = text.split("\n", 1)[1] if "\n" in text else ""
    m = _VALUE.match(text)
    if not m:
        return 0.0
    value, unit = float(m.group(1).replace(",", "")), m.group(2)
    return value * _SIZE.get(unit, _TIME.get(unit, 1.0))


def _seq(scala_seq) -> list:
    return [scala_seq.apply(i) for i in range(scala_seq.length())]


def _opt(scala_opt):
    return scala_opt.get() if scala_opt.isDefined() else None


@dataclass
class Attributed:
    """Status-store records of one span subtree."""

    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    sql_executions: int = 0
    executor_run_s: float = 0.0
    executor_cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_bytes: float = 0.0
    shuffle_read_bytes: float = 0.0
    spill_bytes: float = 0.0
    udf: dict = field(default_factory=lambda: {v: 0.0 for v in UDF_METRICS.values()})


class StatusReader:
    """Snapshot of one SparkContext's status stores, keyed by span id."""

    def __init__(self, spark, run_id: str):
        sc = spark.sparkContext
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty(60_000)
        store = jsc.statusStore()
        gw = sc._gateway
        self.run_id = run_id
        self.jobs = []  # (job id, span id, status)
        for j in _seq(store.jobsList(None)):
            self.jobs.append((j.jobId(), self._span_of(_opt(j.description())), j.status().toString()))
        self.stages = []
        for s in _seq(store.stageList(None, False, False, gw.new_array(gw.jvm.double, 0), None)):
            self.stages.append(
                {
                    "id": s.stageId(),
                    "span": self._span_of(_opt(s.description())),
                    "status": s.status().toString(),
                    "tasks": s.numCompleteTasks() + s.numFailedTasks(),
                    "run_s": s.executorRunTime() / 1e3,
                    "cpu_s": s.executorCpuTime() / 1e9,
                    "gc_s": s.jvmGcTime() / 1e3,
                    "shuffle_write": s.shuffleWriteBytes(),
                    "shuffle_read": s.shuffleReadBytes(),
                    "spill": s.diskBytesSpilled(),
                }
            )
        sql = spark._jsparkSession.sharedState().statusStore()
        self.executions = []
        for e in _seq(sql.executionsList()):
            eid = e.executionId()
            udf = {v: 0.0 for v in UDF_METRICS.values()}
            values = sql.executionMetrics(eid)
            for node in _seq(sql.planGraph(eid).allNodes()):
                if not _PYTHON_NODE.search(node.name()):
                    continue  # skip the py4j round trips for JVM-only nodes
                for m in _seq(node.metrics()):
                    key = UDF_METRICS.get(m.name())
                    if key is not None:
                        udf[key] += parse_metric(_opt(values.get(m.accumulatorId())))
            self.executions.append({"id": eid, "span": self._span_of(e.description()), "udf": udf})
        self._check_complete()

    def _span_of(self, description: str | None) -> int | None:
        prefix = f"{self.run_id}/"
        if description and description.startswith(prefix):
            return int(description[len(prefix):].split(":", 1)[0])
        return None

    def _check_complete(self) -> None:
        for kind, ids in (
            ("job", [j[0] for j in self.jobs]),
            ("stage", [s["id"] for s in self.stages]),
            ("SQL execution", [e["id"] for e in self.executions]),
        ):
            if ids and sorted(set(ids)) != list(range(min(ids), max(ids) + 1)):
                raise AttributionError(f"status store evicted {kind} records: ids are not contiguous")
            if ids and len(ids) >= RETENTION:
                raise AttributionError(f"status store hit its {kind} retention limit")
        # Job and stage ids restart at 0 with each SparkContext (SQL
        # execution ids are JVM-wide), so a missing 0 means eviction.
        for kind, ids in (("job", [j[0] for j in self.jobs]), ("stage", [s["id"] for s in self.stages])):
            if ids and min(ids) != 0:
                raise AttributionError(f"status store evicted {kind} records below id {min(ids)}")
        unlabeled = [j[0] for j in self.jobs if j[1] is None]
        if unlabeled:
            raise AttributionError(f"{len(unlabeled)} Spark jobs carry no span label: {unlabeled[:10]}")

    def attribute(self, span_ids: set[int]) -> Attributed:
        a = Attributed()
        a.jobs = sum(1 for j in self.jobs if j[1] in span_ids)
        for s in self.stages:
            if s["span"] in span_ids and s["status"] != "SKIPPED":
                a.stages += 1
                a.tasks += s["tasks"]
                a.executor_run_s += s["run_s"]
                a.executor_cpu_s += s["cpu_s"]
                a.gc_s += s["gc_s"]
                a.shuffle_write_bytes += s["shuffle_write"]
                a.shuffle_read_bytes += s["shuffle_read"]
                a.spill_bytes += s["spill"]
        for e in self.executions:
            if e["span"] in span_ids:
                a.sql_executions += 1
                for k, v in e["udf"].items():
                    a.udf[k] += v
        return a
