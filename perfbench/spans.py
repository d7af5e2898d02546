"""Spans around the program's public functions, and counters read from
Spark's status stores over each span and each pass.

Everything is measured from outside the program:

* ``Tracer.install`` replaces the public functions of the traced modules
  with wrappers that record a span (name, start, end, parent, thread) and
  the Spark job count at both ends. It must run before the query modules
  import those functions; references bound earlier are rebound too.
* ``StatusReader`` reads, after a pass has ended, the jobs, stages and
  SQL executions the pass created, from ``sc.statusStore()`` and the SQL
  status store. The UI is off; both stores are still kept.

Spans stay in memory and are written out once, at the end of the run.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import re
import sys
import threading
import time
from dataclasses import dataclass, field

# Layers traced by span, named by module under the package.
TRACED_MODULES = (
    "io",
    "etl",
    "llm.minhash",
    "llm.ann",
    "llm.search",
    "operators.concomp",
)
PACKAGE = "etl_covid19_brasil_spark"


@dataclass
class Span:
    name: str
    start: float
    parent: int | None
    thread: int
    jobs0: int
    end: float = 0.0
    jobs1: int = 0
    children: list[int] = field(default_factory=list)

    @property
    def seconds(self) -> float:
        return self.end - self.start

    @property
    def jobs(self) -> int:
        return self.jobs1 - self.jobs0


class Tracer:
    """Records spans while ``enabled``; a disabled tracer only forwards."""

    def __init__(self) -> None:
        self.enabled = False
        self.spans: list[Span] = []
        self._stack = threading.local()
        self._lock = threading.Lock()
        self._job_count = lambda: 0

    def bind(self, spark) -> None:
        """Read job counts from this session's scheduler."""
        dag = spark.sparkContext._jsc.sc().dagScheduler()
        self._job_count = dag.numTotalJobs

    def _frames(self) -> list[int]:
        if not hasattr(self._stack, "ids"):
            self._stack.ids = []
        return self._stack.ids

    def open(self, name: str) -> int | None:
        if not self.enabled:
            return None
        frames = self._frames()
        parent = frames[-1] if frames else None
        span = Span(name, 0.0, parent, threading.get_ident(), self._job_count())
        with self._lock:
            idx = len(self.spans)
            self.spans.append(span)
            if parent is not None:
                self.spans[parent].children.append(idx)
        frames.append(idx)
        span.start = time.perf_counter()
        return idx

    def close(self, idx: int | None) -> None:
        if idx is None:
            return
        span = self.spans[idx]
        span.end = time.perf_counter()
        span.jobs1 = self._job_count()
        self._frames().pop()

    def span(self, name: str) -> "_SpanContext":
        return _SpanContext(self, name)

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            idx = self.open(name)
            try:
                return fn(*args, **kwargs)
            finally:
                self.close(idx)

        traced.__wrapped_by_perfbench__ = True
        return traced

    def install(self) -> None:
        """Wrap every public function defined in the traced modules and
        rebind references that already-imported package modules hold."""
        originals: dict[int, object] = {}
        for short in TRACED_MODULES:
            mod = importlib.import_module(f"{PACKAGE}.{short}")
            for attr, fn in list(vars(mod).items()):
                if (
                    attr.startswith("_")
                    or not inspect.isfunction(fn)
                    or fn.__module__ != mod.__name__
                    or getattr(fn, "__wrapped_by_perfbench__", False)
                ):
                    continue
                w = self.wrap(f"{short}.{attr}", fn)
                setattr(mod, attr, w)
                originals[id(fn)] = w
        for name, mod in list(sys.modules.items()):
            if not name.startswith(PACKAGE) or mod is None:
                continue
            for attr, val in list(vars(mod).items()):
                if id(val) in originals and not getattr(val, "__wrapped_by_perfbench__", False):
                    setattr(mod, attr, originals[id(val)])

    def self_time(self, idx: int) -> tuple[float, int]:
        """(seconds, jobs) of a span minus those of its children."""
        span = self.spans[idx]
        secs, jobs = span.seconds, span.jobs
        for c in span.children:
            secs -= self.spans[c].seconds
            jobs -= self.spans[c].jobs
        return secs, jobs

    def to_records(self) -> list[dict]:
        return [
            {
                "name": s.name,
                "start": s.start,
                "end": s.end,
                "parent": s.parent,
                "thread": s.thread,
                "jobs": s.jobs,
            }
            for s in self.spans
        ]


class _SpanContext:
    def __init__(self, tracer: Tracer, name: str) -> None:
        self.tracer, self.name, self.idx = tracer, name, None

    def __enter__(self) -> "_SpanContext":
        self.idx = self.tracer.open(self.name)
        return self

    def __exit__(self, *exc) -> None:
        self.tracer.close(self.idx)


# ---------------------------------------------------------------------------
# Status stores
# ---------------------------------------------------------------------------

_UNITS = {
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
    "B": 1.0, "KiB": 2.0**10, "MiB": 2.0**20, "GiB": 2.0**30, "TiB": 2.0**40,
}
_PLAN_METRIC = re.compile(r"SQLPlanMetric\((.*?),(\d+),(\w+)\)")
_METRIC_VALUE = re.compile(r"(?:^|, )(\d+) -> ")

# SQL metric name -> counter it adds to (values summed over executions).
SQL_METRICS = {
    "shuffle bytes written": "exchange_count",  # counted, one per exchange
    "duration": "codegen_s",  # WholeStageCodegen pipeline time
    "scan time": "scan_s",
    "size of files read": "scan_bytes",
    "time to start Python workers": "python_start_s",
    "time to run Python workers": "python_run_s",
    "number of written files": "files_written",
    "written output": "bytes_written",
}


def parse_metric(text: str) -> float:
    """Total of one formatted SQL metric value: ``"1,000"``, ``"12 ms"``,
    ``"3.5 s"``, ``"16.2 MiB"``, or a per-task summary whose second line
    starts with the total."""
    lines = text.strip().splitlines()
    first = (lines[1] if len(lines) > 1 and lines[0].startswith("total") else lines[0]).strip()
    first = first.split(" (")[0].replace(",", "")
    parts = first.split()
    if not parts:
        return 0.0
    value = float(parts[0])
    return value * _UNITS.get(parts[1], 1.0) if len(parts) > 1 else value


def _split_metric_map(text: str) -> dict[int, str]:
    """Parse the ``toString`` of a Scala ``Map[Long, String]``."""
    body = text[text.index("(") + 1 : text.rindex(")")]
    marks = list(_METRIC_VALUE.finditer(body))
    out = {}
    for i, m in enumerate(marks):
        end = marks[i + 1].start() if i + 1 < len(marks) else len(body)
        out[int(m.group(1))] = body[m.end() : end]
    return out


class StatusReader:
    """Counters of the jobs, stages and SQL executions made between two
    marks, read from the status stores once the listener bus is drained."""

    def __init__(self, spark) -> None:
        jsc = spark.sparkContext._jsc.sc()
        self._dag = jsc.dagScheduler()
        self._bus = jsc.listenerBus()
        self._store = jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()

    def _max_execution_id(self) -> int:
        n = self._sql.executionsCount()
        if n == 0:
            return -1
        return int(self._sql.executionsList(n - 1, 1).head().executionId())

    def jobs(self) -> int:
        """Spark jobs submitted so far."""
        return int(self._dag.numTotalJobs())

    def mark(self) -> tuple[int, int, int]:
        """(next job id, next stage id, last SQL execution id) now."""
        self._bus.waitUntilEmpty()
        return (
            int(self._dag.numTotalJobs()),
            int(self._dag.nextStageId()),
            self._max_execution_id(),
        )

    def read(
        self, start: tuple[int, int, int], end: tuple[int, int, int], sql: bool = True
    ) -> dict[str, float]:
        """Counters of everything made between two marks; the SQL
        operator metrics only when ``sql``."""
        from py4j.protocol import Py4JJavaError

        c = dict.fromkeys(
            (
                "jobs", "stages", "stages_skipped", "tasks", "shuffle_write_bytes",
                "executor_cpu_s", "jvm_gc_s", "spill_bytes",
            ),
            0.0,
        )
        c.update(dict.fromkeys(SQL_METRICS.values(), 0.0))
        for job_id in range(start[0], end[0]):
            job = self._store.job(job_id)
            c["jobs"] += 1
            c["stages"] += job.stageIds().size()
            c["stages_skipped"] += job.numSkippedStages()
        for stage_id in range(start[1], end[1]):
            try:
                s = self._store.lastStageAttempt(stage_id)
            except Py4JJavaError:  # a stage that never ran has no attempt
                continue
            if s.status().toString() == "SKIPPED":
                continue
            c["tasks"] += s.numCompleteTasks()
            c["shuffle_write_bytes"] += s.shuffleWriteBytes()
            c["executor_cpu_s"] += s.executorCpuTime() / 1e9
            c["jvm_gc_s"] += s.jvmGcTime() / 1e3
            c["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
        for exec_id in range(start[2] + 1, end[2] + 1 if sql else 0):
            opt = self._sql.execution(exec_id)
            if not opt.isEmpty():
                self._add_sql(c, opt.get(), exec_id)
        return c

    def _add_sql(self, c: dict[str, float], execution, exec_id: int) -> None:
        declared = {
            int(acc): name
            for name, acc, _ in _PLAN_METRIC.findall(execution.metrics().toString())
            if name in SQL_METRICS
        }
        if not declared:
            return
        values = _split_metric_map(self._sql.executionMetrics(exec_id).toString())
        for acc, name in declared.items():
            key = SQL_METRICS[name]
            if key == "exchange_count":
                c[key] += 1
            elif acc in values:
                c[key] += parse_metric(values[acc])
