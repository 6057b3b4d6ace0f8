"""Spans around the benchmark's calls into the engine's modules.

A span is one call: its name (``<module>.<function>`` or a layer verb
such as ``plans.exec``), start and end on the monotonic clock, the span
that was open when it started (its parent), and the run id. Spans live in
memory and are written out once, when the run ends.

Engine counters are attributed to the span that caused them:

- Each span runs its jobs under a job group of its own, so
  ``statusTracker().getJobIdsForGroup`` returns exactly that span's jobs
  (a group reused across calls would accumulate). Stages, tasks and
  failed tasks are read from the same tracker.
- Scan, shuffle, spill and Python-worker counters come from the SQL
  metrics of each executed plan, delivered by a query-execution listener.
  At every span boundary the listener bus is drained; executions finished
  since the last boundary belong to the innermost span open over them.

All counters are self counts: a parent never re-counts a child's jobs.
Self time is a span's duration minus the part its children cover.

``NULL_TRACER`` has the same interface and does nothing, so the untraced
run pays no extra Spark jobs and no listener.
"""

from __future__ import annotations

import functools
import itertools
import json
import re
import sys
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

GROUP_PROP = "spark.jobGroup.id"
DESC_PROP = "spark.job.description"

# SQL metric name -> counter it is summed into
SQL_COUNTERS = {
    "numFiles": "scan_files",
    "filesSize": "scan_bytes",
    "shuffleBytesWritten": "shuffle_write_bytes",
    "spillSize": "spill_bytes",
    "pythonNumRowsReceived": "python_rows",
}
_METRIC_RE = re.compile(r"(\w+) -> SQLMetric\(id: \d+, name: .*?, value: (-?\d+)\)")


@dataclass
class Span:
    id: int
    name: str
    kind: str
    parent: int | None
    run_id: str
    start: float
    end: float = 0.0
    failed: bool = False
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    sql: dict = field(default_factory=lambda: dict.fromkeys(SQL_COUNTERS.values(), 0))
    child_time: float = 0.0

    @property
    def duration(self) -> float:
        return self.end - self.start

    @property
    def self_time(self) -> float:
        return self.duration - self.child_time


class _NullTracer:
    enabled = False

    @contextmanager
    def span(self, name: str, kind: str = "call"):
        yield None

    def instrument(self, targets):
        return contextmanager(lambda: (yield))()


NULL_TRACER = _NullTracer()


class _PlanMetricsListener:
    """QueryExecutionListener implemented over the py4j callback server:
    sums the counters of every executed plan into ``sink``."""

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]

    def __init__(self, sink, identity):
        self._sink = sink
        self._identity = identity
        self._seen_caches: set[int] = set()

    def onSuccess(self, func_name, qe, duration_ns):
        try:
            totals = dict.fromkeys(SQL_COUNTERS.values(), 0)
            self._walk(qe.executedPlan(), totals)
            self._sink(totals)
        except Exception as exc:  # pragma: no cover - never fail the query
            print(f"perfbench: plan metrics unavailable: {exc}", file=sys.stderr)

    def onFailure(self, func_name, qe, exception):
        pass

    def _walk(self, node, totals: dict) -> None:
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            self._walk(node.executedPlan(), totals)
            return
        if cls.endswith("QueryStageExec"):
            # a reused stage's counters belong to the execution that ran it
            if not cls.startswith("Reused"):
                self._walk(node.plan(), totals)
            return
        if cls == "ReusedExchangeExec":
            return
        if cls == "InMemoryTableScanExec":
            # a persisted frontier's plan ran once, in the execution that
            # first read it: count its counters there and nowhere else
            cached = node.relation().cacheBuilder().cachedPlan()
            key = self._identity(cached)
            if key not in self._seen_caches:
                self._seen_caches.add(key)
                self._walk(cached, totals)
        for name, value in _METRIC_RE.findall(node.metrics().toString()):
            counter = SQL_COUNTERS.get(name)
            if counter is not None:
                totals[counter] += int(value)
        children = node.children()
        for i in range(children.size()):
            self._walk(children.apply(i), totals)


class Tracer:
    enabled = True

    def __init__(self, spark, run_id: str):
        from pyspark.java_gateway import ensure_callback_server_started

        self.spark = spark
        self.run_id = run_id
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._stack: list[Span] = []
        self._lock = threading.Lock()
        self._pending: list[dict] = []
        sc = spark.sparkContext
        self._tracker = sc.statusTracker()
        self._bus = sc._jsc.sc().listenerBus()
        ensure_callback_server_started(sc._gateway)
        self._listener = _PlanMetricsListener(self._on_plan, sc._jvm.System.identityHashCode)
        spark._jsparkSession.listenerManager().register(self._listener)

    def close(self) -> None:
        self._drain()
        self.spark._jsparkSession.listenerManager().unregister(self._listener)

    def _on_plan(self, totals: dict) -> None:
        with self._lock:
            self._pending.append(totals)

    def _drain(self) -> list[dict]:
        """Wait until every finished execution has been reported, then
        hand back the reports not yet attributed."""
        try:
            self._bus.waitUntilEmpty()
        except Exception as exc:  # pragma: no cover - bus timeout
            print(f"perfbench: listener bus not drained: {exc}", file=sys.stderr)
        with self._lock:
            pending, self._pending = self._pending, []
        return pending

    @staticmethod
    def _attribute(span: Span | None, reports: list[dict]) -> None:
        # executions outside every span (set-up, checks) are not counted
        if span is None:
            return
        for totals in reports:
            for key, value in totals.items():
                span.sql[key] += value

    def _job_counts(self, span: Span, group: str) -> None:
        for job_id in self._tracker.getJobIdsForGroup(group):
            span.jobs += 1
            info = self._tracker.getJobInfo(job_id)
            for stage_id in info.stageIds if info else ():
                stage = self._tracker.getStageInfo(stage_id)
                if stage is None:
                    continue
                if stage.numCompletedTasks + stage.numFailedTasks > 0:
                    span.stages += 1
                span.tasks += stage.numCompletedTasks + stage.numFailedTasks
                span.failed_tasks += stage.numFailedTasks

    @contextmanager
    def span(self, name: str, kind: str = "call"):
        sc = self.spark.sparkContext
        with self._lock:
            parent = self._stack[-1] if self._stack else None
        # executions finished before this span belong to the parent
        self._attribute(parent, self._drain())
        span = Span(
            id=next(self._ids), name=name, kind=kind,
            parent=parent.id if parent else None, run_id=self.run_id,
            start=time.perf_counter(),
        )
        group = f"perfbench-{self.run_id}-{span.id}"
        saved = {p: sc.getLocalProperty(p) for p in (GROUP_PROP, DESC_PROP)}
        sc.setLocalProperty(GROUP_PROP, group)
        sc.setLocalProperty(DESC_PROP, name)
        with self._lock:
            self._stack.append(span)
        try:
            yield span
        except BaseException:
            span.failed = True
            raise
        finally:
            span.end = time.perf_counter()
            for prop, value in saved.items():
                sc.setLocalProperty(prop, value)
            with self._lock:
                self._stack.remove(span)
            self._attribute(span, self._drain())
            self._job_counts(span, group)
            if parent is not None:
                parent.child_time += span.duration
            self.spans.append(span)

    @contextmanager
    def instrument(self, targets):
        """Wrap public engine functions in spans for the duration of the
        block. ``targets`` is a list of (module, function name, kind);
        every binding of that function object inside the engine package
        is replaced, so calls the engine makes to its own public
        functions are traced too. Restores all bindings on exit."""
        package = "sales_forecast_pyspark_spark"
        patched = []
        for module, fname, kind in targets:
            original = getattr(module, fname)
            span_name = f"{module.__name__.removeprefix(package + '.')}.{fname}"
            wrapper = self._wrap(original, span_name, kind)
            for mod in list(sys.modules.values()):
                if getattr(mod, "__name__", "").startswith(package) and (
                    getattr(mod, fname, None) is original
                ):
                    setattr(mod, fname, wrapper)
                    patched.append((mod, fname, original))
        try:
            yield
        finally:
            for mod, fname, original in patched:
                setattr(mod, fname, original)

    def _wrap(self, fn, span_name: str, kind: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(span_name, kind):
                return fn(*args, **kwargs)

        return traced

    def write(self, path: str) -> None:
        with open(path, "w") as out:
            for span in self.spans:
                record = asdict(span)
                record.update(duration=span.duration, self_time=span.self_time)
                out.write(json.dumps(record) + "\n")
