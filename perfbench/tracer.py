"""Span tracer for the traced run: wraps the program's public layer functions
from outside the program and attributes Spark jobs to the innermost span.

A span records its name, start, end and parent. Self time is its duration
minus the time its child spans cover. On span entry the tracer sets a job
group of its own and on exit restores the previous one, then reads the
group's jobs, stages and tasks through ``sparkContext.statusTracker()``.

Wrappers keep the wrapped function's ``__module__`` and ``__qualname__`` and
are rebound in the defining module, so cloudpickle still pickles them by
reference and Python workers run the unwrapped function.
"""

from __future__ import annotations

import functools
import inspect
import sys
import threading
import time
from dataclasses import dataclass, field

from pyspark.sql.classic.dataframe import DataFrame

PKG = "nocouncil_etl_spark"
GROUP_KEY = "spark.jobGroup.id"


@dataclass
class Span:
    id: int
    name: str
    start: float
    parent: "Span | None"
    prev_group: str | None
    group: str
    end: float = 0.0
    child_s: float = 0.0
    jobs: int = 0  # jobs submitted while this span was innermost
    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    incl_jobs: int = 0  # jobs of this span and every descendant
    incl_stages: int = 0
    incl_tasks: int = 0
    extra: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start

    @property
    def self_s(self) -> float:
        return self.duration - self.child_s

    def record(self) -> dict:
        """The span as written to spans.json; ``query`` is the query
        execution the span belongs to."""
        root = self
        while root.parent is not None:
            root = root.parent
        return {
            "id": self.id, "parent": self.parent.id if self.parent else None,
            "name": self.name, "query": root.extra.get("query"),
            "start": self.start, "end": self.end, "self_s": self.self_s,
            "jobs": self.jobs, "stages": self.stages, "tasks": self.tasks,
        }


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.status = self.sc.statusTracker()
        self.spans: list[Span] = []
        self._local = threading.local()
        self._n = 0
        self._undo: list[tuple[object, str, object]] = []
        self.driver_collects = 0
        self.driver_collect_rows = 0

    # -- spans ---------------------------------------------------------
    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def open(self, name: str, **extra) -> Span:
        stack = self._stack()
        self._n += 1
        span = Span(
            id=self._n,
            name=name,
            start=time.perf_counter(),
            parent=stack[-1] if stack else None,
            prev_group=self.sc.getLocalProperty(GROUP_KEY),
            group=f"perfbench-{self._n}",
            extra=extra,
        )
        self.sc.setLocalProperty(GROUP_KEY, span.group)
        stack.append(span)
        return span

    def close(self, span: Span) -> None:
        span.end = time.perf_counter()
        stack = self._stack()
        while stack and stack[-1] is not span:  # an inner span leaked
            stack.pop()
        if stack:
            stack.pop()
        self.sc.setLocalProperty(GROUP_KEY, span.prev_group)
        for jid in self.status.getJobIdsForGroup(span.group):
            span.jobs += 1
            info = self.status.getJobInfo(jid)
            for sid in info.stageIds if info else ():
                st = self.status.getStageInfo(sid)
                if st is not None:  # None: skipped, never submitted
                    span.stages += 1
                    span.tasks += st.numTasks
                    span.failed_tasks += st.numFailedTasks
        span.incl_jobs += span.jobs
        span.incl_stages += span.stages
        span.incl_tasks += span.tasks
        if span.parent is not None:
            span.parent.child_s += span.duration
            span.parent.incl_jobs += span.incl_jobs
            span.parent.incl_stages += span.incl_stages
            span.parent.incl_tasks += span.incl_tasks
        self.spans.append(span)

    def innermost(self) -> Span | None:
        stack = self._stack()
        return stack[-1] if stack else None

    # -- wrappers ------------------------------------------------------
    def _wrap(self, name: str, fn, on_result=None):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            span = tracer.open(name)
            try:
                out = fn(*args, **kwargs)
                if on_result is not None:
                    on_result(span, args, out)
                return out
            finally:
                tracer.close(span)

        return wrapper

    def install(self, targets: dict[str, list[str]]) -> None:
        """Wrap ``targets`` (module → public function names, or None for
        every public function the module defines) and rebind every attribute
        of every loaded package module that still refers to an original."""
        originals: dict[int, object] = {}
        for modname, names in targets.items():
            mod = sys.modules[modname]
            short = modname[len(PKG) + 1:]
            if names is None:
                names = [
                    n for n, v in vars(mod).items()
                    if not n.startswith("_")
                    and inspect.isfunction(v)
                    and v.__module__ == modname
                    and not hasattr(v, "evalType")  # a registered UDF
                ]
            for n in names:
                fn = getattr(mod, n)
                hook = _fan_out_result if n.startswith("fan_out") else None
                originals[id(fn)] = self._wrap(f"{short}.{n}", fn, hook)
        for modname, mod in list(sys.modules.items()):
            if mod is None or not (modname == PKG or modname.startswith(PKG + ".")):
                continue
            for attr, val in list(vars(mod).items()):
                w = originals.get(id(val))
                if w is not None and w.__wrapped__ is val:
                    setattr(mod, attr, w)
                    self._undo.append((mod, attr, val))
        orig_collect, orig_pandas = DataFrame.collect, DataFrame.toPandas
        tracer = self

        def collect(df):
            rows = orig_collect(df)
            tracer._driver_collect(len(rows))
            return rows

        def to_pandas(df):
            pdf = orig_pandas(df)
            tracer._driver_collect(len(pdf))
            return pdf

        DataFrame.collect, DataFrame.toPandas = collect, to_pandas
        self._undo.append((DataFrame, "collect", orig_collect))
        self._undo.append((DataFrame, "toPandas", orig_pandas))

    def uninstall(self) -> None:
        for obj, attr, val in reversed(self._undo):
            setattr(obj, attr, val)
        self._undo.clear()

    def _driver_collect(self, n: int) -> None:
        span = self.innermost()
        while span is not None and span.name != "plans.build":
            span = span.parent
        if span is not None:  # a collect fired while a plan is being built
            self.driver_collects += 1
            self.driver_collect_rows += n


def _fan_out_result(span: Span, args, out) -> None:
    span.extra["repartitioned"] = out is not args[0]


def plan_metrics(df) -> dict[str, float]:
    """Executed-plan SQL metrics of an action, summed over the plan's nodes
    (peak memory is the max), via ``plancheck.walk_plan``."""
    from nocouncil_etl_spark.plancheck import walk_plan

    out = {
        "exec.scan_rows": 0, "exec.shuffle_bytes_written": 0,
        "exec.shuffle_records_written": 0, "exec.broadcast_bytes": 0,
        "exec.spill_bytes": 0, "exec.sort_s": 0.0, "exec.peak_memory_bytes": 0,
        "exec.python_total_s": 0.0, "exec.python_boot_s": 0.0,
        "exec.python_bytes_sent": 0, "exec.python_rows_received": 0,
    }
    keys = {
        "shuffleBytesWritten": "exec.shuffle_bytes_written",
        "shuffleRecordsWritten": "exec.shuffle_records_written",
        "spillSize": "exec.spill_bytes",
        "sortTime": "exec.sort_s",
        "pythonTotalTime": "exec.python_total_s",
        "pythonBootTime": "exec.python_boot_s",
        "pythonDataSent": "exec.python_bytes_sent",
        "pythonNumRowsReceived": "exec.python_rows_received",
    }
    scale = {"timing": 1e-3, "nsTiming": 1e-9}
    for node in walk_plan(df._jdf.queryExecution().executedPlan()):
        name = node.nodeName()
        it = node.metrics().iterator()
        while it.hasNext():
            kv = it.next()
            key, metric = kv._1(), kv._2()
            value = metric.value() * scale.get(metric.metricType(), 1)
            if key == "numOutputRows" and name.startswith(("Scan ", "BatchScan")):
                out["exec.scan_rows"] += value
            elif key == "dataSize" and name == "BroadcastExchange":
                out["exec.broadcast_bytes"] += value
            elif key == "peakMemory":
                out["exec.peak_memory_bytes"] = max(out["exec.peak_memory_bytes"], value)
            elif key in keys:
                out[keys[key]] += value
    return out
