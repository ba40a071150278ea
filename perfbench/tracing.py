"""Layer attribution for the traced run, measured from outside the engine.

Two sources, neither of which edits engine code:

* `Tracer` records spans around calls into the package's public
  functions.  `install` rebinds those functions on their modules; it must
  run before the query registry loads, because query modules bind
  `table`, `register_views` and `stream_to_memory` when they are imported.
* `SparkProbe` reads Spark's own layers through public status APIs: the
  status store for jobs, stages and tasks, and a DataFrame's
  `QueryExecution.tracker()` for the Catalyst phase times.  Both work with
  the UI disabled.
"""

from __future__ import annotations

import functools
import json
import time
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: int
    query: int  # execution id shared by every span of one query run; -1 = none
    name: str
    start: float  # seconds, time.perf_counter() clock
    end: float
    parent: int | None


class Tracer:
    """In-memory span recorder for one single-threaded client."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.query = -1
        self._stack: list[int] = []

    def span(self, name: str, fn, *args, **kwargs):
        """Call `fn(*args, **kwargs)` inside a span called `name`."""
        parent = self._stack[-1] if self._stack else None
        sid = len(self.spans)
        span = Span(sid, self.query, name, time.perf_counter(), 0.0, parent)
        self.spans.append(span)
        self._stack.append(sid)
        try:
            return fn(*args, **kwargs)
        finally:
            self._stack.pop()
            span.end = time.perf_counter()

    def add(self, name: str, start: float, end: float, parent: int | None) -> None:
        """Record an already-finished span (Spark jobs, from their timestamps)."""
        self.spans.append(Span(len(self.spans), self.query, name, start, end, parent))

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            return self.span(name, fn, *args, **kwargs)

        traced.__wrapped_by_tracer__ = True
        return traced

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)


# (module, attribute, span name).  `materialize_once` and
# `materialize_view_shared` are the two functions that run an eager
# localCheckpoint (`materialize_view` calls `materialize_once`);
# `release_all` is the one caller of `release`.
TRACED_FUNCTIONS = (
    ("datafusion_umami_spark.tables", "register_views", "tables.register_views"),
    ("datafusion_umami_spark.tables", "table", "tables.table"),
    ("datafusion_umami_spark.operators.materialize", "materialize_once", "materialize.checkpoint"),
    ("datafusion_umami_spark.operators.materialize", "materialize_view_shared", "materialize.checkpoint"),
    ("datafusion_umami_spark.operators.materialize", "release_all", "materialize.release"),
    ("datafusion_umami_spark.operators.pagerank", "pagerank", "pagerank.call"),
    ("datafusion_umami_spark.streaming.runner", "stream_to_memory", "streaming.stream_to_memory"),
)


def install(tracer: Tracer) -> None:
    """Rebind every traced function on its module (and the `streaming`
    package's re-export) to a span-recording wrapper."""
    import importlib

    for mod_name, attr, span_name in TRACED_FUNCTIONS:
        mod = importlib.import_module(mod_name)
        fn = getattr(mod, attr)
        if getattr(fn, "__wrapped_by_tracer__", False):
            continue
        setattr(mod, attr, tracer.wrap(span_name, fn))
    streaming = importlib.import_module("datafusion_umami_spark.streaming")
    runner = importlib.import_module("datafusion_umami_spark.streaming.runner")
    streaming.stream_to_memory = runner.stream_to_memory


# StageData accessor -> (exec metric, scale to the metric's unit)
_STAGE_FIELDS = (
    ("numTasks", "exec.tasks", 1),
    ("numFailedTasks", "exec.failed_tasks", 1),
    ("executorRunTime", "exec.task_run_s", 1e-3),
    ("executorCpuTime", "exec.task_cpu_s", 1e-9),
    ("jvmGcTime", "exec.jvm_gc_s", 1e-3),
    ("shuffleWriteBytes", "exec.shuffle_write_mb", 2.0**-20),
    ("shuffleReadBytes", "exec.shuffle_read_mb", 2.0**-20),
    ("diskBytesSpilled", "exec.spill_disk_mb", 2.0**-20),
    ("memoryBytesSpilled", "exec.spill_mem_mb", 2.0**-20),
)
CATALYST_PHASES = ("analysis", "optimization", "planning")


class SparkProbe:
    """Reads what Spark did for each query from its status store.

    Job ids are assigned in submission order, so with one client the jobs
    of a query are exactly the ids first seen after it ran.  That also
    covers the jobs a streaming query runs on its own thread under its
    own job group."""

    def __init__(self, spark) -> None:
        self._sc = spark.sparkContext._jsc.sc()
        self._store = self._sc.statusStore()
        self._next_job = 0
        self.drain()  # start after the jobs that ran before the probe

    def drain(self) -> list:
        """JobData of every job that finished since the last call."""
        from py4j.protocol import Py4JJavaError

        self._sc.listenerBus().waitUntilEmpty()
        jobs = []
        while True:
            try:
                jobs.append(self._store.job(self._next_job))
            except Py4JJavaError:  # NoSuchElementException: no such job yet
                return jobs
            self._next_job += 1

    def exec_metrics(self, jobs) -> tuple[dict[str, float], list[tuple[float, float]]]:
        """Summed stage metrics of `jobs`, plus each job's (start, end)
        in epoch seconds."""
        out = {name: 0.0 for _, name, _ in _STAGE_FIELDS}
        out.update({"exec.jobs": float(len(jobs)), "exec.stages": 0.0,
                    "exec.peak_exec_mem_mb": 0.0, "exec.job_wall_s": 0.0})
        windows = []
        for job in jobs:
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined() and done.isDefined():
                start, end = sub.get().getTime() / 1e3, done.get().getTime() / 1e3
                windows.append((start, end))
                out["exec.job_wall_s"] += end - start
            ids = job.stageIds()
            for i in range(ids.size()):
                stage = self._store.lastStageAttempt(ids.apply(i))
                out["exec.stages"] += 1
                for accessor, name, scale in _STAGE_FIELDS:
                    out[name] += getattr(stage, accessor)() * scale
                out["exec.peak_exec_mem_mb"] = max(
                    out["exec.peak_exec_mem_mb"], stage.peakExecutionMemory() * 2.0**-20
                )
        return out, windows

    @staticmethod
    def catalyst(df) -> dict[str, float]:
        """Catalyst phase times of the final DataFrame, in seconds."""
        phases = df._jdf.queryExecution().tracker().phases()
        return {
            f"catalyst.{p}_s": (phases.apply(p).durationMs() / 1e3 if phases.contains(p) else 0.0)
            for p in CATALYST_PHASES
        }
