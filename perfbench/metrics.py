"""Pure arithmetic of the benchmark: metric tables, percentiles, span
self time, failure counting and the workload validity gates.

Nothing here imports Spark, so the unit tests in `tests/` run without a
JVM.
"""

from __future__ import annotations

import math
import statistics
import time
from dataclasses import dataclass, field

# End-to-end metrics, measured with tracing off: name -> unit.
END_TO_END = {
    "setup_s": "s",
    "queries_per_s": "1/s",
    "query_p50_s": "s",
    "peak_rss_mb": "MiB",
}

# Per-layer metrics from the traced run: name -> unit.  A per-timed-query
# mean unless the name says otherwise (see NOTES.md).
PER_LAYER = {
    "session.get_spark_s": "s",
    "session.first_get_spark_s": "s",
    "registry.load_s": "s",
    "tables.register_views_s": "s",
    "tables.register_views_calls": "count",
    "tables.table_calls": "count",
    "queries.build_s": "s",
    "catalyst.analysis_s": "s",
    "catalyst.optimization_s": "s",
    "catalyst.planning_s": "s",
    "materialize.checkpoint_s": "s",
    "materialize.checkpoint_calls": "count",
    "materialize.release_s": "s",
    "pagerank.call_s": "s",
    "streaming.stream_to_memory_s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.failed_tasks": "count",
    "exec.job_wall_s": "s",
    "exec.task_run_s": "s",
    "exec.task_cpu_s": "s",
    "exec.jvm_gc_s": "s",
    "exec.shuffle_write_mb": "MiB",
    "exec.shuffle_read_mb": "MiB",
    "exec.spill_disk_mb": "MiB",
    "exec.spill_mem_mb": "MiB",
    "exec.peak_exec_mem_mb": "MiB",
    "collect.to_pandas_s": "s",
    "collect.rows": "count",
    "proc.jvm_cpu_s": "s",
    "proc.python_cpu_s": "s",
    "host.steal_jiffies": "count",
    "traced.queries_per_s": "1/s",
    "traced.accounted_frac": "ratio",
}

# A percentile is reported only when this many samples lie above it.
MIN_BEYOND = 10


def quantile(samples: list[float], q: float) -> float:
    """Linear-interpolated quantile (numpy's default rule)."""
    xs = sorted(samples)
    pos = q * (len(xs) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def supported_quantile(samples: list[float], q: float) -> float | None:
    """The q-quantile, or None when fewer than MIN_BEYOND samples lie above it."""
    if not samples:
        return None
    value = quantile(samples, q)
    return value if sum(x > value for x in samples) >= MIN_BEYOND else None


def highest_supported(samples: list[float]) -> tuple[float, float] | None:
    """(q, value) for the highest of p99, p95, p90, p75 and p50 that the
    sample supports, else None."""
    for q in (0.99, 0.95, 0.9, 0.75, 0.5):
        value = supported_quantile(samples, q)
        if value is not None:
            return q, value
    return None


def covered(start: float, end: float, intervals) -> float:
    """Length of [start, end] covered by the union of `intervals`."""
    total, cursor = 0.0, start
    for a, b in sorted(intervals):
        a, b = max(a, cursor), min(b, end)
        if b > a:
            total += b - a
            cursor = b
    return total


def self_time(start: float, end: float, children) -> float:
    """A span's duration minus the part of it its child spans cover."""
    return (end - start) - covered(start, end, children)


@dataclass
class Timed:
    wall_s: float
    df: object = None  # the built DataFrame, None if the build raised
    result: object = None  # the collected frame, None if anything raised
    error: str = ""


def run_timed(build, collect) -> Timed:
    """Time `collect(build())`; an exception ends the timing and is kept."""
    t = Timed(0.0)
    t0 = time.perf_counter()
    try:
        t.df = build()
        t.result = collect(t.df)
    except Exception as exc:  # a failing query is counted, not fatal
        t.error = f"raised {exc!r}"[:300]
    t.wall_s = time.perf_counter() - t0
    return t


def judge(timed: Timed, check) -> tuple[bool, str]:
    """(ok, detail): a query that raised fails; otherwise `check(result)`
    decides, and a check that raises fails the query too."""
    if timed.error:
        return False, timed.error
    try:
        return check(timed.result)
    except Exception as exc:
        return False, f"check raised {exc!r}"[:300]


@dataclass
class Tally:
    """Timed queries attempted and failed.  Each execution is counted
    once, whether it raised or returned a wrong result; none is retried."""

    attempted: int = 0
    failed: int = 0
    failures: list[str] = field(default_factory=list)

    def record(self, name: str, ok: bool, detail: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(f"{name}: {detail}")

    @property
    def fail_frac(self) -> float:
        return self.failed / self.attempted if self.attempted else 0.0


class GateError(RuntimeError):
    """The workload did not exercise what it exists to measure."""


def check_registry(frozen: tuple[str, ...], registered) -> None:
    missing = sorted(set(frozen) - set(registered))
    if missing:
        raise GateError(f"frozen queries missing from the registry: {missing}")


def check_spill(spill_disk_mb_total: float) -> None:
    if not spill_disk_mb_total > 0:
        raise GateError("forced-spill workload spilled 0 bytes to disk")


def end_to_end(
    setup_samples: list[float],
    walls: list[float],
    ok_count: int,
    peak_rss_mb: float,
) -> dict[str, float]:
    return {
        "setup_s": statistics.median(setup_samples),
        "queries_per_s": ok_count / sum(walls),
        "query_p50_s": statistics.median(walls),
        "peak_rss_mb": peak_rss_mb,
    }


def render(values: dict[str, float], units: dict[str, str]) -> dict[str, dict]:
    """The `metrics` object of the result line, in the table's order."""
    return {name: {"value": values[name], "unit": unit} for name, unit in units.items()}
