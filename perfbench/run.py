"""Engine benchmark: one closed-loop client runs a workload's queries.

Usage (from the repository root):

    python3 perfbench/run.py --workload headline-sf0.01 --seed 1 --seconds 20 --trace 0

A run generates the workload's tables from the seed, computes the DuckDB
oracle answer of every query, sets the engine up three times, runs one
untimed warm-up pass, then runs whole passes (each a seeded permutation
of the workload's queries) until `--seconds` of wall time have gone.
Every timed result is compared with its oracle answer.  Between queries,
outside the timed part, the client frees held checkpoints and runs a
Python and a JVM garbage collection.

The last line of standard output is one JSON object: the end-to-end
metrics with `--trace 0`, the per-layer metrics with `--trace 1`.
Diagnostics (pass times, drift, tail percentile, steal, failures) go to
standard error as one `# diag` JSON line.  See NOTES.md.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import random
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import datagen  # noqa: E402
import metrics  # noqa: E402
import tracing  # noqa: E402
from workloads import SETUP_QUERY, WORKLOADS  # noqa: E402

SETUP_REPEATS = 3
WARMUP_PASSES = 1
DRIVER_MEM = "2g"
MAX_CPUS = 4
PACKAGE = "datafusion_umami_spark"


def _cpu_s(pid: int | str) -> float:
    """utime + stime of one process, in seconds."""
    with open(f"/proc/{pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")


def _descendants(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        try:
            for task in os.listdir(f"/proc/{p}/task"):
                with open(f"/proc/{p}/task/{task}/children") as f:
                    kids = [int(k) for k in f.read().split()]
                out += kids
                todo += kids
        except OSError:  # the process exited while we walked it
            continue
    return out


def _tree_cpu_s(pid: int) -> float:
    total = 0.0
    for p in [pid, *_descendants(pid)]:
        try:
            total += _cpu_s(p)
        except OSError:
            pass
    return total


def _hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")


def _steal_jiffies() -> int:
    with open("/proc/stat") as f:
        return int(f.readline().split()[8])


def _host_loop_ms() -> float:
    """Median time of a fixed pure-Python loop: a host-speed index that,
    unlike steal, also shows contention the hypervisor does not report."""
    times = []
    for _ in range(5):
        t0 = time.perf_counter()
        total = 0
        for i in range(200_000):
            total += i * i
        times.append(time.perf_counter() - t0)
    return statistics.median(times) * 1e3


def _noise_controls(work: str) -> dict[str, str]:
    cpus = min(MAX_CPUS, len(os.sched_getaffinity(0)))
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "SPARK_GRAFT_STREAM_SCRATCH": os.path.join(work, "stream"),
        "TMPDIR": os.path.join(work, "tmp"),
        # no hsperfdata file in /tmp from the spark-submit launcher JVM
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
    }
    for d in ("SPARK_LOCAL_DIRS", "SPARK_GRAFT_STREAM_SCRATCH", "TMPDIR"):
        os.makedirs(env[d], exist_ok=True)
    os.environ.update(env)
    return env


class Bench:
    def __init__(self, workload, seed: int, seconds: float, trace: bool, work: str):
        self.wl = workload
        self.seed = seed
        self.seconds = seconds
        self.work = work
        self.rng = random.Random(seed)
        self.tracer = tracing.Tracer() if trace else None
        self.spark = None
        self.failures: list[str] = []  # set-up and warm-up failures
        self.setup_s: list[float] = []
        self.get_spark_s: list[float] = []
        self.registry_s: list[float] = []
        self.timed: list[dict] = []  # one record per timed execution

    # -- helpers ---------------------------------------------------------
    def call(self, name: str, fn, *args, **kwargs):
        if self.tracer is None:
            return fn(*args, **kwargs)
        return self.tracer.span(name, fn, *args, **kwargs)

    def confs(self) -> dict[str, str]:
        tmp = os.environ["TMPDIR"]
        # C1-only JIT: its compilation finishes during the warm-up, where
        # C2's would keep running through the timed window (NOTES.md).
        jvm = (f"-XX:TieredStopAtLevel=1 -XX:-UsePerfData"
               f" -Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}")
        return {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.driver.extraJavaOptions": jvm,
            **self.wl.confs,
        }

    def _cpu(self) -> tuple[float, float]:
        return _cpu_s("self"), _tree_cpu_s(self.jvm_pid)

    # -- phases ----------------------------------------------------------
    def make_inputs(self) -> None:
        self.data = datagen.write_dataset(os.path.join(self.work, "data"), self.wl.sf, self.seed)
        sys.path.insert(0, ROOT)
        from datafusion_umami_spark import oracle, registry

        registry._load_all()
        metrics.check_registry((*self.wl.queries, SETUP_QUERY), registry.REGISTRY)
        con = oracle.duckdb_connect(self.data)
        try:
            self.expected = {
                n: con.execute(registry.REGISTRY[n].oracle).df()
                for n in (*self.wl.queries, SETUP_QUERY)
            }
        finally:
            con.close()
        self.compare_frames = oracle.compare_frames

    def set_up(self) -> None:
        """One engine set-up: a fresh package import and registry, a
        SparkContext and session from get_spark, and the first query.
        The first set-up of the process also launches the JVM."""
        if self.spark is not None:
            self.spark.stop()
        for mod in [m for m in sys.modules if m == PACKAGE or m.startswith(PACKAGE + ".")]:
            del sys.modules[mod]
        t0 = time.perf_counter()
        import datafusion_umami_spark.operators.materialize as materialize
        from datafusion_umami_spark import registry, session

        if self.tracer is not None:
            tracing.install(self.tracer)
        t1 = time.perf_counter()
        self.spark = self.call("session.get_spark", session.get_spark, "perfbench", **self.confs())
        t2 = time.perf_counter()
        self.call("registry.load", registry._load_all)
        t3 = time.perf_counter()
        self.registry, self.materialize = registry.REGISTRY, materialize
        self.spark.sparkContext.setLogLevel("ERROR")
        self.jvm_pid = int(self.spark._jvm.ProcessHandle.current().pid())
        timed = self.execute(SETUP_QUERY)
        self.setup_s.append(time.perf_counter() - t0)
        self.get_spark_s.append(t2 - t1)
        self.registry_s.append(t3 - t2)
        ok, detail = self.check(SETUP_QUERY, timed)
        if not ok:
            self.failures.append(f"set-up {SETUP_QUERY}: {detail}")
        self.cleanup()

    def execute(self, name: str):
        spec = self.registry[name]
        return metrics.run_timed(
            lambda: self.call("queries.build", spec.fn, self.spark, self.data),
            lambda df: self.call("collect.to_pandas", df.toPandas),
        )

    def check(self, name: str, timed) -> tuple[bool, str]:
        def compare(pdf):
            r = self.compare_frames(name, pdf, self.expected[name])
            return r.ok, r.detail

        return metrics.judge(timed, compare)

    def cleanup(self) -> None:
        """Untimed, after every query: free held checkpoints (blocking),
        then a Python and a JVM collection drain the ContextCleaner."""
        self.materialize.release_all(blocking=True)
        gc.collect()
        self.spark.sparkContext._jvm.System.gc()

    def one_pass(self, timed: bool) -> float:
        order = list(self.wl.queries)
        self.rng.shuffle(order)
        pass_s = 0.0
        for name in order:
            if self.tracer is not None:
                self.tracer.query += 1
            cpu0 = self._cpu()
            t = self.execute(name)
            cpu1 = self._cpu()
            ok, detail = self.check(name, t)
            exec_m, windows = self.probe.exec_metrics(self.probe.drain())
            rec = {
                "name": name, "qid": self.tracer.query if self.tracer else None,
                "wall_s": t.wall_s, "ok": ok, "detail": detail,
                "python_cpu_s": cpu1[0] - cpu0[0], "jvm_cpu_s": cpu1[1] - cpu0[1],
                "rows": 0 if t.result is None else len(t.result), **exec_m,
            }
            if self.tracer is not None:
                if t.df is not None:
                    rec.update(tracing.SparkProbe.catalyst(t.df))
                self.add_job_spans(windows)
            self.cleanup()
            pass_s += t.wall_s
            if timed:
                self.timed.append(rec)
            elif not ok:
                self.failures.append(f"warm-up {name}: {detail}")
        return pass_s

    def add_job_spans(self, windows) -> None:
        qid = self.tracer.query
        mine = [s for s in self.tracer.spans if s.query == qid]
        offset = time.time() - time.perf_counter()
        for start, end in windows:
            start, end = start - offset, end - offset
            inside = [s for s in mine if s.start <= start <= s.end]
            parent = min(inside, key=lambda s: s.end - s.start).id if inside else None
            self.tracer.add("spark.job", start, end, parent)

    def run(self) -> dict:
        self.noise_controls = _noise_controls(self.work)
        t0 = time.perf_counter()
        self.make_inputs()
        t1 = time.perf_counter()
        for _ in range(SETUP_REPEATS):
            self.set_up()
        t2 = time.perf_counter()
        self.probe = tracing.SparkProbe(self.spark)
        for _ in range(WARMUP_PASSES):
            self.one_pass(timed=False)
        self.phase_s = {"inputs": t1 - t0, "set_up": t2 - t1, "warm_up": time.perf_counter() - t2}
        pass_times = []
        self.host_loop_ms = [_host_loop_ms()]
        steal0, w0 = _steal_jiffies(), time.perf_counter()
        while time.perf_counter() - w0 < self.seconds:
            pass_times.append(self.one_pass(timed=True))
        self.window_s = time.perf_counter() - w0
        self.steal = _steal_jiffies() - steal0
        self.host_loop_ms.append(_host_loop_ms())
        self.pass_times = pass_times
        self.peak_rss_mb = _hwm_mb("self") + _hwm_mb(self.jvm_pid)
        if self.wl.forced_spill:
            metrics.check_spill(sum(r["exec.spill_disk_mb"] for r in self.timed))
        return self.result()

    # -- results ---------------------------------------------------------
    def tally(self) -> metrics.Tally:
        tally = metrics.Tally()
        for r in self.timed:
            tally.record(r["name"], r["ok"], r["detail"])
        return tally

    def per_layer(self, walls: list[float], ok_count: int) -> dict[str, float]:
        n = len(self.timed)
        timed_ids = {r["qid"] for r in self.timed}
        span_sum: dict[str, float] = {}
        span_count: dict[str, int] = {}
        for s in self.tracer.spans:
            if s.query in timed_ids:
                span_count[s.name] = span_count.get(s.name, 0) + 1
                span_sum[s.name] = span_sum.get(s.name, 0.0) + (s.end - s.start)

        def mean(key: str) -> float:
            return sum(r.get(key, 0.0) for r in self.timed) / n

        v = {
            "session.get_spark_s": statistics.median(self.get_spark_s),
            "session.first_get_spark_s": self.get_spark_s[0],
            "registry.load_s": statistics.median(self.registry_s),
            "tables.register_views_s": span_sum.get("tables.register_views", 0.0) / n,
            "tables.register_views_calls": span_count.get("tables.register_views", 0) / n,
            "tables.table_calls": span_count.get("tables.table", 0) / n,
            "queries.build_s": span_sum.get("queries.build", 0.0) / n,
            "materialize.checkpoint_s": span_sum.get("materialize.checkpoint", 0.0) / n,
            "materialize.checkpoint_calls": span_count.get("materialize.checkpoint", 0) / n,
            "materialize.release_s": span_sum.get("materialize.release", 0.0) / n,
            "pagerank.call_s": span_sum.get("pagerank.call", 0.0) / n,
            "streaming.stream_to_memory_s": span_sum.get("streaming.stream_to_memory", 0.0) / n,
            "collect.to_pandas_s": span_sum.get("collect.to_pandas", 0.0) / n,
            "collect.rows": mean("rows"),
            "proc.jvm_cpu_s": mean("jvm_cpu_s"),
            "proc.python_cpu_s": mean("python_cpu_s"),
            "host.steal_jiffies": float(self.steal),
            "traced.queries_per_s": ok_count / sum(walls),
            "traced.accounted_frac": (span_sum.get("queries.build", 0.0)
                                      + span_sum.get("collect.to_pandas", 0.0)) / sum(walls),
        }
        for key in metrics.PER_LAYER:
            if key.startswith(("exec.", "catalyst.")) and key != "exec.peak_exec_mem_mb":
                v[key] = mean(key)
        v["exec.peak_exec_mem_mb"] = max(r["exec.peak_exec_mem_mb"] for r in self.timed)
        return v

    def self_times(self) -> dict[str, float]:
        """Mean self time per timed query of each span name."""
        timed_ids = {r["qid"] for r in self.timed}
        spans = [s for s in self.tracer.spans if s.query in timed_ids]
        kids: dict[int, list] = {}
        for s in spans:
            kids.setdefault(s.parent, []).append((s.start, s.end))
        out: dict[str, float] = {}
        for s in spans:
            out[s.name] = out.get(s.name, 0.0) + metrics.self_time(s.start, s.end, kids.get(s.id, []))
        return {k: v / len(self.timed) for k, v in sorted(out.items())}

    def result(self) -> dict:
        tally = self.tally()
        walls = [r["wall_s"] for r in self.timed]
        ok_count = tally.attempted - tally.failed
        tail = metrics.highest_supported(walls)
        diag = {
            "workload": self.wl.name, "seed": self.seed, "trace": self.tracer is not None,
            "noise_controls": self.noise_controls,
            "samples": len(walls), "passes": len(self.pass_times),
            "pass_s": [round(p, 4) for p in self.pass_times],
            "drift_last_over_first": round(self.pass_times[-1] / self.pass_times[0], 4),
            "window_s": round(self.window_s, 3),
            "phase_s": {k: round(v, 3) for k, v in self.phase_s.items()},
            "tail": None if tail is None else {"q": tail[0], "value_s": round(tail[1], 4)},
            "query_fail_frac": tally.fail_frac,
            "setup_samples_s": [round(s, 4) for s in self.setup_s],
            "cpu_s_per_query": round(
                sum(r["python_cpu_s"] + r["jvm_cpu_s"] for r in self.timed) / len(walls), 4
            ),
            "steal_jiffies": self.steal,
            "host_loop_ms": [round(x, 2) for x in self.host_loop_ms],
            "spill_disk_mb_total": round(sum(r["exec.spill_disk_mb"] for r in self.timed), 3),
            "median_wall_by_query": {
                n: round(statistics.median(r["wall_s"] for r in self.timed if r["name"] == n), 4)
                for n in sorted({r["name"] for r in self.timed})
            },
            "failures": self.failures + tally.failures,
        }
        if self.tracer is None:
            values = metrics.end_to_end(self.setup_s, walls, ok_count, self.peak_rss_mb)
            table = metrics.END_TO_END
        else:
            values = self.per_layer(walls, ok_count)
            table = metrics.PER_LAYER
            diag["self_s"] = {k: round(v, 4) for k, v in self.self_times().items()}
        print("# diag " + json.dumps(diag), file=sys.stderr)
        return {
            "correct": tally.failed == 0 and not self.failures,
            "attempted": tally.attempted,
            "failed": tally.failed,
            "metrics": metrics.render(values, table),
        }

    def close(self) -> None:
        """Stop Spark, then the gateway JVM and its Python workers, and
        wait until every one of them has exited."""
        if self.spark is not None:
            from pyspark import SparkContext

            kids = [self.jvm_pid, *_descendants(self.jvm_pid)]
            self.spark.stop()
            gateway = SparkContext._gateway
            gateway.shutdown()
            gateway.proc.stdin.close()
            gateway.proc.wait(timeout=60)
            deadline = time.monotonic() + 60
            while any(os.path.exists(f"/proc/{p}") for p in kids) and time.monotonic() < deadline:
                time.sleep(0.05)
        if self.tracer is not None:
            os.makedirs(os.path.join(HERE, "_work"), exist_ok=True)
            self.tracer.write(
                os.path.join(HERE, "_work", f"trace-{self.wl.name}-seed{self.seed}.json")
            )


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    work = os.path.join(HERE, "_work", f"{args.workload}-seed{args.seed}-pid{os.getpid()}")
    bench = Bench(WORKLOADS[args.workload], args.seed, args.seconds, bool(args.trace), work)
    try:
        out = bench.run()
    except metrics.GateError as exc:
        print(f"perfbench: workload gate failed: {exc}", file=sys.stderr)
        return 3
    finally:
        bench.close()
        shutil.rmtree(work, ignore_errors=True)
    sys.stdout.flush()
    print(json.dumps(out), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
