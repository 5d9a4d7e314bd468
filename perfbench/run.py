"""Benchmark: one closed-loop client running one workload of suite queries.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Runs from the root of a source checkout on ``local[<cpus>]``, where
``<cpus>`` is the number of CPUs this process may use.  A single driver
thread builds each query, waits for ``.collect()`` to return its rows,
then issues the next (one client, closed loop).

Phases of a run:

1. Set-up (``setup_s``): write the seeded input table, start the Spark
   session, then run every query of the workload WARMUP_PASSES times,
   untimed, so most code generation and JIT warm-up land here and not in
   the timed passes.
2. Timed passes: the workload's queries in an order permuted by the seed,
   whole passes until ``--seconds`` have elapsed and at least MIN_PASSES
   have run.  Throughput is queries over the summed wall of all of them.
3. Check, untimed: every execution of a query must return the rows of
   its first; then each query runs once more through ``toPandas()`` and
   is compared bit-exactly with its DuckDB ``oracle_sql()`` on the same
   tables (``tools/check.py``'s ``compare``) and by row count with the
   timed executions.  Any mismatch or error counts in ``failed`` and
   makes the exit code 1.

With ``--trace 1`` the timed phase is split in halves: untraced passes,
then passes with the per-layer tracer (``perfbench/trace.py``) and the
Spark event log on.  The per-layer metrics are means per query execution
over the traced passes; ``trace.overhead_qpm`` is the untraced minus the
traced throughput.

Everything the run writes (input table, Spark local dirs, temp files,
event log) lives in a private directory under ``.perfbench_runs/`` in the
checkout, removed at exit.  Stdout ends with one JSON line:
``{"correct", "attempted", "failed", "metrics"}``; the line before it
holds provenance, per-pass walls and per-query latencies.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import threading
import time
from dataclasses import dataclass, field

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

# Query lists are names from ``__spark_entry__.queries()``.
WORKLOADS = {
    # The paper's pipeline: daily cell stats joined onto cell polygons,
    # grid -> Voronoi cells, conservative regridding by polygon overlay,
    # and the bucketed spatial join with the largest result fetch.
    # Stresses shuffles, geometry kernels in Python workers and the fetch.
    "grid_regrid": [
        "flagship_daily_cell_stats",
        "g1_voronoi_rect_cells",
        "regrid_conservative",
        "j3_bucketed_spatial_join",
    ],
    # Gridded ingest (netCDF and GRIB2 header reads in sources), WRF
    # diagnostics (the multi-name one persists its shared scan) and a CRS
    # projection: driver-side construction, file decoding in Python
    # workers; little shuffle and fetch.
    "wrf_getvar": [
        "s1_netcdf_dir_ingest",
        "s1_grib2_ingest",
        "s10_wrf_getvar_many",
        "g8_crs_lcc",
    ],
}

N_EVENTS = 100_000  # rows of the sf0.1 test table's events
WARMUP_PASSES = 3
# Timed passes.  With --seconds 8 this floor, not the clock, ends the
# timed phase on both workloads, so every run times the same number of
# passes: later passes still run faster (the JVM heap is still growing),
# and a run that fitted in one more pass would read faster.
MIN_PASSES = 4
RSS_INTERVAL_S = 0.2
TAIL_BEYOND = 10  # samples that must lie beyond the reported tail


def _descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], list(children.get(pid, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, []))
    return out


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _cpu_s() -> float:
    """CPU seconds (user + system, reaped children included) used so far by
    this process and its descendants.  Time the host steals from the
    virtual CPUs is not charged."""
    ticks = 0
    for pid in [os.getpid(), *_descendants(os.getpid())]:
        try:
            with open(f"/proc/{pid}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        ticks += sum(int(f) for f in fields[11:15])  # utime stime cutime cstime
    return ticks / os.sysconf("SC_CLK_TCK")


def _steal_ticks() -> tuple[int, int]:
    """(stolen, total) CPU ticks of the whole machine so far."""
    with open("/proc/stat") as fh:
        ticks = [int(v) for v in fh.readline().split()[1:]]
    return ticks[7], sum(ticks)


class MemorySampler:
    """Peak of the summed resident set sizes of this process's descendants:
    the driver JVM and its Python workers.  (``VmRSS`` is a counter read;
    ``smaps_rollup`` would give PSS but walks the JVM's page tables, about
    30 ms per read at 1.3 GB, under the JVM's mmap lock.)"""

    def __init__(self) -> None:
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            total = sum(_rss_kb(p) for p in _descendants(me))
            self.peak_kb = max(self.peak_kb, total)
            self._stop.wait(RSS_INTERVAL_S)

    def __enter__(self) -> MemorySampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


def _row_key(rows) -> list[str]:
    """Order-insensitive, bit-exact fingerprint of collected rows (float
    repr round-trips, and tells -0.0 from 0.0)."""
    return sorted(repr(tuple(r)) for r in rows)


def _tail(samples: list[float]) -> tuple[float | None, float | None]:
    """(value, percentile) of the highest percentile that still has
    TAIL_BEYOND samples beyond it; (None, None) with too few samples."""
    s = sorted(samples)
    k = len(s) - TAIL_BEYOND
    if k < 1:
        return None, None
    return s[k - 1], 100.0 * k / len(s)


def _source_digest() -> str:
    h = hashlib.sha256()
    paths = [os.path.join(ROOT, "__spark_entry__.py")]
    for dirpath, dirnames, files in os.walk(os.path.join(ROOT, "wrf_to_geodataframe_spark")):
        dirnames.sort()
        paths += [os.path.join(dirpath, f) for f in sorted(files) if f.endswith(".py")]
    for p in paths:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def _git_sha() -> str | None:
    try:
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() if out.returncode == 0 else None


@dataclass
class Passes:
    walls: list[float] = field(default_factory=list)  # seconds per pass
    cpu: list[float] = field(default_factory=list)  # CPU seconds per pass
    per_query: dict[str, list[float]] = field(default_factory=dict)  # latencies
    traces: list[dict] = field(default_factory=list)  # one per execution
    steal_frac: float = 0.0  # share of the machine's CPU time stolen

    def queries_per_min(self, per_pass: int) -> float:
        """Queries completed per minute over all the timed passes."""
        return 60.0 * per_pass * len(self.walls) / sum(self.walls)


class Runner:
    """Runs the workload's queries and keeps the books on their results:
    every execution of a query must return the rows of its first."""

    def __init__(self, spark, names: list[str], queries, data_dir: str) -> None:
        self.spark = spark
        self.names = names
        self.queries = queries
        self.data_dir = data_dir
        self.first: dict[str, list[str]] = {}  # row key of the first result
        self.ok: dict[str, int] = dict.fromkeys(names, 0)  # executions matching first
        self.attempted = 0
        self.failed = 0
        self.failures: dict[str, str] = {}  # first reason per query

    def _fail(self, name: str, reason: str, executions: int = 1) -> None:
        self.failed += executions
        self.failures.setdefault(name, reason[:300])

    def _record(self, name: str, rows) -> None:
        key = _row_key(rows)
        if name not in self.first:
            self.first[name] = key
        elif key != self.first[name]:
            self._fail(name, "rows differ between executions")
            return
        self.ok[name] += 1

    def run_one(self, name: str, tracer=None, group: int = 0) -> tuple[float, dict]:
        """Build, collect and record one query; returns (latency, trace)."""
        self.attempted += 1
        sc = self.spark.sparkContext
        info: dict = {}
        t0 = time.perf_counter()
        try:
            if tracer is None:
                df = self.queries[name](self.spark, self.data_dir)
                rows = df.collect()
            else:
                sc.setJobGroup(f"b{group}", name)
                py4j0 = tracer.py4j_calls
                tracer.enabled = True
                df = tracer.span("suite", self.queries[name], self.spark, self.data_dir)
                t1 = time.perf_counter()
                info["py4j.calls"] = tracer.py4j_calls - py4j0
                sc.setJobGroup(f"a{group}", name)
                df._jdf.queryExecution().executedPlan()
                t2 = time.perf_counter()
                rows = df.collect()
                t3 = time.perf_counter()
                tracer.enabled = False
                info.update({
                    "suite.build_s": t1 - t0,
                    "suite.plan_s": t2 - t1,
                    "suite.collect_s": t3 - t2,
                    "fetch.rows": len(rows),
                })
            latency = time.perf_counter() - t0
            self._record(name, rows)
        except Exception as ex:  # a failing query must not hide the rest
            latency = time.perf_counter() - t0
            self._fail(name, f"{type(ex).__name__}: {ex}")
            print(f"query {name} failed: {ex}", file=sys.stderr)
        finally:
            if tracer is not None:
                tracer.enabled = False
                sc.setJobGroup("", "")
        self.spark.catalog.clearCache()
        return latency, info

    def passes(self, rng: random.Random, seconds: float, min_passes: int, tracer=None) -> Passes:
        """Whole passes in seed-permuted order until `seconds` have elapsed
        and at least `min_passes` have run."""
        out = Passes()
        start = time.perf_counter()
        steal0 = _steal_ticks()
        while len(out.walls) < min_passes or time.perf_counter() - start < seconds:
            t0, cpu0 = time.perf_counter(), _cpu_s()
            for name in rng.sample(self.names, len(self.names)):
                lat, info = self.run_one(name, tracer, group=len(out.traces))
                out.per_query.setdefault(name, []).append(lat)
                out.traces.append(info)
            out.walls.append(time.perf_counter() - t0)
            out.cpu.append(_cpu_s() - cpu0)
        steal1 = _steal_ticks()
        out.steal_frac = (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1])
        return out

    def check(self, oracles: dict[str, str]) -> None:
        """Run each query once more through ``toPandas()`` (the frame
        ``tools/check.py`` compares) and compare it bit-exactly with its
        DuckDB oracle, and its row count with the timed executions'."""
        import duckdb
        from tools.check import compare

        con = duckdb.connect()
        for f in sorted(os.listdir(self.data_dir)):
            table = f.removesuffix(".parquet")
            con.execute(f"CREATE VIEW {table} AS SELECT * FROM '{os.path.join(self.data_dir, f)}'")
        for name, first in self.first.items():
            self.attempted += 1
            try:
                pdf = self.queries[name](self.spark, self.data_dir).toPandas()
            except Exception as ex:
                issues = [f"{type(ex).__name__}: {ex}"]
            else:
                if name in oracles:
                    issues = compare(name, pdf, con.execute(oracles[name]).df())
                else:
                    issues = ["no oracle"]
                if len(pdf) != len(first):
                    issues.append(f"toPandas gave {len(pdf)} rows, collect {len(first)}")
            if issues:  # the timed executions returned the same rows
                self._fail(name, "; ".join(issues), self.ok[name] + 1)
        con.close()


def _layer_metrics(tracer, traces: list[dict], run_dir: str) -> dict[str, tuple[float, str]]:
    from perfbench.trace import LAYERS, read_event_log

    n = len(traces)
    groups = read_event_log(os.path.join(run_dir, "events"))
    build = [groups.get(f"b{i}", {}) for i in range(n)]
    action = [groups.get(f"a{i}", {}) for i in range(n)]

    def mean(values) -> float:
        return sum(values) / n

    def spark_sum(key: str) -> float:
        return mean(b.get(key, 0) + a.get(key, 0) for b, a in zip(build, action))

    out = {
        "suite.build_s": (mean(t.get("suite.build_s", 0) for t in traces), "s"),
        "suite.plan_s": (mean(t.get("suite.plan_s", 0) for t in traces), "s"),
        "suite.collect_s": (mean(t.get("suite.collect_s", 0) for t in traces), "s"),
        "suite.self_s": (tracer.layers["suite"][0] / n, "s"),
        "suite.build_jobs": (mean(b.get("spark.jobs", 0) for b in build), "count"),
        "py4j.calls": (mean(t.get("py4j.calls", 0) for t in traces), "count"),
    }
    for layer in LAYERS:
        self_s, calls = tracer.layers[layer]
        out[f"{layer}.self_s"] = (self_s / n, "s")
        out[f"{layer}.calls"] = (calls / n, "count")
    out["session.persist_calls"] = (tracer.persist_calls / n, "count")
    for key in ("spark.jobs", "spark.stages", "spark.tasks"):
        out[key] = (spark_sum(key), "count")
    out["spark.sched_delay_ms"] = (spark_sum("spark.sched_delay_ms"), "ms")
    out["exec.run_ms"] = (spark_sum("exec.run_ms"), "ms")
    out["exec.cpu_ms"] = (spark_sum("exec.cpu_ns") / 1e6, "ms")
    out["exec.gc_ms"] = (spark_sum("exec.gc_ms"), "ms")
    out["python.total_ms"] = (spark_sum("python.total_ms"), "ms")
    out["python.boot_ms"] = (spark_sum("python.boot_ms"), "ms")
    out["python.bytes_sent"] = (spark_sum("python.bytes_sent"), "B")
    out["python.bytes_received"] = (spark_sum("python.bytes_received"), "B")
    out["shuffle.write_bytes"] = (spark_sum("shuffle.write_bytes"), "B")
    out["shuffle.read_bytes"] = (
        spark_sum("shuffle.read_local") + spark_sum("shuffle.read_remote"), "B"
    )
    out["spill.bytes"] = (spark_sum("spill.bytes"), "B")
    out["input.bytes"] = (spark_sum("input.bytes"), "B")
    out["fetch.result_bytes"] = (mean(a.get("fetch.result_bytes", 0) for a in action), "B")
    out["fetch.rows"] = (mean(t.get("fetch.rows", 0) for t in traces), "count")
    return out


def _stop_spark(spark) -> None:
    """Stop the session, then the gateway JVM, and wait for it to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def run(args, run_dir: str) -> int:
    names = WORKLOADS[args.workload]
    cpus = len(os.sched_getaffinity(0))
    data_dir = os.path.join(run_dir, "data")
    extra_conf = None
    if args.trace:
        os.makedirs(os.path.join(run_dir, "events"))
        extra_conf = {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": os.path.join(run_dir, "events"),
            "spark.eventLog.rolling.enabled": "false",
            "spark.eventLog.compress": "false",
        }

    tracer = None
    if args.trace:
        from perfbench.trace import LayerTracer

        tracer = LayerTracer()
        tracer.install()

    with MemorySampler() as mem:
        t_setup = time.perf_counter()
        from perfbench.inputs import write_events

        write_events(data_dir, args.seed, N_EVENTS)
        setup_phases = {"inputs_s": time.perf_counter() - t_setup}
        from wrf_to_geodataframe_spark.session import get_spark

        spark = get_spark("perfbench", extra_conf=extra_conf)
        try:
            spark.sparkContext.setLogLevel("ERROR")
            import __spark_entry__ as entry

            queries, oracles = entry.queries(), entry.oracle_sql()
            setup_phases["session_s"] = time.perf_counter() - t_setup
            runner = Runner(spark, names, queries, data_dir)
            setup_phases["warmup_pass_walls_s"] = []
            for _ in range(WARMUP_PASSES):
                t0 = time.perf_counter()
                for name in names:
                    runner.run_one(name)
                setup_phases["warmup_pass_walls_s"].append(time.perf_counter() - t0)
            setup_s = time.perf_counter() - t_setup

            rng = random.Random(args.seed)
            if tracer is None:
                timed = runner.passes(rng, args.seconds, MIN_PASSES)
            else:  # split the time between untraced and traced passes
                timed = runner.passes(rng, args.seconds / 2, 1)
                traced = runner.passes(rng, args.seconds / 2, 1, tracer)
            t_check = time.perf_counter()
            runner.check(oracles)
            check_s = time.perf_counter() - t_check
            provenance = {
                "git_sha": _git_sha(),
                "source_sha256": _source_digest(),
                "nproc": cpus,
                "spark.master": spark.conf.get("spark.master"),
                "spark.driver.memory": spark.conf.get("spark.driver.memory"),
                "seed": args.seed,
                "events_rows": N_EVENTS,
                "pyspark": __import__("pyspark").__version__,
                "spark": spark.version,
                "java": spark.sparkContext._jvm.System.getProperty("java.version"),
                "trace": bool(args.trace),
            }
        finally:
            _stop_spark(spark)

    latencies = [lat for v in timed.per_query.values() for lat in v]
    tail, tail_pct = _tail(latencies)
    metrics: dict[str, tuple[float, str]]
    if tracer is None:
        metrics = {
            "setup_s": (setup_s, "s"),
            "queries_per_min": (timed.queries_per_min(len(names)), "1/min"),
        }
    else:
        metrics = _layer_metrics(tracer, traced.traces, run_dir)
        metrics["trace.overhead_qpm"] = (
            timed.queries_per_min(len(names)) - traced.queries_per_min(len(names)), "1/min"
        )
        # Not an end-to-end metric: the JVM's resident heap follows its
        # collector's sizing decisions, and ten-seed spreads reached 0.38.
        metrics["peak_rss_mb"] = (mem.peak_kb / 1024.0, "MB")
    detail = {
        "workload": args.workload,
        "provenance": provenance,
        "setup_phases": setup_phases,
        "pass_walls_s": timed.walls,
        "pass_cpu_s": timed.cpu,
        "query_cpu_s": statistics.median(timed.cpu) / len(names),
        "peak_rss_mb": mem.peak_kb / 1024.0,
        "first_last_pass_ratio": timed.walls[0] / timed.walls[-1],
        "host_steal_frac": timed.steal_frac,
        "query_p50_s": statistics.median(latencies),
        "query_tail_s": {"value": tail, "percentile": tail_pct, "samples": len(latencies)},
        "query_latencies_s": timed.per_query,
        "check_s": check_s,
        "fail_frac": runner.failed / runner.attempted,
        "failures": runner.failures,
    }
    print(json.dumps(detail))
    print(json.dumps({
        "correct": runner.failed == 0,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0 if runner.failed == 0 else 1


def main() -> int:
    # a terminated run still stops Spark and removes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "__spark_entry__.py")):
        print(f"no __spark_entry__.py under {ROOT}: not a source checkout", file=sys.stderr)
        return 2

    runs_dir = os.path.join(ROOT, ".perfbench_runs")
    os.makedirs(runs_dir, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=runs_dir)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    # Everything the library, Spark, the JVM and the Python workers write
    # goes under run_dir; the workers import the library from ROOT.
    os.environ.update({
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "spark"),
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "TZ": "UTC",
    })
    # get_spark would take its master and driver heap from these instead
    for var in ("SPARK_MASTER", "SPARK_DRIVER_MEMORY"):
        os.environ.pop(var, None)
    time.tzset()
    tempfile.tempdir = None
    os.chdir(run_dir)
    try:
        return run(args, run_dir)
    finally:
        os.chdir(ROOT)
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(runs_dir)
        except OSError:
            pass  # another run is still using it


if __name__ == "__main__":
    sys.exit(main())
