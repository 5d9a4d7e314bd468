"""Per-layer tracing for the benchmark, installed from outside the library.

``LayerTracer.install`` replaces every public module-level function of the
layer packages (``sources``, ``functions``, ``operators``, ``geometry``)
and of the ``session`` module with a wrapper that records a
span: duration, and the part of it covered by nested spans, so a layer's
self time is its spans' durations minus their children.  It also counts
py4j round trips and ``DataFrame`` persist/cache/checkpoint calls.  It must
run before ``wrf_to_geodataframe_spark.suite`` is imported, so that the
suite binds the wrapped functions.

Wrappers keep the original's ``__module__`` and ``__qualname__`` and are
bound under that name, so cloudpickle pickles them by reference: Python
workers import the untraced original and executor work is not traced.

``read_event_log`` turns a Spark event log into per-job-group totals of
jobs, stages, tasks, task metrics and the ``PythonSQLMetrics`` accumulables.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import json
import os
import pkgutil
import sys
import threading
import time
from collections import defaultdict

PACKAGE = "wrf_to_geodataframe_spark"
# ``streaming`` is left out: no benchmark query reaches it
LAYERS = ["sources", "functions", "operators", "geometry", "session"]


class LayerTracer:
    def __init__(self) -> None:
        self.enabled = False
        self._local = threading.local()
        # layer -> [self seconds, calls]
        self.layers: dict[str, list[float]] = defaultdict(lambda: [0.0, 0])
        self.py4j_calls = 0
        self.persist_calls = 0

    def _stack(self) -> list[list[float]]:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    def span(self, layer: str, fn, *args, **kwargs):
        """Call ``fn`` inside a span credited to ``layer``."""
        stack = self._stack()
        frame = [0.0]  # seconds covered by child spans
        stack.append(frame)
        t0 = time.perf_counter()
        try:
            return fn(*args, **kwargs)
        finally:
            elapsed = time.perf_counter() - t0
            stack.pop()
            if stack:
                stack[-1][0] += elapsed
            acc = self.layers[layer]
            acc[0] += elapsed - frame[0]
            acc[1] += 1

    def _wrap(self, fn, layer: str):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not tracer.enabled:
                return fn(*args, **kwargs)
            return tracer.span(layer, fn, *args, **kwargs)

        return traced

    def install(self) -> None:
        if f"{PACKAGE}.suite" in sys.modules:
            raise RuntimeError("install the tracer before importing the suite")
        modules = [importlib.import_module(f"{PACKAGE}.session")]
        for layer in LAYERS:
            if layer == "session":
                continue  # a module, not a package
            pkg = importlib.import_module(f"{PACKAGE}.{layer}")
            modules.append(pkg)
            for info in pkgutil.iter_modules(pkg.__path__, f"{pkg.__name__}."):
                modules.append(importlib.import_module(info.name))

        originals: dict[int, object] = {}
        for mod in modules:
            layer = mod.__name__.split(".")[1]
            for name, obj in list(vars(mod).items()):
                if (
                    name.startswith("_")
                    or not inspect.isfunction(obj)
                    or obj.__module__ != mod.__name__
                    or obj.__qualname__ != name
                    or inspect.isgeneratorfunction(obj)
                    or hasattr(obj, "evalType")  # pandas_udf objects
                ):
                    continue
                wrapper = self._wrap(obj, layer)
                setattr(mod, name, wrapper)
                originals[id(obj)] = wrapper
        # rebind `from x import f` copies in every loaded library module
        for mod_name, mod in list(sys.modules.items()):
            if not mod_name.startswith(PACKAGE):
                continue
            for name, obj in list(vars(mod).items()):
                wrapper = originals.get(id(obj))
                if wrapper is not None and wrapper is not obj:
                    setattr(mod, name, wrapper)
        self._count_py4j()
        self._count_persists()

    def _count_py4j(self) -> None:
        from py4j import clientserver, java_gateway

        tracer = self
        for cls in (clientserver.ClientServerConnection, java_gateway.GatewayConnection):
            orig = cls.send_command

            def send_command(conn, command, _orig=orig):
                if tracer.enabled:
                    tracer.py4j_calls += 1
                return _orig(conn, command)

            cls.send_command = send_command

    def _count_persists(self) -> None:
        from pyspark.sql.classic.dataframe import DataFrame

        tracer = self
        for name in ("persist", "cache", "localCheckpoint", "checkpoint"):
            orig = getattr(DataFrame, name)

            @functools.wraps(orig)
            def counted(df, *args, _orig=orig, **kwargs):
                if tracer.enabled:
                    tracer.persist_calls += 1
                return _orig(df, *args, **kwargs)

            setattr(DataFrame, name, counted)


# Spark event-log task metrics summed per job group: metric -> (key path)
_TASK_METRICS = {
    "exec.run_ms": ("Executor Run Time",),
    "exec.cpu_ns": ("Executor CPU Time",),
    "exec.gc_ms": ("JVM GC Time",),
    "shuffle.write_bytes": ("Shuffle Write Metrics", "Shuffle Bytes Written"),
    "shuffle.read_local": ("Shuffle Read Metrics", "Local Bytes Read"),
    "shuffle.read_remote": ("Shuffle Read Metrics", "Remote Bytes Read"),
    "spill.bytes": ("Disk Bytes Spilled",),
    "input.bytes": ("Input Metrics", "Bytes Read"),
}
# PythonSQLMetrics accumulable names (Spark 4.1; timings in ms) -> metric
_PYTHON_ACCUMS = {
    "time to run Python workers": "python.total_ms",
    "time to start Python workers": "python.boot_ms",
    "data sent to Python workers": "python.bytes_sent",
    "data returned from Python workers": "python.bytes_received",
}


def read_event_log(log_dir: str) -> dict[str, dict[str, float]]:
    """Per job group: ``spark.jobs``, ``spark.stages``, ``spark.tasks``,
    ``spark.sched_delay_ms``, the task metrics above, the Python
    accumulables, and ``fetch.result_bytes`` (result size of the tasks
    of each job's final stage)."""
    stage_group: dict[int, str] = {}
    result_stages: set[int] = set()
    groups: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for fname in sorted(os.listdir(log_dir)):
        with open(os.path.join(log_dir, fname)) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if group is None:
                        continue
                    groups[group]["spark.jobs"] += 1
                    stage_ids = ev.get("Stage IDs", [])
                    for sid in stage_ids:
                        stage_group[sid] = group
                    if stage_ids:
                        result_stages.add(max(stage_ids))
                elif kind == "SparkListenerStageCompleted":
                    sid = ev["Stage Info"]["Stage ID"]
                    if sid in stage_group:
                        groups[stage_group[sid]]["spark.stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    sid = ev["Stage ID"]
                    group = stage_group.get(sid)
                    if group is None:
                        continue
                    acc = groups[group]
                    acc["spark.tasks"] += 1
                    info = ev.get("Task Info", {})
                    tm = ev.get("Task Metrics") or {}
                    for metric, path in _TASK_METRICS.items():
                        val = tm
                        for key in path:
                            val = val.get(key, 0) if isinstance(val, dict) else 0
                        acc[metric] += val or 0
                    # the Spark UI's scheduler delay; "Getting Result Time"
                    # is a timestamp, set only for results fetched remotely
                    finish = info.get("Finish Time", 0)
                    fetch_start = info.get("Getting Result Time", 0)
                    acc["spark.sched_delay_ms"] += max(
                        0,
                        finish
                        - info.get("Launch Time", 0)
                        - tm.get("Executor Run Time", 0)
                        - tm.get("Executor Deserialize Time", 0)
                        - tm.get("Result Serialization Time", 0)
                        - (finish - fetch_start if fetch_start > 0 else 0),
                    )
                    if sid in result_stages:
                        acc["fetch.result_bytes"] += tm.get("Result Size", 0)
                    for a in info.get("Accumulables", []):
                        metric = _PYTHON_ACCUMS.get(a.get("Name"))
                        if metric is not None:
                            acc[metric] += float(a.get("Update", 0) or 0)
    return groups
