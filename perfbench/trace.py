"""Span tracing around the engine's layer boundaries, from outside.

The tracer patches the public functions of each layer (module or class
attribute, plus every ``from x import f`` alias inside ``etly_spark``)
with a wrapper that records a span: name, layer, start, end, parent
span, op id. Spans live in memory and are written out once, at exit.
They are timed by the monotonic clock and placed on the wall-clock
timeline of Spark's status store by the offset between the two clocks
at the start of their op, so a step of the wall clock (a virtual
machine resyncing its time) cannot stretch a span.
A span opened in a thread with no open span (a window worker thread,
a query's branch pool) takes the op's root span as parent.

``SparkProbe`` reads Spark's status tracker and status store after an
op: the op's jobs (by the job group the benchmark sets, plus any job
submitted inside the op's interval from a thread that did not inherit
the group), their stages and tasks, and SQL metrics of the op's
executions. ``Py4jCounter`` counts driver→JVM calls made during ops.
"""

from __future__ import annotations

import itertools
import json
import os
import re
import sys
import threading
import time
from collections.abc import Callable

from py4j.protocol import Py4JJavaError

from perfbench import stats


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._ids = itertools.count(1)
        self._tls = threading.local()
        self._patches: list[tuple[object, str, object]] = []
        self.op: dict | None = None  # the open op's root span
        self._offset = 0.0  # wall clock minus monotonic clock at op start

    # ----------------------------------------------------------- spans --

    def _stack(self) -> list[int]:
        st = getattr(self._tls, "stack", None)
        if st is None:
            st = self._tls.stack = []
        return st

    def now(self) -> float:
        return time.monotonic() + self._offset

    def begin_op(self, op_id: str, name: str) -> None:
        self._offset = time.time() - time.monotonic()
        self.op = {"id": next(self._ids), "name": name, "layer": "op", "op": op_id,
                   "parent": None, "start": self.now(), "end": None}

    def end_op(self) -> dict:
        op, self.op = self.op, None
        op["end"] = self.now()
        with self._lock:
            self.spans.append(op)
        return op

    def wrap(self, fn: Callable, layer: str, name: str,
             on_result: Callable | None = None) -> Callable:
        tracer = self

        def traced(*args, **kwargs):
            op = tracer.op
            if op is None:
                return fn(*args, **kwargs)
            stack = tracer._stack()
            sid = next(tracer._ids)
            rec = {"id": sid, "name": name, "layer": layer, "op": op["op"],
                   "parent": stack[-1] if stack else op["id"]}
            stack.append(sid)
            rec["start"] = tracer.now()
            res = None
            try:
                res = fn(*args, **kwargs)
                return res
            finally:
                rec["end"] = tracer.now()
                stack.pop()
                if on_result is not None:
                    rec.update(on_result(args, res))
                with tracer._lock:
                    tracer.spans.append(rec)

        traced.__wrapped__ = fn
        return traced

    def patch(self, owner, attr: str, layer: str, name: str | None = None,
              on_result: Callable | None = None) -> None:
        """Replace ``owner.attr`` (a module function, method, classmethod
        or staticmethod) with a traced wrapper; plain functions are also
        replaced wherever an ``etly_spark`` module imported them by name."""
        name = name or attr
        raw = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
        if isinstance(raw, classmethod):
            new = classmethod(self.wrap(raw.__func__, layer, name, on_result))
        elif isinstance(raw, staticmethod):
            new = staticmethod(self.wrap(raw.__func__, layer, name, on_result))
        else:
            new = self.wrap(raw, layer, name, on_result)
        self._set(owner, attr, new, raw)
        if not isinstance(owner, type) and callable(raw):
            for mod in list(sys.modules.values()):
                mname = getattr(mod, "__name__", "") or ""
                if mod is owner or not mname.startswith("etly_spark"):
                    continue
                for k, v in list(vars(mod).items()):
                    if v is raw:
                        self._set(mod, k, new, raw)

    def _set(self, owner, attr, new, raw) -> None:
        self._patches.append((owner, attr, raw))
        setattr(owner, attr, new)

    def unpatch(self) -> None:
        for owner, attr, raw in reversed(self._patches):
            setattr(owner, attr, raw)
        self._patches.clear()

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


def layer_self_times(spans: list[dict]) -> dict[str, float]:
    """Sum of self time per layer; the op root's self time is the part
    of the op that no traced layer covers."""
    own = stats.self_times(spans)
    out: dict[str, float] = {}
    for s in spans:
        out[s["layer"]] = out.get(s["layer"], 0.0) + own[s["id"]]
    return out


class Py4jCounter:
    """Counts py4j commands the driver sends while ``active``."""

    def __init__(self, spark) -> None:
        self.calls = 0
        self.active = False
        self._lock = threading.Lock()  # window threads call py4j concurrently
        self._client = spark.sparkContext._gateway._gateway_client
        self._orig = self._client.send_command
        counter = self

        def send_command(*args, **kwargs):
            if counter.active:
                with counter._lock:
                    counter.calls += 1
            return counter._orig(*args, **kwargs)

        self._client.send_command = send_command

    def close(self) -> None:
        self._client.send_command = self._orig


_SIZE_RE = re.compile(r"([0-9][0-9,.]*)\s*(B|KiB|MiB|GiB|TiB)\b")
_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}


def parse_size(text: str) -> float:
    """Total of a Spark SQL size metric string: either '1.5 KiB' or
    'total (min, med, max ...)\\n1.5 KiB (...)' — the first size after
    the header line."""
    body = text.split("\n", 1)[-1]
    m = _SIZE_RE.search(body)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS[m.group(2)]


class SparkProbe:
    """Per-op job, stage, task and SQL-metric counts from Spark's own
    status stores. Reads happen after the op, outside its timing."""

    PYTHON_METRICS = ("data sent to Python workers", "data returned from Python workers")

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        jvm = self.sc._jvm
        self.store = self.sc._jsc.sc().statusStore()
        self.sql = spark._jsparkSession.sharedState().statusStore()
        scala = jvm.java.lang.Class.forName(
            "com.fasterxml.jackson.module.scala.DefaultScalaModule$"
        ).getField("MODULE$").get(None)
        self.mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper().registerModule(scala)
        self.last_job = -1
        self.last_exec = -1

    def _json(self, obj) -> dict:
        return json.loads(self.mapper.writeValueAsString(obj))

    def begin(self, op_id: str) -> None:
        self.sc.setJobGroup(op_id, op_id)

    def end(self, op_id: str, start: float, end: float) -> dict:
        """Counts for the op that ran under ``op_id`` in [start, end]."""
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        grouped = set(self.sc.statusTracker().getJobIdsForGroup(op_id))
        jobs, intervals = [], []
        job_id = self.last_job + 1
        while True:  # job ids are dense; walk every job since the last op
            try:
                jd = self._json(self.store.job(job_id))
            except Py4JJavaError:  # NoSuchElementException: no such job yet
                break
            self.last_job = job_id
            job_id += 1
            sub = (jd.get("submissionTime") or 0) / 1000.0
            if jd["jobId"] in grouped or start <= sub <= end:
                jobs.append(jd)
        out = {"jobs": len(jobs), "grouped_jobs": sum(j["jobId"] in grouped for j in jobs),
               "stages": 0, "tasks": 0, "failed_tasks": 0, "executor_run_s": 0.0,
               "shuffle_bytes": 0.0, "python_bytes": 0.0}
        for jd in jobs:
            if jd.get("submissionTime") and jd.get("completionTime"):
                intervals.append((jd["submissionTime"] / 1000.0, jd["completionTime"] / 1000.0))
            for sid in jd.get("stageIds") or []:
                try:
                    sd = self._json(self.store.lastStageAttempt(sid))
                except Py4JJavaError:  # evicted from the status store
                    continue
                if sd.get("status") == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += sd.get("numTasks", 0)
                out["failed_tasks"] += sd.get("numFailedTasks", 0)
                out["executor_run_s"] += sd.get("executorRunTime", 0) / 1000.0
                out["shuffle_bytes"] += sd.get("shuffleReadBytes", 0) + sd.get("shuffleWriteBytes", 0)
        out["python_bytes"] = self._python_bytes(start, end)
        job_iv = stats.union(stats.clip(intervals, start, end))
        out["job_busy_s"] = sum(e - s for s, e in job_iv)
        out["nonjob_s"] = (end - start) - out["job_busy_s"]
        out["job_intervals"] = job_iv
        return out

    def _python_bytes(self, start: float, end: float) -> float:
        """Arrow bytes to and from Python workers over the SQL executions
        submitted in [start, end]."""
        total = 0.0
        eid = self.last_exec + 1
        while True:
            ex = self.sql.execution(eid)
            if not ex.isDefined():
                break
            self.last_exec = eid
            eid += 1
            if not start <= ex.get().submissionTime() / 1000.0 <= end:
                continue
            metrics = self.sql.executionMetrics(eid - 1)
            graph = self._json(self.sql.planGraph(eid - 1).allNodes())
            for node in graph:
                for m in node.get("metrics") or []:
                    if m.get("name") in self.PYTHON_METRICS:
                        v = metrics.get(m["accumulatorId"])
                        if v.isDefined():
                            total += parse_size(v.get())
        return total


def peak_rss_mb(jvm_pid: int | None) -> float:
    """VmHWM of this process plus the JVM's, in MB."""
    total = 0
    for pid in (os.getpid(), jvm_pid):
        if not pid:
            continue
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1])
        except OSError:
            continue
    return total / 1024.0
