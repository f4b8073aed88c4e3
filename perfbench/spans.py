"""Spans, counters and Spark status-store readers for traced runs.

A span is one interval at a layer boundary: ``name``, ``layer``,
``start``/``end`` (epoch seconds), ``parent`` span id and the run id
shared by every span of one benchmark run. Python-side spans are
recorded around calls into the package's public functions; Spark-side
spans (Catalyst phases, jobs, stages) are read back from the
application status store, which Spark keeps with the UI disabled.
Spans stay in memory and are written out once, at exit.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import re
import threading
import time


class Tracer:
    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()

    def add(self, name: str, layer: str, start: float, end: float,
            parent: int | None = None, **attrs) -> dict:
        with self._lock:
            span = {"run_id": self.run_id, "id": next(self._ids), "parent": parent,
                    "name": name, "layer": layer, "start": start, "end": end}
            if attrs:
                span["attrs"] = attrs
            self.spans.append(span)
        return span

    @contextlib.contextmanager
    def span(self, name: str, layer: str, parent: int | None = None, **attrs):
        span = self.add(name, layer, time.time(), float("nan"), parent, **attrs)
        try:
            yield span
        finally:
            span["end"] = time.time()

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for span in self.spans:
                f.write(json.dumps(span) + "\n")


def union_seconds(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> duration minus the part of it its children cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {
        s["id"]: (s["end"] - s["start"])
        - union_seconds(children.get(s["id"], ()), s["start"], s["end"])
        for s in spans
    }


def layer_self_seconds(spans: list[dict]) -> dict[str, float]:
    st = self_times(spans)
    out: dict[str, float] = {}
    for s in spans:
        out[s["layer"]] = out.get(s["layer"], 0.0) + st[s["id"]]
    return out


def innermost(candidates: list[dict], t: float, default: int | None,
              slack: float = 0.002) -> int | None:
    """Id of the shortest span in ``candidates`` that contains time
    ``t`` (JVM timestamps have millisecond resolution, hence the
    slack), or ``default``."""
    inside = [c for c in candidates if c["start"] - slack <= t <= c["end"] + slack]
    if not inside:
        return default
    return min(inside, key=lambda c: c["end"] - c["start"])["id"]


class Py4JCounter:
    """Counts py4j round-trips from Python to the JVM while active."""

    def __init__(self, spark):
        self._client = spark.sparkContext._gateway._gateway_client
        self.calls = 0

    def __enter__(self):
        orig = self._client.send_command

        def counted(*args, **kwargs):
            self.calls += 1
            return orig(*args, **kwargs)

        self._client.send_command = counted
        return self

    def __exit__(self, *exc):
        del self._client.send_command  # back to the class method


_UNITS = {"ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
          "B": 1.0, "KiB": 2.0 ** 10, "MiB": 2.0 ** 20, "GiB": 2.0 ** 30,
          "TiB": 2.0 ** 40}


def parse_sql_metric(text: str) -> float:
    """Total of one formatted SQL metric value: ``"305 ms"``,
    ``"23.5 KiB"``, ``"1,024"``, or the multi-task form whose second
    line starts with the total."""
    line = text.strip().split("\n")[-1]
    m = re.match(r"\s*([-0-9.,]+)\s*([A-Za-z]*)", line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


class SparkStatus:
    """Reads jobs, stages and SQL-execution metrics from the status
    stores. Scala collections are serialised to JSON on the JVM side
    (Jackson with the Scala module, as Spark's REST API does), so one
    read costs one round-trip however many jobs there are."""

    def __init__(self, spark):
        jvm = spark._jvm
        self._gw = spark.sparkContext._gateway
        self._jvm = jvm
        self._store = spark.sparkContext._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_module = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        self._mapper.registerModule(scala_module.__getattr__("MODULE$"))

    def _json(self, obj):
        return json.loads(self._mapper.writeValueAsString(obj))

    def jobs(self) -> list[dict]:
        return self._json(self._store.jobsList(None))

    def stages(self) -> list[dict]:
        return self._json(self._store.stageList(
            None, False, False, self._gw.new_array(self._jvm.double, 0),
            self._jvm.java.util.ArrayList()))

    def sql_metrics(self, job_ids: set[int]) -> dict[str, float]:
        """Summed SQL metrics, by metric name, over the SQL executions
        that ran any of ``job_ids``."""
        totals: dict[str, float] = {}
        if not job_ids:
            return totals
        execs = self._sql.executionsList()
        for i in range(execs.size()):
            ex = execs.apply(i)
            ran = {int(j) for j in re.findall(r"(\d+) ->", ex.jobs().toString())}
            if not ran & job_ids:
                continue
            names = {m["accumulatorId"]: m["name"] for m in self._json(ex.metrics())}
            values = self._json(self._sql.executionMetrics(ex.executionId()))
            for acc, text in values.items():
                name = names.get(int(acc))
                if name is not None:
                    totals[name] = totals.get(name, 0.0) + parse_sql_metric(text)
        return totals


PYTHON_WORKER_METRICS = (
    "time to start Python workers",
    "time to initialize Python workers",
    "time to run Python workers",
)


def job_spans(tracer: Tracer, jobs: list[dict], stages: dict[int, dict],
              parent_of) -> list[dict]:
    """Add a span per finished job and one per stage under it.
    ``parent_of(start)`` picks the enclosing Python span id."""
    out = []
    for job in jobs:
        if job.get("submissionTime") is None or job.get("completionTime") is None:
            continue
        start, end = job["submissionTime"] / 1e3, job["completionTime"] / 1e3
        js = tracer.add(f"job.{job['jobId']}", "exec", start, end, parent_of(start),
                        job_id=job["jobId"], status=job["status"])
        out.append(js)
        for sid in job.get("stageIds", ()):
            st = stages.get(sid)
            if st and st.get("submissionTime") and st.get("completionTime"):
                tracer.add(f"stage.{sid}", "exec.stage", st["submissionTime"] / 1e3,
                           st["completionTime"] / 1e3, js["id"], stage_id=sid)
    return out


def stage_totals(jobs: list[dict], stages: dict[int, dict]) -> dict[str, float]:
    ids = {sid for j in jobs for sid in j.get("stageIds", ()) if sid in stages}
    sel = [stages[s] for s in ids]
    return {
        "stages": len(sel),
        "tasks": sum(s["numTasks"] for s in sel),
        "executor_run_s": sum(s["executorRunTime"] for s in sel) / 1e3,
        "executor_cpu_s": sum(s["executorCpuTime"] for s in sel) / 1e9,
        "gc_s": sum(s["jvmGcTime"] for s in sel) / 1e3,
        "shuffle_write_bytes": sum(s["shuffleWriteBytes"] for s in sel),
        "shuffle_read_bytes": sum(s["shuffleReadBytes"] for s in sel),
        "fetch_wait_s": sum(s["shuffleFetchWaitTime"] for s in sel) / 1e3,
        "spill_bytes": sum(s["memoryBytesSpilled"] + s["diskBytesSpilled"] for s in sel),
        "peak_exec_memory_bytes": max((s["peakExecutionMemory"] for s in sel), default=0),
        "input_records": sum(s["inputRecords"] for s in sel),
    }


def exec_metrics(status: SparkStatus, jobs: list[dict],
                 stages: dict[int, dict]) -> dict[str, float]:
    """The ``exec.*`` per-layer metrics over ``jobs``. Python-worker
    time is Spark's start + initialise + run time of Python-exec
    operators, summed over tasks."""
    totals = stage_totals(jobs, stages)
    del totals["input_records"]
    out = {f"exec.{k}": v for k, v in totals.items()}
    out["exec.jobs"] = len(jobs)
    sql = status.sql_metrics({j["jobId"] for j in jobs})
    out["exec.python_worker_s"] = sum(sql.get(m, 0.0) for m in PYTHON_WORKER_METRICS)
    return out


def latest_stages(stages: list[dict]) -> dict[int, dict]:
    """Stage id -> its latest attempt."""
    out: dict[int, dict] = {}
    for s in stages:
        if s["stageId"] not in out or s["attemptId"] > out[s["stageId"]]["attemptId"]:
            out[s["stageId"]] = s
    return out
