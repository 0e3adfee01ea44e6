"""Tracing for the per-layer run: spans recorded around the benchmark's own
calls into each layer, plus what Spark reports about the same interval.

Every operation runs under ``SparkContext.setJobGroup(op_id)``.  Streaming
queries run their jobs under their ``runId`` instead, so the
``onQueryStarted`` callback maps each ``runId`` to the operation that
started it.  After the run, the UI's REST API gives stages and SQL
executions by job group, which attributes executor CPU and operator
metrics to operations exactly.  Spans stay in memory until ``write``.
"""

from __future__ import annotations

import itertools
import json
import threading
import time
import urllib.request
from contextlib import contextmanager
from datetime import datetime

from pyspark import SparkContext
from pyspark.sql.streaming import StreamingQueryListener

# Python-executing plan nodes whose SQL metrics count the rows and bytes
# exchanged with Python workers.
_PYTHON_NODES = ("Python", "Pandas", "Arrow")
_UNITS = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}
PHASES = ("analysis", "optimization", "planning")
TRIGGER_PHASES = (
    "triggerExecution", "addBatch", "walCommit", "commitOffsets",
    "queryPlanning", "latestOffset", "getBatch",
)


def iso_epoch(ts: str) -> float:
    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


class Tracer:
    """In-memory span recorder.  A span is (id, name, layer, parent, op,
    start, end) with epoch-second times; ``op`` is the operation id that
    also tags the operation's Spark jobs."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._stack: list[dict] = []
        self.op: str | None = None

    @contextmanager
    def span(self, name: str, layer: str, op: str | None = None):
        parent = self._stack[-1]["id"] if self._stack else None
        s = {"id": next(self._ids), "name": name, "layer": layer, "parent": parent,
             "op": op or (self._stack[-1]["op"] if self._stack else None),
             "start": time.time(), "end": None}
        self._stack.append(s)
        self.spans.append(s)
        try:
            yield s
        finally:
            s["end"] = time.time()
            self._stack.pop()

    def add(self, name: str, layer: str, parent: int | None, op: str | None,
            start: float, end: float, **attrs) -> None:
        self.spans.append({"id": next(self._ids), "name": name, "layer": layer,
                           "parent": parent, "op": op, "start": start, "end": end,
                           **attrs})

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s) + "\n")

    def self_time(self) -> dict[str, float]:
        """Seconds each layer's spans spend outside their children's
        (merged) intervals."""
        children: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out: dict[str, float] = {}
        for s in self.spans:
            covered, cur_lo, cur_hi = 0.0, None, None
            for lo, hi in sorted(children.get(s["id"], [])):
                lo, hi = max(lo, s["start"]), min(hi, s["end"])
                if hi <= lo:
                    continue
                if cur_hi is None or lo > cur_hi:
                    covered += (cur_hi - cur_lo) if cur_hi is not None else 0.0
                    cur_lo, cur_hi = lo, hi
                else:
                    cur_hi = max(cur_hi, hi)
            covered += (cur_hi - cur_lo) if cur_hi is not None else 0.0
            out[s["layer"]] = out.get(s["layer"], 0.0) + (s["end"] - s["start"]) - covered
        return out


class StreamRecorder(StreamingQueryListener):
    """Records query starts (runId -> the tracer's current operation) and
    one progress record per trigger."""

    def __init__(self, tracer: Tracer) -> None:
        self.tracer = tracer
        self.lock = threading.Lock()
        self.started: dict[str, dict] = {}
        self.progress: list[dict] = []

    def onQueryStarted(self, event) -> None:  # noqa: N802
        with self.lock:
            self.started[str(event.runId)] = {
                "op": self.tracer.op, "name": event.name,
                "t": iso_epoch(event.timestamp),
            }

    def onQueryProgress(self, event) -> None:  # noqa: N802
        p = event.progress
        rec = {"runId": str(p.runId), "batchId": p.batchId, "t": iso_epoch(p.timestamp),
               "rows": p.numInputRows, "durationMs": dict(p.durationMs)}
        with self.lock:
            self.progress.append(rec)

    def onQueryIdle(self, event) -> None:  # noqa: N802
        pass

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        pass

    def op_of_run(self, run_id: str) -> str | None:
        got = self.started.get(run_id)
        return got["op"] if got else None


class PlanRecorder:
    """``QueryExecutionListener`` implemented through Py4J: keeps each
    finished execution's ``QueryPlanningTracker`` phases (epoch ms)."""

    def __init__(self) -> None:
        self.lock = threading.Lock()
        self.executions: list[dict] = []

    def onSuccess(self, funcName, qe, durationNs):  # noqa: N802, N803
        phases = qe.tracker().phases()
        rec = {"func": funcName}
        for name in PHASES:
            got = phases.get(name)
            if got.isDefined():
                rec[name] = (got.get().startTimeMs() / 1e3, got.get().durationMs())
        with self.lock:
            self.executions.append(rec)

    def onFailure(self, funcName, qe, exception):  # noqa: N802, N803
        pass

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


def attach(spark, tracer: Tracer) -> tuple[StreamRecorder, PlanRecorder]:
    from pyspark.java_gateway import ensure_callback_server_started

    ensure_callback_server_started(SparkContext._gateway)
    streams = StreamRecorder(tracer)
    spark.streams.addListener(streams)
    plans = PlanRecorder()
    spark._jsparkSession.listenerManager().register(plans)
    return streams, plans


# -- the UI's REST API, read once after the run -------------------------------

def rest(spark, path: str):
    sc = spark.sparkContext
    url = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}/{path}"
    with urllib.request.urlopen(url, timeout=60) as r:
        return json.load(r)


def _gmt_epoch(ts: str) -> float:
    """'2026-01-02T03:04:05.678GMT' (the REST API's format) -> epoch."""
    return iso_epoch(ts.replace("GMT", "+00:00"))


def _metric_value(text: str) -> float:
    """'total (min, med, max ...)\\n78.7 KiB (...)' or '10,000' -> number."""
    head = text.split("\n")[-1].split(" (")[0].strip()
    parts = head.split()
    if len(parts) == 2 and parts[1] in _UNITS:
        return float(parts[0].replace(",", "")) * _UNITS[parts[1]]
    try:
        return float(head.replace(",", ""))
    except ValueError:
        return 0.0


class StageLedger:
    """Stages, jobs and SQL executions of one application, keyed by the job
    group (operation id or streaming runId) that ran them."""

    def __init__(self, spark) -> None:
        self.jobs = rest(spark, "jobs")
        self.stages = [s for s in rest(spark, "stages") if s["status"] == "COMPLETE"]
        for rec in self.jobs + self.stages:
            t0, t1 = rec.get("submissionTime"), rec.get("completionTime")
            rec["t0"] = _gmt_epoch(t0) if t0 else None
            rec["t1"] = _gmt_epoch(t1) if t1 else rec["t0"]
        self.group_of_stage: dict[int, str | None] = {}
        group_of_job: dict[int, str | None] = {}
        for j in self.jobs:
            g = j.get("jobGroup")
            group_of_job[j["jobId"]] = g
            for sid in j["stageIds"]:
                self.group_of_stage[sid] = g
        self.python_by_group: dict[str | None, dict[str, float]] = {}
        for e in rest(spark, "sql?details=true&planDescription=false&length=1000000"):
            job_ids = e.get("successJobIds", []) + e.get("failedJobIds", [])
            g = group_of_job.get(job_ids[0]) if job_ids else None
            acc = self.python_by_group.setdefault(g, {"rows": 0.0, "sent": 0.0, "received": 0.0})
            for node in e.get("nodes", []):
                if not any(k in node["nodeName"] for k in _PYTHON_NODES):
                    continue
                m = {x["name"]: _metric_value(x["value"]) for x in node.get("metrics", [])}
                if "data sent to Python workers" not in m:
                    continue
                acc["rows"] += m.get("number of output rows", 0.0)
                acc["sent"] += m["data sent to Python workers"]
                acc["received"] += m.get("data returned from Python workers", 0.0)

    def totals(self, groups: set[str] | None,
               window: tuple[float, float] | None = None) -> dict[str, float]:
        """Sums over the jobs and stages of ``groups`` (all when None) that
        were submitted inside ``window`` (epoch seconds, when given)."""

        def keep(group, t0) -> bool:
            if groups is not None and group not in groups:
                return False
            return window is None or (t0 is not None and window[0] <= t0 <= window[1])

        t = dict.fromkeys(
            ("executor_cpu_s", "run_s", "gc_s", "stages", "tasks", "input_bytes",
             "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes"), 0.0)
        for s in self.stages:
            if not keep(self.group_of_stage.get(s["stageId"]), s["t0"]):
                continue
            t["executor_cpu_s"] += s["executorCpuTime"] / 1e9
            t["run_s"] += s["executorRunTime"] / 1e3
            t["gc_s"] += s["jvmGcTime"] / 1e3
            t["stages"] += 1
            t["tasks"] += s["numCompleteTasks"]
            t["input_bytes"] += s["inputBytes"]
            t["shuffle_read_bytes"] += s["shuffleReadBytes"]
            t["shuffle_write_bytes"] += s["shuffleWriteBytes"]
            t["spill_bytes"] += s["memoryBytesSpilled"] + s["diskBytesSpilled"]
        t["jobs"] = float(sum(1 for j in self.jobs if keep(j.get("jobGroup"), j["t0"])))
        py = [v for g, v in self.python_by_group.items() if groups is None or g in groups]
        for k in ("rows", "sent", "received"):
            t[f"python_{k}"] = sum(v[k] for v in py)
        return t
