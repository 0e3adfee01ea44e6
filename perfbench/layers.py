"""Per-layer metrics of the traced run, named after the engine's modules.

``PER_LAYER`` is the list ``BENCHMARK.json`` declares, in order.  A metric
of a layer a workload does not touch reads 0 on that workload (the replay
layer on ``dashboard``, say).  README.md maps each metric to the end-to-end
metric and workload it should move.
"""

from __future__ import annotations

import numpy as np

from tracing import TRIGGER_PHASES, PHASES, StageLedger, Tracer

ARTIFACTS = ("alert_query", "proj_wire")
_EXEC = (
    ("executor_cpu_s", "s"), ("run_s", "s"), ("gc_s", "s"), ("jobs", "count"),
    ("stages", "count"), ("tasks", "count"), ("input_bytes", "bytes"),
    ("shuffle_read_bytes", "bytes"), ("shuffle_write_bytes", "bytes"),
    ("spill_bytes", "bytes"),
)
_STREAM_PHASES = ("trigger",) + TRIGGER_PHASES[1:]
SELF_LAYERS = ("op", "plans", "exec", "stage", "stream")
OVERHEAD = ("latency_p50_ms", "latency_p95_ms", "throughput_per_s", "mix_wall_s", "cpu_s")

PER_LAYER: list[tuple[str, str, str]] = (
    [("session.start_s", "s", "lower"), ("session.peak_rss_mb", "MB", "lower")]
    + [(f"session.artifact_s.{a}", "s", "lower") for a in ARTIFACTS]
    + [("wall.latency_p50_ms", "ms", "lower"), ("wall.latency_p95_ms", "ms", "lower"),
       ("wall.throughput_per_s", "1/s", "higher"), ("wall.mix_wall_s", "s", "lower")]
    + [("session.cold_extra_s", "s", "lower"), ("plans.build_ms", "ms", "lower")]
    + [(f"plans.{p}_ms", "ms", "lower") for p in PHASES]
    + [("plans.executions", "count", "lower")]
    + [(f"exec.{n}", u, "lower") for n, u in _EXEC]
    + [("exec.cpu_unattributed_s", "s", "lower")]
    + [("operators.python_rows", "count", "lower"),
       ("operators.python_bytes_sent", "bytes", "lower"),
       ("operators.python_bytes_received", "bytes", "lower")]
    + [(f"stream.{p}_ms_{q}", "ms", "lower") for p in _STREAM_PHASES for q in ("p50", "p95")]
    + [("stream.rows_per_batch", "count", "higher"), ("stream.batches", "count", "lower"),
       ("stream.useful_batch_ratio", "ratio", "higher"),
       ("stream.backlog_files_end", "count", "lower"),
       ("stream.generator_late_ms_p50", "ms", "lower"),
       ("stream.generator_late_ms_p95", "ms", "lower"),
       ("stream.catchup_local1_events_per_s", "1/s", "higher"),
       ("detect.fraud_ratio_error", "ratio", "lower"),
       ("detect.parse_dropped", "count", "lower")]
    + [("replay.queries_started", "count", "lower"), ("replay.trigger_s", "s", "lower"),
       ("replay.outside_trigger_s", "s", "lower"),
       ("replay.start_to_first_progress_ms", "ms", "lower"),
       ("replay.merge_s", "s", "lower"), ("trace.spans", "count", "lower")]
    + [(f"trace.self_s.{layer}", "s", "lower") for layer in SELF_LAYERS]
    # traced minus untraced: a throughput loss is negative
    + [(f"trace.overhead.{m}", u, b) for m, u, b in zip(
        OVERHEAD, ("ms", "ms", "1/s", "s", "s"),
        ("lower", "lower", "higher", "lower", "lower"))]
)
UNITS = {name: unit for name, unit, _ in PER_LAYER}


def _median(values) -> float:
    return float(np.median(values)) if len(values) else 0.0


def _pct(values, q) -> float:
    return float(np.percentile(values, q)) if len(values) else 0.0


def compute(*, setup: dict, cold_extra_s: float, untraced, traced, streams, plans,
            ledger: StageLedger, tracer: Tracer,
            stream_run: str | None = None) -> dict[str, float]:
    """``setup``: medians from the untraced session's set-up repetitions.
    ``untraced``/``traced``: the two sessions' measured ``Outcome``s.
    ``stream_run``: the alert query's runId, for the alert workload."""
    m = dict.fromkeys(UNITS, 0.0)
    m["session.start_s"] = setup["start_s"]
    m["session.peak_rss_mb"] = untraced.extra["peak_rss_mb"]
    for k in OVERHEAD[:4]:
        m[f"wall.{k}"] = untraced.metrics[k]
    for a, s in setup["artifacts"].items():
        m[f"session.artifact_s.{a}"] = s
    m["session.cold_extra_s"] = cold_extra_s
    passes = traced.passes

    ops = [o for o in traced.ops if o.op_id]
    op_ids = {o.op_id for o in ops}
    runs_of_op: dict[str, list[str]] = {}
    for run_id, rec in streams.started.items():
        runs_of_op.setdefault(rec["op"], []).append(run_id)
    measured_groups = op_ids | {r for o in op_ids for r in runs_of_op.get(o, [])}

    # plans: the fn() call, and Catalyst's phases of every execution the
    # operation ran (eager checkpoints included), attributed by start time.
    if ops:
        m["plans.build_ms"] = _median([1e3 * o.build_s for o in ops])
        per_op = {o.op_id: dict.fromkeys(PHASES, 0.0) for o in ops}
        n_exec = 0
        for e in plans.executions:
            starts = [e[p][0] for p in PHASES if p in e]
            if not starts:
                continue
            t = min(starts)
            for o in ops:
                if o.start <= t <= o.end:
                    n_exec += 1
                    for p in PHASES:
                        if p in e:
                            per_op[o.op_id][p] += e[p][1]
                    break
        for p in PHASES:
            m[f"plans.{p}_ms"] = _median([v[p] for v in per_op.values()])
        m["plans.executions"] = n_exec / passes

    if stream_run is not None:
        totals = ledger.totals({stream_run}, window=traced.window)
    else:
        totals = ledger.totals(measured_groups)
    for n, _ in _EXEC:
        m[f"exec.{n}"] = totals[n] / passes
    attributed = ledger.totals(tracer_ops(tracer) | set(streams.started))["executor_cpu_s"]
    m["exec.cpu_unattributed_s"] = ledger.totals(None)["executor_cpu_s"] - attributed
    m["operators.python_rows"] = totals["python_rows"] / passes
    m["operators.python_bytes_sent"] = totals["python_sent"] / passes
    m["operators.python_bytes_received"] = totals["python_received"] / passes

    # Structured Streaming triggers of the measured phase: the live alert
    # query's on alert_stream, the replay queries started by the measured
    # operations on batch_mix.
    with streams.lock:
        progress = list(streams.progress)
    runs = {r: streams.started[r] for o in op_ids for r in runs_of_op.get(o, [])}
    if stream_run is not None:
        w0, w1 = traced.window
        ps = [p for p in progress if p["runId"] == stream_run and w0 <= p["t"] <= w1]
    else:
        ps = [p for p in progress if p["runId"] in runs]
    for ph, key in zip(_STREAM_PHASES, TRIGGER_PHASES):
        vals = [p["durationMs"].get(key, 0) for p in ps]
        m[f"stream.{ph}_ms_p50"] = _median(vals)
        m[f"stream.{ph}_ms_p95"] = _pct(vals, 95)
    useful = [p["rows"] for p in ps if p["rows"] > 0]
    m["stream.rows_per_batch"] = _median(useful)
    m["stream.batches"] = len(ps) / passes
    m["stream.useful_batch_ratio"] = len(useful) / len(ps) if ps else 0.0
    if stream_run is not None:
        m["stream.backlog_files_end"] = float(traced.extra["backlog_files_end"])
        late = traced.extra["generator_late_ms"]
        m["stream.generator_late_ms_p50"] = _median(late)
        m["stream.generator_late_ms_p95"] = _pct(late, 95)
        rows_in = sum(p["rows"] for p in progress if p["runId"] == stream_run)
        # rows out over rows in, against the generator's ratio: 0 when right
        ratio = traced.extra["sink_rows"] / rows_in if rows_in else 0.0
        m["detect.fraud_ratio_error"] = abs(ratio - traced.extra["fraud_ratio_truth"])
        m["detect.parse_dropped"] = float(traced.extra["parse_dropped"])
    elif runs:
        trig_by_op: dict[str, float] = {}
        last_end: dict[str, float] = {}
        first: dict[str, float] = {}
        for p in ps:
            op = runs[p["runId"]]["op"]
            d = p["durationMs"].get("triggerExecution", 0) / 1e3
            trig_by_op[op] = trig_by_op.get(op, 0.0) + d
            last_end[op] = max(last_end.get(op, 0.0), p["t"] + d)
            first[p["runId"]] = min(first.get(p["runId"], 1e18), p["t"] + d)
        m["replay.queries_started"] = len(runs) / passes
        m["replay.trigger_s"] = sum(trig_by_op.values()) / passes
        m["replay.outside_trigger_s"] = sum(
            o.build_s - trig_by_op.get(o.op_id, 0.0) for o in ops
            if o.op_id in trig_by_op) / passes
        m["replay.start_to_first_progress_ms"] = _median(
            [1e3 * (first[r] - runs[r]["t"]) for r in first])
        m["replay.merge_s"] = sum(
            o.end - last_end[o.op_id] for o in ops if o.op_id in last_end) / passes

    m["trace.spans"] = float(len(tracer.spans))
    self_time = tracer.self_time()
    for layer in SELF_LAYERS:
        m[f"trace.self_s.{layer}"] = self_time.get(layer, 0.0)
    for k in OVERHEAD:
        m[f"trace.overhead.{k}"] = traced.metrics[k] - untraced.metrics[k]
    return m


def tracer_ops(tracer: Tracer) -> set[str]:
    return {s["op"] for s in tracer.spans if s["layer"] == "op" and s["op"]}


def add_spans(tracer: Tracer, streams, ledger: StageLedger) -> None:
    """Trigger spans (one per progress event) and stage spans, each under the
    innermost benchmark span of the operation that caused it."""
    own = [s for s in tracer.spans if s["op"]]

    def parent(op: str | None, t0: float, t1: float) -> int | None:
        mid = (t0 + t1) / 2
        best = None
        for s in own:
            if s["op"] == op and s["start"] - 0.005 <= mid <= s["end"] + 0.005:
                if best is None or s["end"] - s["start"] < best["end"] - best["start"]:
                    best = s
        return best["id"] if best else None

    with streams.lock:
        progress = list(streams.progress)
    for p in progress:
        op = streams.op_of_run(p["runId"])
        d = p["durationMs"].get("triggerExecution", 0) / 1e3
        tracer.add(f"trigger {p['batchId']}", "stream", parent(op, p["t"], p["t"] + d), op,
                   p["t"], p["t"] + d, runId=p["runId"], rows=p["rows"])
    for s in ledger.stages:
        g = ledger.group_of_stage.get(s["stageId"])
        op = streams.op_of_run(g) if g in streams.started else g
        if op is None or s.get("t0") is None:
            continue
        tracer.add(f"stage {s['stageId']}", "stage", parent(op, s["t0"], s["t1"]), op,
                   s["t0"], s["t1"], cpu_s=s["executorCpuTime"] / 1e9, group=g)
