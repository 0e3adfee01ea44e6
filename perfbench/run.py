#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from any directory; the engine is imported from this checkout (the
parent of ``perfbench/``) and everything the run writes stays under
``<checkout>/.perfbench/``.  The last line of standard output is one JSON
object ``{"correct", "attempted", "failed", "metrics"}``: with ``--trace 0``
the end-to-end metrics, with ``--trace 1`` the per-layer metrics of a traced
session (README.md describes both).  Exits non-zero, without that line, when
the engine is missing or the run cannot complete.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

import tracing
import workloads
from workloads import Ctx

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = "fraud_detetion_with__kafkastreams_and_grafana_spark"
SETUP_REPS = 5
# The gated end-to-end metrics.  The wall-clock figures (latency, throughput,
# pass wall) are printed on every run and reported as ``wall.*`` by the traced
# run, but not gated: on a shared 4-core machine they moved 10-55 % (quartile
# spread over ten runs) with the neighbours' load, while cpu_s moved 2-19 %.
E2E = (("cpu_s", "s"), ("setup_s", "s"))
WALL = (("latency_p50_ms", "ms"), ("latency_p95_ms", "ms"), ("throughput_per_s", "1/s"),
        ("mix_wall_s", "s"))
_T0 = time.perf_counter()


def log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - _T0:7.2f}s] {msg}", file=sys.stderr, flush=True)


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=workloads.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def prepare_env(run_dir: str) -> None:
    """Keep every file the run writes (Spark's scratch space, the engine's
    temporary replay directories) inside ``run_dir``, and give the Python
    workers the checkout on their path wherever the run was launched."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    sys.path.insert(0, ROOT)


def start_session(run_dir: str, master: str, traced: bool):
    from fraud_detetion_with__kafkastreams_and_grafana_spark.session import get_spark

    conf = {
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        # A fixed set of JIT compiler threads, so procstat can leave their
        # CPU out of cpu_s (see procstat).
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.environ['TMPDIR']} "
                                         "-XX:-UseDynamicNumberOfCompilerThreads",
        "spark.executorEnv.PYTHONPATH": os.environ["PYTHONPATH"],
        "spark.ui.showConsoleProgress": "false",
    }
    if traced:
        # The REST API is read once after the run, so it must retain every
        # job, stage and SQL execution of the session.
        conf.update({
            "spark.ui.enabled": "true", "spark.ui.port": "0",
            "spark.ui.retainedJobs": "1000000", "spark.ui.retainedStages": "1000000",
            "spark.sql.ui.retainedExecutions": "1000000",
        })
    spark = get_spark("perfbench", master=master, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm() -> None:
    """Stop the Spark JVM this process launched and wait for it to exit; its
    Python workers exit with it."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def set_up(wl, run_dir: str, master: str, reps: int, tracer=None):
    """Start the session and build the workload's artifacts ``reps`` times
    (each repetition after the first stops the previous session; the JVM
    stays).  Returns the last context and the median timings."""
    totals, starts, arts = [], [], {}
    for rep in range(reps):
        t0 = time.perf_counter()
        spark = start_session(run_dir, master, traced=tracer is not None)
        starts.append(time.perf_counter() - t0)
        recorders = None
        if tracer is not None:
            recorders = tracing.attach(spark, tracer)
        ctx = Ctx(spark, tracer)
        for name, s in wl.setup(ctx).items():
            arts.setdefault(name, []).append(s)
        totals.append(time.perf_counter() - t0)
        if rep < reps - 1:
            wl.teardown(ctx)
            spark.stop()
        log(f"set-up {rep + 1}/{reps}: {totals[-1]:.3f} s (session {starts[-1]:.3f} s)")
    med = statistics.median
    return ctx, recorders, {
        "setup_s": med(totals), "start_s": med(starts),
        "artifacts": {k: med(v) for k, v in arts.items()},
    }


def untraced_session(wl, args, run_dir: str, master: str, reps: int):
    from procstat import children_peak_rss_mb

    ctx, _, setup = set_up(wl, run_dir, master, reps)
    log(f"set up: {setup}")
    cold_wall, cold_errors = wl.cold(ctx)
    log(f"cold pass: {cold_wall:.3f} s " + " ".join(
        f"{o.name.split('_')[0]}={o.build_s:.2f}+{o.exec_s:.2f}" for o in getattr(wl, "cold_ops", [])))
    out = wl.measure(ctx, args.seconds)
    log(f"measured {out.passes} pass(es) {out.extra.get('pass_walls', '')} "
        f"cpu {out.extra.get('pass_cpu_s', '')}: " + " ".join(
        f"{o.name.split('_')[0]}={o.build_s:.2f}+{o.exec_s:.2f}" for o in out.ops))
    out.extra["peak_rss_mb"] = children_peak_rss_mb()
    out.metrics["setup_s"] = setup["setup_s"]
    out.errors = cold_errors + out.errors
    ctx.spark.stop()
    return cold_wall, out


def cold_extra_s(wl, cold_wall: float, out) -> float:
    """First pass minus a warm pass (the alert stream: the first warm-up
    file's latency minus the median live-file latency)."""
    if wl.name == "alert_stream":
        return cold_wall - out.metrics["latency_p50_ms"] / 1e3
    return cold_wall - out.metrics["mix_wall_s"]


def traced_session(wl, args, run_dir: str, master: str, untraced, cold_extra):
    """A second session with tracing on; returns (tracer, per-layer metrics,
    its measured Outcome)."""
    import layers

    tracer = tracing.Tracer()
    with tracer.span("setup", "session"):
        ctx, (streams, plans), setup = set_up(wl, run_dir, master, 1, tracer)
    _, cold_errors = wl.cold(ctx)
    out = wl.measure(ctx, args.seconds)
    log("traced session measured")
    out.errors = cold_errors + out.errors
    extra = {}
    if wl.name == "alert_stream":
        extra = {"stream_run": str(wl.query.runId)}
    spark = ctx.spark
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    ledger = tracing.StageLedger(spark)
    layers.add_spans(tracer, streams, ledger)
    metrics = layers.compute(setup=setup, cold_extra_s=cold_extra, untraced=untraced,
                             traced=out, streams=streams, plans=plans, ledger=ledger,
                             tracer=tracer, **extra)
    if abs(metrics["exec.cpu_unattributed_s"]) > 1e-6:
        out.errors.append(
            f"per-operation executor CPU misses {metrics['exec.cpu_unattributed_s']:.6f} s "
            "of the stage total")
    spark.stop()
    if wl.name == "alert_stream":
        # Single-thread baseline: the same drain on local[1].
        spark = start_session(run_dir, "local[1]", traced=False)
        metrics["stream.catchup_local1_events_per_s"] = wl.drain_only(
            Ctx(spark, None))
        spark.stop()
    return tracer, metrics, out


def report(args, units: dict, metrics: dict, outcomes: list) -> None:
    """Every metric by name with its unit, then the result line."""
    errors = [e for o in outcomes for e in o.errors]
    attempted = sum(o.attempted for o in outcomes)
    failed = sum(o.failed for o in outcomes)
    for e in errors:
        print(f"# CHECK FAILED: {e}", file=sys.stderr)
    first = outcomes[0]
    for name in units:
        print(f"# {args.workload} {first.labels.get(name, name)} = {metrics[name]:.6g} {units[name]}")
    for name, unit in WALL:
        print(f"# {args.workload} {first.labels.get(name, name)} = {first.metrics[name]:.6g} "
              f"{unit} (wall clock, not gated)")
    print(f"# {args.workload} error_rate = {failed / max(attempted, 1):.6g} "
          f"({failed} of {attempted} operations)")
    print(f"# {args.workload} peak_rss_mb = {first.extra['peak_rss_mb']:.6g} MB "
          "(not gated: varies with garbage-collector timing)")
    print(json.dumps({
        "correct": not errors and failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {n: {"value": metrics[n], "unit": units[n]} for n in units},
    }))


def declared_mismatch() -> str | None:
    """How ``BENCHMARK.json`` differs from the metrics this file and
    ``layers.PER_LAYER`` print, or None when they agree."""
    import layers

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    e2e = [(m["name"], m["unit"]) for m in spec["end_to_end"]]
    per_layer = [(m["name"], m["unit"], m["better"]) for m in spec["per_layer"]]
    if e2e != list(E2E):
        return f"end_to_end {e2e} != {list(E2E)}"
    if per_layer != layers.PER_LAYER:
        return "per_layer differs from layers.PER_LAYER"
    if [w["name"] for w in spec["workloads"]] != list(workloads.WORKLOADS):
        return "workloads differ from workloads.WORKLOADS"
    return None


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PKG)):
        print(f"perfbench: the engine package {PKG}/ is not in {ROOT}", file=sys.stderr)
        return 2
    mismatch = declared_mismatch()
    if mismatch:
        print(f"perfbench: BENCHMARK.json does not match the benchmark: {mismatch}",
              file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench")
    run_dir = os.path.join(work, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    prepare_env(run_dir)
    master = f"local[{len(os.sched_getaffinity(0))}]"
    wl = workloads.make(args.workload)
    try:
        wl.inputs(run_dir, args.seed, args.seconds)
        log("inputs generated")
        # The traced run repeats set-up once: its set-up figures come from
        # the traced session, the untraced session only gives the baseline.
        cold_wall, out = untraced_session(wl, args, run_dir, master,
                                          1 if args.trace else SETUP_REPS)
        if args.trace:
            import layers

            tracer, metrics, traced = traced_session(
                wl, args, run_dir, master, out, cold_extra_s(wl, cold_wall, out))
            os.makedirs(os.path.join(work, "trace"), exist_ok=True)
            stem = os.path.join(work, "trace", f"{args.workload}-seed{args.seed}")
            tracer.write(stem + ".spans.jsonl")
            with open(stem + ".layers.json", "w") as fh:
                json.dump(metrics, fh, indent=1, sort_keys=True)
            print(f"# spans: {stem}.spans.jsonl  layers: {stem}.layers.json")
            report(args, layers.UNITS, metrics, [out, traced])
        else:
            report(args, dict(E2E), out.metrics, [out])
    finally:
        stop_jvm()
        shutil.rmtree(run_dir, ignore_errors=True)
        log("stopped")
    return 0


if __name__ == "__main__":
    sys.exit(main())
