"""The benchmark's two workloads.

``alert_stream`` drives the paper's pipeline (wire files -> ``fraud_topology``
-> ``alerts_as_points`` -> parquet sink) with an open-loop file generator and
then a catch-up drain.  ``batch_mix`` is a closed loop, one client, over
registered queries.  Each workload builds its own inputs from the seed,
builds only the shared artifacts its queries read, and checks its outputs
outside the timed region.
"""

from __future__ import annotations

import glob
import json
import os
import random
import threading
import time
from contextlib import contextmanager, nullcontext
from dataclasses import dataclass, field

import numpy as np

import datagen
from tracing import Tracer

# Untimed load after the cold pass.  A young Spark JVM spends its first tens
# of seconds compiling hot paths: pass times fall by a third over the first
# ten seconds of a dashboard loop and are flat after that.
WARMUP_S = 10.0


def pct(values, q: float) -> float:
    return float(np.percentile(np.asarray(values, dtype=float), q)) if len(values) else 0.0


@dataclass
class Op:
    name: str
    op_id: str | None
    start: float  # epoch seconds
    end: float = 0.0
    build_s: float = 0.0
    exec_s: float = 0.0
    ok: bool = True


@dataclass
class Outcome:
    """What a measured phase returns: end-to-end metrics by their generic
    name, the names this workload prints them under, and op records."""

    metrics: dict[str, float]
    labels: dict[str, str]
    attempted: int
    failed: int
    errors: list[str] = field(default_factory=list)
    ops: list[Op] = field(default_factory=list)
    window: tuple[float, float] = (0.0, 0.0)
    passes: int = 1
    extra: dict = field(default_factory=dict)


class Ctx:
    """One session's view for a workload: the Spark session and, in the
    traced run, the tracer."""

    def __init__(self, spark, tracer: Tracer | None) -> None:
        self.spark = spark
        self.tracer = tracer
        self._n = 0

    @contextmanager
    def op(self, name: str):
        """One operation; in the traced run it gets its own job group."""
        self._n += 1
        op_id = f"op{self._n:05d}" if self.tracer else None
        rec = Op(name, op_id, time.time())
        if self.tracer is None:
            yield rec
        else:
            self.spark.sparkContext.setJobGroup(op_id, name)
            self.tracer.op = op_id
            try:
                with self.tracer.span(name, "op", op=op_id):
                    yield rec
            finally:
                self.tracer.op = None
                self.spark.sparkContext.setJobGroup("", "")
        rec.end = time.time()

    def span(self, name: str, layer: str):
        return self.tracer.span(name, layer) if self.tracer else nullcontext()


# -- the batch mix -----------------------------------------------------------

class BatchMix:
    """Registered queries in a seeded order, one pass after another, each
    written to the ``noop`` sink (the full plan runs, the rows are dropped).

    ``l43`` runs the Arrow minhash UDF of ``operators.dedup`` (Python
    workers), ``s50`` a bounded replay stream inside its ``fn()``
    (``streaming.replay``, shared-path twin).  The session artifact they
    read is ``s50``'s replay input: the ``(user_id, second)`` projection of
    ``events`` serialized as JSON wire files."""

    name = "batch_mix"
    SF = 0.01
    QUERIES = ("l43_minhash_oracle_pairs", "s50_stream_velocity")
    labels = {
        "latency_p50_ms": "op_latency_p50_ms",
        "latency_p95_ms": "op_latency_p95_ms",
        "throughput_per_s": "ops_per_s",
        "mix_wall_s": "mix_wall_s",
    }

    def inputs(self, run_dir: str, seed: int, seconds: float) -> None:
        from fraud_detetion_with__kafkastreams_and_grafana_spark.plans.registry import (
            all_oracles, all_queries,
        )

        self.sf_dir = os.path.join(run_dir, "data")
        datagen.write_tables(self.sf_dir, self.SF, seed)
        queries, oracles = all_queries(), all_oracles()
        self.fns = {n: queries[n] for n in self.QUERIES}
        self.oracles = {n: oracles[n] for n in self.QUERIES}
        self.order_rng = random.Random(seed)

    def setup(self, ctx: Ctx) -> dict[str, float]:
        from fraud_detetion_with__kafkastreams_and_grafana_spark.plans import (
            streaming_queries as SQ,
        )

        t0 = time.perf_counter()
        with ctx.op("artifact.proj_wire"):
            # The projection s50_stream_velocity passes, so the session cache
            # key is the one its fn() looks up.
            SQ._events_proj_wire(ctx.spark, self.sf_dir,
                                 lambda t: ["user_id", t.cast("long").alias("s")])
        return {"proj_wire": time.perf_counter() - t0}

    def teardown(self, ctx: Ctx) -> None:
        pass

    def _run(self, ctx: Ctx, name: str, fetch: bool):
        """One operation: build the plan (the query's ``fn()``), then run it
        into the ``noop`` sink, or fetch it with ``toPandas`` when ``fetch``.
        Returns (Op, the rows or None, or the exception of a failure)."""
        got = None
        with ctx.op(name) as rec:
            try:
                t0 = time.perf_counter()
                with ctx.span("plans.build", "plans"):
                    df = self.fns[name](ctx.spark, self.sf_dir)
                t1 = time.perf_counter()
                with ctx.span("exec", "exec"):
                    if fetch:
                        got = df.toPandas()
                    else:
                        df.write.format("noop").mode("overwrite").save()
                rec.build_s, rec.exec_s = t1 - t0, time.perf_counter() - t1
            except Exception as e:  # noqa: BLE001 - a failed operation is counted, not fatal
                rec.ok = False
                got = e
        return rec, got

    def _passes(self, ctx: Ctx, seconds: float, label: str):
        """Whole passes in seeded order, stopping at the pass boundary
        nearest ``seconds`` (at least one).  Returns (ops, pass walls,
        CPU seconds of each pass, errors)."""
        from procstat import children_cpu_s

        ops, walls, cpus, errors = [], [], [], []
        t_start = time.perf_counter()
        while not walls or time.perf_counter() - t_start + 0.5 * np.mean(walls) < seconds:
            order = list(self.QUERIES)
            self.order_rng.shuffle(order)
            cpu0, tp = children_cpu_s(), time.perf_counter()
            with ctx.span(f"{label}.{len(walls)}", "pass"):
                for name in order:
                    rec, got = self._run(ctx, name, fetch=False)
                    ops.append(rec)
                    if not rec.ok:
                        errors.append(f"{name}: {got!r}")
            walls.append(time.perf_counter() - tp)
            cpus.append(children_cpu_s() - cpu0)
        return ops, walls, cpus, errors

    def cold(self, ctx: Ctx) -> tuple[float, list[str]]:
        """The first pass, fetching every result and checking it against its
        DuckDB oracle with ``testing.compare_frames``, then ``WARMUP_S`` of
        untimed passes.  Returns (first pass wall, errors)."""
        from fraud_detetion_with__kafkastreams_and_grafana_spark.testing import (
            compare_frames, duckdb_conn,
        )

        con = duckdb_conn(self.sf_dir)
        errors, self.cold_ops, wall = [], [], 0.0
        with ctx.span("pass.cold", "pass"):
            for name in self.QUERIES:
                t0 = time.perf_counter()
                rec, got = self._run(ctx, name, fetch=True)
                wall += time.perf_counter() - t0
                self.cold_ops.append(rec)
                if not rec.ok:
                    errors.append(f"{name}: {got!r}")
                    continue
                res = compare_frames(name, got, con.execute(self.oracles[name]).df())
                if not res.ok:
                    errors.append(f"{name}: {res.detail}")
        con.close()
        *_, warm_errors = self._passes(ctx, WARMUP_S, "warmup")
        return wall, errors + warm_errors

    def measure(self, ctx: Ctx, seconds: float) -> Outcome:
        t_start, w0 = time.perf_counter(), time.time()
        ops, walls, cpus, errors = self._passes(ctx, seconds, "pass")
        elapsed = time.perf_counter() - t_start
        lat = [1e3 * (o.build_s + o.exec_s) for o in ops if o.ok]
        return Outcome(
            metrics={
                "latency_p50_ms": pct(lat, 50),
                "latency_p95_ms": pct(lat, 95),
                "throughput_per_s": len(lat) / elapsed,
                "mix_wall_s": float(np.median(walls)),
                "cpu_s": float(np.median(cpus)),
            },
            labels=self.labels,
            attempted=len(ops),
            failed=sum(not o.ok for o in ops),
            errors=errors,
            ops=ops,
            window=(w0, time.time()),
            passes=len(walls),
            extra={"pass_walls": [round(w, 3) for w in walls],
                   "pass_cpu_s": [round(c, 2) for c in cpus]},
        )


# -- the alert stream --------------------------------------------------------

class AlertStream:
    """Open loop: one generator thread publishes one pre-generated wire file
    every ``1/FILES_PER_S`` seconds into the watched directory (an atomic
    rename), ``seconds`` long; each file's latency runs from its due time to
    the commit of the micro-batch that read it.  Then a fixed backlog is
    published at once and drained (catch-up rate).

    The live traffic is the reference producer's, scaled by a producer
    count: each producer sends one record per message and one message a
    second (BASELINE.md, "Producer ingest rate"), and each message is one
    wire file of one record.  Ten producers give ten records a second, 200
    latency samples in a 20 s window, far below what the query sustains, so
    the alert latency is made of the per-trigger fixed costs (file listing,
    planning, the offset and commit logs).  The backlog stands for records
    that piled up while the query was down; they are written as 60 files of
    5000 records, so the drain measures the topology's rate over bulk
    batches rather than the file listing."""

    name = "alert_stream"
    PRODUCERS, MSG_PER_S = 10, 1
    FILES_PER_S = PRODUCERS * MSG_PER_S
    ROWS_PER_FILE = 1
    WARM_FILES = int(WARMUP_S * FILES_PER_S)
    BACKLOG_FILES, BACKLOG_ROWS = 60, 5000
    MAX_FILES_PER_TRIGGER = 10
    labels = {
        "latency_p50_ms": "alert_latency_p50_ms",
        "latency_p95_ms": "alert_latency_p95_ms",
        "throughput_per_s": "catchup_events_per_s",
        "mix_wall_s": "catchup_wall_s",
    }

    def inputs(self, run_dir: str, seed: int, seconds: float) -> None:
        self.root = os.path.join(run_dir, "alert")
        self.warm = datagen.alert_feed(seed, "warm", self.WARM_FILES, self.ROWS_PER_FILE)
        self.feed = datagen.alert_feed(
            seed, "live", int(round(seconds * self.FILES_PER_S)), self.ROWS_PER_FILE)
        self.backlog = datagen.alert_feed(seed, "backlog", self.BACKLOG_FILES, self.BACKLOG_ROWS)
        self._rep = 0

    def _stage(self, feed: datagen.AlertFeed) -> None:
        for f in feed.files:
            with open(os.path.join(self.stage_dir, f.name), "wb") as fh:
                fh.write(f.payload)

    def _publish(self, name: str) -> None:
        os.rename(os.path.join(self.stage_dir, name), os.path.join(self.in_dir, name))

    def setup(self, ctx: Ctx) -> dict[str, float]:
        from fraud_detetion_with__kafkastreams_and_grafana_spark.streaming.topology import (
            alerts_as_points, fraud_topology, start_to_parquet,
        )

        self._rep += 1
        base = os.path.join(self.root, f"s{self._rep}")
        self.in_dir, self.stage_dir = f"{base}/in", f"{base}/stage"
        self.out_dir, self.ckpt = f"{base}/out", f"{base}/ckpt"
        for d in (self.in_dir, self.stage_dir):
            os.makedirs(d)
        t0 = time.perf_counter()
        with ctx.op("artifact.alert_query"):
            wire = (ctx.spark.readStream.schema("value STRING")
                    .option("maxFilesPerTrigger", self.MAX_FILES_PER_TRIGGER)
                    .text(self.in_dir))
            self.query = start_to_parquet(
                alerts_as_points(fraud_topology(wire)), self.out_dir, self.ckpt)
            while not self.query.status["message"].startswith("Waiting for"):
                if self.query.exception() is not None:
                    raise RuntimeError(str(self.query.exception()))
                time.sleep(0.005)
        return {"alert_query": time.perf_counter() - t0}

    def teardown(self, ctx: Ctx) -> None:
        self.query.stop()

    def cold(self, ctx: Ctx) -> tuple[float, list[str]]:
        """Warm-up: ``WARMUP_S`` of files at the offered rate.  Returns the
        first file's latency (due to the end of its batch)."""
        self._stage(self.warm)
        self._stage(self.feed)
        self._stage(self.backlog)
        with ctx.span("pass.cold", "pass"):
            t0 = time.time()
            self._publish(self.warm.files[0].name)
            self.query.processAllAvailable()
            first = time.time() - t0
            self._open_loop([f.name for f in self.warm.files[1:]])
            self.query.processAllAvailable()
        return first, []

    def _open_loop(self, names: list[str]) -> list[tuple[str, float, float]]:
        """Publish ``names`` on the offered-rate schedule from one generator
        thread; returns (file, due, published) per file."""
        period = 1.0 / self.FILES_PER_S
        published: list[tuple[str, float, float]] = []

        def generate(t0: float) -> None:
            for i, name in enumerate(names):
                due = t0 + i * period
                delay = due - time.time()
                if delay > 0:
                    time.sleep(delay)
                self._publish(name)
                published.append((name, due, time.time()))

        gen = threading.Thread(target=generate, args=(time.time() + period,), name="generator")
        gen.start()
        gen.join()
        return published

    def measure(self, ctx: Ctx, seconds: float) -> Outcome:
        from procstat import children_cpu_s

        cpu0 = children_cpu_s()
        w0 = time.time()
        with ctx.span("open_loop", "pass"):
            published = self._open_loop([f.name for f in self.feed.files])
            gen_end = time.time()
            self.query.processAllAvailable()
        with ctx.span("drain", "pass"):
            d0 = time.time()
            for f in self.backlog.files:
                self._publish(f.name)
            self.query.processAllAvailable()
        w1 = time.time()
        cpu = children_cpu_s() - cpu0
        self.query.stop()

        batch_of, commit_t = self._logs()
        errors = []
        lat, late = [], []
        for name, due, pub in published:
            b = batch_of.get(name)
            if b is None or b not in commit_t:
                errors.append(f"{name}: never committed")
                continue
            lat.append(1e3 * (commit_t[b] - due))
            late.append(1e3 * (pub - due))
        drain_batches = {batch_of.get(f.name) for f in self.backlog.files}
        backlog_lost = None in drain_batches or not drain_batches <= commit_t.keys()
        if backlog_lost:
            errors.append("backlog not fully committed")
        drain_s = (w1 if backlog_lost else max(commit_t[b] for b in drain_batches)) - d0
        self.extra = {
            "generator_late_ms": late,
            "backlog_files_end": sum(
                1 for name, _, _ in published
                if batch_of.get(name) is None or commit_t.get(batch_of[name], 1e18) > gen_end),
        }
        errors += self.verify(ctx)
        return Outcome(
            metrics={
                "latency_p50_ms": pct(lat, 50),
                "latency_p95_ms": pct(lat, 95),
                "throughput_per_s": self.backlog.rows / drain_s,
                "mix_wall_s": drain_s,
                "cpu_s": cpu,
            },
            labels=self.labels,
            attempted=len(self.feed.files) + len(self.backlog.files),
            failed=len(self.feed.files) - len(lat) + int(backlog_lost),
            errors=errors,
            window=(w0, w1),
            extra=self.extra,
        )

    def _logs(self) -> tuple[dict[str, int], dict[int, float]]:
        """File -> batch id from the file source's metadata log, and batch
        id -> commit time from the commit log's file times."""
        batch_of: dict[str, int] = {}
        for path in glob.glob(os.path.join(self.ckpt, "sources", "0", "*")):
            with open(path) as fh:
                for line in fh.read().splitlines()[1:]:
                    if line.startswith("{"):
                        rec = json.loads(line)
                        batch_of[os.path.basename(rec["path"])] = rec["batchId"]
        commit_t = {}
        for path in glob.glob(os.path.join(self.ckpt, "commits", "*")):
            base = os.path.basename(path)
            if base.isdigit():
                commit_t[int(base)] = os.stat(path).st_mtime
        return batch_of, commit_t

    def verify(self, ctx: Ctx) -> list[str]:
        """The sink against the generator's ground truth, and the rows the
        parse dropped against the malformed records written."""
        from pyspark.sql import functions as F

        feeds = (self.warm, self.feed, self.backlog)
        want_rows = sum(f.fraud_rows for f in feeds)
        want_sum = sum(f.fraud_amount for f in feeds)
        kinds = {k: sum(f.boundary[k] for f in feeds) for k in datagen.BOUNDARY_AMOUNT}
        self.extra["fraud_ratio_truth"] = want_rows / sum(f.rows for f in feeds)
        with ctx.op("check.sink"):
            got = ctx.spark.read.parquet(self.out_dir).agg(
                F.count(F.lit(1)).alias("n"),
                F.sum("amount").alias("s"),
                *(F.sum((F.col("amount") == a).cast("int")).alias(k)
                  for k, a in datagen.BOUNDARY_AMOUNT.items()),
            ).collect()[0]
        self.extra["sink_rows"] = got["n"]
        errors = []
        if got["n"] != want_rows:
            errors.append(f"sink has {got['n']} rows, generator made {want_rows} fraud rows")
        if got["s"] is None or abs(got["s"] - want_sum) > 1e-9 * abs(want_sum):
            errors.append(f"sink amount sum {got['s']} != {want_sum}")
        if got["exact"] != 0:
            errors.append("amount == 10000.0 reached the sink (threshold is strict)")
        if got["above"] != kinds["above"] or got["extra_field"] != kinds["extra_field"]:
            errors.append(f"boundary rows lost: above={got['above']} "
                          f"extra_field={got['extra_field']}, expected {kinds['above']} "
                          f"and {kinds['extra_field']}")
        if got["malformed"] != 0:
            errors.append("a malformed record reached the sink")
        dropped = self.extra["parse_dropped"] = self.parse_dropped(ctx)
        if dropped != kinds["malformed"]:
            errors.append(f"the parse dropped {dropped} rows, the feeds hold "
                          f"{kinds['malformed']} malformed ones")
        return errors

    def parse_dropped(self, ctx: Ctx) -> int:
        """Rows the wire parse drops, counted by the parse itself over every
        file the stream read."""
        from fraud_detetion_with__kafkastreams_and_grafana_spark.operators.detect import parse_wire

        with ctx.op("check.parse"):
            wire = ctx.spark.read.schema("value STRING").text(self.in_dir)
            return wire.count() - parse_wire(wire).count()

    def drain_only(self, ctx: Ctx) -> float:
        """Catch-up rate of a fresh query on this session: warm-up files,
        then the backlog at once.  Events per second."""
        self.setup(ctx)
        self._stage(self.warm)
        self._stage(self.backlog)
        for f in self.warm.files[:2]:
            self._publish(f.name)
            self.query.processAllAvailable()
        d0 = time.time()
        for f in self.backlog.files:
            self._publish(f.name)
        self.query.processAllAvailable()
        self.query.stop()
        batch_of, commit_t = self._logs()
        end = max(commit_t[batch_of[f.name]] for f in self.backlog.files)
        return self.backlog.rows / (end - d0)


def make(name: str):
    return {"alert_stream": AlertStream, "batch_mix": BatchMix}[name]()


WORKLOADS = ("alert_stream", "batch_mix")
