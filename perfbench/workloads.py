"""The three alert-pipeline workloads: set-up, timed measurement and the
correctness check, each returning its metrics.

Every workload reports every end-to-end metric (see ``BENCHMARK.json``):

- ``setup_s``            one cold set-up per run: session start (JVM
                         launch included), staging, stats table and a
                         warm-up pass;
- ``samples_per_s``      input samples ÷ (pipeline call → last alert
                         commit) on a fixed input, a closed loop on every
                         workload: a replay pass, a backfill drain, or,
                         for the open loop, the drain of a fixed backlog
                         staged after the paced phase;
- ``alert_latency_p50_s`` / ``alert_latency_p99_s``
                         per alert row, commit time minus the creation
                         time of the window's newest sample. For the
                         batch replay and the backfill the whole input
                         exists when the pipeline is called, so every
                         alert of a pass commits at the pass's end: the
                         latencies are pass times, p50 the median pass
                         and p99 the slowest.

``stream.drain_s`` (time from the last input becoming visible to the
pipeline to that input's last alert commit) and ``process.peak_rss_mb``
(peak RSS of the JVM and its Python workers) are per-layer metrics: one
drain event per run varies by up to a micro-batch with the trigger
phase, and the JVM's RSS by more than a tenth with GC timing.

Tracing overhead (``trace.overhead_s``) is the median traced repetition
minus the median untraced one, repetitions alternating within the run.

A layer that a workload does not call reports 0 for its per-layer metrics.
"""

from __future__ import annotations

import glob
import json
import math
import os
import shutil
import subprocess
import sys
import time
from dataclasses import dataclass, field
from datetime import datetime

import numpy as np

import data
import pipelines as P
from harness import (
    Ledger,
    RssSampler,
    Tracer,
    failed_frac,
    median,
    percentile,
    read_ledger,
    supported_percentile,
)
from reference import alerts_twin_sql, compare, connect

#: Samples per history file, and files admitted per backfill trigger:
#: 20,000 samples per trigger, so each of the 7 state keys receives
#: twice ``spark.sql.execution.arrow.maxRecordsPerBatch`` rows per batch.
FILE_ROWS = 2_000
FILES_PER_TRIGGER = 10
#: History length for ``replay_batch`` and ``stream_backfill`` (same
#: input): two backfill triggers, so state carries between micro-batches.
#: Sized so that a run, with its JVM start, stays near a minute.
HISTORY_SAMPLES = 30_000
#: Batch window kernel chunk length (overlapped chunks per series).
CHUNK_ROWS = 10_000
#: ``stream_paced``: open-loop generator settings.
PACED_PORTFOLIOS = 25
PACED_RATE = 20.0  # samples per second per portfolio
PACED_PERIOD = 0.5  # seconds between files
PACED_WARMUP_S = 1.0  # leading files whose alerts are excluded
PACED_POOL = 20_000  # distinct samples the generator cycles through
#: ``stream_paced`` capacity: after the paced phase, ``BACKLOG_ROUNDS``
#: times one file of ``BACKLOG_PER_PID`` samples per portfolio (20 s of
#: the offered load; far below ``arrow.maxRecordsPerBatch`` rows per
#: state key) is made visible with one rename and drained. Two rounds,
#: so a traced run can alternate tracing off and on.
BACKLOG_PER_PID = 400
BACKLOG_ROUNDS = 2
#: Longest wait for a stream to catch up before the run is abandoned.
DRAIN_TIMEOUT_S = 90.0

E2E_UNITS = {
    "setup_s": "s",
    "samples_per_s": "1/s",
    "alert_latency_p50_s": "s",
    "alert_latency_p99_s": "s",
}

LAYER_UNITS = {
    "stream.drain_s": "s",
    "process.peak_rss_mb": "MB",
    "session.start_s": "s",
    "fixtures.generator.sample_s": "s",
    "functions.measures_np.windows_s": "s",
    "functions.measures_np.windows": "count",
    "functions.measures_np.python_rows_in": "count",
    "functions.measures_np.python_bytes_in": "bytes",
    "functions.measures.stats_s": "s",
    "functions.measures.to_long_s": "s",
    "alerts.join_filter_s": "s",
    "alerts.useful_ratio": "ratio",
    "alerts.count": "count",
    "shuffle.bytes_written": "bytes",
    "streaming.planning_s": "s",
    "streaming.wal_commit_s": "s",
    "streaming.source_list_s": "s",
    "streaming.add_batch_s": "s",
    "streaming.trigger_s_p50": "s",
    "streaming.trigger_s_p99": "s",
    "streaming.batches": "count",
    "streaming.rows_per_batch_p50": "count",
    "streaming.count_window.state_commit_s": "s",
    "streaming.count_window.state_update_s": "s",
    "streaming.count_window.keys_updated_per_batch": "count",
    "streaming.count_window.state_keys": "count",
    "streaming.count_window.state_bytes": "bytes",
    "source.backlog_files_max": "count",
    "sink.write_s": "s",
    "generator.late_p99_s": "s",
    "latency.batches": "count",
    "latency.tail_batches": "count",
    "trace.overhead_s": "s",
    "baseline.local1_samples_per_s": "1/s",
}


@dataclass
class Context:
    root: str
    run_dir: str
    cache_dir: str
    seed: int
    seconds: float
    cpus: int
    driver_memory: str
    tracer: Tracer
    layers: dict[str, float] = field(default_factory=dict)
    spark: object = None
    rss: RssSampler | None = None
    t0: float = field(default_factory=time.perf_counter)

    def path(self, *parts: str) -> str:
        return os.path.join(self.run_dir, *parts)

    def fresh(self, *parts: str) -> str:
        p = self.path(*parts)
        shutil.rmtree(p, ignore_errors=True)
        os.makedirs(p)
        return p

    def say(self, msg: str) -> None:
        print(f"[{time.perf_counter() - self.t0:6.1f} s] {msg}", flush=True)


@dataclass
class Outcome:
    """End-to-end metrics plus the correctness counts summed over every
    checked output: ``attempted`` rows (reference rows plus spurious
    output rows), of which ``failed`` were not reproduced exactly."""

    e2e: dict[str, float]
    ref_rows: int
    exact: int
    extra: int

    @property
    def attempted(self) -> int:
        return self.ref_rows + self.extra

    @property
    def failed(self) -> int:
        return self.attempted - self.exact

    @property
    def failed_frac(self) -> float:
        return failed_frac(self.ref_rows, self.exact, self.extra)


def _start_session(ctx: Context, app: str, cpus: int | None = None, restart: bool = False) -> float:
    t0 = time.perf_counter()
    ctx.spark = P.start_session(app, cpus or ctx.cpus, ctx.driver_memory, restart)
    dt = time.perf_counter() - t0
    if ctx.rss is None:
        proc = getattr(ctx.spark.sparkContext._gateway, "proc", None)
        ctx.rss = RssSampler(proc.pid if proc else os.getpid()).start()
    return dt


def _setup(ctx: Context, app: str, stage, warm) -> float:
    """The run's one set-up, from a cold process: launch the JVM and get
    the engine's session, stage the inputs, build the stats table and
    run ``warm``, whose first pass also starts the Python workers.
    Returns its duration. A second cold set-up in the same run would
    cost as much again (about half a run), and a warm one leaves out
    the session start and the cold pass, so there is one."""
    t0 = time.perf_counter()
    with ctx.tracer.span("setup"):
        with ctx.tracer.span("session"):
            ctx.layers["session.start_s"] = _start_session(ctx, app)
        with ctx.tracer.span("staging"):
            stage()
        with ctx.tracer.span("warmup"):
            warm()
    dt = time.perf_counter() - t0
    ctx.say(f"setup (s): {dt:.3f}, of which session start {ctx.layers['session.start_s']:.3f}")
    return dt


def _latency_metrics(lat: np.ndarray, batch_of: np.ndarray, ctx: Context) -> dict[str, float]:
    """p50 and p99 of per-alert latencies, with the alerts and the
    batches (or passes) at or beyond p99."""
    n = lat.size
    if supported_percentile(n) != 99.0:
        raise RuntimeError(f"{n} alert latencies do not support a p99 (need >= 1000)")
    p50 = percentile(lat, 50)
    p99 = percentile(lat, 99)
    tail = lat >= p99
    tail_batches = np.unique(batch_of[tail]).size
    batches = np.unique(batch_of).size
    ctx.layers["latency.batches"] = batches
    ctx.layers["latency.tail_batches"] = tail_batches
    ctx.say(
        f"latency sample: {n} alerts from {batches} batches/passes; "
        f"{int(tail.sum())} alerts at or beyond p99 from {tail_batches} batches/passes"
    )
    return {"alert_latency_p50_s": p50, "alert_latency_p99_s": p99}


def _progress(query) -> list[dict]:
    return [json.loads(p.json) for p in query.recentProgress]


def _epoch(ts: str) -> float:
    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def _last_batch_layers(ctx: Context, query) -> None:
    """Shuffle volume of the last micro-batch, from its executed plan's
    SQL metrics."""
    ctx.layers["shuffle.bytes_written"] = P.shuffle_bytes(P.last_batch_plan_metrics(ctx.spark, query))


def _streaming_layers(ctx: Context, progress: list[dict], sink: P.AlertSink) -> None:
    """Per-batch fixed costs, state and sink figures from Spark's own
    ``StreamingQueryProgress`` reports (batches with input only)."""
    batches = [p for p in progress if p.get("numInputRows", 0) > 0]
    if not batches:
        return

    def dur(key):
        return [p["durationMs"].get(key, 0) / 1000.0 for p in batches]

    def state(key):
        return [sum(op.get(key, 0) for op in p.get("stateOperators", [])) for p in batches]

    trig = dur("triggerExecution")
    src = [a + b for a, b in zip(dur("latestOffset"), dur("getBatch"))]
    L = ctx.layers
    L["streaming.planning_s"] = median(dur("queryPlanning"))
    L["streaming.wal_commit_s"] = median(dur("walCommit"))
    L["streaming.source_list_s"] = median(src)
    L["streaming.add_batch_s"] = median(dur("addBatch"))
    L["streaming.trigger_s_p50"] = percentile(trig, 50)
    L["streaming.trigger_s_p99"] = percentile(trig, 99)
    L["streaming.batches"] = len(batches)
    L["streaming.rows_per_batch_p50"] = median([p["numInputRows"] for p in batches])
    L["streaming.count_window.state_commit_s"] = median(state("commitTimeMs")) / 1000.0
    L["streaming.count_window.state_update_s"] = median(state("allUpdatesTimeMs")) / 1000.0
    L["streaming.count_window.keys_updated_per_batch"] = median(state("numRowsUpdated"))
    L["streaming.count_window.state_keys"] = max(state("numRowsTotal"))
    L["streaming.count_window.state_bytes"] = max(state("memoryUsedBytes"))
    ids = {p["batchId"] for p in batches}
    writes = [c.committed_s - c.collected_s for c in sink.commits if c.rows and c.batch_id in ids]
    if writes:
        L["sink.write_s"] = median(writes)
    # one span per micro-batch, its phases as children in execution order,
    # and the sink's collect (which runs the batch's plan) and write
    # inside addBatch
    commits = {c.batch_id: c for c in sink.commits}
    for p in batches:
        start = _epoch(p["timestamp"])
        sid = ctx.tracer.record("streaming.micro_batch", start, start + p["durationMs"]["triggerExecution"] / 1000.0)
        t = start
        for key in ("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets"):
            d = p["durationMs"].get(key, 0) / 1000.0
            kid = ctx.tracer.record(f"streaming.{key}", t, t + d, parent=sid)
            c = commits.get(p["batchId"])
            if key == "addBatch" and c is not None:
                ctx.tracer.record("sink.collect", c.called_s, c.collected_s, parent=kid)
                ctx.tracer.record("sink.write", c.collected_s, c.committed_s, parent=kid)
            t += d


def _check(ctx: Context, e2e: dict, con, ref_table: str, outputs: list[str]) -> Outcome:
    out = Outcome(e2e, 0, 0, 0)
    for d in outputs:
        if glob.glob(os.path.join(d, "*.parquet")):
            c = compare(con, ref_table, f"SELECT * FROM read_parquet('{d}/*.parquet')")
        else:
            c = compare(con, ref_table, f"SELECT * FROM {ref_table} WHERE false")
        out.ref_rows += c.ref_rows
        out.exact += c.exact
        out.extra += c.extra
        ctx.say(
            f"check {os.path.relpath(d, ctx.run_dir)}: reference {c.ref_rows} rows, output {c.out_rows}, "
            f"exact {c.exact}, wrong {c.wrong}, missing {c.missing}, extra {c.extra}"
        )
    return out


# --- replay_batch ----------------------------------------------------------------


def replay_batch(ctx: Context) -> Outcome:
    samples, gen_s, cached = data.cached_samples(ctx.cache_dir, ctx.seed, HISTORY_SAMPLES)
    ctx.layers["fixtures.generator.sample_s"] = gen_s
    ctx.say(f"fixture: {HISTORY_SAMPLES} samples, seed {ctx.seed}, {'cached' if cached else 'generated'} in {gen_s:.3f} s")
    state = {}

    def stage():
        state["files"] = data.stage_history(samples, ctx.fresh("history"), FILE_ROWS)

    def warm():
        # one full pass: a smaller input leaves the first timed pass slower
        P.batch_alerts(ctx.spark, state["files"], None, CHUNK_ROWS).write.parquet(ctx.path("warm"))

    setup_s = _setup(ctx, "perfbench-replay", stage, warm)
    files = state["files"]

    passes, outs = [], []
    t_end = time.perf_counter() + ctx.seconds
    tracing = ctx.tracer.enabled
    traced_pass, plain_pass = [], []
    i = 0
    while i < 3 or time.perf_counter() < t_end:
        out = ctx.path("out", f"pass-{i:03d}")
        on = tracing and i % 2 == 1
        ctx.tracer.enabled = on
        t0 = time.perf_counter()
        with ctx.tracer.span("replay.pass"):
            P.batch_alerts(ctx.spark, files, None, CHUNK_ROWS).write.parquet(out)
        dt = time.perf_counter() - t0
        (traced_pass if on else plain_pass).append(dt)
        passes.append(dt)
        outs.append(out)
        i += 1
    ctx.tracer.enabled = tracing
    ctx.say(f"replay passes (s): {', '.join(f'{t:.3f}' for t in passes)}")

    if tracing:
        ctx.layers["trace.overhead_s"] = median(traced_pass) - median(plain_pass)
        _replay_layers(ctx, files)
    _stop_rss(ctx)

    # every alert of a pass commits when the pass ends: its latency is
    # the pass time, so the passes are the independent samples
    n_alerts = _count_rows(outs[0])
    lat = np.repeat(np.asarray(passes), n_alerts)
    batch_of = np.repeat(np.arange(len(passes)), n_alerts)
    e2e = {
        "setup_s": setup_s,
        "samples_per_s": median([HISTORY_SAMPLES / t for t in passes]),
        **_latency_metrics(lat, batch_of, ctx),
    }
    ctx.layers["stream.drain_s"] = median(passes)

    if tracing:
        _local1_baseline(ctx, files)

    con = connect(ctx.cpus, ctx.path("duckdb-tmp"))
    t0 = time.perf_counter()
    twin = alerts_twin_sql(os.path.join(os.path.dirname(files[0]), "*.parquet"))
    con.execute(f"CREATE TABLE ref AS {twin}")
    ctx.say(f"duckdb twin: {time.perf_counter() - t0:.2f} s")
    out = _check(ctx, e2e, con, "ref", outs)
    con.close()
    return out


def _count_rows(directory: str) -> int:
    import pyarrow.parquet as pq

    return sum(pq.ParquetFile(f).metadata.num_rows for f in glob.glob(os.path.join(directory, "*.parquet")))


def _stop_rss(ctx: Context) -> None:
    ctx.rss.stop()
    ctx.layers["process.peak_rss_mb"] = ctx.rss.peak / 2**20


def _replay_layers(ctx: Context, files: list[str]) -> None:
    """One layer-by-layer replay pass: each layer's output is persisted
    and counted, so each layer is its own span and its own plan."""
    from pyspark.sql import functions as F

    spark, tr, L = ctx.spark, ctx.tracer, ctx.layers
    shuffle = 0
    with tr.span("replay.staged"):
        long = P.long_samples(spark.read.schema(P.SAMPLE_SCHEMA).parquet(*files))
        with tr.span("functions.measures.stats"):
            srows = P.derived_stats(long).collect()
        stats = spark.createDataFrame(srows)
        with tr.span("functions.measures_np.windows"):
            mt = P.window_measures(long, CHUNK_ROWS).persist()
            q = mt.agg(F.count(F.lit(1)).alias("n"), F.sum("mean"))
            L["functions.measures_np.windows"] = q.collect()[0]["n"]
        nodes = P.plan_metrics(q)
        py = P.python_node_metrics(nodes)
        L["functions.measures_np.python_rows_in"] = py["rows_in"]
        L["functions.measures_np.python_bytes_in"] = py["bytes_in"]
        shuffle += P.shuffle_bytes(nodes)
        with tr.span("functions.measures.to_long"):
            lg = P.to_long(mt).persist()
            q = lg.agg(F.count(F.lit(1)).alias("n"))
            n_long = q.collect()[0]["n"]
        shuffle += P.shuffle_bytes(P.plan_metrics(q, into_cache=False))
        with tr.span("alerts.join_filter"):
            al = P.alert_filter(lg, stats).persist()
            q = al.agg(F.count(F.lit(1)).alias("n"))
            n_alerts = q.collect()[0]["n"]
        shuffle += P.shuffle_bytes(P.plan_metrics(q, into_cache=False))
        with tr.span("sink.write"):
            al.write.parquet(ctx.path("staged-out"))
        for df in (al, lg, mt):
            df.unpersist()
    self_t = tr.self_times()
    L["functions.measures.stats_s"] = self_t["functions.measures.stats"]
    L["functions.measures_np.windows_s"] = self_t["functions.measures_np.windows"]
    L["functions.measures.to_long_s"] = self_t["functions.measures.to_long"]
    L["alerts.join_filter_s"] = self_t["alerts.join_filter"]
    L["sink.write_s"] = self_t["sink.write"]
    L["alerts.count"] = n_alerts
    L["alerts.useful_ratio"] = n_alerts / n_long
    L["shuffle.bytes_written"] = shuffle


def _local1_baseline(ctx: Context, files: list[str]) -> None:
    """The reference runs at parallelism 1: one replay pass at local[1]."""
    _start_session(ctx, "perfbench-replay-local1", cpus=1, restart=True)
    t0 = time.perf_counter()
    with ctx.tracer.span("baseline.local1"):
        P.batch_alerts(ctx.spark, files, None, CHUNK_ROWS).write.parquet(ctx.path("local1-out"))
    ctx.layers["baseline.local1_samples_per_s"] = HISTORY_SAMPLES / (time.perf_counter() - t0)


# --- stream_backfill -----------------------------------------------------------


def stream_backfill(ctx: Context) -> Outcome:
    samples, gen_s, cached = data.cached_samples(ctx.cache_dir, ctx.seed, HISTORY_SAMPLES)
    ctx.layers["fixtures.generator.sample_s"] = gen_s
    ctx.say(f"fixture: {HISTORY_SAMPLES} samples, seed {ctx.seed}, {'cached' if cached else 'generated'} in {gen_s:.3f} s")
    srows = data.stats_rows(samples)
    state = {}

    def stage():
        state["files"] = data.stage_history(samples, ctx.fresh("history"), FILE_ROWS)
        warm_dir = ctx.fresh("warm-src")
        for f in state["files"][:2]:
            shutil.copy(f, warm_dir)
        state["stats"] = ctx.spark.createDataFrame(srows, P.STATS_SCHEMA).cache()
        state["stats"].count()

    def warm():
        w = ctx.fresh("warm")
        q = P.start_stream(
            ctx.spark, ctx.path("warm-src"), P.SAMPLE_SCHEMA, state["stats"],
            P.AlertSink(os.path.join(w, "sink")), os.path.join(w, "ckpt"), available_now=True,
        )
        q.awaitTermination()

    setup_s = _setup(ctx, "perfbench-backfill", stage, warm)
    files, stats = state["files"], state["stats"]
    n = HISTORY_SAMPLES

    reps = []
    t_end = time.perf_counter() + ctx.seconds
    tracing = ctx.tracer.enabled
    traced_rep, plain_rep = [], []
    i = 0
    while i < 2 or time.perf_counter() < t_end:
        d = ctx.fresh(f"rep-{i:03d}")
        sink = P.AlertSink(os.path.join(d, "sink"))
        on = tracing and i % 2 == 1
        ctx.tracer.enabled = on
        called = time.time()
        q = P.start_stream(
            ctx.spark, os.path.dirname(files[0]), P.SAMPLE_SCHEMA, stats, sink,
            os.path.join(d, "ckpt"), max_files=FILES_PER_TRIGGER, available_now=True,
        )
        q.awaitTermination()
        total = sink.commits[-1].committed_s - called
        (traced_rep if on else plain_rep).append(total)
        prog = _progress(q)
        last = [p for p in prog if p.get("numInputRows", 0) > 0][-1]
        reps.append((called, sink, prog, total, sink.commits[-1].committed_s - _epoch(last["timestamp"]), d))
        i += 1
    ctx.tracer.enabled = tracing
    ctx.say(f"backfill drains (s): {', '.join(f'{r[3]:.3f}' for r in reps)}")
    _last_batch_layers(ctx, q)

    lat, batch_of = [], []
    for k, (called, sink, *_rest) in enumerate(reps):
        for c in sink.commits:
            lat.append(np.full(c.rows, c.committed_s - called))
            batch_of.append(np.full(c.rows, k * 10_000 + c.batch_id))
    _stop_rss(ctx)
    e2e = {
        "setup_s": setup_s,
        "samples_per_s": median([n / r[3] for r in reps]),
        **_latency_metrics(np.concatenate(lat), np.concatenate(batch_of), ctx),
    }
    ctx.layers["stream.drain_s"] = median([r[4] for r in reps])
    ctx.layers["source.backlog_files_max"] = len(files)
    _streaming_layers(ctx, reps[-1][2], reps[-1][1])
    n_alerts = sum(c.rows for c in reps[-1][1].commits)
    ctx.layers["alerts.count"] = n_alerts
    ctx.layers["alerts.useful_ratio"] = n_alerts / (6 * 7 * (n - P.WINDOW + 1))
    if tracing:
        ctx.layers["trace.overhead_s"] = median(traced_rep) - median(plain_rep)

    # every repetition consumed every staged file
    for r in reps:
        got = set(P.consumed_files(os.path.join(r[5], "ckpt")))
        if got != set(files):
            raise RuntimeError(f"{r[5]}: stream consumed {len(got)} of {len(files)} files")
    return _stream_check(ctx, e2e, files, stats, [os.path.join(r[5], "sink") for r in reps], CHUNK_ROWS)


def _stream_check(ctx, e2e, files, stats, sinks, chunk_rows) -> Outcome:
    """Reference: the engine's batch path over the files the stream consumed."""
    ref_dir = ctx.path("reference")
    P.batch_alerts(ctx.spark, files, stats, chunk_rows).write.parquet(ref_dir)
    con = connect(ctx.cpus, ctx.path("duckdb-tmp"))
    con.execute(f"CREATE TABLE ref AS SELECT * FROM read_parquet('{ref_dir}/*.parquet')")
    out = _check(ctx, e2e, con, "ref", sinks)
    con.close()
    return out


# --- stream_paced --------------------------------------------------------------


def _await_commit(q, ckpt: str, sink: P.AlertSink, want: set[str]) -> dict[str, int]:
    """Wait until the stream has admitted every file in ``want`` and the
    sink has committed the last batch that admitted one; return the
    source log (file → batch id)."""
    deadline = time.time() + DRAIN_TIMEOUT_S
    while True:
        got = P.consumed_files(ckpt)
        if want <= set(got):
            last = max(got[f] for f in want)
            if any(c.batch_id == last for c in sink.commits):
                return got
        if time.time() > deadline or q.exception() is not None:
            q.stop()
            raise RuntimeError(f"stream did not drain: {len(want & set(got))} of {len(want)} files consumed")
        time.sleep(0.02)


def stream_paced(ctx: Context) -> Outcome:
    pool, gen_s, cached = data.cached_samples(ctx.cache_dir, ctx.seed, PACED_POOL)
    ctx.layers["fixtures.generator.sample_s"] = gen_s
    ctx.say(f"fixture: {PACED_POOL}-sample pool, seed {ctx.seed}, {'cached' if cached else 'generated'} in {gen_s:.3f} s")
    srows = data.stats_rows(pool)
    state = {}

    def stage():
        np.save(ctx.path("pool.npy"), pool)
        ctx.fresh("incoming")
        warm_dir = ctx.fresh("warm-src")
        # a paced-sized file that takes every portfolio past its first
        # window, then a backlog-sized one: the warm-up runs both batch
        # shapes the timed phase runs
        sizes = (2 * P.WINDOW, BACKLOG_PER_PID)
        for j, n in enumerate(sizes):
            table = data.paced_table(pool, PACED_PORTFOLIOS, 1 + sum(sizes[:j]), n, 0.0)
            data.write_atomic(table, warm_dir, f"part-{j:05d}.parquet", time.time_ns())
        state["stats"] = ctx.spark.createDataFrame(srows, P.STATS_SCHEMA).cache()
        state["stats"].count()

    def warm():
        w = ctx.fresh("warm")
        q = P.start_stream(
            ctx.spark, ctx.path("warm-src"), P.PACED_SCHEMA, state["stats"],
            P.AlertSink(os.path.join(w, "sink")), os.path.join(w, "ckpt"), max_files=1, available_now=True,
        )
        q.awaitTermination()

    setup_s = _setup(ctx, "perfbench-paced", stage, warm)
    stats = state["stats"]
    incoming = ctx.path("incoming")
    n_files = int(math.ceil((PACED_WARMUP_S + ctx.seconds) / PACED_PERIOD))
    sink = P.AlertSink(ctx.path("sink"))
    ckpt = ctx.path("ckpt")
    ledger_path = ctx.path("ledger.csv")

    def file_of(e) -> str:
        return os.path.join(incoming, f"part-{e.file:05d}.parquet")

    q = P.start_stream(ctx.spark, incoming, P.PACED_SCHEMA, stats, sink, ckpt)
    gen = subprocess.Popen(
        [
            sys.executable, os.path.join(ctx.root, "perfbench", "generator.py"),
            "--out", incoming, "--ledger", ledger_path, "--pool", ctx.path("pool.npy"),
            "--portfolios", str(PACED_PORTFOLIOS), "--rate", str(PACED_RATE),
            "--period", str(PACED_PERIOD), "--files", str(n_files), "--lead", "0.5",
        ]
    )
    try:
        rc = gen.wait(timeout=n_files * PACED_PERIOD + 30)
    finally:
        if gen.poll() is None:
            gen.kill()
            gen.wait()
    if rc != 0:
        q.stop()
        raise RuntimeError(f"generator exited with {rc}")
    ledger = Ledger(read_ledger(ledger_path))
    ctx.say(f"generator wrote {len(ledger.entries)} files")
    got = _await_commit(q, ckpt, sink, {file_of(e) for e in ledger.entries})
    paced_batches = max(got.values()) + 1
    _last_batch_layers(ctx, q)
    ctx.say("paced phase drained")

    # Capacity, a closed loop: each round makes one file of a fixed
    # backlog visible to the idle query with one rename and times it
    # to the commit of the batch that admits it.
    seq_lo = ledger.entries[-1].seq_hi + 1
    tracing = ctx.tracer.enabled
    backlog_files, drains, traced_round, plain_round = [], [], [], []
    for r in range(BACKLOG_ROUNDS):
        on = tracing and r % 2 == 1
        ctx.tracer.enabled = on
        table = data.paced_table(pool, PACED_PORTFOLIOS, seq_lo, BACKLOG_PER_PID, 0.0)
        with ctx.tracer.span("paced.backlog"):
            path = data.write_atomic(table, incoming, f"part-{len(ledger.entries) + r:05d}.parquet", time.time_ns())
            visible = time.time()
            got = _await_commit(q, ckpt, sink, {path})
        committed = next(c.committed_s for c in sink.commits if c.batch_id == got[path])
        drains.append(committed - visible)
        (traced_round if on else plain_round).append(drains[-1])
        backlog_files.append(path)
        seq_lo += BACKLOG_PER_PID
    ctx.tracer.enabled = tracing
    q.stop()
    ctx.say(f"backlog drains (s): {', '.join(f'{t:.3f}' for t in drains)}; stream stopped")
    _stop_rss(ctx)
    prog = _progress(q)
    paced_prog = [p for p in prog if p["batchId"] < paced_batches]

    commit_of = {c.batch_id: c.committed_s for c in sink.commits}
    # Measured batches: those that admitted only files due after the
    # warm-up. Whole batches, so a run's edges do not cut one in half.
    measure_from = ledger.entries[0].due_s + PACED_WARMUP_S
    files_of: dict[int, list] = {}
    for e in ledger.entries:
        files_of.setdefault(got[file_of(e)], []).append(e)
    measured = sorted(b for b, es in files_of.items() if all(e.due_s >= measure_from - 1e-9 for e in es))
    import pyarrow.parquet as pq

    lat, batch_of = [], []
    for b in measured:
        path = os.path.join(sink.directory, f"batch-{b:06d}.parquet")
        if os.path.exists(path):
            seq = pq.read_table(path, columns=["seq"]).column("seq").to_numpy()
            lat.append(commit_of[b] - ledger.created_many(seq))
            batch_of.append(np.full(seq.size, b))
    e2e = {
        "setup_s": setup_s,
        "samples_per_s": median([BACKLOG_PER_PID * PACED_PORTFOLIOS / t for t in drains]),
        **_latency_metrics(np.concatenate(lat), np.concatenate(batch_of), ctx),
    }

    L = ctx.layers
    last = ledger.entries[-1]
    L["stream.drain_s"] = commit_of[got[file_of(last)]] - last.written_s
    late = [e.written_s - e.due_s for e in ledger.entries]
    L["generator.late_p99_s"] = percentile(late, 99)
    # files written but not yet admitted when each paced trigger started
    admitted_by: dict[int, int] = {}
    for e in ledger.entries:
        admitted_by[got[file_of(e)]] = admitted_by.get(got[file_of(e)], 0) + 1
    backlog, admitted = [], 0
    for p in paced_prog:
        t = _epoch(p["timestamp"])
        backlog.append(sum(1 for e in ledger.entries if e.written_s <= t) - admitted)
        admitted += admitted_by.get(p["batchId"], 0)
    L["source.backlog_files_max"] = max(backlog) if backlog else 0
    _streaming_layers(ctx, paced_prog, sink)
    n_alerts = sum(c.rows for c in sink.commits if c.batch_id < paced_batches)
    L["alerts.count"] = n_alerts
    L["alerts.useful_ratio"] = n_alerts / (6 * 7 * PACED_PORTFOLIOS * max(1, last.seq_hi - P.WINDOW + 1))
    if tracing:
        L["trace.overhead_s"] = median(traced_round) - median(plain_round)
    want = sorted(file_of(e) for e in ledger.entries) + backlog_files
    return _stream_check(ctx, e2e, want, stats, [sink.directory], None)


WORKLOADS = {
    "replay_batch": replay_batch,
    "stream_backfill": stream_backfill,
    "stream_paced": stream_paced,
}
