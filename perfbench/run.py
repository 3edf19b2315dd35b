"""Alert-pipeline benchmark for the psd_project_spark engine.

Runs one workload of the paper's alert pipeline (30-row count windows,
six risk measures, 1% threshold alerts) and prints its metrics, one per
line with units, then one JSON result object as the last line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the
per-layer metrics (and keeps spans, written to
``perfbench/_work/traces/`` when the run ends).

Usage (from the repository root):
    python3 perfbench/run.py --workload replay_batch --seed 1 --seconds 10 --trace 0

Workloads: replay_batch, stream_backfill, stream_paced (see
``workloads.py``). Spark runs as ``local[nproc]`` with a 3 GiB driver
heap; all scratch files live under ``perfbench/_work/`` and each run's
directory is removed when it ends. ``attempted`` counts the reference
alert rows plus any spurious output rows, and ``failed`` those the
pipeline did not reproduce exactly, so ``failed / attempted`` is the
workload's ``failed_frac``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DRIVER_MEMORY = "3g"


def _prepare_env(run_dir: str, cpus: int) -> None:
    """Everything the JVM and Python workers need, set before the JVM
    starts: engine import path, core count, heap, and temporary-file locations
    inside the run directory."""
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    path = os.environ.get("PYTHONPATH", "")
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, HERE, path) if p)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEMORY
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    opts = os.environ.get("SPARK_SUBMIT_OPTS", "")
    os.environ["SPARK_SUBMIT_OPTS"] = f"{opts} -Djava.io.tmpdir={tmp} -XX:-UsePerfData".strip()
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    # pandas deprecation noise from Spark's own Arrow serializers
    os.environ["PYTHONWARNINGS"] = "ignore::FutureWarning"
    os.environ["PYSPARK_SUBMIT_ARGS"] = "--conf spark.ui.showConsoleProgress=false pyspark-shell"


def _cpu_ticks() -> list[int]:
    """Aggregate ``/proc/stat`` CPU counters (user … steal …)."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path[:0] = [ROOT, HERE]
    try:
        import psd_project_spark  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as exc:
        print(f"cannot import the engine under test: {exc}", file=sys.stderr)
        return 2

    from harness import Tracer
    from workloads import E2E_UNITS, LAYER_UNITS, WORKLOADS, Context

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    work = os.path.join(HERE, "_work")
    run_dir = os.path.join(work, f"run-{os.getpid()}-{time.time_ns()}")
    cpus = len(os.sched_getaffinity(0))
    _prepare_env(run_dir, cpus)
    ctx = Context(
        root=ROOT,
        run_dir=run_dir,
        cache_dir=os.path.join(work, "cache"),
        seed=args.seed,
        seconds=args.seconds,
        cpus=cpus,
        driver_memory=DRIVER_MEMORY,
        tracer=Tracer(enabled=bool(args.trace)),
    )
    print(f"workload {args.workload}, seed {args.seed}, {args.seconds:g} s, trace {args.trace}; "
          f"local[{cpus}], driver heap {DRIVER_MEMORY}", flush=True)
    ticks = _cpu_ticks()
    try:
        outcome = WORKLOADS[args.workload](ctx)
        delta = [a - b for a, b in zip(_cpu_ticks(), ticks)]
        # field 8 is time stolen by the hypervisor: contention from outside
        print(f"cpu during run: busy {1 - (delta[3] + delta[4]) / sum(delta):.3f}, "
              f"steal {delta[7] / sum(delta):.3f} of {ctx.cpus} cpus", flush=True)
    finally:
        if ctx.spark is not None:
            from pipelines import shutdown

            shutdown(ctx.spark)
        if ctx.rss is not None:
            ctx.rss.stop()
        shutil.rmtree(run_dir, ignore_errors=True)
        ctx.say("stopped")

    if args.trace:
        self_t = ctx.tracer.self_times()
        for name in sorted(self_t):
            print(f"self time {name}: {self_t[name]:.4f} s")
        traces = os.path.join(work, "traces")
        os.makedirs(traces, exist_ok=True)
        ctx.tracer.dump(os.path.join(traces, f"{args.workload}-seed{args.seed}-{os.getpid()}.json"))
        metrics = {k: {"value": ctx.layers.get(k, 0), "unit": u} for k, u in LAYER_UNITS.items()}
    else:
        metrics = {k: {"value": outcome.e2e[k], "unit": u} for k, u in E2E_UNITS.items()}
        for k in ("stream.drain_s", "process.peak_rss_mb"):  # too noisy to gate; shown for context
            print(f"{k}: {ctx.layers.get(k, 0)} {LAYER_UNITS[k]} (per-layer)")
    for k, m in metrics.items():
        print(f"{k}: {m['value']} {m['unit']}")
    correct = outcome.failed == 0
    print(f"failed_frac: {outcome.failed_frac} ({outcome.failed} of {outcome.attempted} alert rows "
          f"not reproduced exactly); correct: {correct}")
    print(json.dumps({
        "correct": correct,
        "attempted": outcome.attempted,
        "failed": outcome.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
