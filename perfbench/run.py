"""Benchmark of the feature engine: two workloads, one command.

    python3 perfbench/run.py --workload featurize|upsert \\
        --seed N --seconds S --trace 0|1 [--scale full|tiny]

Runs from the root of a source checkout, builds nothing, and reads and
writes only inside the checkout (``.bench_work/`` while running, removed
at exit; ``.bench_out/`` keeps span dumps). The session is
``local[nproc / 2]`` with as many shuffle partitions (see ``start_session``)
and a fixed 2 GB driver heap.

The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0`` and the per-layer metrics with ``--trace 1``. Every workload
reports every metric of its kind; a layer the workload never calls reads
0. ``BENCHMARK.json`` names the metrics and their units.

End-to-end, per workload (an *operation* is one featurize run or one
upsert round; ``workloads`` describes both):

- ``setup_s``: session start + median of three input commits + two
  warm-up operations.
- ``rows_per_s``: images (featurize), or merged rows plus point-in-time
  probes (upsert), per second of wall time of the window's fastest
  operation (featurize) or two consecutive rounds, one of which compacts
  (upsert).
- ``commit_s_min``: the fastest time in the window of an operation up to
  its commit (``build_features`` + ``write_resumable``; ``merge_into``).
- ``read_s_min``: the fastest read-after-write in the window.

All three take the best of the window, not the median: on a shared
4-vCPU host, interference slows single operations by up to half, and the
best of a few operations repeats across runs several times more closely
than their median.
- ``peak_rss_mb``: peak resident memory of the process tree (driver JVM,
  Python driver and Python workers), sampled every 0.2 s. The Python
  workers and the daemon they fork from count as PSS, so pages they share
  count once; the driver process and the JVM count as RSS (see
  ``spans._tree_kb``).
- ``space_amp``: bytes under the table directory / bytes of the current
  snapshot's data files; for upsert after round 4, before expiry.
- ``write_amp``: bytes written by commits / on-disk bytes of the rows they
  changed; for upsert over the merges and compactions of rounds 1-4.

The error rate is ``failed / attempted`` of the result line; a failed
correctness check counts as a failed operation.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
PACKAGE = "query_cost_feature_engineering_spark"

E2E = {
    "setup_s": "s",
    "rows_per_s": "rows/s",
    "commit_s_min": "s",
    "read_s_min": "s",
    "peak_rss_mb": "MB",
    "space_amp": "ratio",
    "write_amp": "ratio",
}
LAYERS = {
    "session.start_s": "s",
    "scan.s": "s",
    "functions.decode_s": "s",
    "functions.decode_jpeg_s": "s",
    "functions.decode_png_s": "s",
    "functions.decode_rows": "count",
    "functions.decode_failed": "count",
    "operators.windows_s": "s",
    "plans.vector_s": "s",
    "runtime.checkpoint.write_s": "s",
    "runtime.checkpoint.bytes": "bytes",
    "runtime.checkpoint.files": "count",
    "operators.asof.profile_s": "s",
    "operators.asof.merge_s": "s",
    "operators.asof.probes": "count",
    "operators.asof.match_ratio": "ratio",
    "runtime.snapshots.commit_s": "s",
    "runtime.snapshots.merge_s": "s",
    "runtime.snapshots.files_rewritten": "count",
    "runtime.snapshots.files_carried": "count",
    "runtime.snapshots.bytes_written": "bytes",
    "runtime.snapshots.read_plan_s": "s",
    "runtime.snapshots.prune_ratio": "ratio",
    "runtime.snapshots.compact_s": "s",
    "runtime.snapshots.expire_s": "s",
    "exchange.shuffle_write_bytes": "bytes",
    "exchange.spill_bytes": "bytes",
    "python.worker_s": "s",
    "trace.unexplained_s": "s",
}
WORKLOADS = ("featurize", "upsert")
DRIVER_MEM = "2g"


def scales(width: int):
    from gen import Scale

    return {
        "full": Scale(images=2400, image_entities=40, jpeg_pool=125,
                      feature_rows=20_000, feature_entities=400,
                      feature_width=width, pit_probes=8_000, read_probes=2_000,
                      batch_updates=300, batch_inserts=60),
        "tiny": Scale(images=200, image_entities=8, jpeg_pool=8,
                      feature_rows=2_000, feature_entities=40, feature_width=8,
                      pit_probes=500, read_probes=100, batch_updates=30,
                      batch_inserts=5),
    }


def start_session(work: Path, trace: bool):
    """The engine's ``get_spark`` pinned to ``local[nproc / 2]`` (and as
    many shuffle partitions), with every scratch location (package zip,
    spill, temp, event log) under ``work``.

    Every task of a Python UDF keeps two threads busy, the JVM's and its
    Python worker's, so ``nproc / 2`` tasks fill the machine without
    queueing; the driver thread, the JIT and the collector find a free
    core. At ``local[nproc]`` on a 4-vCPU VM the fastest featurize commit
    of a run spread about five times wider across runs."""
    cpus = max(1, len(os.sched_getaffinity(0)) // 2)
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cpus), SPARK_DRIVER_MEM=DRIVER_MEM, TMPDIR=str(tmp)
    )
    from query_cost_feature_engineering_spark import session

    make_zip = session.package_zip
    session.package_zip = lambda out=None: make_zip(out or str(work / "pkg.zip"))
    extra = {
        "spark.local.dir": str(tmp),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        # a fixed, pre-touched heap: the JVM's share of peak RSS does not
        # depend on when the collector chose to grow the heap. JIT
        # thresholds at a fifth: the driver's planning code is compiled
        # sooner, so less of the speed-up from compiling it falls into the
        # timed window
        "spark.driver.extraJavaOptions": (
            f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch -Djava.io.tmpdir={tmp} "
            "-XX:-UsePerfData -XX:CompileThresholdScaling=0.2"
        ),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        (work / "events").mkdir()
        extra |= {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{work / 'events'}",
            "spark.eventLog.compress": "false",
        }
    return session.get_spark(app="perfbench", extra=extra)


def stop_session(spark) -> None:
    """Stop Spark, end the gateway JVM and wait for every child to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
    from spans import tree_pids

    deadline = time.time() + 30
    while tree_pids(os.getpid()) and time.time() < deadline:
        time.sleep(0.2)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "tiny"), default="full")
    args = ap.parse_args(argv)

    if not (ROOT / PACKAGE / "__init__.py").is_file():
        print(f"no {PACKAGE} package next to {HERE.name}/", file=sys.stderr)
        return 2
    for p in (str(ROOT), str(HERE)):
        if p not in sys.path:
            sys.path.insert(0, p)

    import workloads
    from spans import RssSampler, Tracer, event_log_totals

    from query_cost_feature_engineering_spark.plans.pipeline import FEATURE_ORDER

    sc = scales(len(FEATURE_ORDER))[args.scale]
    work = ROOT / ".bench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    out_dir = ROOT / ".bench_out"
    out_dir.mkdir(exist_ok=True)
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    tracer = Tracer(f"{args.workload}-{args.seed}") if args.trace else None
    try:
        with RssSampler() as rss:
            t0 = time.perf_counter()
            spark = start_session(work, bool(args.trace))
            start_s = time.perf_counter() - t0
            ctx = workloads.Ctx(spark, work, args.seed, sc, args.seconds, tracer)
            try:
                m = getattr(workloads, args.workload)(ctx)
            finally:
                stop_session(spark)
        w0, w1, n_ops = m.pop("window")
        digest = m.pop("digest")
        m["setup_s"] += start_s
        m["peak_rss_mb"] = rss.peak_mb
        e2e = {k: m[k] for k in E2E}
        if tracer:
            layers = dict.fromkeys(LAYERS, 0.0) | m["layers"]
            layers["session.start_s"] = start_s
            events = event_log_totals(str(work / "events"), w0 * 1000, w1 * 1000)
            layers |= {k: v / n_ops for k, v in events.items()}
            tracer.dump(str(out_dir / f"trace-{args.workload}-{args.seed}.json"), layers)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    print(f"workload {args.workload} seed {args.seed} scale {args.scale} "
          f"inputs {digest} ops {n_ops}")
    for k, unit in E2E.items():
        print(f"  {k:<14} {e2e[k]:>14.6g} {unit}")
    print(f"  {'error_rate':<14} {ctx.failed / ctx.attempted:>14.6g} ratio "
          f"({ctx.failed}/{ctx.attempted} operations)")
    metrics = {k: {"value": v, "unit": E2E[k]} for k, v in e2e.items()}
    base_file = out_dir / f"e2e-{args.workload}-{args.scale}.json"
    if tracer:
        for k, unit in LAYERS.items():
            print(f"  {k:<34} {layers[k]:>14.6g} {unit}")
        base = json.loads(base_file.read_text()) if base_file.is_file() else {}
        over = {k: e2e[k] / base[k] - 1 for k in ("commit_s_min", "read_s_min") if k in base}
        if over:
            print("  tracing overhead vs last untraced run: "
                  + ", ".join(f"{k} {v:+.1%}" for k, v in over.items()))
        else:
            print("  tracing overhead: no untraced run of this workload recorded")
        metrics = {k: {"value": v, "unit": LAYERS[k]} for k, v in layers.items()}
    else:
        base_file.write_text(json.dumps(e2e))
    print(json.dumps({
        "correct": ctx.failed == 0,
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
