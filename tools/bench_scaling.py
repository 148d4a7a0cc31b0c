"""Scaling-efficiency evidence (BASELINE.json north_rule).

The two-cluster-size criterion (N vs 4N executors, efficiency >= 0.8)
cannot use a real cluster in this sandbox, so per the driver's guidance we
run the IDENTICAL job at two local parallelism levels on the SAME input
and report throughput at both plus efficiency = speedup / 4.

    python tools/bench_scaling.py [n_images] [low_cores] [high_cores]

Writes nothing; prints one JSON line. Paste results into BENCH/BASELINE.md.
"""

from __future__ import annotations

import json
import shutil
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

WORK = "/tmp/qcfe_scaling"


def run_once(cores: int, img_path: str, spine_path: str, n_buckets: int,
             n_reps: int = 6) -> dict:
    from query_cost_feature_engineering_spark.operators.asof import (
        asof_join_pandas_merge,
    )
    from query_cost_feature_engineering_spark.plans.pipeline import (
        assemble_vector,
        compute_features,
    )
    from query_cost_feature_engineering_spark.session import get_spark

    spark = get_spark(
        app=f"qcfe-scaling-{cores}", master=f"local[{cores}]",
        shuffle_partitions=cores,
    )
    images = spark.read.parquet(img_path)
    spine = spark.read.parquet(spine_path)
    # Warm-up (excluded): compiles every whole-stage-codegen class of the
    # full plan (Janino work is serial on the driver and would otherwise be
    # billed to the first timed run) and spins up the python worker pool.
    feats_plan = assemble_vector(compute_features(images)).select(
        "image_id", "entity_id", "ts", "session_id", "px_mean", "features"
    )
    stage_out = f"{img_path}_feats_{cores}"
    feats_plan.limit(256).write.mode("overwrite").parquet(stage_out)

    reps = []
    n = 0
    for _ in range(n_reps):
        t0 = time.perf_counter()
        # stage boundary: the pipeline materializes the (narrow) feature
        # table, then the as-of stage joins from the written table — caching
        # the full 200+-column row in the block store instead contends on
        # its locks and anti-scales past ~8 threads
        feats_plan.write.mode("overwrite").parquet(stage_out)
        feats = spark.read.parquet(stage_out)
        n = feats.count()
        t1 = time.perf_counter()
        joined = asof_join_pandas_merge(
            spine,
            feats.select("entity_id", "ts", "image_id", "px_mean", "session_id"),
            on="ts", by="entity_id",
            value_cols=["image_id", "px_mean", "session_id"],
            tiebreak="image_id", num_buckets=max(n_buckets, cores),
        )
        joined.write.format("noop").mode("overwrite").save()
        t2 = time.perf_counter()
        reps.append((t1 - t0, t2 - t1, t2 - t0))
    spark.stop()
    best = min(reps, key=lambda r: r[2])  # min over reps: GC spikes excluded
    return {
        "cores": cores,
        "n_images": n,
        "feature_sec": round(best[0], 3),
        "asof_sec": round(best[1], 3),
        "total_sec": round(best[2], 3),
        "reps_total_sec": [round(r[2], 3) for r in reps],
        "images_per_sec": round(n / best[2], 1),
    }


def main() -> None:
    n_images = int(sys.argv[1]) if len(sys.argv) > 1 else 24000
    low = int(sys.argv[2]) if len(sys.argv) > 2 else 8
    high = int(sys.argv[3]) if len(sys.argv) > 3 else 32
    n_reps = int(sys.argv[4]) if len(sys.argv) > 4 else 6

    from query_cost_feature_engineering_spark.session import get_spark
    from query_cost_feature_engineering_spark.sources.images import (
        generate_spine_pandas,
    )

    shutil.rmtree(WORK, ignore_errors=True)
    gen = get_spark(app="qcfe-scaling-gen", master="local[32]")
    img_path, spine_path = f"{WORK}/images", f"{WORK}/spine"
    from query_cost_feature_engineering_spark.sources.images import (
        write_images_table_dist,
    )

    write_images_table_dist(
        gen, img_path, n_images, n_entities=max(n_images // 40, 8), seed=42
    )
    spine_src = (
        gen.read.parquet(img_path).select("entity_id", "ts").toPandas()
    )
    gen.createDataFrame(
        generate_spine_pandas(spine_src, n=2 * n_images, seed=43)
    ).repartition(64).write.parquet(spine_path)
    gen.stop()

    # min-of-reps: this sandbox VM shows host CPU steal (up to ~17% in
    # /proc/stat) and random multi-second stalls; the minimum over reps is
    # the cleanest estimate of actual capability at each parallelism.
    # INTERLEAVED low/high rounds: host noise drifts on minute scales, so
    # measuring all low reps in one window and all high reps in another
    # biases the ratio by whatever the host did between windows; pairing
    # them samples the same noise epochs on both sides.
    lo = hi = None
    for _ in range(max(n_reps // 2, 1)):
        l1 = run_once(low, img_path, spine_path, n_buckets=high, n_reps=2)
        h1 = run_once(high, img_path, spine_path, n_buckets=high, n_reps=2)
        if lo is None or l1["total_sec"] < lo["total_sec"]:
            lo = l1
        if hi is None or h1["total_sec"] < hi["total_sec"]:
            hi = h1
    speedup = lo["total_sec"] / hi["total_sec"]
    out = {
        "n_images": n_images,
        "low": lo,
        "high": hi,
        "speedup": round(speedup, 3),
        "scaling_efficiency": round(speedup / (high / low), 3),
    }
    print(json.dumps(out))


if __name__ == "__main__":
    main()
