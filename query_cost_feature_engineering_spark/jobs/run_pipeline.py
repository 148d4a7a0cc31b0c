"""Batch job entrypoint: image+caption table → feature vectors, resumable.

Run with spark-submit (the deployment mode BASELINE.json ``north_rule``
prescribes)::

    zip=$(python -c "from query_cost_feature_engineering_spark.session \\
          import package_zip; print(package_zip())")
    spark-submit --master local[32] --py-files "$zip" \\
        query_cost_feature_engineering_spark/jobs/run_pipeline.py \\
        --input /path/images_parquet --output /path/features \\
        [--spine /path/spine_parquet] [--buckets 16]

Stages (SURVEY.md §3 "Spark lifecycle"): scan → decode/featurize (one
Arrow pandas UDF) → window layer → vector assembly → optional backward
as-of join onto a probe spine → resumable partitioned write with
per-partition lineage+metrics manifests (runtime/checkpoint.py). Re-running
after a crash skips completed partitions for the same input snapshot.
"""

from __future__ import annotations

import argparse
import json
import sys
import time
from pathlib import Path

# spark-submit ships the package zip via --py-files; this fallback makes the
# script also runnable from a repo checkout without packaging.
_REPO = str(Path(__file__).resolve().parents[2])
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)


def build_features(spark, input_path: str, spine_path: str | None):
    from pyspark.sql import functions as F

    from query_cost_feature_engineering_spark.operators.asof import (
        asof_join_pandas_merge,
    )
    from query_cost_feature_engineering_spark.plans.pipeline import (
        assemble_vector,
        compute_features,
    )

    images = spark.read.parquet(input_path)
    feats = assemble_vector(compute_features(images))
    if spine_path is None:
        return feats.select(
            "image_id", "entity_id", "ts", "session_id", "features"
        )
    spine = spark.read.parquet(spine_path)
    out = asof_join_pandas_merge(
        spine,
        feats.select("entity_id", "ts", "image_id", "session_id", "features"),
        on="ts",
        by="entity_id",
        value_cols=["image_id", "session_id", "features"],
        tiebreak="image_id",
    )
    return out.withColumn("ts", F.col("ts"))


def main(argv: list[str] | None = None) -> dict:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--input", required=True, help="image+caption parquet/Iceberg dir")
    ap.add_argument("--spine", default=None, help="optional probe spine parquet dir")
    ap.add_argument("--output", required=True)
    ap.add_argument("--buckets", type=int, default=16)
    ap.add_argument("--master", default=None)
    args = ap.parse_args(argv)

    from query_cost_feature_engineering_spark.runtime.checkpoint import (
        write_resumable,
    )
    from query_cost_feature_engineering_spark.session import get_spark

    spark = get_spark(app="qcfe-pipeline", master=args.master)
    t0 = time.perf_counter()
    df = build_features(spark, args.input, args.spine)
    plan_s = time.perf_counter() - t0  # driver: plan (+ as-of skew probe)
    inputs = [args.input] + ([args.spine] if args.spine else [])
    res = write_resumable(
        df,
        args.output,
        bucket_col="entity_id",
        n_buckets=args.buckets,
        input_paths=inputs,
    )
    res["plan_s"] = round(plan_s, 3)
    res["wall_s"] = round(time.perf_counter() - t0, 3)
    print(json.dumps(res))
    return res


if __name__ == "__main__":
    main()
