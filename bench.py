"""Benchmark harness (driver contract).

Runs the headline queries at ``$SPARK_GRAFT_SF_DIR`` (default
``/root/testdata/sf0.1``) on ``local[$SPARK_GRAFT_CPUS]`` and prints ONE
JSON line::

    {"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}

The flagship number is the image as-of+window feature pipeline
(BASELINE.json north-star metric: images/sec), reported in the extra
``images_per_sec`` key; ``value`` is total headline wall seconds.

Round 2: ngram_jaccard_pairs (exact prefix-filtered similarity join) and
embedding_neardup_pairs (SRP-LSH candidates) no longer contain all-pairs
joins, so they joined the headline set alongside the new exact-Gram fit
queries.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time
from pathlib import Path

_REPO = str(Path(__file__).resolve().parent)
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

from query_cost_feature_engineering_spark.queries import REGISTRY  # noqa: E402

# Registry entries left out of the timed set. Every other REGISTRY entry
# is a headline query, so a newly registered query is timed unless it is
# listed here.
EXCLUDED = [
    "ann_ivf_topk",
    "plan_featurize_deep",
    "plan_featurize_job_vocab",
    "subplan_rollup_plans",
    "stream_image_features",
    "explain_json_featurize",
    "minhash_signatures",
    "contamination_docs",
    "contamination_ngram_docs",
    "dedup_clusters_docs",
    "image_features",
    "logscan_plans",
    "image_asof_features",
    "phash_neardup_images",
    "resize_images_meta",
    "augment_images_meta",
    "video_frame_sample",
    "audio_features_clips",
    "format_sniff_images",
    "set_ops_nations",
    "unpivot_user_event_counts",
    "stream_enrich_events",
    "stream_tumbling_events",
    "snapshot_template_sample",
    "greedy_ablation_lineitem",
]
HEADLINE = [name for name in REGISTRY if name not in EXCLUDED]

N_IMAGES = int(os.environ.get("SPARK_GRAFT_BENCH_IMAGES", "24000"))
N_PROBES = int(os.environ.get("SPARK_GRAFT_BENCH_PROBES", "48000"))


def _run_count(df) -> int:
    """Run ``df`` to a ``noop`` sink and return its row count. The sink
    evaluates every output column; a ``count()`` plan lets Catalyst prune
    deterministic UDFs, windows and shuffles."""
    from query_cost_feature_engineering_spark.runtime.metrics import (
        observe_counts,
    )

    df, obs = observe_counts(df)
    df.write.format("noop").mode("overwrite").save()
    return obs.get["rows"]


def bench_image_pipeline(spark, workdir: str) -> dict:
    """images/sec through decode → window layer → vector → as-of join."""
    from query_cost_feature_engineering_spark.operators.asof import (
        asof_join_pandas_merge,
    )
    from query_cost_feature_engineering_spark.plans.pipeline import (
        assemble_vector,
        compute_features,
    )
    from query_cost_feature_engineering_spark.sources.images import (
        generate_spine_pandas,
        write_images_table_dist,
    )

    # --- input synthesis (NOT timed: the engine's job starts at the scan) --
    img_path = os.path.join(workdir, "images")
    write_images_table_dist(
        spark, img_path, N_IMAGES, n_entities=max(N_IMAGES // 40, 8), seed=42
    )
    spine_src = spark.read.parquet(img_path).select("entity_id", "ts").toPandas()
    spine_path = os.path.join(workdir, "spine")
    spark.createDataFrame(
        generate_spine_pandas(spine_src, n=N_PROBES, seed=43)
    ).repartition(32).write.mode("overwrite").parquet(spine_path)

    images = spark.read.parquet(img_path)
    spine = spark.read.parquet(spine_path)
    feats_plan = assemble_vector(compute_features(images)).select(
        "image_id", "entity_id", "ts", "session_id", "px_mean", "features"
    )
    stage_out = os.path.join(workdir, "feats")
    # warm-up (excluded): compiles the plan's codegen + spins python workers
    feats_plan.limit(256).write.mode("overwrite").parquet(stage_out)

    # min of reps: the sandbox VM has host CPU steal (see BENCH.md); the
    # minimum is the cleanest estimate of capability
    reps = []
    n_feat = n_join = 0
    for _ in range(3):
        t0 = time.perf_counter()
        feats_plan.write.mode("overwrite").parquet(stage_out)
        feats = spark.read.parquet(stage_out)
        n_feat = feats.count()
        t1 = time.perf_counter()
        joined = asof_join_pandas_merge(
            spine,
            feats.select("entity_id", "ts", "image_id", "px_mean", "session_id"),
            on="ts",
            by="entity_id",
            value_cols=["image_id", "px_mean", "session_id"],
            tiebreak="image_id",
            num_buckets=32,
        )
        n_join = _run_count(joined)
        t2 = time.perf_counter()
        reps.append((t1 - t0, t2 - t1, t2 - t0))
    best = min(reps, key=lambda r: r[2])
    return {
        "n_images": n_feat,
        "n_probes": n_join,
        "feature_sec": round(best[0], 3),
        "asof_sec": round(best[1], 3),
        "total_sec": round(best[2], 3),
        "reps_total_sec": [round(r[2], 3) for r in reps],
        "images_per_sec": round(n_feat / best[2], 1),
    }


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")

    import __spark_entry__ as E
    from query_cost_feature_engineering_spark.session import get_spark

    spark = get_spark(app="qcfe-bench", master=f"local[{cpus}]")
    qs = E.queries()
    timings: dict[str, float] = {}

    # warm up the JVM + python workers once (excluded from timings)
    _run_count(qs["q1_pricing_summary"](spark, sf_dir))

    # min over reps per query: the first execution pays one-off Janino
    # codegen compilation (serial on the driver) and this host shows CPU
    # steal (BENCH.md); min-of-reps is the capability estimate used
    # everywhere in BENCH.md
    n_reps = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3"))
    detail: dict[str, dict] = {}
    for name in HEADLINE:
        per_rep = []
        for _ in range(n_reps):
            t0 = time.perf_counter()
            _run_count(qs[name](spark, sf_dir))
            per_rep.append(time.perf_counter() - t0)
        # cold = first rep (pays Janino codegen for this plan shape);
        # warm_min = best of the rest (capability once compiled). Both
        # are reported so methodology changes and host-steal epochs
        # can't silently move one aggregate number (round-3 verdict #4).
        cold = per_rep[0]
        warm_min = min(per_rep[1:]) if len(per_rep) > 1 else per_rep[0]
        detail[name] = {
            "cold": round(cold, 3),
            "warm_min": round(warm_min, 3),
        }
        timings[name] = round(min(per_rep), 3)

    with tempfile.TemporaryDirectory(prefix="qcfe_bench_") as workdir:
        img = bench_image_pipeline(spark, workdir)
    timings["image_pipeline"] = img["total_sec"]

    total = round(sum(timings.values()), 3)
    out = {
        "metric": "headline_queries_total_wall",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "queries_cold_warm": detail,
        "sf": sf_dir,
        "cpus": int(cpus),
        "images_per_sec": img["images_per_sec"],
        "image_pipeline": img,
    }
    spark.stop()
    # Detail line first (per-query dict — long), then the headline as
    # its own SHORT final line: the driver's tail-capture window
    # overflowed in round 2 when the 62-entry dict lived on the
    # headline line ("parsed": null in BENCH_r02.json).
    print(json.dumps(out))
    print(
        json.dumps(
            {
                "metric": "headline_queries_total_wall",
                "value": total,
                "unit": "sec",
                "sf": sf_dir,
                "cpus": int(cpus),
                "images_per_sec": img["images_per_sec"],
                "n_queries": len(timings),
            }
        )
    )


if __name__ == "__main__":
    main()
