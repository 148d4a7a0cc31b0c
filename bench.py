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

HEADLINE = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q4_semi_orders",
    "customers_no_orders",
    "rollup_revenue",
    "cube_revenue",
    "range_join_promos",
    "predicate_scan_parts",
    "topk_orders_per_customer",
    "agg_events_daily",
    "json_props_events",
    "deciles_orders",
    "dedup_events_exact",
    "pivot_user_event_counts",
    "window_lag_lead_events",
    "window_backfill_events",
    "sessionize_events",
    "rolling_mean_events",
    "rolling_time_events",
    "asof_purchases_window",
    "asof_purchases_pandas",
    "asof_strict_purchases",
    "snapshot_linear_fit",
    "snapshot_fit_dispatch",
    "shap_feature_reduction",
    "ablation_leave_one_out",
    "structural_grouping_users",
    "normalize_quantity",
    "label_normalize_orders",
    "qerror_snapshot_fit",
    "hash_split_customers",
    "stratified_sample_events",
    "profile_orders",
    "hist_orders_totalprice",
    "salted_join_events",
    "funnel_users",
    "tfidf_top_terms",
    "label_centroid_embeddings",
    "chunk_documents",
    "approx_profile_orders",
    "feature_hash_events",
    "outlier_events_robust",
    "ewma_events",
    "running_total_orders",
    "weighted_sample_docs",
    "dedup_exact_docs",
    "minhash_band_pairs",
    "ngram_jaccard_pairs",
    "embedding_neardup_pairs",
    "simhash_docs",
    "embedding_cosine_topk",
    "quantized_cosine_topk",
    "ann_lsh_topk",
    "ann_ivf_fixed_topk",
    "text_analysis_docs",
    "repetition_docs",
    "lm_quality_docs",
    "pii_scrub_docs",
    "pack_sequences_docs",
    "mixture_rebalance_docs",
    # round 5: passage dedup, language ID, domain dedup, token stats,
    # Gopher gates, shard shuffle, SemDeDup, DSIR, BPE training
    "span_dedup_docs",
    "bloom_dedup_docs",
    "aspect_bucket_images",
    "vlm_pack_images",
    "ccnet_buckets_docs",
    "corpus_pipeline_docs",
    "lang_id_docs",
    "domain_dedup_docs",
    "token_stats_docs",
    "gopher_quality_docs",
    "shard_shuffle_docs",
    "semdedup_embeddings",
    "dsir_weights_docs",
    "bpe_train_docs",
    "plan_featurize_nodes",
    "mscn_serialize_plans",
    "stream_sessionize_events",
    "stream_dedup_events",
    "stream_stateful_user_stats",
    "stream_interval_join_events",
    "image_dedup_clusters",
    "caption_align_images",
    "c4_clean_docs",
    "datacomp_filter_images",
    "blur_detect_images",
    "html_extract_docs",
    "audio_fingerprint_dedup",
    "border_crop_images",
    "image_curation_pipeline",
    "image_decontam_phash",
    "stream_image_curation",
    "audio_neardup_pairs",
    "video_frame_dedup",
    "shard_pack_images",
    "jpeg_features_images",
    "exif_orient_images",
    "exif_scrub_images",
    "mixed_format_features",
    # round 5: snapshot-table runtime (copy-on-write MERGE + time travel;
    # streaming CDC upsert with idempotent per-batch merge commits)
    "merge_upsert_orders",
    "stream_upsert_events",
    "incremental_read_orders",
    "snapshot_prune_orders",
    "stream_snapshot_reads_orders",
    "stream_asof_purchases",
    "feature_store_export",
]

N_IMAGES = int(os.environ.get("SPARK_GRAFT_BENCH_IMAGES", "24000"))
N_PROBES = int(os.environ.get("SPARK_GRAFT_BENCH_PROBES", "48000"))


def _run_count(df) -> int:
    # count() after a no-op cache-free action: forces full evaluation of
    # every row without collecting payloads to the driver
    return df.count()


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
        generate_images_pandas,
        generate_spine_pandas,
    )

    from query_cost_feature_engineering_spark.sources.images import (
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
