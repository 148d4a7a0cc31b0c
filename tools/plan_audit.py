"""Physical-plan audit over every registry query (PLANS.md generator).

Checks, per query, the properties that decide 100×-scale survival:
- no CartesianProduct / BroadcastNestedLoopJoin (all-pairs shapes)
- no row-at-a-time Python (BatchEvalPython) — Arrow-only UDF surface
- no Exchange SinglePartition feeding a Sort+Window (the global-window
  anti-pattern: one task sorts the world)
- join/exchange inventory + whether parquet scans carry PushedFilters

Usage: python tools/plan_audit.py [sf_dir] [query ...]
Prints a markdown table; nonzero exit if any red flag fires.

Note: queries whose construction runs driver-side statistics jobs
(approxQuantile, Gram collects) execute those during plan capture —
that's inherent to their two-phase shape, not a defect.
"""

from __future__ import annotations

import re
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))


def audit_plan(plan: str) -> dict:
    flags = []
    if "CartesianProduct" in plan:
        flags.append("CARTESIAN")
    if "BroadcastNestedLoopJoin" in plan:
        # a BNLJ is the CORRECT plan when the broadcast side is provably
        # tiny: a keys=[] global aggregate (one row — scalar
        # normalization joins) or a small GlobalLimit (bounded probe
        # set). Only the unbounded kind is an all-pairs red flag.
        scalar = re.search(r"HashAggregate\(keys=\[\]", plan) or re.search(
            r"GlobalLimit \d{1,2}\b", plan
        )
        flags.append("bnlj-scalar(ok)" if scalar else "BNLJ")
    if "BatchEvalPython" in plan:
        flags.append("ROW_PYTHON")
    # Exchange SinglePartition directly feeding a Sort and then Window —
    # allow the benign case of a final single-row/limit collect
    if re.search(
        r"Exchange SinglePartition[\s\S]{0,400}?Window", plan
    ) and "GlobalLimit" not in plan.split("Exchange SinglePartition")[0][-200:]:
        flags.append("GLOBAL_WINDOW")
    return {
        "bhj": plan.count("BroadcastHashJoin"),
        "smj": plan.count("SortMergeJoin"),
        "shj": plan.count("ShuffledHashJoin"),
        "exchanges": plan.count("Exchange "),
        "arrow_udf": plan.count("ArrowEvalPython")
        + plan.count("MapInPandas")
        + len(re.findall(r"FlatMap(?:Co)?GroupsIn(?:Pandas|Arrow)", plan))
        + plan.count("MapInArrow"),
        "pushed": "PushedFilters: [" in plan
        and not re.search(r"PushedFilters: \[\],", plan),
        "flags": flags,
    }


# BNLJ rows that are bounded BY CONSTRUCTION but not provable from the
# plan text alone (no row estimates in executedPlan.toString). Each entry
# names the bound; anything not listed stays a red flag.
BENIGN_BNLJ = {
    "snapshot_template_sample": "build side = 1-row workload-level fallback aggregate",
    "label_normalize_orders": "build side = 1-row global min/max aggregate",
    "embedding_cosine_topk": "probe side fixed at 20 target vectors (exact "
    "baseline; the scale paths are ann_lsh_topk / ann_ivf_topk)",
    "quantized_cosine_topk": "probe side fixed at 20 target vectors (same "
    "bounded shape as embedding_cosine_topk, int8 domain)",
    "bloom_dedup_docs": "build side = the ONE-row broadcast Bloom bitset "
    "(512 KiB array<long> local relation; queries.BLOOM_M_BITS)",
}


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    from query_cost_feature_engineering_spark.queries import REGISTRY
    from query_cost_feature_engineering_spark.session import get_spark

    spark = get_spark(app="plan-audit", master="local[8]", shuffle_partitions=8)
    bad = 0
    print("| query | BHJ | SMJ/SHJ | exchanges | arrow UDFs | pushed | flags |")
    print("|---|---|---|---|---|---|---|")
    for name, fn in REGISTRY.items():
        if only and name not in only:
            continue
        if name.startswith("stream_"):
            continue  # streaming plans are per-microbatch; audited in tests
        try:
            df = fn(spark, sf_dir)
            plan = df._jdf.queryExecution().executedPlan().toString()
        except Exception as e:  # noqa: BLE001
            print(f"| {name} | ERROR: {str(e).splitlines()[0][:80]} |")
            bad += 1
            continue
        a = audit_plan(plan)
        if name in BENIGN_BNLJ:
            a["flags"] = [
                "bnlj-bounded(ok)" if f == "BNLJ" else f for f in a["flags"]
            ]
        if [f for f in a["flags"] if not f.endswith("(ok)")]:
            bad += 1
        print(
            f"| {name} | {a['bhj']} | {a['smj'] + a['shj']} | "
            f"{a['exchanges']} | {a['arrow_udf']} | "
            f"{'✅' if a['pushed'] else '—'} | "
            f"{','.join(a['flags']) if a['flags'] else 'clean'} |"
        )
    spark.stop()
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
