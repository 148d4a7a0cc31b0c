"""Scale-path operators vs their brute-force twins.

The round-2 rewrites (banded hamming, prefix-filtered Jaccard join,
SRP candidate pairs, distributed ntile) must be VALUE-IDENTICAL to the
O(N²) / global-window formulations they replace (except SRP, whose
recall is measured instead — LSH is lossy by design).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
import pytest

from query_cost_feature_engineering_spark.operators.neardup import (
    band_layout,
    hamming_neardup_pairs,
    jaccard_pairs_prefix,
    srp_candidate_pairs,
)
from query_cost_feature_engineering_spark.operators.rank import (
    with_global_rank,
    with_ntile,
)


def test_band_layout_covers_all_bits():
    for bits, md in [(64, 12), (64, 3), (16, 4), (64, 63)]:
        layout = band_layout(bits, md)
        assert len(layout) == md + 1
        covered = sorted(
            b for s, w in layout for b in range(s, s + w)
        )
        assert covered == list(range(bits))


def test_hamming_banded_equals_bruteforce(spark):
    # clustered hashes so plenty of pairs land under the threshold
    rng = np.random.default_rng(7)
    centers = rng.integers(0, 2**63, size=8, dtype=np.int64)
    hashes = []
    for i in range(200):
        c = centers[i % 8]
        flips = rng.integers(0, 64, size=rng.integers(0, 10))
        h = int(c)
        for b in flips:
            h ^= 1 << int(b)
        h &= (1 << 64) - 1
        if h >= 1 << 63:  # wrap to signed 64-bit (phash is a LongType)
            h -= 1 << 64
        hashes.append((i, np.int64(h)))
    df = spark.createDataFrame(
        pd.DataFrame(hashes, columns=["id", "h"])
    )
    banded = (
        hamming_neardup_pairs(df, "id", "h", bits=64, max_dist=12)
        .toPandas()
        .sort_values(["id_a", "id_b"])
        .reset_index(drop=True)
    )
    a = df.select(F.col("id").alias("id_a"), F.col("h").alias("ha"))
    b = df.select(F.col("id").alias("id_b"), F.col("h").alias("hb"))
    brute = (
        a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("hamming", F.bit_count(F.col("ha").bitwiseXOR(F.col("hb"))))
        .filter(F.col("hamming") <= 12)
        .select("id_a", "id_b", "hamming")
        .toPandas()
        .sort_values(["id_a", "id_b"])
        .reset_index(drop=True)
    )
    assert len(brute) > 50, "fixture should generate plenty of near pairs"
    pd.testing.assert_frame_equal(banded, brute, check_dtype=False)


@pytest.mark.parametrize(
    "vocab_limit", [4_000_000, 0],
    ids=["vocab-bitset-path", "string-join-fallback"],
)
def test_jaccard_prefix_equals_bruteforce(spark, vocab_limit):
    rng = np.random.default_rng(11)
    vocab = [f"tok{i}" for i in range(60)]
    docs = []
    bases = [
        rng.choice(vocab, size=12, replace=False).tolist() for _ in range(15)
    ]
    for i in range(120):
        base = list(bases[i % 15])  # mutate a shared base → real near-dups
        for _ in range(int(rng.integers(0, 4))):
            base[int(rng.integers(0, len(base)))] = vocab[
                int(rng.integers(0, len(vocab)))
            ]
        docs.append((i, "en" if i % 2 else "de", sorted(set(base))))
    df = spark.createDataFrame(docs, "doc_id long, lang string, sh array<string>")
    fast = (
        jaccard_pairs_prefix(
            df, "doc_id", "sh", 0.5, block_col="lang",
            vocab_limit=vocab_limit,
        )
        .toPandas()
        .sort_values(["doc_id_a", "doc_id_b"])
        .reset_index(drop=True)
    )
    a, b = df.alias("a"), df.alias("b")
    brute = (
        a.join(b, F.col("a.lang") == F.col("b.lang"))
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_id_a"),
            F.col("b.doc_id").alias("doc_id_b"),
            (
                F.size(F.array_intersect("a.sh", "b.sh")).cast("double")
                / F.size(F.array_union("a.sh", "b.sh")).cast("double")
            ).alias("jac"),
        )
        .filter(F.col("jac") >= 0.5)
        .toPandas()
        .sort_values(["doc_id_a", "doc_id_b"])
        .reset_index(drop=True)
    )
    assert len(brute) > 0
    pd.testing.assert_frame_equal(fast, brute, check_dtype=False)


def test_srp_pairs_subset_and_recall(spark):
    em = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    got = srp_candidate_pairs(em, "vec_id", "embedding", 0.35).toPandas()
    a = em.select(F.col("vec_id").alias("ia"), F.col("embedding").alias("va"))
    b = em.select(F.col("vec_id").alias("ib"), F.col("embedding").alias("vb"))
    dot = F.aggregate(
        F.zip_with("va", "vb", lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0), lambda acc, v: acc + v,
    )

    def norm(c):
        return F.sqrt(
            F.aggregate(
                F.transform(c, lambda x: x.cast("double") * x.cast("double")),
                F.lit(0.0), lambda acc, v: acc + v,
            )
        )

    brute = (
        a.crossJoin(b)
        .filter(F.col("ia") < F.col("ib"))
        .withColumn("cos", dot / (norm(F.col("va")) * norm(F.col("vb"))))
        .filter(F.col("cos") >= 0.35)
        .toPandas()
    )
    got_keys = set(zip(got["vec_id_a"], got["vec_id_b"]))
    brute_keys = set(zip(brute["ia"], brute["ib"]))
    # every emitted pair is a true pair (exact verification)
    assert got_keys <= brute_keys
    # strong pairs (cos >= 0.6) must be found with high recall
    strong = brute[brute["cos"] >= 0.6]
    if len(strong) >= 5:
        strong_keys = set(zip(strong["ia"], strong["ib"]))
        recall = len(strong_keys & got_keys) / len(strong_keys)
        assert recall >= 0.9, f"strong-pair recall {recall:.2f}"


@pytest.mark.parametrize("k", [3, 10])
def test_ntile_matches_global_window(spark, k):
    o = (
        spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
        .select("o_totalprice", "o_orderkey")
    )
    from pyspark.sql import Window

    w = Window.orderBy("o_totalprice", "o_orderkey")
    want = (
        o.withColumn("t", F.ntile(k).over(w))
        .toPandas()
        .sort_values("o_orderkey")
        .reset_index(drop=True)
    )
    got = (
        with_ntile(o, k, "o_totalprice", ["o_orderkey"], out_col="t")
        .toPandas()
        .sort_values("o_orderkey")
        .reset_index(drop=True)
    )
    pd.testing.assert_series_equal(
        got["t"].astype(int), want["t"].astype(int), check_names=False
    )


def test_global_rank_exact(spark):
    o = (
        spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
        .select("o_totalprice", "o_orderkey")
    )
    ranked, n = with_global_rank(o, "o_totalprice", ["o_orderkey"], out_col="r")
    got = ranked.toPandas().sort_values("r")
    assert n == len(got)
    assert got["r"].tolist() == list(range(1, n + 1))
    # rank order equals the (value, tiebreak) sort order
    resorted = got.sort_values(["o_totalprice", "o_orderkey"])
    assert resorted["r"].tolist() == list(range(1, n + 1))


def test_running_sums_match_global_window(spark):
    from pyspark.sql import Window

    from query_cost_feature_engineering_spark.operators.prefix import (
        with_running_sums,
    )

    e = (
        spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        .select(
            "event_id",
            "ts",
            F.round(F.col("value") * 100).cast("long").alias("cents"),
        )
        .withColumn("_ts_us", F.unix_micros(F.col("ts").cast("timestamp")))
    )
    got = with_running_sums(
        e, ["ts", "event_id"], ["cents"], bucket_col="_ts_us", n_buckets=16
    )
    w = (
        Window.orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    want = e.select(
        "event_id",
        F.sum("cents").over(w).alias("run_cents"),
        F.count(F.lit(1)).over(w).alias("run_rows"),
    )
    gm = {r.event_id: (r.run_cents, r.run_rows) for r in got.collect()}
    wm = {r.event_id: (r.run_cents, r.run_rows) for r in want.collect()}
    assert gm == wm

    # and the distributed plan has no single-partition Exchange
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "Exchange SinglePartition" not in plan


def test_adaptive_buckets_scale_with_input(spark):
    """Round-4: the range-bucket count for rank/prefix is derived from
    the optimizer's size estimate, not a constant — a constant caps the
    stage at fixed parallelism forever (round-3 verdict #2). Floor and
    cap clamp the small and absurd ends."""
    from query_cost_feature_engineering_spark.operators.rank import (
        adaptive_buckets,
    )

    small = spark.range(100).selectExpr("id", "id * 2 AS v")
    big = spark.range(200_000).selectExpr("id", "id * 2 AS v")
    # real default: both are tiny vs 256 MB/bucket -> floor
    assert adaptive_buckets(small) == 64
    assert adaptive_buckets(small, floor=32) == 32
    # shrink the per-bucket budget to expose the scaling behaviour
    nb_small = adaptive_buckets(small, floor=8, bytes_per_bucket=4096)
    nb_big = adaptive_buckets(big, floor=8, bytes_per_bucket=4096)
    assert nb_big > nb_small >= 8
    assert adaptive_buckets(big, floor=8, bytes_per_bucket=1, cap=4096) == 4096


def test_bucket_expr_two_level_matches_flat_scan(spark):
    """Round-5: past 128 cuts the bucket search goes two-level (coarse
    every-k-th cut + one slice) — <=128 comparisons/row at the 4096 cap
    instead of 4095. Must be value-identical to the flat count of cuts
    <= value, including below the first cut, above the last, and ON cut
    boundaries."""
    import bisect

    from query_cost_feature_engineering_spark.operators.rank import (
        _CUT_FANOUT,
        _bucket_expr,
    )

    for n_cuts in [3, 128, 129, 1000, 4095]:
        cuts = [float(3 * i + 1) for i in range(n_cuts)]
        probes = (
            [cuts[0] - 1, cuts[0], cuts[0] + 0.5, cuts[-1], cuts[-1] + 9]
            + cuts[:: max(1, n_cuts // 37)]
            + [c + 1.0 for c in cuts[:: max(1, n_cuts // 23)]]
        )
        df = spark.createDataFrame(
            [(float(p),) for p in probes], "v double"
        ).withColumn("b", _bucket_expr("v", cuts))
        got = {r.v: r.b for r in df.collect()}
        for p in probes:
            assert got[float(p)] == bisect.bisect_right(cuts, p), (
                n_cuts,
                p,
            )
        # fan-out invariant: both levels stay <= _CUT_FANOUT segments
        k = -(-n_cuts // _CUT_FANOUT)
        assert len(cuts[k - 1 :: k]) <= _CUT_FANOUT
        if n_cuts > 2 * _CUT_FANOUT:
            assert k <= _CUT_FANOUT + 1


def test_adaptive_buckets_rejects_implausible_estimates(spark):
    """Round-5 ADVICE: Catalyst reports defaultSizeInBytes
    (Long.MaxValue) for stat-less plans and multiplies sizes through
    joins; a >=1 PiB estimate must fall back to the floor instead of
    jumping to the cap (and paying a 4095-point approxQuantile)."""
    from query_cost_feature_engineering_spark.operators.rank import (
        adaptive_buckets,
    )

    small = spark.range(64).selectExpr("id", "id * 2 AS v")
    # sanity: a plausible estimate is still used (not floored)
    assert adaptive_buckets(small, floor=8, bytes_per_bucket=1) > 8
    joined = small.crossJoin(spark.range(32)).crossJoin(spark.range(32))
    for _ in range(4):  # inflate the size estimate multiplicatively
        joined = joined.crossJoin(spark.range(1024))
    assert adaptive_buckets(joined, floor=8, bytes_per_bucket=1) == 8


def test_srp_duplicate_ids_do_not_multiply_pairs(spark):
    """Review fix: a duplicated id must contribute ONE vector (one row
    per candidate pair), matching the matrix path's one-entry-per-id
    lookup — the vector join-back path dedups per side."""
    from query_cost_feature_engineering_spark.operators.neardup import (
        srp_candidate_pairs,
    )

    from query_cost_feature_engineering_spark.operators import neardup

    em = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet"
    ).limit(60)
    dup = em.limit(5)  # re-ingest five ids verbatim
    base = {
        (r[0], r[1])
        for r in srp_candidate_pairs(
            em, "vec_id", "embedding", 0.35
        ).collect()
    }
    old_cap = neardup.SRP_MATRIX_MAX_ROWS
    try:
        for cap in (old_cap, 10):  # matrix path, then forced join path
            neardup.SRP_MATRIX_MAX_ROWS = cap
            out = srp_candidate_pairs(
                em.unionByName(dup), "vec_id", "embedding", 0.35
            ).collect()
            pairs = [(r[0], r[1]) for r in out]
            assert len(pairs) == len(set(pairs)), cap
            assert set(pairs) == base, cap
    finally:
        neardup.SRP_MATRIX_MAX_ROWS = old_cap
