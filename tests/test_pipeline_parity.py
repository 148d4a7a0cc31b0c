"""Spark plan vs single-process golden oracle — numpy.allclose per
(entity_id, ts, image_id), exact on integer-valued columns; the
FIXTURES.md F3 contract."""

import re

import numpy as np
from conftest import _py4j_commands

from query_cost_feature_engineering_spark.functions.text import (
    with_caption_features,
)
from query_cost_feature_engineering_spark.golden import golden_features
from query_cost_feature_engineering_spark.plans.pipeline import (
    FEATURE_ORDER,
    assemble_vector,
    compute_features,
)
from query_cost_feature_engineering_spark.sources.images import VOCAB

KEY = ["entity_id", "ts", "image_id"]
# integer-valued columns the JVM computes without a UDF: no rounding to forgive
EXACT_COLS = {"nbytes", "fmt_png", "fmt_jpeg", "token_count"} | {
    c for c in FEATURE_ORDER if c.startswith(("ph_", "tok_"))
}


def test_feature_parity_allclose(spark, images_pdf, images_sdf):
    got = (
        compute_features(images_sdf)
        .toPandas()
        .sort_values(KEY, kind="mergesort")
        .reset_index(drop=True)
    )
    want = golden_features(images_pdf).sort_values(KEY, kind="mergesort").reset_index(
        drop=True
    )
    assert len(got) == len(want) == len(images_pdf)
    assert (got["image_id"].to_numpy() == want["image_id"].to_numpy()).all()
    for c in FEATURE_ORDER:
        g = got[c].to_numpy(dtype=np.float64)
        w = want[c].to_numpy(dtype=np.float64)
        if c in EXACT_COLS:
            assert np.array_equal(g, w), c
        else:
            assert np.allclose(g, w, rtol=1e-5, atol=1e-9, equal_nan=True), c


def test_vector_assembly_width_and_nulls(spark, images_sdf):
    out = assemble_vector(compute_features(images_sdf))
    row = out.select("features").first()
    assert len(row["features"]) == len(FEATURE_ORDER) == 160
    assert all(v is not None for v in row["features"])


def test_caption_exact_equality(spark, images_pdf, images_sdf):
    # per-row caption equality (input_hint contract) through the Spark scan
    got = (
        images_sdf.select("image_id", "caption")
        .toPandas()
        .sort_values("image_id")
        .reset_index(drop=True)
    )
    want = images_pdf[["image_id", "caption"]].sort_values("image_id").reset_index(
        drop=True
    )
    assert (got["caption"] == want["caption"]).all()


# leading/trailing/only whitespace, a non-breaking space (not a separator:
# str.split() splits on it, Java's \s does not) and the spelled-out class
EDGE_CAPTIONS = [
    " aurora basin", "aurora basin ", "", "aurora\xa0basin",
    "aurora \t\n\r\f\x0bbasin  aurora", "   ",
]


def test_caption_tokenizer_matches_golden_on_edges(spark, images_pdf):
    pdf = images_pdf.head(len(EDGE_CAPTIONS)).copy()
    pdf["caption"] = EDGE_CAPTIONS
    cols = ["image_id", "token_count"] + [f"tok_{w}" for w in VOCAB]
    got = (
        with_caption_features(spark.createDataFrame(pdf).drop("bytes"))
        .select(*cols)
        .toPandas()
        .sort_values("image_id")
        .reset_index(drop=True)
    )
    want = golden_features(pdf).sort_values("image_id").reset_index(drop=True)
    counts = dict(zip(pdf["image_id"], [2, 2, 0, 1, 3, 0]))
    assert list(got["token_count"]) == [counts[i] for i in got["image_id"]]
    for c in cols[1:]:
        assert np.array_equal(got[c], want[c].astype(float)), c


def test_plan_construction_py4j_budget(spark, images_sdf):
    # wide layers, the window layer included, are single SQL-text
    # projections; with one Column chain per feature the batch plan alone
    # sent ~14,700 commands, and ~1,600 with Column-chain windows
    from query_cost_feature_engineering_spark.streaming.images import (
        image_features_stream,
    )

    n_batch = _py4j_commands(
        spark, lambda: assemble_vector(compute_features(images_sdf))
    )
    n_stream = _py4j_commands(spark, lambda: image_features_stream(images_sdf))
    assert n_batch < 800, n_batch
    assert n_stream < 2000, n_stream


def _plan_node_counts(df, names) -> dict[str, int]:
    """Operators of ``df``'s physical plan by name (AQE's initial plan:
    every node, before any stage runs)."""
    lines = df._jdf.queryExecution().executedPlan().toString().splitlines()
    heads = [ln.lstrip(" :+-").split(" ", 1)[0] for ln in lines]
    return {n: heads.count(n) for n in names}


def test_window_layer_plan_shape(spark, images_sdf):
    # the whole window layer is one projection: one Window operator per
    # (PARTITION BY, ORDER BY) level — every frame over (entity_id; ts,
    # image_id), then the session sum over its lag — and one shuffle.
    # Built as a withColumn per feature, the plan had six Window operators.
    plan = assemble_vector(compute_features(images_sdf))
    assert _plan_node_counts(plan, ["Window", "Exchange"]) == {
        "Window": 2,
        "Exchange": 1,
    }
    # the session flag reads one lag of the epoch ts: Spark evaluates
    # every lag written in the SQL text, repeats included
    executed = plan._jdf.queryExecution().executedPlan().toString()
    lagged = re.findall(r"\blag\((\w+)#", executed)
    assert len([c for c in lagged if c != "px_mean"]) == 1, lagged


def test_snapshot_fit_sums_evaluated_once(spark, images_sdf):
    # the fit's five cumulative sums (count and sums of x, y, x*x, x*y)
    # are columns of the window projection, and slope and intercept a
    # projection over them; written into the fit arithmetic, Spark ran
    # them as 36 window aggregates (it does not merge repeated ones)
    from query_cost_feature_engineering_spark.operators.snapshot import (
        expanding_linear_fit_exprs,
    )
    from query_cost_feature_engineering_spark.operators.windows import append_columns

    def plan(df) -> str:
        return df._jdf.queryExecution().executedPlan().toString()

    sums, fit = expanding_linear_fit_exprs("w", "h")
    df = append_columns(append_columns(images_sdf, sums), fit).drop(*sums)
    assert plan(df).count("windowspecdefinition") == 5
    assert df.columns == images_sdf.columns + ["snap_slope", "snap_intercept"]
    featurize = plan(assemble_vector(compute_features(images_sdf)))
    assert featurize.count("count(1) windowspecdefinition") == 1
