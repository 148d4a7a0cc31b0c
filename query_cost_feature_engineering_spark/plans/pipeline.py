"""The flagship plan: image+caption table → per-(entity, ts) feature vectors.

Stage order mirrors the reference's dataset-build lifecycle (SURVEY.md §3,
EP1/EP2: parse → featurize → group → normalize → vectorize), re-expressed
as one declarative Spark plan:

    scan (parquet/Iceberg; `bytes` column pruned until the decode UDF)
    → JVM-side basics/fmt/phash-bit/caption features
    → ONE Arrow-batched pandas UDF (decode + pixel stats)
    → drop `bytes` before any shuffle (never shuffle image payloads)
    → window layer (lag/lead, ffill, rolling mean, sessions, expanding
      snapshot fit): ONE projection, two ``Window`` operators
    → assemble fixed-width feature vector (array<double>, FIXTURES.md F3)

Each wide JVM-side layer (basics, phash bits, caption tokens, windows,
vector) is ONE projection from SQL expression text, not a Python
``Column`` chain per feature: each link costs driver py4j round trips.

The vector layout (FEATURE_ORDER) is the engine's equivalent of the
reference's per-operator fixed-width layout ``tpch_dim_dict``
(tpch_utils_knob.py:27-52): basics ⧺ one-hots ⧺ stats ⧺ identity bits ⧺
token counts ⧺ temporal features.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from query_cost_feature_engineering_spark.functions.image_features import (
    DECODE_COLS,
    HIST_COLS,
    STAT_COLS,
    with_basics,
    with_image_features,
    with_phash_bits,
)
from query_cost_feature_engineering_spark.functions.text import (
    with_caption_features,
)
from query_cost_feature_engineering_spark.operators.snapshot import (
    expanding_linear_fit_exprs,
)
from query_cost_feature_engineering_spark.operators.windows import (
    append_columns,
    backfill_exprs,
    lag_lead_exprs,
    rolling_mean_exprs,
    session_id_exprs,
)
from query_cost_feature_engineering_spark.sources.images import VOCAB

WINDOW_COLS = [
    "lag1_px_mean", "lag2_px_mean", "lead1_px_mean", "lead2_px_mean",
    "bf_png_mean", "roll3_px_mean", "session_id",
]

# expanding-window snapshot factors (ref inner_vector analog, leakage-free)
SNAP_COLS = ["snap_slope", "snap_intercept"]

FEATURE_ORDER: list[str] = (
    ["w", "h", "nbytes", "fmt_png", "fmt_jpeg"]
    + STAT_COLS
    + HIST_COLS
    + [f"ph_{i}" for i in range(64)]
    + ["token_count"]
    + [f"tok_{w}" for w in VOCAB]
    + WINDOW_COLS
    + SNAP_COLS
)


def compute_features(images: DataFrame) -> DataFrame:
    """Flat feature columns per (entity_id, ts, image_id)."""
    df = with_basics(images)
    df = with_image_features(df)
    df = with_phash_bits(df)
    df = with_caption_features(df)
    df = df.drop("bytes", "caption")  # payloads never cross a shuffle
    sums, fit = expanding_linear_fit_exprs("nbytes", "px_mean")
    df = append_columns(df, {
        **lag_lead_exprs("px_mean"),
        **backfill_exprs("IF(`fmt` = 'png', `px_mean`, NULL)", "bf_png_mean"),
        **rolling_mean_exprs("px_mean", 3),
        **session_id_exprs(),
        **sums,
    })
    return append_columns(df, fit).drop(*sums)


def assemble_vector(df: DataFrame, out_col: str = "features") -> DataFrame:
    """Pack FEATURE_ORDER into one array<double>; nulls (warm-up lags) → 0."""
    slots = ", ".join(f"coalesce(CAST(`{c}` AS DOUBLE), 0.0D)" for c in FEATURE_ORDER)
    return df.withColumn(out_col, F.expr(f"array({slots})"))


__all__ = [
    "FEATURE_ORDER",
    "WINDOW_COLS",
    "DECODE_COLS",
    "STAT_COLS",
    "HIST_COLS",
    "compute_features",
    "assemble_vector",
]
