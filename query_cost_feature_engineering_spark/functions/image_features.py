"""Per-image featurizers — the engine's analog of the reference's A4 layer.

Semantic graft (SURVEY.md §7.1, citing /root/reference file:line):

- ``with_basics``       ↔ ``get_basics`` (tpch_utils_knob.py:60-61): the
  3-slot numeric prefix [w, h, nbytes] plus the format one-hot
  (↔ ``get_rel_one_hot``, tpch_utils_knob.py:64-67).
- ``with_image_features`` ↔ ``get_rel_attr_one_hot`` masked min/med/max
  statistics (tpch_utils_knob.py:76-86): per-channel min/median/max of the
  *decoded* pixels + an 8-bin grayscale histogram. This is the only Python
  step in the pipeline and runs as one Arrow-batched scalar pandas UDF
  (input_hint: "no per-row Python" — per-element codec work happens inside
  the Arrow batch, the accepted vectorized-UDF pattern). Every decode
  featurizer here goes through the one payload-UDF helper
  (``functions/_payload.py``).
- ``with_phash_bits``   ↔ ``get_index_one_hot`` identity bits
  (tpch_utils_knob.py:70-73): 64 bit-columns unpacked from the stored
  ``phash`` int64 entirely JVM-side (shiftright/bitand — no UDF).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from query_cost_feature_engineering_spark.codecs import decode_image, phash64, to_gray
from query_cost_feature_engineering_spark.functions._payload import (
    payload_frame,
    with_payload_columns,
)

STAT_COLS = [
    "px_min_r", "px_min_g", "px_min_b",
    "px_med_r", "px_med_g", "px_med_b",
    "px_max_r", "px_max_g", "px_max_b",
]
HIST_BINS = 8
HIST_COLS = [f"hist_{i}" for i in range(HIST_BINS)]
DECODE_COLS = STAT_COLS + HIST_COLS + ["px_mean"]

_DECODE_SCHEMA = T.StructType(
    [T.StructField(c, T.DoubleType()) for c in DECODE_COLS]
)

FMTS = ["png", "jpeg"]


_CHANNEL_BIN = np.array([0, 256, 512])


def _decode_stats_row(data: bytes, fmt: str) -> tuple:
    arr = decode_image(data, fmt)
    flat = arr.reshape(-1, 3)
    n = flat.shape[0]
    if n == 0:
        raise ValueError("image has no pixels")
    # exact uint8 order statistics without a sort: one 768-bin histogram
    # (256 bins per channel) and its running count over all channels. The
    # k-th smallest value of channel c is the first bin where that count
    # reaches c*n + k, so min, max and the two middle values (averaged,
    # like np.median) of all channels are one searchsorted.
    cum = np.bincount((flat + _CHANNEL_BIN).ravel(), minlength=768).cumsum()
    ks = np.array([1, (n - 1) // 2 + 1, n // 2 + 1, n]) + n * np.arange(3)[:, None]
    lo, med_lo, med_hi, hi = (np.searchsorted(cum, ks) - _CHANNEL_BIN[:, None]).T
    gray = np.bincount(to_gray(arr).ravel(), minlength=256)
    hist = gray.reshape(HIST_BINS, -1).sum(axis=1) / n
    mean = float(gray @ np.arange(256)) / n  # exact integer sum, as gray.mean()
    return (*lo, *((med_lo + med_hi) / 2.0), *hi, *hist, mean)


def decode_stats_pandas(
    data: pd.Series, fmt: pd.Series, on_error: str = "fail"
) -> pd.DataFrame:
    """Pure-pandas decode+stats core — shared by the Spark UDF and the
    golden single-process oracle (tests compare them with allclose).
    ``on_error='null'``: undecodable rows get all-None stats and
    ``decode_ok=False`` instead of failing the task."""
    return payload_frame(
        _decode_stats_row, _DECODE_SCHEMA, data, fmt, on_error=on_error
    )


def with_image_features(df: DataFrame, on_error: str = "fail") -> DataFrame:
    """Append decoded-pixel statistic columns. The binary column stays;
    ``plans.compute_features`` drops it before any shuffle.
    ``on_error='null'`` adds a ``decode_ok`` flag and null stats for
    undecodable rows instead of failing the job."""
    return with_payload_columns(
        df, _decode_stats_row, _DECODE_SCHEMA, on_error=on_error
    )


def with_basics(df: DataFrame) -> DataFrame:
    """[w, h, nbytes] + format one-hot — one JVM-side projection."""
    return df.selectExpr(
        "*",
        "CAST(length(`bytes`) AS DOUBLE) AS nbytes",
        *[f"IF(`fmt` = '{f}', 1.0D, 0.0D) AS `fmt_{f}`" for f in FMTS],
    )


def with_phash_bits(df: DataFrame) -> DataFrame:
    """Unpack the 64-bit perceptual hash into bit columns JVM-side."""
    return df.selectExpr(
        "*",
        *[
            f"CAST(shiftright(`phash`, {63 - i}) & 1 AS DOUBLE) AS `ph_{i}`"
            for i in range(64)
        ],
    )


def phash_bits_pandas(phash: pd.Series) -> pd.DataFrame:
    """Golden-oracle twin of ``with_phash_bits``."""
    v = phash.to_numpy().astype(np.int64).view(np.uint64)
    cols = {
        f"ph_{i}": ((v >> np.uint64(63 - i)) & np.uint64(1)).astype(np.float64)
        for i in range(64)
    }
    return pd.DataFrame(cols)


# ---------------------------------------------------------------------------
# Sharpness / blur detection (variance-of-Laplacian + Tenengrad)
# ---------------------------------------------------------------------------
# The standard image-curation sharpness gate (Pech-Pacheco et al. 2000;
# used by every large-scale image-dataset pipeline to drop blurred or
# low-detail frames before training). All arithmetic is INTEGER until
# one final float division of two exactly-representable values, so the
# distributed UDF and the independent pure-Python fixture oracle match
# bit-for-bit regardless of traversal order:
#
#   lap        = N+S+E+W - 4*center          (interior pixels only)
#   lap_var    = (n*sum(lap^2) - sum(lap)^2) / n^2
#   tenengrad  = sum(gx^2 + gy^2) / n        (central differences)
#
# Bounds: |lap| <= 1020, lap^2 <= 1.05e6, n <= 62*62 for the 64px cap,
# so every integer sum stays far below 2^53 and the numerators are
# exact in float64.

_SHARP_SCHEMA = T.StructType(
    [
        T.StructField("dec_w", T.IntegerType()),
        T.StructField("dec_h", T.IntegerType()),
        T.StructField("lap_var", T.DoubleType()),
        T.StructField("tenengrad", T.DoubleType()),
    ]
)


def _sharpness_row(data: bytes, fmt: str) -> tuple:
    arr = decode_image(data, fmt)
    h, w = arr.shape[:2]
    return (w, h, *_sharpness_ints(arr))


def sharpness_stats_pandas(data: pd.Series, fmt: pd.Series) -> pd.DataFrame:
    """Vectorized (numpy-shift) sharpness core — the Spark-side half.

    The fixture oracle (golden.ensure_blur_fixture) recomputes the same
    integer sums with an explicit per-pixel Python loop — an independent
    implementation of the math; only the codec decode is shared (the
    fixture-oracle convention documented in FIXTURES.md). Images with
    fewer than 3 rows or columns have no interior and emit 0.0."""
    return payload_frame(_sharpness_row, _SHARP_SCHEMA, data, fmt)


def _sharpness_ints(arr: np.ndarray) -> tuple[float, float]:
    """(lap_var, tenengrad) of one decoded array — the shared
    vectorized integer-sum core (sharpness UDF + curation capstone)."""
    g = to_gray(arr).astype(np.int64)
    h, w = g.shape
    if h < 3 or w < 3:
        return 0.0, 0.0
    c = g[1:-1, 1:-1]
    lap = g[:-2, 1:-1] + g[2:, 1:-1] + g[1:-1, :-2] + g[1:-1, 2:] - 4 * c
    n = lap.size
    s = int(lap.sum())
    ss = int((lap * lap).sum())
    gx = g[1:-1, 2:] - g[1:-1, :-2]
    gy = g[2:, 1:-1] - g[:-2, 1:-1]
    teng = float(int((gx * gx + gy * gy).sum())) / float(n)
    return float(n * ss - s * s) / float(n * n), teng


def with_sharpness(df: DataFrame) -> DataFrame:
    """Append sharpness columns; map-only, one Arrow batch pass, bytes
    dropped before any downstream exchange (the flagship decode idiom)."""
    return with_payload_columns(
        df, _sharpness_row, _SHARP_SCHEMA, drop_payload=True
    )


# ---------------------------------------------------------------------------
# Uniform-border (letterbox / pillarbox) detection
# ---------------------------------------------------------------------------
# The crop gate image-curation pipelines run before training: detect
# constant-color margins (scanner beds, letterboxed video stills, ad
# padding) and emit the content crop box. Semantics (identical on both
# oracle sides, exact — no tolerance): a row is border iff every pixel
# equals ITS OWN first pixel (self-anchored, so a bottom-only or
# right-only border is still found); border_t/b (l/r) are the
# leading/trailing runs of such rows (cols, anchored on their row-0
# pixel). A fully-uniform image is all border: t=h, b=0, l=w, r=0.

BORDER_COLS = ["img_w", "img_h", "border_t", "border_b", "border_l", "border_r"]

_BORDER_SCHEMA = T.StructType(
    [T.StructField(c, T.IntegerType()) for c in BORDER_COLS]
)


def _run_len(mask: np.ndarray) -> int:
    """Length of the leading True run."""
    return int(mask.size if mask.all() else np.argmin(mask))


def _border_runs(arr: np.ndarray) -> tuple[int, int, int, int]:
    """(t, b, l, r) self-anchored uniform runs — the shared vectorized
    detector core (border_stats_pandas + the curation capstone).

    Degenerate all-border cases are normalized so the crop box is
    empty but never negative: all rows uniform -> (h, 0, w, 0); all
    columns uniform (vertical stripes — every column constant while
    some row is not) -> (0/b from rows, l=w, r=0)."""
    h, w = arr.shape[:2]
    rows_u = (arr == arr[:, :1, :]).all(axis=(1, 2))
    if rows_u.all():
        return h, 0, w, 0
    cols_u = (arr == arr[:1, :, :]).all(axis=(0, 2))
    l = _run_len(cols_u)
    r = 0 if l == w else _run_len(cols_u[::-1])
    return (_run_len(rows_u), _run_len(rows_u[::-1]), l, r)


def _border_row(data: bytes, fmt: str) -> tuple:
    arr = decode_image(data, fmt)
    h, w = arr.shape[:2]
    return (w, h, *_border_runs(arr))


def border_stats_pandas(data: pd.Series, fmt: pd.Series) -> pd.DataFrame:
    """Vectorized border detector — the Spark-side half; the fixture
    oracle (golden.ensure_border_fixture) recounts the runs with
    explicit per-pixel Python loops."""
    return payload_frame(_border_row, _BORDER_SCHEMA, data, fmt)


def with_border_stats(df: DataFrame) -> DataFrame:
    """Append border columns; map-only, payload dropped afterwards."""
    return with_payload_columns(
        df, _border_row, _BORDER_SCHEMA, drop_payload=True
    )


# ---------------------------------------------------------------------------
# Curation capstone core: sharpness + border crop + phash-of-content
# ---------------------------------------------------------------------------
# ONE decode per image serving all three gates — the reason the engine
# fuses metrics into a single Arrow pass (decode dominates; a second
# pass would double the pipeline's hot cost). The perceptual hash is
# computed on the CROPPED content, so a letterboxed copy hashes
# identically to its original and dedups against it — raw-byte or
# full-frame phash dedup would miss it.

CURATION_COLS = [
    "dec_w", "dec_h", "border_t", "border_b", "border_l", "border_r",
    "crop_w", "crop_h", "lap_var", "crop_phash",
]

_CURATION_SCHEMA = T.StructType(
    [T.StructField(c, T.IntegerType()) for c in CURATION_COLS[:8]]
    + [
        T.StructField("lap_var", T.DoubleType()),
        T.StructField("crop_phash", T.LongType()),
    ]
)


def _curation_row(data: bytes, fmt: str) -> tuple:
    arr = decode_image(data, fmt)
    h, w = arr.shape[:2]
    t, bt, l, r = _border_runs(arr)
    crop = arr[t : h - bt, l : w - r]
    ch, cw = crop.shape[:2]
    if ch == 0 or cw == 0:
        lap_var, ph = 0.0, 0
    else:
        lap_var, ph = _sharpness_ints(crop)[0], phash64(crop)
    return (w, h, t, bt, l, r, cw, ch, lap_var, ph)


def curation_stats_pandas(
    data: pd.Series, fmt: pd.Series, on_error: str = "fail"
) -> pd.DataFrame:
    """Fused gate core — the Spark-side half. ``on_error='null'``:
    undecodable rows get all-None gate values and ``decode_ok=False``
    instead of failing the task."""
    return payload_frame(
        _curation_row, _CURATION_SCHEMA, data, fmt, on_error=on_error
    )


def with_curation_stats(df: DataFrame, on_error: str = "fail") -> DataFrame:
    """Append the fused gate columns; map-only, payload dropped.
    ``on_error='null'`` adds a ``decode_ok`` flag; corrupt rows carry
    NULL in every gate column (never sharp, never in a pHash dedup
    cluster) instead of failing the job."""
    return with_payload_columns(
        df, _curation_row, _CURATION_SCHEMA, drop_payload=True,
        on_error=on_error,
    )
