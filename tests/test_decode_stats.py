"""The per-image statistics kernel against an independent reference.

``golden.golden_features`` calls the same ``decode_stats_pandas`` as the
Spark UDF, so it cannot catch a wrong kernel. Here every statistic is
recomputed with plain ``np.min`` / ``np.median`` / ``np.max`` /
``np.histogram`` on the pixels, over shapes where order-statistic
arithmetic goes wrong first: one pixel, constant images, odd and even
pixel counts, and the extreme values 0 and 255."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from query_cost_feature_engineering_spark.codecs import encode_png
from query_cost_feature_engineering_spark.functions.image_features import (
    DECODE_COLS,
    decode_stats_pandas,
)


def _reference(arr: np.ndarray) -> list[float]:
    flat = arr.reshape(-1, 3).astype(np.int64)
    gray = (flat[:, 0] * 299 + flat[:, 1] * 587 + flat[:, 2] * 114) // 1000
    hist, _ = np.histogram(gray, bins=8, range=(0, 256))
    return [
        *np.min(flat, axis=0),
        *np.median(flat, axis=0),
        *np.max(flat, axis=0),
        *(hist / gray.size),
        np.mean(gray),
    ]


def _images() -> dict[str, np.ndarray]:
    rng = np.random.default_rng(7)
    out = {
        "1x1": np.array([[[0, 128, 255]]], dtype=np.uint8),
        "const_0": np.zeros((5, 3, 3), dtype=np.uint8),
        "const_255": np.full((4, 4, 3), 255, dtype=np.uint8),
        "const_mid": np.full((3, 3, 3), 77, dtype=np.uint8),
        "two_px_extremes": np.array([[[0, 255, 0], [255, 0, 255]]], np.uint8),
    }
    for h, w in [(3, 5), (4, 6), (1, 2), (7, 7), (16, 9), (33, 64)]:
        out[f"noise_{h}x{w}"] = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
        # few distinct values: many ties around the median
        out[f"binary_{h}x{w}"] = rng.choice([0, 255], (h, w, 3)).astype(np.uint8)
    return out


IMAGES = _images()


@pytest.mark.parametrize("name", list(IMAGES))
def test_decode_stats_match_numpy_reference(name):
    arr = IMAGES[name]
    got = decode_stats_pandas(pd.Series([encode_png(arr)]), pd.Series(["png"]))
    assert list(got.columns) == DECODE_COLS
    np.testing.assert_array_equal(got.iloc[0].to_numpy(), _reference(arr))


def test_decode_stats_reject_an_image_without_pixels():
    data = pd.Series([encode_png(np.zeros((4, 0, 3), dtype=np.uint8))])
    fmt = pd.Series(["png"])
    with pytest.raises(ValueError):
        decode_stats_pandas(data, fmt)
    assert not decode_stats_pandas(data, fmt, on_error="null")["decode_ok"][0]
