"""mapInArrow format sniffing vs golden, including mislabeled rows."""

from __future__ import annotations

import numpy as np
import pytest

from query_cost_feature_engineering_spark.codecs import decode_image
from query_cost_feature_engineering_spark.functions.multimodal import (
    _sniff_head,
    decode_audio,
    decode_video,
    sniff_formats,
)
from query_cost_feature_engineering_spark.sources.images import (
    generate_images_pandas,
)
from query_cost_feature_engineering_spark.sources.media import (
    generate_audio_pandas,
    generate_static_videos_pandas,
    generate_videos_pandas,
)

# declared fmt -> container family, where the two differ
_FAMILY = {"mjpg": "avi", "adpcm": "wav", "ulaw": "wav", "alaw": "wav"}

# generator, and a check that a row decodes to what it declares
_MEDIA = {
    "images": (
        lambda: generate_images_pandas(60, 10, 5),
        lambda r: decode_image(r.bytes, r.fmt).shape == (r.h, r.w, 3),
    ),
    "videos": (
        lambda: generate_videos_pandas(10),
        lambda r: len(decode_video(r.bytes)) == r.n_frames_true,
    ),
    "static_videos": (
        lambda: generate_static_videos_pandas(4),
        lambda r: np.array_equal(decode_video(r.bytes), r.frames_true),
    ),
    "audio": (
        lambda: generate_audio_pandas(16),
        lambda r: len(decode_audio(r.bytes)[0]) == r.n_samples_true,
    ),
}


@pytest.mark.parametrize("media", sorted(_MEDIA))
def test_generated_media_is_a_real_format(media):
    """Every row of the media generators is a real container: its magic
    bytes sniff to its declared format's family, and it decodes."""
    generate, decodes = _MEDIA[media]
    for r in generate().itertuples():
        assert _sniff_head(r.bytes[:12]) == _FAMILY.get(r.fmt, r.fmt), r.Index
        assert decodes(r), r.Index


def test_sniff_detects_mislabeled_rows(spark, images_pdf):
    pdf = images_pdf.head(40).copy().reset_index(drop=True)
    # mislabel two rows and corrupt one
    fmt = pdf["fmt"].copy()
    fmt.iloc[1] = "jpeg" if pdf["fmt"].iloc[1] == "png" else "png"
    fmt.iloc[7] = "jpeg" if pdf["fmt"].iloc[7] == "png" else "png"
    pdf["fmt"] = fmt
    col = pdf["bytes"].copy()
    col.iloc[13] = b"\x00\x01garbage"
    pdf["bytes"] = col

    out = (
        sniff_formats(spark.createDataFrame(pdf))
        .toPandas()
        .set_index("media_id")
    )
    bad = set(out.index[~out["fmt_ok"]])
    assert bad == {pdf["image_id"].iloc[i] for i in (1, 7, 13)}
    assert out.loc[pdf["image_id"].iloc[13], "sniffed_fmt"] == "unknown"
    ok = out[out["fmt_ok"]]
    assert (ok["sniffed_fmt"] == ok["declared_fmt"]).all()


def test_ablation_query_registry(spark):
    from query_cost_feature_engineering_spark.queries import (
        greedy_ablation_lineitem,
    )

    out = greedy_ablation_lineitem(spark, "/root/testdata/sf0.001").toPandas()
    assert len(out) == 5
    assert set(out["status"]) <= {"kept", "dropped"}
    assert (out["status"] == "kept").sum() >= 1
    # deterministic: second run returns the identical selection
    out2 = greedy_ablation_lineitem(spark, "/root/testdata/sf0.001").toPandas()
    assert out.equals(out2)
