"""Output schemas of the per-image and per-clip payload wrappers.

Each wrapper runs on a two-row input it accepts. The output column names,
their order and their Spark types are pinned, so a type drift (say
int32 -> int64) or a kept/dropped ``bytes`` column fails here."""

from __future__ import annotations

import pytest

from query_cost_feature_engineering_spark.functions import image_features as I
from query_cost_feature_engineering_spark.functions import multimodal as M
from query_cost_feature_engineering_spark.sources.images import (
    generate_exif_images_pandas,
    generate_images_pandas,
    generate_mixed_images_pandas,
)
from query_cost_feature_engineering_spark.sources.media import (
    generate_audio_pandas,
)

IMG = "image_id:string bytes:binary w:int h:int fmt:string caption:string "
IMG_REST = "phash:bigint entity_id:bigint ts:timestamp "
IMG_NO_BYTES = (
    "image_id:string w:int h:int fmt:string caption:string " + IMG_REST
)
DECODE = (
    "px_min_r:double px_min_g:double px_min_b:double px_med_r:double "
    "px_med_g:double px_med_b:double px_max_r:double px_max_g:double "
    "px_max_b:double hist_0:double hist_1:double hist_2:double "
    "hist_3:double hist_4:double hist_5:double hist_6:double hist_7:double "
    "px_mean:double "
)
CURATION = (
    "dec_w:int dec_h:int border_t:int border_b:int border_l:int "
    "border_r:int crop_w:int crop_h:int lap_var:double crop_phash:bigint "
)
EXIF = (
    "image_id:string bytes:binary w:int h:int fmt:string quality:int "
    "subsamp:string coding:string orientation_true:int "
)

CASES = {
    "with_image_features": (
        "images", I.with_image_features, IMG + IMG_REST + DECODE,
    ),
    "with_image_features_null": (
        "images",
        lambda df: I.with_image_features(df, on_error="null"),
        IMG + IMG_REST + DECODE + "decode_ok:boolean",
    ),
    "with_sharpness": (
        "images",
        I.with_sharpness,
        IMG_NO_BYTES + "dec_w:int dec_h:int lap_var:double tenengrad:double",
    ),
    "with_border_stats": (
        "images",
        I.with_border_stats,
        IMG_NO_BYTES + "img_w:int img_h:int border_t:int border_b:int "
        "border_l:int border_r:int",
    ),
    "with_curation_stats": (
        "images", I.with_curation_stats, IMG_NO_BYTES + CURATION,
    ),
    "with_curation_stats_null": (
        "images",
        lambda df: I.with_curation_stats(df, on_error="null"),
        IMG_NO_BYTES + CURATION + "decode_ok:boolean",
    ),
    "with_exif_display_meta": (
        "exif",
        M.with_exif_display_meta,
        EXIF + "orientation:int disp_w:int disp_h:int corner_mean:double",
    ),
    "with_exif_scrub": (
        "exif",
        M.with_exif_scrub,
        EXIF + "had_exif:boolean n_stripped:int bytes_removed:bigint "
        "out_nbytes:bigint clean_ok:boolean pixels_ok:boolean",
    ),
    "with_decoded_meta": (
        "mixed",
        M.with_decoded_meta,
        "image_id:string bytes:binary w:int h:int fmt:string dec_w:int "
        "dec_h:int px_mean:double corner_mean:double",
    ),
    "resize_images": (
        "images", lambda df: M.resize_images(df, 8), IMG + IMG_REST,
    ),
    "augment_images": ("images", M.augment_images, IMG + IMG_REST),
    "with_audio_features": (
        "audio",
        M.with_audio_features,
        "clip_id:string bytes:binary n_samples_true:bigint fmt:string "
        "n_samples:int sample_rate:int duration_s:double rms:double "
        "zero_crossings:int",
    ),
    "with_audio_fingerprint": (
        "audio",
        M.with_audio_fingerprint,
        "clip_id:string n_samples_true:bigint fmt:string fingerprint:bigint "
        "n_frames:bigint",
    ),
}


@pytest.fixture(scope="module")
def inputs(spark):
    pdfs = {
        "images": generate_images_pandas(2, n_entities=2, seed=42),
        "exif": generate_exif_images_pandas(2, seed=57),
        "mixed": generate_mixed_images_pandas(2, seed=58).drop(
            columns=["arr_true"]
        ),
        "audio": generate_audio_pandas(2, seed=53),
    }
    return {k: spark.createDataFrame(v) for k, v in pdfs.items()}


@pytest.mark.parametrize("name", list(CASES))
def test_wrapper_output_schema(inputs, name):
    kind, wrapper, want = CASES[name]
    out = wrapper(inputs[kind])
    got = [f"{f.name}:{f.dataType.simpleString()}" for f in out.schema.fields]
    assert got == want.split()
    assert len(out.collect()) == 2  # the UDF runs on the input it accepts
