"""Image-curation capstone (image_curation_pipeline).

The DuckDB oracle pins the fused metrics against independent-loop
recomputes and re-derives the dedup with a window formulation; these
tests pin the planted three-variant semantics end to end.
"""

from __future__ import annotations

import pandas as pd
import pytest

from query_cost_feature_engineering_spark.functions.image_features import (
    curation_stats_pandas,
)
from query_cost_feature_engineering_spark.sources.images import (
    generate_curation_corpus_pandas,
)


def test_padded_variant_hashes_like_its_original():
    pdf = generate_curation_corpus_pandas(20, 67)
    st = curation_stats_pandas(pdf["bytes"], pdf["fmt"])
    st["role"] = pdf["role"].values
    st["gid"] = pdf["group_id"].values
    piv = st.pivot_table(index="gid", columns="role", values="crop_phash")
    assert (piv["padded"] == piv["orig"]).all()
    # ...while the padded FULL-FRAME bytes differ (different dims)
    dims = st.pivot_table(index="gid", columns="role", values="dec_w")
    assert (dims["padded"] > dims["orig"]).all()


@pytest.fixture(scope="module")
def out_rows(spark):
    from query_cost_feature_engineering_spark.queries import (
        image_curation_pipeline,
    )

    return image_curation_pipeline(spark, "unused").collect()


def test_blurred_rows_dropped(out_rows):
    for r in out_rows:
        if r.role == "blurred":
            assert not r.is_sharp
            assert r.canonical_id is None and not r.is_dup
        else:
            assert r.is_sharp


def test_padded_dedups_to_original(out_rows):
    by_id = {r.image_id: r for r in out_rows}
    for r in out_rows:
        if r.role == "padded":
            orig_id = r.image_id.replace("_padded", "_orig")
            assert r.is_dup
            assert r.canonical_id == by_id[orig_id].canonical_id
        elif r.role == "orig":
            assert not r.is_dup  # orig sorts before padded in each group


def test_crop_recovers_content_dims(out_rows):
    by_id = {r.image_id: r for r in out_rows}
    for r in out_rows:
        if r.role == "padded":
            orig = by_id[r.image_id.replace("_padded", "_orig")]
            assert (r.crop_w, r.crop_h) == (orig.crop_w, orig.crop_h)
            assert r.border_frac > 0.0


def test_corrupt_payload_tolerance(spark):
    """on_error='null': corrupt bytes flow through as decode_ok=False
    rows (never sharp, never dedup winners) instead of failing the job."""
    import pandas as pd

    from query_cost_feature_engineering_spark.functions.image_features import (
        CURATION_COLS,
        with_curation_stats,
    )

    pdf = generate_curation_corpus_pandas(4, 67)
    pdf.loc[1, "bytes"] = b"\x89PNGgarbage-not-a-real-file"
    pdf.loc[2, "bytes"] = b""
    df = spark.createDataFrame(pdf[["image_id", "bytes", "fmt"]])
    rows = {
        r.image_id: r
        for r in with_curation_stats(df, on_error="null").collect()
    }
    bad = [pdf.at[1, "image_id"], pdf.at[2, "image_id"]]
    for i, r in rows.items():
        if i in bad:
            assert not r.decode_ok and r.lap_var is None
            assert all(r[c] is None for c in CURATION_COLS), r
        else:
            assert r.decode_ok and r.lap_var is not None

    # fail mode still fails loudly
    import pytest as _pt
    from py4j.protocol import Py4JJavaError

    with _pt.raises(Exception):
        with_curation_stats(df).collect()


def test_curation_core_handles_all_nine_formats():
    """The fused gate runs on the full mixed-format corpus (png, gif,
    bmp, tiff, ico, ppm, tga + both jpeg codings) through the same
    magic-dispatch decode the mixed_format_features query uses."""
    from query_cost_feature_engineering_spark.functions.image_features import (
        curation_stats_pandas,
    )
    from query_cost_feature_engineering_spark.sources.images import (
        generate_mixed_images_pandas,
    )

    pdf = generate_mixed_images_pandas(45, 58)
    fmts = pdf["fmt"].map(lambda f: "jpeg" if f.startswith("jpeg") else f)
    st = curation_stats_pandas(pdf["bytes"], fmts)
    assert len(st) == 45
    assert (st["crop_w"] > 0).all() and (st["crop_h"] > 0).all()
    assert st["lap_var"].notna().all()
    assert pdf["fmt"].map(
        lambda f: "jpeg" if f.startswith("jpeg") else f
    ).nunique() >= 8


def test_stream_gate_matches_batch(spark):
    """Streaming adds micro-batching, not semantics: the streamed gate
    output is row-identical to the batch UDF over the same corpus."""
    from query_cost_feature_engineering_spark.functions.image_features import (
        curation_stats_pandas,
    )
    from query_cost_feature_engineering_spark.queries import (
        stream_image_curation,
    )

    rows = stream_image_curation(spark, "unused").collect()
    pdf = generate_curation_corpus_pandas(80, 67)
    st = curation_stats_pandas(pdf["bytes"], pdf["fmt"])
    st["image_id"] = pdf["image_id"].values
    want = dict(zip(st["image_id"], st["crop_phash"]))
    assert len(rows) == 240
    for r in rows:
        assert r.crop_phash == want[r.image_id]
