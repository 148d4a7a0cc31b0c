"""Multimodal payload operators: decode / resize / frame-sample over opaque
binary columns, as Arrow-batched ``mapInPandas`` / pandas UDFs. The
per-row struct featurizers go through the one payload-UDF helper
(``functions/_payload.py``); the 1->N frame fan-outs and the format sniff
have other shapes and keep their own batch loops.

Every payload is a real format decoded by the in-repo codecs: images
through ``codecs.py`` (PNG, JPEG, GIF, BMP, TIFF, ICO, PNM, TGA), video
containers AVI, MP4 with 'jpeg' tracks and animated GIF, audio WAV,
FLAC, AIFF and AU. The Spark-side plumbing — schema, batch shape, row
explosion, partition sizing — is tested end-to-end on those bytes.
Codecs that need an external library (H.264, mp3, ...) and unknown
containers raise ``NotImplementedError``.

Ref parity: the reference has no media layer (its payload is plan JSON);
this implements SURVEY.md §1.5's "binary (new engine: image bytes)"
column contract for the remaining modalities.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from query_cost_feature_engineering_spark.codecs import (
    decode_image,
    encode_png,
    phash64,
)
from query_cost_feature_engineering_spark.functions._payload import (
    payload_frame,
    with_payload_columns,
)
from query_cost_feature_engineering_spark.jpeg import (
    apply_exif_orientation,
    decode_jpeg,
    parse_exif_orientation,
    strip_metadata,
)

def decode_video(data: bytes) -> np.ndarray:
    """(n, h, w, 3) uint8 RGB frames from any supported video payload:
    REAL AVI (uncompressed-DIB or Motion-JPEG, pure-stdlib RIFF parser
    ``codecs.decode_avi``), REAL ISO-BMFF .mp4 with a 'jpeg' video
    track (``codecs.decode_mp4``), or animated GIF (``gif.decode_gif``).
    H.264/HEVC/VP9/AV1 payloads raise NotImplementedError by codec
    name — those genuinely need a codec library — and so does any
    other container."""
    from query_cost_feature_engineering_spark.codecs import (
        decode_avi,
        decode_mp4,
    )

    if data[:4] == b"RIFF" and data[8:12] == b"AVI ":
        return decode_avi(bytes(data))
    if data[4:8] == b"ftyp":
        return decode_mp4(bytes(data))
    if data[:4] == b"GIF8":  # animated GIF as a video source
        from query_cost_feature_engineering_spark.gif import decode_gif

        return decode_gif(bytes(data))[0]
    raise NotImplementedError(
        f"unsupported video container {bytes(data[:12])!r}: "
        "AVI, MP4 and GIF decode here; others need PyAV/ffmpeg"
    )


def decode_audio(data: bytes) -> tuple[np.ndarray, int]:
    """Mono (n,) int16 PCM + rate from any supported audio payload:
    REAL RIFF/WAVE (pure-NumPy codecs for PCM16 / IMA ADPCM / G.711,
    ``codecs.decode_wav``), REAL FLAC (lossless Rice-coded frames,
    ``flac.decode_flac``), AIFF/AIFC or Sun AU. Multichannel
    payloads yield channel 0 (features are per-clip scalars; channel
    choice is deterministic). Remaining compressed formats (mp3/ogg/
    m4a) still raise — those genuinely need a codec library."""
    from query_cost_feature_engineering_spark.codecs import (
        WAV_RIFF,
        decode_wav,
    )
    from query_cost_feature_engineering_spark.flac import (
        FLAC_MAGIC,
        decode_flac,
    )

    if data[:4] == WAV_RIFF:
        pcm, rate = decode_wav(bytes(data))
        return pcm[:, 0], rate
    if data[:4] == FLAC_MAGIC:
        pcm, rate = decode_flac(bytes(data))
        return pcm[:, 0], rate
    if data[:4] == b"FORM" and data[8:12] in (b"AIFF", b"AIFC"):
        from query_cost_feature_engineering_spark.codecs import decode_aiff

        pcm, rate = decode_aiff(bytes(data))
        return pcm[:, 0], rate
    if data[:4] == b".snd":
        from query_cost_feature_engineering_spark.codecs import decode_au

        pcm, rate = decode_au(bytes(data))
        return pcm[:, 0], rate
    raise NotImplementedError(
        f"unsupported audio container {bytes(data[:12])!r}: "
        "WAV, FLAC, AIFF and AU decode here; others need soundfile"
    )


# --- EXIF display metadata (scalar struct pandas UDF) -----------------------

_EXIF_SCHEMA = T.StructType(
    [
        T.StructField("orientation", T.IntegerType()),
        T.StructField("disp_w", T.IntegerType()),
        T.StructField("disp_h", T.IntegerType()),
        T.StructField("corner_mean", T.DoubleType()),
    ]
)


def _exif_display_row(data: bytes) -> tuple:
    o = parse_exif_orientation(data)
    disp = apply_exif_orientation(decode_jpeg(data), o or 1)
    corner = float(disp[:4, :4].astype(np.float64).mean())
    return (o or 0, disp.shape[1], disp.shape[0], corner)


def with_exif_display_meta(df: DataFrame) -> DataFrame:
    """Orientation-normalization pass: parse the APP1/TIFF orientation
    tag (0 when absent → treated as 1, the spec default), decode the
    JPEG, apply the display transform, and emit display dims plus a
    top-left 4x4 corner probe of the DISPLAY image — a value that is
    orientation-sensitive by construction, so a wrong or skipped
    rotation fails the oracle. Map-only Arrow-batched UDF; bytes are
    never shuffled (same plan shape as the flagship decode stage)."""
    return with_payload_columns(
        df, _exif_display_row, _EXIF_SCHEMA, inputs=("bytes",)
    )


_EXIF_SCRUB_SCHEMA = T.StructType(
    [
        T.StructField("had_exif", T.BooleanType()),
        T.StructField("n_stripped", T.IntegerType()),
        T.StructField("bytes_removed", T.LongType()),
        T.StructField("out_nbytes", T.LongType()),
        T.StructField("clean_ok", T.BooleanType()),
        T.StructField("pixels_ok", T.BooleanType()),
    ]
)


def _exif_scrub_row(data: bytes) -> tuple:
    s, n_rm, b_rm = strip_metadata(data)
    return (
        parse_exif_orientation(data) is not None,
        n_rm,
        b_rm,
        len(s),
        parse_exif_orientation(s) is None,
        bool(np.array_equal(decode_jpeg(data), decode_jpeg(s))),
    )


def with_exif_scrub(df: DataFrame) -> DataFrame:
    """Metadata-scrub pass (the LAION-style privacy step before
    publishing an image corpus): strip APP1..APP15 + COM segments from
    each JPEG (jpeg.strip_metadata), then VERIFY in the same batch that
    (a) the scrubbed stream parses no orientation tag anymore
    (``clean_ok``) and (b) decode is byte-identical pre/post
    (``pixels_ok`` — the dropped segments are decode-inert by spec,
    and this checks it per image). Map-only Arrow-batched UDF; bytes
    never shuffled."""
    return with_payload_columns(
        df, _exif_scrub_row, _EXIF_SCRUB_SCHEMA, inputs=("bytes",)
    )


# --- mixed-format decode metadata (scalar struct pandas UDF) ----------------

_DECODE_META_SCHEMA = T.StructType(
    [
        T.StructField("dec_w", T.IntegerType()),
        T.StructField("dec_h", T.IntegerType()),
        T.StructField("px_mean", T.DoubleType()),
        T.StructField("corner_mean", T.DoubleType()),
    ]
)


def _decoded_meta_row(data: bytes, fmt: str) -> tuple:
    arr = decode_image(data, "jpeg" if str(fmt).startswith("jpeg") else str(fmt))
    return (
        arr.shape[1],
        arr.shape[0],
        float(arr.astype(np.float64).mean()),
        float(arr[:4, :4].astype(np.float64).mean()),
    )


def with_decoded_meta(df: DataFrame) -> DataFrame:
    """Decode EVERY supported still-image format through the one
    ``codecs.decode_image`` dispatch and emit decoded dims + global
    and corner pixel means — the capstone pass proving the whole
    codec surface behind a single map-only Arrow UDF (fmt variants
    like 'jpeg_prog' normalize to their dispatch family)."""
    return with_payload_columns(df, _decoded_meta_row, _DECODE_META_SCHEMA)


# --- format sniffing (mapInArrow, zero-copy) --------------------------------

_MAGIC = [
    (b"\x89PNG", "png"),
    (b"\xff\xd8\xff", "jpeg"),
    (b"fLaC", "flac"),
    (b"GIF8", "gif"),
    (b"II*\x00", "tiff"),
    (b"MM\x00*", "tiff"),
    (b"\x00\x00\x01\x00", "ico"),
    (b".snd", "au"),
    (b"P5", "pgm"),
    (b"P6", "ppm"),
    (b"P2", "pgm"),
    (b"P3", "ppm"),
    (b"BM", "bmp"),
]


def _sniff_head(head: bytes) -> str:
    """Format from the first 12 payload bytes (RIFF needs the form type
    at offset 8 to split wav vs avi; ISO BMFF is recognized by 'ftyp'
    at offset 4 — the box TYPE, not a file prefix)."""
    if head.startswith(b"RIFF"):
        form = head[8:12]
        return {b"WAVE": "wav", b"AVI ": "avi"}.get(form, "riff")
    if head[4:8] == b"ftyp":
        return "mp4"
    if head[:4] == b"FORM":
        return "aiff" if head[8:12] in (b"AIFF", b"AIFC") else "iff"
    for sig, name in _MAGIC:
        if head.startswith(sig):
            return name
    return "unknown"


def sniff_formats(df: DataFrame) -> DataFrame:
    """Data-quality pass: detect the TRUE payload format from magic bytes
    and compare with the declared ``fmt`` column. Uses ``mapInArrow``
    (input_hint's zero-copy path): only the first 12 bytes of each payload
    are materialized; the binary buffers are never copied into pandas."""
    import pyarrow as pa

    def gen(batches):
        for batch in batches:
            ids = batch.column(0)
            data = batch.column(1)
            decl = batch.column(2)
            sniffed = []
            for i in range(len(data)):
                v = data[i]
                head = bytes(v.as_buffer()[:12]) if v.is_valid else b""
                sniffed.append(_sniff_head(head))
            sn = pa.array(sniffed, pa.string())
            ok = pa.compute.equal(sn, decl.cast(pa.string()))
            yield pa.RecordBatch.from_arrays(
                [ids, decl, sn, ok],
                ["media_id", "declared_fmt", "sniffed_fmt", "fmt_ok"],
            )

    return df.select("image_id", "bytes", "fmt").mapInArrow(
        gen,
        "media_id string, declared_fmt string, sniffed_fmt string, fmt_ok boolean",
    )


# --- image resize (real) ----------------------------------------------------

_RESIZE_SCHEMA = T.StructType(
    [
        T.StructField("bytes", T.BinaryType()),
        T.StructField("w", T.IntegerType()),
        T.StructField("h", T.IntegerType()),
    ]
)


def resize_images(df: DataFrame, size: int) -> DataFrame:
    """Nearest-neighbor resize to (size × size), re-encoded as PNG.
    Arrow-batched pandas UDF; output replaces bytes/w/h/fmt."""

    def resize(data: bytes, fmt: str) -> tuple:
        arr = decode_image(data, fmt)
        ys = (np.arange(size) * arr.shape[0]) // size
        xs = (np.arange(size) * arr.shape[1]) // size
        return encode_png(arr[np.ix_(ys, xs)]), size, size

    out = with_payload_columns(df, resize, _RESIZE_SCHEMA)
    return out.withColumn("fmt", F.lit("png"))


_AUGMENT_SCHEMA = T.StructType(
    [
        T.StructField("bytes", T.BinaryType()),
        T.StructField("w", T.IntegerType()),
        T.StructField("h", T.IntegerType()),
        T.StructField("phash", T.LongType()),
    ]
)


def augment_images(
    df: DataFrame, crop_frac: float = 0.875, hflip: bool = True
) -> DataFrame:
    """Deterministic train-time augmentation: center crop to
    ``crop_frac`` of each side, optional horizontal flip, re-encode PNG,
    recompute the perceptual hash. REAL pixel ops (the pure-NumPy codecs
    decode to arrays), one Arrow pandas UDF — the augmentation twin of
    ``resize_images``, same plan shape (payload never shuffles; the UDF
    runs straight off the scan). Deterministic by construction: no RNG,
    so re-runs and resumed partitions produce identical bytes."""

    def augment(data: bytes, fmt: str) -> tuple:
        arr = decode_image(data, fmt)
        h, w = arr.shape[0], arr.shape[1]
        ch = max(int(h * crop_frac), 1)
        cw = max(int(w * crop_frac), 1)
        y0 = (h - ch) // 2
        x0 = (w - cw) // 2
        out = arr[y0 : y0 + ch, x0 : x0 + cw]
        if hflip:
            out = out[:, ::-1]
        return encode_png(np.ascontiguousarray(out)), cw, ch, phash64(out)

    out = with_payload_columns(df, augment, _AUGMENT_SCHEMA)
    return out.withColumn("fmt", F.lit("png"))


# --- video frame sampling ---------------------------------------------------

FRAME_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.StringType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("n_frames", T.IntegerType()),
        T.StructField("frame_mean", T.DoubleType()),
        T.StructField("frame_png", T.BinaryType()),
    ]
)


def sample_video_frames(df: DataFrame, every_k: int = 5) -> DataFrame:
    """Explode each video row into one row per sampled frame (every k-th),
    via ``mapInPandas`` (1→N row fan-out needs mapInPandas, not a scalar
    UDF). Decode dispatches on magic bytes (``decode_video``: AVI, MP4,
    GIF); containers that need PyAV raise."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows: list[dict] = []
            for mid, data in zip(pdf["media_id"], pdf["bytes"]):
                frames = decode_video(bytes(data))  # (n, h, w, 3) RGB
                n = frames.shape[0]
                for i in range(0, n, every_k):
                    f = frames[i]
                    rows.append(
                        {
                            "media_id": mid,
                            "frame_idx": i,
                            "n_frames": n,
                            "frame_mean": float(f.mean()),
                            "frame_png": encode_png(f),
                        }
                    )
            yield pd.DataFrame(
                rows, columns=[f.name for f in FRAME_SCHEMA.fields]
            )

    return df.select("media_id", "bytes").mapInPandas(gen, FRAME_SCHEMA)


_FRAME_DEDUP_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.StringType()),
        T.StructField("frame_idx", T.IntegerType()),
        T.StructField("n_frames", T.IntegerType()),
        T.StructField("phash", T.LongType()),
        T.StructField("hamming_prev", T.IntegerType()),
        T.StructField("kept", T.BooleanType()),
    ]
)


def dedup_video_frames(df: DataFrame, tau: int = 6) -> DataFrame:
    """Within-video duplicate-frame removal — the static-scene /
    dup-frame pass video training pipelines run before frame sampling:
    per video, phash every frame and drop frames within Hamming
    distance ``tau`` of the LAST KEPT frame (frame 0 always kept, so a
    static run collapses to its first frame and every scene cut
    survives).

    Plan shape (10^12-frame safe): ``mapInPandas`` 1→N fan-out; the
    keep-chain is sequential WITHIN one video only (bounded by
    frames-per-video, never crosses rows of the outer frame), so the
    stage is embarrassingly parallel over videos — zero shuffles, video
    bytes never leave the scan stage. ``hamming_prev`` is the distance
    actually compared (to the last kept frame; NULL for frame 0)."""
    from query_cost_feature_engineering_spark.codecs import (
        hamming64,
        phash64,
    )

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows: list[dict] = []
            for mid, data in zip(pdf["media_id"], pdf["bytes"]):
                frames = decode_video(bytes(data))
                n = frames.shape[0]
                last_kept: int | None = None
                for i in range(n):
                    ph = phash64(frames[i])
                    d = (
                        None
                        if last_kept is None
                        else hamming64(ph, last_kept)
                    )
                    kept = d is None or d > tau
                    if kept:
                        last_kept = ph
                    rows.append(
                        {
                            "media_id": mid,
                            "frame_idx": i,
                            "n_frames": n,
                            "phash": ph,
                            "hamming_prev": d,
                            "kept": kept,
                        }
                    )
            yield pd.DataFrame(
                rows, columns=[f.name for f in _FRAME_DEDUP_SCHEMA.fields]
            )

    return df.select("media_id", "bytes").mapInPandas(
        gen, _FRAME_DEDUP_SCHEMA
    )


# --- audio features ---------------------------------------------------------

_AUDIO_SCHEMA = T.StructType(
    [
        T.StructField("n_samples", T.IntegerType()),
        T.StructField("sample_rate", T.IntegerType()),
        T.StructField("duration_s", T.DoubleType()),
        T.StructField("rms", T.DoubleType()),
        T.StructField("zero_crossings", T.IntegerType()),
    ]
)


def _audio_features_row(data: bytes) -> tuple:
    pcm, rate = decode_audio(data)
    n = len(pcm)
    rms = float(np.sqrt(np.mean(pcm.astype(np.float64) ** 2))) if n else 0.0
    zc = int(np.sum(np.abs(np.diff(np.signbit(pcm))))) if n > 1 else 0
    return (n, rate, n / rate, rms, zc)


def with_audio_features(df: DataFrame) -> DataFrame:
    """Scalar struct pandas UDF: PCM stats per clip, decoded by the
    ``decode_audio`` magic-byte dispatch (WAV, FLAC, AIFF, AU)."""
    return with_payload_columns(
        df, _audio_features_row, _AUDIO_SCHEMA, inputs=("bytes",)
    )


# ---------------------------------------------------------------------------
# Audio fingerprinting (chromaprint-style sign-of-band-energy-delta bits)
# ---------------------------------------------------------------------------
# 17 frames of 1024 samples (hop 512); per frame, 4 Haar-filterbank band
# energies computed in EXACT integer arithmetic (samples are int16, so
# every sum stays far below 2^63); bit (f, b) = E[f][b] > E[f+1][b],
# packed 64 bits -> int64. Integer math means the fingerprint is
# invariant to exact amplitude doubling (energies scale by exactly 4)
# and bit-identical between the vectorized Spark UDF and the fixture
# oracle's independent pure-Python loop implementation.

FP_WIN, FP_HOP, FP_DELTAS, FP_BANDS = 1024, 512, 16, 4

_FP_SCHEMA = T.StructType(
    [
        T.StructField("fingerprint", T.LongType()),
        T.StructField("n_frames", T.LongType()),
    ]
)


def _band_energies(frame: np.ndarray) -> tuple[int, int, int, int]:
    """4 Haar-packet band energies of one int64 frame — exact integers."""
    e0 = int((frame * frame).sum())
    p = frame.reshape(-1, 2)
    d1 = p[:, 0] - p[:, 1]
    e1 = int((d1 * d1).sum())
    q = frame.reshape(-1, 4)
    d2 = q[:, 0] + q[:, 1] - q[:, 2] - q[:, 3]
    e2 = int((d2 * d2).sum())
    r = frame.reshape(-1, 8)
    d3 = r[:, :4].sum(axis=1) - r[:, 4:].sum(axis=1)
    e3 = int((d3 * d3).sum())
    return e0, e1, e2, e3


def _audio_fp_row(data: bytes) -> tuple:
    pcm, _rate = decode_audio(data)
    x = (pcm[:, 0] if pcm.ndim == 2 else pcm).astype(np.int64)
    n_frames = 0 if len(x) < FP_WIN else (len(x) - FP_WIN) // FP_HOP + 1
    take = min(n_frames, FP_DELTAS + 1)
    E = [
        _band_energies(x[f * FP_HOP : f * FP_HOP + FP_WIN])
        for f in range(take)
    ]
    v = 0
    for f in range(FP_DELTAS):
        if f + 1 >= take:
            break
        for band in range(FP_BANDS):
            if E[f][band] > E[f + 1][band]:
                v |= 1 << (63 - (f * FP_BANDS + band))
    if v >= 1 << 63:
        v -= 1 << 64
    return (v, n_frames)


def audio_fingerprint_pandas(data: pd.Series) -> pd.DataFrame:
    """Spark-side fingerprint core (numpy reshape/sum reductions)."""
    return payload_frame(_audio_fp_row, _FP_SCHEMA, data)


def with_audio_fingerprint(df: DataFrame) -> DataFrame:
    """Append (fingerprint, n_frames); DROPS the payload column so the
    dedup shuffle moves 16-byte rows, never audio bytes."""
    return with_payload_columns(
        df, _audio_fp_row, _FP_SCHEMA, inputs=("bytes",), drop_payload=True
    )
