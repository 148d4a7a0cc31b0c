"""Single-process pandas/NumPy golden oracle (FIXTURES.md F3).

Independent re-implementation of the full feature semantics the Spark plan
computes — used by the test suite as ground truth (`numpy.allclose` per
entity × timestamp). Mirrors the role of the reference's vectorizers
(tpch_utils_knob.py:60-210) as the semantic contract.
"""

from __future__ import annotations

import re

import numpy as np
import pandas as pd

from query_cost_feature_engineering_spark.functions.image_features import (
    decode_stats_pandas,
    phash_bits_pandas,
)
from query_cost_feature_engineering_spark.functions.text import WS_RE
from query_cost_feature_engineering_spark.operators.windows import SESSION_GAP_S
from query_cost_feature_engineering_spark.sources.images import VOCAB


def caption_tokens(caption: str) -> list[str]:
    """The non-empty pieces between ``WS_RE`` runs, as the engine splits."""
    return [t for t in re.split(WS_RE, caption) if t]


def golden_features(images: pd.DataFrame) -> pd.DataFrame:
    """Flat golden feature columns, sorted by (entity_id, ts, image_id)."""
    df = images.copy()
    df["nbytes"] = df["bytes"].map(len).astype(float)
    for f in ("png", "jpeg"):
        df[f"fmt_{f}"] = (df["fmt"] == f).astype(float)
    px = decode_stats_pandas(df["bytes"], df["fmt"])
    df = pd.concat([df.reset_index(drop=True), px], axis=1)
    df = pd.concat([df, phash_bits_pandas(df["phash"])], axis=1)

    toks = df["caption"].map(caption_tokens)
    df["token_count"] = toks.map(len).astype(float)
    for w in VOCAB:
        df[f"tok_{w}"] = toks.map(lambda t, w=w: float(sum(x == w for x in t)))

    df = df.sort_values(["entity_id", "ts", "image_id"], kind="mergesort")
    g = df.groupby("entity_id", sort=False)
    for k in (1, 2):
        df[f"lag{k}_px_mean"] = g["px_mean"].shift(k)
        df[f"lead{k}_px_mean"] = g["px_mean"].shift(-k)
    sparse = df["px_mean"].where(df["fmt"] == "png")
    df["bf_png_mean"] = sparse.groupby(df["entity_id"], sort=False).ffill()
    df["roll3_px_mean"] = g["px_mean"].transform(
        lambda s: s.rolling(3, min_periods=1).mean()
    )
    gap = g["ts"].diff().dt.total_seconds()
    new_session = gap.isna() | (gap > SESSION_GAP_S)
    df["session_id"] = new_session.groupby(df["entity_id"], sort=False).cumsum()
    df["session_id"] = df["session_id"].astype("int64")

    from query_cost_feature_engineering_spark.operators.snapshot import (
        expanding_linear_fit_pandas,
    )

    df["snap_slope"], df["snap_intercept"] = expanding_linear_fit_pandas(
        df, "nbytes", "px_mean"
    )
    return df.drop(columns=["bytes", "caption"]).reset_index(drop=True)


def ensure_stream_features_fixture(
    n: int = 2000, n_entities: int = 60, seed: int = 44
) -> str:
    """Write (once) the expected stream_image_features rows as parquet —
    the DuckDB-visible mirror of the streaming query's synthetic input
    (same generator, same seed). The pure-pandas side recomputes the
    stateless featurize stage (decode stats share the exact NumPy core
    the Arrow UDF runs, so doubles are bit-identical); the driver's hash
    compare then checks the whole file-stream → micro-batch → sink path
    end to end. Written by fixture_file, like every fixture."""
    from query_cost_feature_engineering_spark.sources.images import (
        generate_images_pandas,
    )

    imgs = generate_images_pandas(n, n_entities, seed)
    px = decode_stats_pandas(imgs["bytes"], imgs["fmt"])
    out = pd.DataFrame(
        {
            "image_id": imgs["image_id"].astype(str),
            "entity_id": imgs["entity_id"].astype("int64"),
            "ts": imgs["ts"],
            "fmt": imgs["fmt"].astype(str),
            "token_count": imgs["caption"]
            .map(lambda c: len(caption_tokens(c)))
            .astype("int64"),
            "px_mean": px["px_mean"].to_numpy(dtype=np.float64),
            "nbytes": imgs["bytes"].map(len).astype("float64"),
        }
    )
    return _write_fixture("stream_feats", out)


def fixture_file(tag: str, digest_text: str, write) -> str:
    """Digest-keyed atomic write under /tmp/qcfe_fixtures, the one writer
    of every both-sides-synthesize oracle fixture: ``write(tmp)`` fills a
    write-aside file that is renamed to ``<tag>_<md5(digest_text)[:10]>
    .parquet``. The content digest in the filename means a
    generator/semantics change can never pair a stale fixture with fresh
    Spark output."""
    import hashlib
    import os
    import tempfile

    key = hashlib.md5(digest_text.encode()).hexdigest()[:10]
    d = os.path.join(tempfile.gettempdir(), "qcfe_fixtures")
    os.makedirs(d, exist_ok=True)
    path = os.path.join(d, f"{tag}_{key}.parquet")
    if not os.path.exists(path):
        tmp = f"{path}.tmp{os.getpid()}"
        write(tmp)
        os.replace(tmp, path)
    return path


def _write_fixture(tag: str, out: pd.DataFrame) -> str:
    """A frame fixture: keyed on its CSV text, written by pyarrow."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    return fixture_file(
        tag,
        out.to_csv(index=False),
        lambda tmp: pq.write_table(
            pa.Table.from_pandas(out, preserve_index=False), tmp
        ),
    )


_META_CORPUS_CACHE: dict = {}


def _meta_corpus(n: int = 400, n_entities: int = 30, seed: int = 42) -> pd.DataFrame:
    """One shared generate_images_pandas(n, n_entities, seed) per argument
    tuple for the image fixtures below: they all bake at oracles.py
    import, so without this memo the identical corpus (pixel synthesis +
    PNG/JPEG encode included) would be generated once per fixture.
    Callers read the frame and never change it."""
    key = (n, n_entities, seed)
    if key not in _META_CORPUS_CACHE:
        from query_cost_feature_engineering_spark.sources.images import (
            generate_images_pandas,
        )

        _META_CORPUS_CACHE[key] = generate_images_pandas(n, n_entities, seed)
    return _META_CORPUS_CACHE[key]


def ensure_resize_meta_fixture(n: int = 120, size: int = 32) -> str:
    """Expected rows for resize_images_meta: the SAME nearest-neighbor
    index arithmetic + PNG re-encode as the Arrow UDF, in pure Python."""
    from query_cost_feature_engineering_spark.codecs import (
        decode_image,
        encode_png,
    )
    imgs = _meta_corpus(n)
    nbytes = []
    for b, f in zip(imgs["bytes"], imgs["fmt"]):
        arr = decode_image(bytes(b), f)
        ys = (np.arange(size) * arr.shape[0]) // size
        xs = (np.arange(size) * arr.shape[1]) // size
        nbytes.append(len(encode_png(arr[np.ix_(ys, xs)])))
    out = pd.DataFrame(
        {
            "image_id": imgs["image_id"].astype(str),
            "w": np.int32(size),
            "h": np.int32(size),
            "fmt": "png",
            "out_nbytes": np.asarray(nbytes, dtype=np.int64),
        }
    )
    return _write_fixture("resize_meta", out)


def ensure_augment_meta_fixture(
    n: int = 120, crop_frac: float = 0.875, hflip: bool = True
) -> str:
    """Expected rows for augment_images_meta: center crop + hflip + PNG
    re-encode + phash recompute, mirroring the UDF op-for-op."""
    from query_cost_feature_engineering_spark.codecs import (
        decode_image,
        encode_png,
        phash64,
    )
    imgs = _meta_corpus(n)
    ws, hs, phs, nbytes = [], [], [], []
    for b, f in zip(imgs["bytes"], imgs["fmt"]):
        arr = decode_image(bytes(b), f)
        h, w = arr.shape[0], arr.shape[1]
        ch = max(int(h * crop_frac), 1)
        cw = max(int(w * crop_frac), 1)
        y0, x0 = (h - ch) // 2, (w - cw) // 2
        cut = arr[y0 : y0 + ch, x0 : x0 + cw]
        if hflip:
            cut = cut[:, ::-1]
        ws.append(cw)
        hs.append(ch)
        phs.append(phash64(cut))
        nbytes.append(len(encode_png(np.ascontiguousarray(cut))))
    out = pd.DataFrame(
        {
            "image_id": imgs["image_id"].astype(str),
            "w": np.asarray(ws, dtype=np.int32),
            "h": np.asarray(hs, dtype=np.int32),
            "fmt": "png",
            "phash": np.asarray(phs, dtype=np.int64),
            "out_nbytes": np.asarray(nbytes, dtype=np.int64),
        }
    )
    return _write_fixture("augment_meta", out)


def ensure_video_frames_fixture(
    n: int = 60, seed: int = 52, every_k: int = 5
) -> str:
    """Expected rows for video_frame_sample (same decode dispatch +
    every k-th frame, same float mean)."""
    from query_cost_feature_engineering_spark.functions.multimodal import (
        decode_video,
    )
    from query_cost_feature_engineering_spark.sources.media import (
        generate_videos_pandas,
    )

    vids = generate_videos_pandas(n, seed=seed)
    rows = []
    for mid, data in zip(vids["media_id"], vids["bytes"]):
        frames = decode_video(bytes(data))
        nf = frames.shape[0]
        for i in range(0, nf, every_k):
            rows.append(
                {
                    "media_id": mid,
                    "frame_idx": np.int32(i),
                    "n_frames": np.int32(nf),
                    "frame_mean": float(frames[i].mean()),
                }
            )
    return _write_fixture("video_frames", pd.DataFrame(rows))


def ensure_audio_features_fixture(n: int = 80, seed: int = 53) -> str:
    """Expected rows for audio_features_clips over the mixed-format
    corpus (same decode dispatch + formulas as the UDF)."""
    from query_cost_feature_engineering_spark.functions.multimodal import (
        decode_audio,
    )
    from query_cost_feature_engineering_spark.sources.media import (
        generate_audio_pandas,
    )

    clips = generate_audio_pandas(n, seed=seed)
    rows = []
    for cid, b in zip(clips["clip_id"], clips["bytes"]):
        pcm, rate = decode_audio(bytes(b))
        x = pcm.astype(np.float64)
        rows.append(
            {
                "clip_id": cid,
                "n_samples": np.int32(len(pcm)),
                "sample_rate": np.int32(rate),
                "duration_s": len(pcm) / rate,
                "rms": float(np.sqrt(np.mean(x**2))) if len(pcm) else 0.0,
                "zero_crossings": np.int32(
                    np.sum(np.abs(np.diff(np.signbit(pcm))))
                )
                if len(pcm) > 1
                else np.int32(0),
            }
        )
    return _write_fixture("audio_feats", pd.DataFrame(rows))


def ensure_exif_fixture(n: int = 160, seed: int = 57) -> str:
    """Expected rows for exif_orient_images via the single-process
    parse/decode/apply core (plumbing-pinning). Independently
    ENFORCES the spec semantics before writing: the parsed
    orientation must equal the generator's ``orientation_true``
    (inserter and parser are separate code paths), display dims must
    swap exactly for orientations 5-8, and the corner probe must
    differ from the unrotated corner whenever the transform moves the
    top-left 4x4 patch (sanity that the rotation really applied)."""
    from query_cost_feature_engineering_spark.jpeg import (
        apply_exif_orientation,
        decode_jpeg,
        parse_exif_orientation,
    )
    from query_cost_feature_engineering_spark.sources.images import (
        generate_exif_images_pandas,
    )

    pdf = generate_exif_images_pandas(n, seed)
    rows = []
    for i in range(len(pdf)):
        b = bytes(pdf["bytes"].iloc[i])
        true_o = int(pdf["orientation_true"].iloc[i])
        o = parse_exif_orientation(b)
        assert (o or 0) == true_o, (
            f"EXIF parse mismatch: {pdf['image_id'].iloc[i]} "
            f"parsed {o} inserted {true_o}"
        )
        arr = decode_jpeg(b)
        disp = apply_exif_orientation(arr, o or 1)
        if (o or 1) in (5, 6, 7, 8):
            assert disp.shape[:2] == arr.shape[1::-1], "dims must swap"
        else:
            assert disp.shape[:2] == arr.shape[:2], "dims must hold"
        rows.append(
            (
                str(pdf["image_id"].iloc[i]),
                true_o,
                o or 0,
                disp.shape[1],
                disp.shape[0],
                float(disp[:4, :4].astype(np.float64).mean()),
            )
        )
    out = pd.DataFrame(
        rows,
        columns=[
            "image_id", "orientation_true", "orientation",
            "disp_w", "disp_h", "corner_mean",
        ],
    )
    return _write_fixture("exif_orient", out)


def ensure_exif_scrub_fixture(n: int = 160, seed: int = 57) -> str:
    """Expected rows for exif_scrub_images via the single-process strip
    core (plumbing-pinning; the verdict booleans are recomputed, not
    copied). The BUILD independently ENFORCES the scrub claim with an
    INDEPENDENT segment scan written here (not strip_metadata's own
    accounting): no APP1..APP15 or COM marker may survive in any
    scrubbed stream before SOS, planted orientations must be present
    pre-scrub and absent post-scrub, and decode must be array-equal
    pre/post."""
    import struct as _struct

    from query_cost_feature_engineering_spark.jpeg import (
        decode_jpeg,
        parse_exif_orientation,
        strip_metadata,
    )
    from query_cost_feature_engineering_spark.sources.images import (
        generate_exif_images_pandas,
    )

    def _scan_meta_markers(data: bytes) -> int:
        """Independent walk: count APP1..APP15/COM segments before SOS."""
        pos, hits = 2, 0
        while pos + 4 <= len(data):
            if data[pos] != 0xFF:
                break
            m = data[pos + 1]
            if m == 0xDA:
                break
            pos += 2
            if 0xD0 <= m <= 0xD9 or m == 0x01:
                continue
            (ln,) = _struct.unpack(">H", data[pos : pos + 2])
            if 0xE1 <= m <= 0xEF or m == 0xFE:
                hits += 1
            pos += ln
        return hits

    pdf = generate_exif_images_pandas(n, seed)
    rows = []
    for i in range(len(pdf)):
        b = bytes(pdf["bytes"].iloc[i])
        true_o = int(pdf["orientation_true"].iloc[i])
        had = parse_exif_orientation(b) is not None
        assert had == (true_o != 0), "planted EXIF must be parseable"
        s, n_rm, b_rm = strip_metadata(b)
        assert _scan_meta_markers(s) == 0, "metadata survived the scrub"
        assert parse_exif_orientation(s) is None
        assert np.array_equal(decode_jpeg(b), decode_jpeg(s))
        rows.append(
            (
                str(pdf["image_id"].iloc[i]),
                bool(had),
                int(n_rm),
                int(b_rm),
                len(s),
                True,
                True,
            )
        )
    out = pd.DataFrame(
        rows,
        columns=[
            "image_id", "had_exif", "n_stripped",
            "bytes_removed", "out_nbytes", "clean_ok", "pixels_ok",
        ],
    )
    out["n_stripped"] = out["n_stripped"].astype("int64")
    out["bytes_removed"] = out["bytes_removed"].astype("int64")
    out["out_nbytes"] = out["out_nbytes"].astype("int64")
    return _write_fixture("exif_scrub", out)


def ensure_mixed_format_fixture(n: int = 180, seed: int = 58) -> str:
    """Expected rows for mixed_format_features via the single-process
    decode core. Before writing, independently ENFORCES each format's
    fidelity class against the pre-encode arrays: bit-exact for the
    lossless seven (png/gif/bmp/tiff/ico/ppm/tga) and PSNR >= 40 dB
    for the two JPEG codings — a codec regression fails the oracle
    build loudly."""
    from query_cost_feature_engineering_spark.codecs import decode_image
    from query_cost_feature_engineering_spark.jpeg import psnr
    from query_cost_feature_engineering_spark.sources.images import (
        generate_mixed_images_pandas,
    )

    pdf = generate_mixed_images_pandas(n, seed)
    rows = []
    for i in range(len(pdf)):
        fmt = str(pdf["fmt"].iloc[i])
        f = "jpeg" if fmt.startswith("jpeg") else fmt
        arr = decode_image(bytes(pdf["bytes"].iloc[i]), f)
        true = pdf["arr_true"].iloc[i]
        if fmt.startswith("jpeg"):
            p = psnr(true, arr)
            assert p >= 40.0, f"{fmt} fidelity regression: {p:.2f} dB"
        else:
            assert np.array_equal(arr, true), f"{fmt} must be lossless"
        rows.append(
            (
                str(pdf["image_id"].iloc[i]),
                fmt,
                arr.shape[1],
                arr.shape[0],
                float(arr.astype(np.float64).mean()),
                float(arr[:4, :4].astype(np.float64).mean()),
            )
        )
    out = pd.DataFrame(
        rows,
        columns=["image_id", "fmt", "dec_w", "dec_h", "px_mean", "corner_mean"],
    )
    return _write_fixture("mixed_format", out)


# INDEPENDENT magic-byte table for the sniff oracle — written from the
# published file-format specs (PNG \x89PNG, JPEG SOI \xff\xd8\xff, RIFF
# form types) spelled out as literals, deliberately NOT importing
# functions.multimodal._sniff_head: the fixture must catch a sniffing
# bug, not reproduce it (round-4 ADVICE — the old fixture called the
# exact function under test).
_SNIFF_ORACLE_MAGIC = [
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


def _sniff_oracle(head: bytes) -> str:
    if head[:4] == b"RIFF":
        return {b"WAVE": "wav", b"AVI ": "avi"}.get(head[8:12], "riff")
    if head[:4] == b"FORM":
        return "aiff" if head[8:12] in (b"AIFF", b"AIFC") else "iff"
    if head[4:8] == b"ftyp":  # ISO BMFF: box type at offset 4, per spec
        return "mp4"
    for sig, name in _SNIFF_ORACLE_MAGIC:
        if head[: len(sig)] == sig:
            return name
    return "unknown"


def ensure_sniff_fixture(n: int = 200) -> str:
    """Expected rows for format_sniff_images, derived from the
    independent `_SNIFF_ORACLE_MAGIC` table above (NOT the UDF's own
    `_sniff_head`). NOTE on shared-code oracles elsewhere in this file:
    ensure_video_frames_fixture / ensure_audio_features_fixture reuse
    decode_video / decode_audio, so they verify the Spark plumbing
    (schema, batching, dispatch) — decode SEMANTICS for those codecs are
    pinned separately by tests/test_codecs.py round-trips against
    independently-constructed byte streams."""
    imgs = _meta_corpus(n)
    sniffed = [_sniff_oracle(bytes(b)[:12]) for b in imgs["bytes"]]
    out = pd.DataFrame(
        {
            "media_id": imgs["image_id"].astype(str),
            "declared_fmt": imgs["fmt"].astype(str),
            "sniffed_fmt": sniffed,
            "fmt_ok": [s == d for s, d in zip(sniffed, imgs["fmt"])],
        }
    )
    return _write_fixture("sniff", out)


def _phash_pairs_py(n: int = 400, max_dist: int = 12):
    """Brute-force hamming pairs over the synthetic image corpus — the
    exact mirror of hamming_neardup_pairs' lossless banding."""
    imgs = _meta_corpus(n)
    ids = imgs["image_id"].tolist()
    hs = [int(h) & 0xFFFFFFFFFFFFFFFF for h in imgs["phash"]]
    order = np.argsort(ids)
    pairs = []
    for ii in range(len(order)):
        a = order[ii]
        for jj in range(ii + 1, len(order)):
            b = order[jj]
            d = bin(hs[a] ^ hs[b]).count("1")
            if d <= max_dist:
                pairs.append((ids[a], ids[b], d))
    return ids, pairs


def ensure_phash_pairs_fixture(n: int = 400, max_dist: int = 12) -> str:
    _, pairs = _phash_pairs_py(n, max_dist)
    out = pd.DataFrame(pairs, columns=["img_a", "img_b", "hamming"])
    out["hamming"] = out["hamming"].astype(np.int32)
    return _write_fixture("phash_pairs", out)


def ensure_dedup_clusters_fixture(n: int = 400, max_dist: int = 12) -> str:
    """Union-find over the brute-force pairs; cluster_id = min id in the
    component, survivors = the min id itself; singletons included —
    mirroring operators/cluster.dedup_clusters."""
    ids, pairs = _phash_pairs_py(n, max_dist)
    parent = {i: i for i in ids}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b, _ in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    out = pd.DataFrame(
        {
            "image_id": ids,
            "cluster_id": [find(i) for i in ids],
        }
    ).sort_values("image_id")
    out["is_survivor"] = out["image_id"] == out["cluster_id"]
    return _write_fixture("dedup_clusters", out)


def ensure_asof_features_fixture() -> str:
    """Expected rows for image_asof_features: golden features (shared
    decode core + pandas windows) + pandas merge_asof with the engine's
    tie rule (right side sorted by (ts, image_id), backward, exact
    matches allowed)."""
    from query_cost_feature_engineering_spark.sources.images import (
        generate_spine_pandas,
    )

    pdf = _meta_corpus(400)
    feats = golden_features(pdf)[
        ["entity_id", "ts", "image_id", "px_mean", "session_id"]
    ]
    spine = generate_spine_pandas(pdf, n=200, seed=43)
    lo = spine.sort_values("ts", kind="mergesort")
    ro = feats.sort_values(["ts", "image_id"], kind="mergesort")
    out = pd.merge_asof(
        lo,
        ro,
        on="ts",
        by="entity_id",
        direction="backward",
        allow_exact_matches=True,
    )
    out = out[["probe_id", "entity_id", "image_id", "px_mean", "session_id"]]
    out["session_id"] = out["session_id"].astype("Int64")
    return _write_fixture("asof_feats", out)


def ensure_plan_samples_fit_fixture() -> str:
    """Raw per-node (node_type, actual_rows, actual_total_time) samples
    (zero-row filtered) for BOTH logscan corpora — the DuckDB input for
    logscan_plans' per-node-type regression oracle."""
    from query_cost_feature_engineering_spark.sources.logs import (
        flatten_plan_nodes,
        generate_plans,
    )

    rows = []
    for n, seed in ((300, 61), (200, 62)):
        for r in flatten_plan_nodes(generate_plans(n, seed)):
            if (r["actual_rows"] or 0) > 0:
                rows.append(
                    {
                        "node_type": r["node_type"],
                        "actual_rows": np.int64(r["actual_rows"]),
                        "actual_total_time": float(r["actual_total_time"]),
                    }
                )
    return _write_fixture("plan_samples", pd.DataFrame(rows))


def _java_fmt5(x: float) -> str:
    """Java ``String.format("%.5f")`` semantics (HALF_UP on the exact
    decimal expansion of the double) — matches Spark's
    ``format_string('%.5f', x)`` digit for digit, unlike Python's
    ``%.5f`` (round-half-even on exact binary ties)."""
    from decimal import ROUND_HALF_UP, Decimal

    if x != x:
        return "NaN"
    return f"{Decimal(x).quantize(Decimal('0.00001'), rounding=ROUND_HALF_UP):.5f}"


def _java_fmt4(x: float) -> str:
    """Java ``String.format("%.4f")`` — same exact-expansion HALF_UP
    semantics as :func:`_java_fmt5`, at the MSCN digest's precision."""
    from decimal import ROUND_HALF_UP, Decimal

    if x != x:
        return "NaN"
    return f"{Decimal(x).quantize(Decimal('0.0001'), rounding=ROUND_HALF_UP):.4f}"


def _rq_py(x: float, n: int) -> float:
    """Python mirror of queries._rq: add the 10^-(n+5) nudge in DOUBLE
    arithmetic (matching Spark's column addition), then round the way
    Spark's ``F.round`` does — BigDecimal.valueOf(double), i.e. HALF_UP
    on the SHORTEST round-trip decimal, which is exactly what Python's
    ``repr`` produces."""
    from decimal import ROUND_HALF_UP, Decimal

    nudged = x + 10.0 ** -(n + 5)
    q = Decimal(1).scaleb(-n)
    return float(Decimal(repr(nudged)).quantize(q, rounding=ROUND_HALF_UP))


def ensure_mscn_fixture(n_plans: int = 200, seed: int = 63) -> str:
    """Expected rows for mscn_serialize_plans — the round-4 verdict's
    last fixture upgrade: the pure-Python serializer (golden-tested
    against a HAND-BUILT tree in tests/test_logscan.py, so the
    serialization CONTRACT is pinned independently) runs over the same
    deterministic plan stream the console log embeds, and every digest
    column is recomputed with Java-semantics formatting. A hash match
    therefore proves the log parse → canonical re-serialization →
    distributed mapInPandas → digest path is bit-identical to the
    single-process computation."""
    import hashlib

    from query_cost_feature_engineering_spark.plans.mscn import (
        node_feat_len,
        serialize_plan_dict,
    )
    from query_cost_feature_engineering_spark.sources.logs import (
        generate_plans,
    )

    rows = []
    flen = node_feat_len()
    for plan in generate_plans(n_plans, seed):
        vec, n = serialize_plan_dict(plan)
        digest = hashlib.md5(
            ",".join(_java_fmt4(v) for v in vec).encode()
        ).hexdigest()
        l1 = 0.0
        for v in vec:  # sequential left fold = F.aggregate's order
            l1 += abs(float(v))
        rows.append(
            {
                "plan_key": hashlib.md5(
                    f"{n},{digest}".encode()
                ).hexdigest(),
                "n_nodes": np.int32(n),
                "feat_len": np.int32(flen),
                "vec_digest": digest,
                "vec_l1": _rq_py(l1, 2),
            }
        )
    return _write_fixture("mscn", pd.DataFrame(rows))


def ensure_image_features_fixture() -> str:
    """Expected rows for the FLAGSHIP image_features query: the full
    158-slot vector recomputed by the single-process golden
    (shared decode core + pandas windows — verified bit-identical to the
    Spark plan's doubles incl. the rolling/expanding window sums), then
    digested with Java-semantics %.5f. A hash match is the strongest
    end-to-end signal in the repo: decode → window layer → expanding OLS
    → vector assembly, every slot, every row."""
    import hashlib

    from query_cost_feature_engineering_spark.plans.pipeline import (
        FEATURE_ORDER,
    )
    g = golden_features(_meta_corpus(400))
    digs = []
    for _, r in g.iterrows():
        vec = [
            0.0 if (v is None or v != v) else float(v)
            for v in (r[c] for c in FEATURE_ORDER)
        ]
        digs.append(
            hashlib.md5(",".join(_java_fmt5(v) for v in vec).encode()).hexdigest()
        )
    out = pd.DataFrame(
        {
            "image_id": g["image_id"].astype(str),
            "entity_id": g["entity_id"].astype("int64"),
            "ts": g["ts"],
            "session_id": g["session_id"].astype("int64"),
            "n_features": np.int32(len(FEATURE_ORDER)),
            "feature_digest": digs,
        }
    )
    return _write_fixture("image_features", out)


def ensure_aspect_meta_fixture(n: int = 400) -> str:
    """INPUT fixture for aspect_bucket_images: just the (image_id, w, h)
    spine of the same seeded corpus the Spark side synthesizes. Unlike
    the recompute fixtures above this carries NO derived values — the
    bucketing/batching logic is computed independently on both sides
    (Spark expressions vs the DuckDB VALUES-join SQL), so there is
    nothing circular to overstate."""
    imgs = _meta_corpus(n)
    out = pd.DataFrame(
        {
            "image_id": imgs["image_id"].astype(str),
            "w": imgs["w"].astype("int64"),
            "h": imgs["h"].astype("int64"),
        }
    )
    return _write_fixture("aspect_meta", out)


def ensure_vlm_meta_fixture(n: int = 400) -> str:
    """INPUT fixture for vlm_pack_images: the (image_id, caption) spine
    of the seeded corpus — input-only, like ensure_aspect_meta_fixture;
    the packing arithmetic is derived independently on both sides."""
    imgs = _meta_corpus(n)
    out = pd.DataFrame(
        {
            "image_id": imgs["image_id"].astype(str),
            "caption": imgs["caption"].astype(str),
        }
    )
    return _write_fixture("vlm_meta", out)


def ensure_jpeg_features_fixture(n: int = 200, seed: int = 56) -> str:
    """Expected rows for jpeg_features_images via the single-process
    decode core (plumbing-pinning, the image_features idiom). Before
    writing, ENFORCES the per-image PSNR >= 40 dB fidelity invariant
    of the T.81 codec against the pre-encode pixel arrays — a codec
    regression fails the oracle build loudly instead of silently
    matching a degraded Spark side."""
    from query_cost_feature_engineering_spark.jpeg import psnr
    from query_cost_feature_engineering_spark.sources.images import (
        generate_jpeg_images_pandas,
    )

    pdf = generate_jpeg_images_pandas(n, seed)
    px = decode_stats_pandas(pdf["bytes"], pdf["fmt"])
    from query_cost_feature_engineering_spark.codecs import decode_image

    rows = []
    for i in range(len(pdf)):
        dec = decode_image(bytes(pdf["bytes"].iloc[i]), "jpeg")
        p = psnr(pdf["arr_true"].iloc[i], dec)
        assert p >= 40.0, (
            f"JPEG fidelity regression: {pdf['image_id'].iloc[i]} "
            f"PSNR {p:.2f} < 40 dB"
        )
        rows.append(
            (
                str(pdf["image_id"].iloc[i]),
                int(pdf["w"].iloc[i]),
                int(pdf["h"].iloc[i]),
                int(pdf["quality"].iloc[i]),
                str(pdf["subsamp"].iloc[i]),
                str(pdf["coding"].iloc[i]),
                len(bytes(pdf["bytes"].iloc[i])),
                float(px["px_mean"].iloc[i]),
                int(px["px_min_r"].iloc[i]),
                int(px["px_max_r"].iloc[i]),
                int(px["hist_0"].iloc[i]),
                int(px["hist_7"].iloc[i]),
            )
        )
    out = pd.DataFrame(
        rows,
        columns=[
            "image_id", "w", "h", "quality", "subsamp", "coding",
            "n_bytes", "px_mean", "px_min_r", "px_max_r", "hist_lo",
            "hist_hi",
        ],
    )
    for c in ("w", "h", "quality", "n_bytes", "px_min_r", "px_max_r",
              "hist_lo", "hist_hi"):
        out[c] = out[c].astype("int64")
    return _write_fixture("jpeg_features", out)


def ensure_shard_pack_fixture(
    n: int = 400, n_entities: int = 30, seed: int = 42
) -> str:
    """Expected rows for shard_pack_images: record sizes and the
    exclusive prefix sum recomputed with plain Python ints (len() on
    raw bytes / UTF-8 encoded captions, a sequential cumsum) — vs the
    Spark side's length/octet_length expressions and the distributed
    range-bucket prefix-sum operator."""
    from query_cost_feature_engineering_spark.queries import (
        WEBDATASET_SHARD_BYTES,
    )
    pdf = _meta_corpus(n, n_entities, seed)
    recs = sorted(
        (
            int(str(pdf["image_id"].iloc[i])[3:]),
            str(pdf["image_id"].iloc[i]),
            len(bytes(pdf["bytes"].iloc[i]))
            + len(str(pdf["caption"].iloc[i]).encode("utf-8")),
        )
        for i in range(len(pdf))
    )
    rows, prefix = [], 0
    for _, image_id, rb in recs:
        rows.append(
            (
                image_id,
                rb,
                prefix,
                prefix // WEBDATASET_SHARD_BYTES,
                prefix % WEBDATASET_SHARD_BYTES,
            )
        )
        prefix += rb
    out = pd.DataFrame(
        rows,
        columns=[
            "image_id", "rec_bytes", "prefix_bytes", "shard_id",
            "shard_off",
        ],
    )
    for c in ("rec_bytes", "prefix_bytes", "shard_id", "shard_off"):
        out[c] = out[c].astype("int64")
    return _write_fixture("shard_pack", out)


def ensure_video_dedup_fixture(n: int = 60, seed: int = 54) -> str:
    """Expected rows for video_frame_dedup: the keep-chain recomputed
    in pure Python from the generator's ORIGINAL frame arrays
    (frames_true) — the decode path under test is never called, so the
    fixture pins the encode->decode roundtrip AND the dedup semantics.
    phash64 is shared with the UDF (documented; its correctness is
    pinned by the image-pipeline allclose goldens)."""
    from query_cost_feature_engineering_spark.codecs import (
        hamming64,
        phash64,
    )
    from query_cost_feature_engineering_spark.queries import (
        VIDEO_DEDUP_TAU,
    )
    from query_cost_feature_engineering_spark.sources.media import (
        generate_static_videos_pandas,
    )

    pdf = generate_static_videos_pandas(n, seed)
    rows = []
    for i in range(len(pdf)):
        frames = pdf["frames_true"].iloc[i]
        last = None
        for j in range(frames.shape[0]):
            ph = phash64(frames[j])
            d = None if last is None else hamming64(ph, last)
            kept = d is None or d > VIDEO_DEDUP_TAU
            if kept:
                last = ph
            rows.append(
                (
                    str(pdf["media_id"].iloc[i]),
                    j,
                    int(frames.shape[0]),
                    ph,
                    d,
                    kept,
                )
            )
    out = pd.DataFrame(
        rows,
        columns=[
            "media_id", "frame_idx", "n_frames", "phash",
            "hamming_prev", "kept",
        ],
    )
    out["frame_idx"] = out["frame_idx"].astype("int32")
    out["n_frames"] = out["n_frames"].astype("int32")
    out["phash"] = out["phash"].astype("int64")
    out["hamming_prev"] = out["hamming_prev"].astype("Int32")
    return _write_fixture("video_dedup", out)


def ensure_datacomp_filter_fixture(
    n: int = 400, n_entities: int = 30, seed: int = 42
) -> str:
    """Expected rows for datacomp_filter_images: every gate recomputed
    in pure Python (int/float ops, str.split) over the same generator
    output the Spark plan reads — no Spark expression is reused."""
    from query_cost_feature_engineering_spark.queries import (
        DATACOMP_FMTS,
        DATACOMP_MAX_ASPECT,
        DATACOMP_MIN_CAPTION_TOKENS,
        DATACOMP_MIN_SIDE,
    )
    pdf = _meta_corpus(n, n_entities, seed)
    rows = []
    for i in range(len(pdf)):
        w, h = int(pdf["w"].iloc[i]), int(pdf["h"].iloc[i])
        toks = [
            t
            for t in str(pdf["caption"].iloc[i]).lower().split(" ")
            if t
        ]
        aspect = max(w, h) / min(w, h)
        size_ok = min(w, h) >= DATACOMP_MIN_SIDE
        aspect_ok = aspect <= DATACOMP_MAX_ASPECT
        caption_ok = len(toks) >= DATACOMP_MIN_CAPTION_TOKENS
        fmt_ok = str(pdf["fmt"].iloc[i]) in DATACOMP_FMTS
        rows.append(
            (
                str(pdf["image_id"].iloc[i]),
                w,
                h,
                aspect,  # raw; the oracle quantizes with the _rq nudge
                len(toks),
                size_ok,
                aspect_ok,
                caption_ok,
                fmt_ok,
                size_ok and aspect_ok and caption_ok and fmt_ok,
            )
        )
    out = pd.DataFrame(
        rows,
        columns=[
            "image_id", "w", "h", "aspect", "caption_tokens",
            "size_ok", "aspect_ok", "caption_ok", "fmt_ok", "kept",
        ],
    )
    for c in ("w", "h", "caption_tokens"):
        out[c] = out[c].astype("int64")
    return _write_fixture("datacomp_filter", out)


def ensure_caption_align_fixture(
    n: int = 400, n_entities: int = 30, seed: int = 42
) -> str:
    """Expected rows for caption_align_images. The image-side histogram
    shares the decode core (pixels are plumbing here, verified bit-exact
    by the allclose goldens above); everything ALIGNMENT-specific is
    computed independently of the Spark expressions: caption bucketing
    via hashlib.md5 (vs Spark's F.md5 + conv), and the cosine as
    explicit left-to-right float accumulation matching Spark's
    left-associative ``+`` chain, so doubles are bit-identical."""
    import hashlib
    import math

    from query_cost_feature_engineering_spark.queries import (
        CAPTION_ALIGN_BINS,
        CAPTION_ALIGN_TAU,
    )
    pdf = _meta_corpus(n, n_entities, seed)
    px = decode_stats_pandas(pdf["bytes"], pdf["fmt"])
    rows = []
    for i in range(len(pdf)):
        toks = [
            w
            for w in str(pdf["caption"].iloc[i]).lower().split(" ")
            if w
        ]
        c = [0.0] * CAPTION_ALIGN_BINS
        for t in toks:
            b = int(hashlib.md5(t.encode()).hexdigest()[:8], 16)
            c[b % CAPTION_ALIGN_BINS] += 1.0
        h = [
            float(px[f"hist_{k}"].iloc[i])
            for k in range(CAPTION_ALIGN_BINS)
        ]
        dot = h[0] * c[0]
        hn = h[0] * h[0]
        cn = c[0] * c[0]
        for k in range(1, CAPTION_ALIGN_BINS):
            dot = dot + h[k] * c[k]
            hn = hn + h[k] * h[k]
            cn = cn + c[k] * c[k]
        denom = math.sqrt(hn) * math.sqrt(cn)
        score = None if denom == 0.0 else dot / denom
        rows.append(
            (
                str(pdf["image_id"].iloc[i]),
                int(pdf["entity_id"].iloc[i]),
                len(toks),
                score,
                score is not None and score >= CAPTION_ALIGN_TAU,
            )
        )
    out = pd.DataFrame(
        rows,
        columns=[
            "image_id",
            "entity_id",
            "token_count",
            "align_score",
            "kept",
        ],
    )
    out["token_count"] = out["token_count"].astype("int64")
    return _write_fixture("caption_align", out)


def _sharpness_loop_py(g: list) -> tuple[float, float]:
    """Independent per-pixel-loop sharpness recompute (list-of-lists
    int luma) — shared by the blur and curation fixtures; the Spark
    side uses numpy shift reductions (functions/image_features)."""
    h = len(g)
    w = len(g[0]) if h else 0
    if h < 3 or w < 3:
        return 0.0, 0.0
    s = ss = tg = 0
    cnt = 0
    for y in range(1, h - 1):
        gm, gc, gp = g[y - 1], g[y], g[y + 1]
        for x in range(1, w - 1):
            lap = gm[x] + gp[x] + gc[x - 1] + gc[x + 1] - 4 * gc[x]
            s += lap
            ss += lap * lap
            dx = gc[x + 1] - gc[x - 1]
            dy = gp[x] - gm[x]
            tg += dx * dx + dy * dy
            cnt += 1
    return float(cnt * ss - s * s) / float(cnt * cnt), float(tg) / float(cnt)


def _border_runs_loop_py(arr) -> tuple[int, int, int, int]:
    """Independent per-pixel-loop border-run recount — shared by the
    border and curation fixtures."""
    h, w = arr.shape[:2]

    def _row_uniform(y):
        a = arr[y, 0]
        return all(
            int(arr[y, x][k]) == int(a[k])
            for x in range(w) for k in range(3)
        )

    def _col_uniform(x):
        a = arr[0, x]
        return all(
            int(arr[y, x][k]) == int(a[k])
            for y in range(h) for k in range(3)
        )

    t = 0
    while t < h and _row_uniform(t):
        t += 1
    if t == h:
        return h, 0, w, 0
    b = 0
    while _row_uniform(h - 1 - b):
        b += 1
    l = 0
    while l < w and _col_uniform(l):
        l += 1
    if l == w:  # vertical stripes: every column uniform -> all border
        return t, b, w, 0
    r = 0
    while _col_uniform(w - 1 - r):
        r += 1
    return t, b, l, r


def ensure_blur_fixture(n: int = 240, seed: int = 42) -> str:
    """Expected rows for blur_detect_images, recomputed by an
    INDEPENDENT implementation of the sharpness math: an explicit
    per-pixel Python loop over the interior (vs the Spark UDF's numpy
    shift stack). Both sides reduce to the same exact integer sums
    (all values bounded far below 2^53), then apply the identical
    two-exact-operand float divisions, so agreement is bit-for-bit.
    Only the corpus generator and the codec decode are shared (the
    plumbing-pinning convention — the codec itself is pinned by
    tests/test_codecs.py and the PSNR-enforcing fixtures)."""
    from query_cost_feature_engineering_spark.codecs import decode_image, to_gray
    from query_cost_feature_engineering_spark.sources.images import (
        generate_blur_corpus_pandas,
    )

    pdf = generate_blur_corpus_pandas(n, seed)
    rows = []
    for i in range(len(pdf)):
        arr = decode_image(bytes(pdf["bytes"].iloc[i]), str(pdf["fmt"].iloc[i]))
        g = to_gray(arr).astype(int).tolist()
        lap_var, teng = _sharpness_loop_py(g)
        h = len(g)
        w = len(g[0]) if h else 0
        rows.append(
            (
                str(pdf["image_id"].iloc[i]),
                w,
                h,
                lap_var,
                teng,
                bool(pdf["blur_true"].iloc[i]),
            )
        )
    out = pd.DataFrame(
        rows,
        columns=["image_id", "dec_w", "dec_h", "lap_var", "tenengrad", "blur_true"],
    )
    out["dec_w"] = out["dec_w"].astype("int32")
    out["dec_h"] = out["dec_h"].astype("int32")
    return _write_fixture("blur_detect", out)


def _audio_fp_loop_py(wav_bytes: bytes) -> tuple[int, int]:
    """Independent pure-Python per-sample fingerprint recompute
    (explicit 8-sample unrolled Haar sums vs the Spark UDF's numpy
    reshape reductions) — shared by the audio dedup and near-dup
    fixtures. Returns (fingerprint, n_frames)."""
    from query_cost_feature_engineering_spark.codecs import decode_wav
    from query_cost_feature_engineering_spark.functions.multimodal import (
        FP_BANDS,
        FP_DELTAS,
        FP_HOP,
        FP_WIN,
    )

    pcm, _rate = decode_wav(wav_bytes)
    x = [int(v) for v in pcm[:, 0]]
    ln = len(x)
    n_frames = 0 if ln < FP_WIN else (ln - FP_WIN) // FP_HOP + 1
    take = min(n_frames, FP_DELTAS + 1)
    E = []
    for f in range(take):
        s = f * FP_HOP
        e0 = e1 = e2 = e3 = 0
        for j in range(0, FP_WIN, 8):
            w = x[s + j : s + j + 8]
            for v in w:
                e0 += v * v
            for k in (0, 2, 4, 6):
                d = w[k] - w[k + 1]
                e1 += d * d
            for k in (0, 4):
                d = w[k] + w[k + 1] - w[k + 2] - w[k + 3]
                e2 += d * d
            d = w[0] + w[1] + w[2] + w[3] - w[4] - w[5] - w[6] - w[7]
            e3 += d * d
        E.append((e0, e1, e2, e3))
    v = 0
    for f in range(FP_DELTAS):
        if f + 1 >= take:
            break
        for band in range(FP_BANDS):
            if E[f][band] > E[f + 1][band]:
                v |= 1 << (63 - (f * FP_BANDS + band))
    if v >= 1 << 63:
        v -= 1 << 64
    return v, n_frames


def ensure_audio_fp_fixture(n: int = 96, seed: int = 59) -> str:
    """Expected fingerprints for audio_fingerprint_dedup, recomputed by
    an INDEPENDENT pure-Python per-sample loop (vs the Spark UDF's
    numpy reshape reductions). All band energies are exact integers, so
    agreement is bit-for-bit. Only the corpus generator and the WAV
    decode are shared (plumbing-pinning convention); the DEDUP logic is
    formulated independently again in the oracle SQL (window min over
    fingerprint partitions vs the Spark groupBy+join)."""
    from query_cost_feature_engineering_spark.sources.media import (
        generate_audio_dedup_pandas,
    )

    pdf = generate_audio_dedup_pandas(n, seed)
    rows = []
    for i in range(len(pdf)):
        v, n_frames = _audio_fp_loop_py(bytes(pdf["bytes"].iloc[i]))
        rows.append(
            (
                str(pdf["clip_id"].iloc[i]),
                v,
                n_frames,
                pdf["dup_of"].iloc[i],
            )
        )
    out = pd.DataFrame(
        rows, columns=["clip_id", "fingerprint", "n_frames", "dup_of"]
    )
    out["fingerprint"] = out["fingerprint"].astype("int64")
    out["n_frames"] = out["n_frames"].astype("int64")
    return _write_fixture("audio_fp", out)


def ensure_border_fixture(n: int = 200, seed: int = 61) -> str:
    """Expected rows for border_crop_images: run lengths recounted by
    explicit per-pixel Python loops (vs the Spark UDF's vectorized
    all-axis reductions) over the same decoded arrays. Integer counts,
    so agreement is exact; crop/ratio arithmetic is re-derived in the
    oracle SQL from these counts (a second independent formulation)."""
    from query_cost_feature_engineering_spark.codecs import decode_image
    from query_cost_feature_engineering_spark.sources.images import (
        generate_letterbox_corpus_pandas,
    )

    pdf = generate_letterbox_corpus_pandas(n, seed)
    rows = []
    for i in range(len(pdf)):
        arr = decode_image(bytes(pdf["bytes"].iloc[i]), "png")
        h, w = arr.shape[:2]
        t, b, l, r = _border_runs_loop_py(arr)
        rows.append(
            (
                str(pdf["image_id"].iloc[i]),
                w, h, t, b, l, r,
                int(pdf["pad_t"].iloc[i]),
                int(pdf["pad_b"].iloc[i]),
                int(pdf["pad_l"].iloc[i]),
                int(pdf["pad_r"].iloc[i]),
            )
        )
    out = pd.DataFrame(
        rows,
        columns=[
            "image_id", "img_w", "img_h", "border_t", "border_b",
            "border_l", "border_r", "pad_t", "pad_b", "pad_l", "pad_r",
        ],
    )
    for c in out.columns[1:]:
        out[c] = out[c].astype("int32")
    return _write_fixture("border_crop", out)


def ensure_curation_fixture(n_base: int = 80, seed: int = 67) -> str:
    """Expected rows for image_curation_pipeline: the fused gate
    metrics recomputed by the INDEPENDENT loop implementations
    (_border_runs_loop_py + _sharpness_loop_py on the cropped region);
    the perceptual hash of the crop reuses codecs.phash64 (shared
    plumbing — the phash function itself is pinned by the phash
    banding goldens), and the DEDUP/gate logic is re-derived a second
    independent way in the oracle SQL (sharp-only window min)."""
    from query_cost_feature_engineering_spark.codecs import (
        decode_image,
        phash64,
        to_gray,
    )
    from query_cost_feature_engineering_spark.sources.images import (
        generate_curation_corpus_pandas,
    )

    pdf = generate_curation_corpus_pandas(n_base, seed)
    rows = []
    for i in range(len(pdf)):
        arr = decode_image(bytes(pdf["bytes"].iloc[i]), "png")
        h, w = arr.shape[:2]
        t, b, l, r = _border_runs_loop_py(arr)
        crop = arr[t : h - b, l : w - r]
        ch, cw = crop.shape[:2]
        if ch == 0 or cw == 0:
            lap_var, ph = 0.0, 0
        else:
            lap_var = _sharpness_loop_py(to_gray(crop).astype(int).tolist())[0]
            ph = phash64(crop)
        rows.append(
            (
                str(pdf["image_id"].iloc[i]),
                int(pdf["group_id"].iloc[i]),
                str(pdf["role"].iloc[i]),
                w, h, t, b, l, r, cw, ch, lap_var, ph,
            )
        )
    out = pd.DataFrame(
        rows,
        columns=[
            "image_id", "group_id", "role", "dec_w", "dec_h",
            "border_t", "border_b", "border_l", "border_r",
            "crop_w", "crop_h", "lap_var", "crop_phash",
        ],
    )
    for c in ["dec_w", "dec_h", "border_t", "border_b", "border_l",
              "border_r", "crop_w", "crop_h"]:
        out[c] = out[c].astype("int32")
    out["group_id"] = out["group_id"].astype("int64")
    out["crop_phash"] = out["crop_phash"].astype("int64")
    return _write_fixture("curation", out)


def ensure_decontam_fixture(n: int = 300, seed: int = 44) -> str:
    """INPUT fixture for image_decontam_phash: (image_id, phash, side,
    leak_of) straight from the corpus generator. Unlike the metric
    fixtures, the COMPUTATION is not recomputed here — the oracle SQL
    brute-forces the full train × bench hamming join in DuckDB
    (bit_count(xor(...))), an independent execution of the pairing the
    Spark side reaches via lossless pigeonhole banding."""
    from query_cost_feature_engineering_spark.sources.images import (
        generate_decontam_corpus_pandas,
    )

    pdf = generate_decontam_corpus_pandas(n, seed)
    out = pdf[["image_id", "phash", "side", "leak_of"]].copy()
    out["phash"] = out["phash"].astype("int64")
    return _write_fixture("decontam", out)


def ensure_audio_neardup_fixture(n_pairs: int = 30, seed: int = 62) -> str:
    """Fingerprints for audio_neardup_pairs via the independent loop
    recompute; the PAIRING is brute-forced in the oracle SQL
    (bit_count(xor) over all id-ordered pairs) vs Spark's banding."""
    from query_cost_feature_engineering_spark.sources.media import (
        generate_audio_neardup_pandas,
    )

    pdf = generate_audio_neardup_pandas(n_pairs, seed)
    rows = [
        (
            str(pdf["clip_id"].iloc[i]),
            _audio_fp_loop_py(bytes(pdf["bytes"].iloc[i]))[0],
            pdf["near_of"].iloc[i],
        )
        for i in range(len(pdf))
    ]
    out = pd.DataFrame(rows, columns=["clip_id", "fingerprint", "near_of"])
    out["fingerprint"] = out["fingerprint"].astype("int64")
    return _write_fixture("audio_neardup", out)
