"""Deterministic synthetic image+caption table generator (FIXTURES.md F1/F2).

Schema is exactly the ``BASELINE.json input_hint`` shape::

    image_id:string, bytes:binary, w:int32, h:int32, fmt:string,
    caption:string, phash:int64
    + point-in-time spine columns: entity_id:int64, ts:timestamp

Generation is fully seeded (no wall clock, no external data): pixels are a
seeded gradient+noise field (so channel stats and histograms are
non-trivial), captions come from a fixed 64-word vocabulary, ``entity_id``
is Zipf-skewed (one hot entity holds ~20% of rows — exercises salting),
and per-entity timestamps include duplicates, >1h session gaps, and the
final table is row-shuffled (out-of-order arrival).

This is the test/bench *input synthesizer* — the engine itself reads any
parquet/Iceberg table with this schema.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from query_cost_feature_engineering_spark.codecs import encode_png, phash64
from query_cost_feature_engineering_spark.jpeg import encode_jpeg

VOCAB = [
    "aurora", "basin", "cobalt", "delta", "ember", "fjord", "glacier", "harbor",
    "indigo", "jasper", "krill", "lagoon", "mesa", "nectar", "onyx", "prairie",
    "quartz", "ridge", "sierra", "tundra", "umber", "vertex", "willow", "xenon",
    "yonder", "zephyr", "anchor", "breeze", "canyon", "dune", "estuary", "fern",
    "grove", "heron", "islet", "juniper", "kelp", "lichen", "marsh", "nimbus",
    "oasis", "pebble", "quill", "reef", "summit", "thicket", "upland", "vale",
    "wharf", "yarrow", "zenith", "alder", "birch", "cedar", "drift", "eddy",
    "flint", "gale", "haze", "inlet", "jetty", "knoll", "loch", "moss",
]

SIZES = [16, 24, 32, 48, 64]
BASE_EPOCH_US = 1_577_836_800_000_000  # 2020-01-01T00:00:00Z, fixed
SESSION_GAP_S = 1800  # 30 min gap ⇒ new session


def _pixels(rng: np.random.Generator, h: int, w: int) -> np.ndarray:
    """Gradient + per-channel noise so min/median/max/histogram are non-trivial."""
    yy, xx = np.meshgrid(np.arange(h), np.arange(w), indexing="ij")
    base = ((yy * 255) // max(h - 1, 1) + (xx * 255) // max(w - 1, 1)) // 2
    noise = rng.integers(-40, 41, size=(h, w, 3))
    return np.clip(base[..., None] + noise, 0, 255).astype(np.uint8)


def generate_jpeg_images_pandas(n: int, seed: int = 56) -> pd.DataFrame:
    """Real-JPEG corpus for the T.81 codec query: smooth
    photograph-like content (gradient + low-frequency sinusoid texture
    — NOT white noise, which no lossy codec preserves at 40 dB), each
    image encoded to baseline JFIF bytes by the pure-NumPy encoder.
    ~35% of the corpus is encoded 4:2:0 (the sampling nearly all
    real-world JPEGs use) and ~10% 4:2:2 (the broadcast/video-frame
    convention); subsampled images get chroma-smooth content
    (shared luma texture, low-frequency tints) because 2x2 chroma
    decimation inherently discards high-frequency chroma — the same
    reason real photographs survive 4:2:0, and opposing R/B gradients
    would not clear 40 dB under ANY conforming 4:2:0 codec.
    ~25% of the corpus is PROGRESSIVE (SOF2, the spectral-selection +
    successive-approximation script with per-scan optimal Huffman
    tables — the common web-image shape), decoded by the same public
    entry point via SOF2 dispatch.
    Returns the ORIGINAL pixel arrays too (``arr_true``, object
    column, dropped before Spark) so the golden can enforce the
    per-image PSNR >= 40 dB fidelity invariant independently."""
    from query_cost_feature_engineering_spark.jpeg_progressive import (
        encode_jpeg_progressive,
    )

    rng = np.random.default_rng(seed)
    rows = []
    for i in range(n):
        h = int(rng.choice(SIZES))
        w = int(rng.choice(SIZES))
        yy, xx = np.meshgrid(np.arange(h), np.arange(w), indexing="ij")
        g = (yy * 255) // max(h - 1, 1)
        g2 = (xx * 255) // max(w - 1, 1)
        amp = float(rng.uniform(6.0, 16.0))
        fy = float(rng.uniform(4.0, 9.0))
        fx = float(rng.uniform(4.0, 9.0))
        tex = amp * np.sin(yy / fy) * np.cos(xx / fx)
        u = rng.random()
        sub = "420" if u < 0.35 else ("422" if u < 0.45 else "444")
        if sub != "444":
            luma = (g + g2) // 2 + tex
            chans = [
                luma + 20.0 * np.sin(yy / max(h, 16)),
                luma,
                luma + 20.0 * np.cos(xx / max(w, 16)),
            ]
        else:
            chans = [
                (g + g2) // 2 + tex,
                g + tex / 2.0,
                255 - g2 + tex,
            ]
        arr = np.clip(np.stack(chans, axis=-1), 0, 255).astype(np.uint8)
        q = int(rng.integers(85, 96))
        # ~25% restart-encoded (DRI/RSTn, the camera-firmware shape);
        # restarts are lossless, so this varies only the byte stream
        ri = int(rng.integers(1, 5)) if rng.random() < 0.25 else 0
        # ~25% progressive (SOF2) — entropy structure only, the
        # quantized coefficients (and so the decoded pixels) are
        # IDENTICAL to the baseline encoding by construction
        coding = "progressive" if rng.random() < 0.25 else "baseline"
        enc = encode_jpeg_progressive if coding == "progressive" else encode_jpeg
        rows.append(
            {
                "image_id": f"jpg{i:06d}",
                "bytes": enc(
                    arr, quality=q, subsampling=sub, restart_interval=ri
                ),
                "w": np.int32(w),
                "h": np.int32(h),
                "fmt": "jpeg",
                "quality": np.int32(q),
                "subsamp": sub,
                "coding": coding,
                "arr_true": arr,
            }
        )
    return pd.DataFrame(rows)


def generate_images_pandas(
    n: int, n_entities: int = 50, seed: int = 42
) -> pd.DataFrame:
    """Seeded image+caption+spine table as pandas (small/bench scales).
    About 60% of rows are PNG and the rest baseline JPEG at quality 98,
    which keeps every JPEG row of this noise field at >= 40 dB PSNR."""
    rng = np.random.default_rng(seed)
    ws = rng.choice(SIZES, size=n)
    hs = rng.choice(SIZES, size=n)
    fmts = np.where(rng.random(n) < 0.6, "png", "jpeg")
    # Zipf-ish skew: entity 0 gets ~20% of rows, remainder uniform.
    hot = rng.random(n) < 0.20
    ents = np.where(hot, 0, rng.integers(1, max(n_entities, 2), size=n)).astype(
        np.int64
    )

    # Per-entity monotone clocks with dup/gap mixture, assigned in draw order.
    clocks: dict[int, int] = {}
    ts_us = np.empty(n, dtype=np.int64)
    kind = rng.random(n)
    incr = rng.integers(5, 300, size=n)  # seconds, typical cadence
    gap = rng.integers(3600, 7200, size=n)  # seconds, session gap
    for i in range(n):
        e = int(ents[i])
        cur = clocks.get(e, BASE_EPOCH_US + e * 1_000_000)
        if kind[i] < 0.05 and e in clocks:
            step = 0  # duplicate timestamp within entity (as-of tie)
        elif kind[i] < 0.15:
            step = int(gap[i]) * 1_000_000
        else:
            step = int(incr[i]) * 1_000_000
        cur += step
        clocks[e] = cur
        ts_us[i] = cur

    rows = []
    for i in range(n):
        h, w = int(hs[i]), int(ws[i])
        arr = _pixels(rng, h, w)
        data = encode_png(arr) if fmts[i] == "png" else encode_jpeg(arr, 98)
        n_tok = int(rng.integers(3, 13))
        caption = " ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), size=n_tok))
        rows.append(
            {
                "image_id": f"img{i:08d}",
                "bytes": data,
                "w": np.int32(w),
                "h": np.int32(h),
                "fmt": str(fmts[i]),
                "caption": caption,
                "phash": np.int64(phash64(arr)),
                "entity_id": np.int64(ents[i]),
                "ts": pd.Timestamp(ts_us[i], unit="us"),
            }
        )
    df = pd.DataFrame(rows)
    # out-of-order arrival: deterministic shuffle
    perm = np.random.default_rng(seed + 1).permutation(n)
    return df.iloc[perm].reset_index(drop=True)


def _box_blur3(arr: np.ndarray) -> np.ndarray:
    """3x3 integer box blur, edge-replicated pad, floor-div mean.

    Pure integer (sum of 9 // 9) so the blurred corpus is bit-identical
    wherever it is regenerated. Part of corpus GENERATION (shared by the
    query and the fixture builder) — the sharpness *metrics* computed on
    it have independent implementations on the two sides."""
    p = np.pad(arr.astype(np.int64), ((1, 1), (1, 1), (0, 0)), mode="edge")
    s = (
        p[:-2, :-2] + p[:-2, 1:-1] + p[:-2, 2:]
        + p[1:-1, :-2] + p[1:-1, 1:-1] + p[1:-1, 2:]
        + p[2:, :-2] + p[2:, 1:-1] + p[2:, 2:]
    )
    return (s // 9).astype(np.uint8)


def generate_blur_corpus_pandas(n: int = 240, seed: int = 42) -> pd.DataFrame:
    """Sharpness-gate corpus: the standard seeded corpus with every 3rd
    row (by original draw index, i.e. the digits of ``image_id``)
    replaced by a 3x3 box-blurred PNG re-encode of its decoded pixels,
    plus the ground-truth ``blur_true`` label so tests and the oracle can
    verify the gate recovers the planted classes."""
    from query_cost_feature_engineering_spark.codecs import decode_image

    pdf = generate_images_pandas(n, 30, seed)
    blur_true = np.zeros(len(pdf), dtype=bool)
    for i in range(len(pdf)):
        idx = int(pdf.at[i, "image_id"][3:])
        if idx % 3 != 0:
            continue
        arr = decode_image(bytes(pdf.at[i, "bytes"]), pdf.at[i, "fmt"])
        blurred = _box_blur3(arr)
        pdf.at[i, "bytes"] = encode_png(blurred)
        pdf.at[i, "fmt"] = "png"
        # keep the phash column consistent with the new payload
        pdf.at[i, "phash"] = np.int64(phash64(blurred))
        blur_true[i] = True
    pdf["blur_true"] = blur_true
    return pdf


def generate_spine_pandas(
    images: pd.DataFrame, n: int = 1000, seed: int = 43
) -> pd.DataFrame:
    """As-of probe side (FIXTURES.md F2): exact-match ts, between-rows ts,
    before-first (null match), after-last, plus ~5% absent entities."""
    rng = np.random.default_rng(seed)
    ents = images["entity_id"].to_numpy()
    ts = images["ts"].astype("int64").to_numpy()  # ns
    idx = rng.integers(0, len(images), size=n)
    mode = rng.random(n)
    out_e = ents[idx].copy()
    out_t = ts[idx].copy()
    jitter = rng.integers(1, 240, size=n) * 1_000_000_000
    out_t = np.where(mode < 0.30, out_t, out_t)  # exact match
    out_t = np.where((mode >= 0.30) & (mode < 0.70), out_t + jitter, out_t)
    out_t = np.where(
        (mode >= 0.70) & (mode < 0.85), out_t - 10_000 * 1_000_000_000, out_t
    )  # likely before-first
    out_t = np.where(mode >= 0.85, out_t + 100_000 * 1_000_000_000, out_t)  # after-last
    absent = rng.random(n) < 0.05
    out_e = np.where(absent, out_e + 1_000_000, out_e)  # entity not in images
    return pd.DataFrame(
        {
            "entity_id": out_e.astype(np.int64),
            "ts": pd.to_datetime(out_t),
            "probe_id": np.arange(n, dtype=np.int64),
        }
    ).sort_values("probe_id").reset_index(drop=True)


def write_images_table_dist(
    spark,
    path: str,
    n: int,
    n_entities: int = 50,
    seed: int = 42,
    chunk: int = 750,
) -> None:
    """Distributed deterministic generation for bench-scale tables: each
    chunk runs the same seeded generator with seed+chunk_id on an executor
    (mapInPandas over a range), entity/image ids offset per chunk so chunks
    are disjoint. Deterministic for fixed (n, n_entities, seed, chunk).

    One chunk = one output file, and parquet row groups are the minimum
    scan-split unit — so chunk size sets the DOWNSTREAM scan parallelism
    of the generated table. The old 4000-row chunks produced a 24k-image
    bench input of ~6 files whose scan starved half the cores (decode
    2.2 s vs 1.1 s well-laid-out); 750 keeps ≥32 files at bench scale,
    mirroring a real table (which has millions of files, not four)."""
    import pandas as pd
    from pyspark.sql import functions as F  # noqa: F401

    n_chunks = -(-n // chunk)
    ent_per_chunk = max(n_entities // n_chunks, 2)

    def gen(batches):
        for pdf in batches:
            for cid in pdf["chunk_id"]:
                cid = int(cid)
                rows = min(chunk, n - cid * chunk)
                out = generate_images_pandas(rows, ent_per_chunk, seed + cid)
                out["image_id"] = [
                    f"img{cid:04d}_{i:06d}" for i in range(rows)
                ]
                out["entity_id"] = out["entity_id"] + cid * ent_per_chunk
                yield out

    schema = (
        "image_id string, bytes binary, w int, h int, fmt string, "
        "caption string, phash long, entity_id long, ts timestamp"
    )
    (
        # range with explicit numPartitions: one chunk per partition with
        # NO exchange, so AQE cannot coalesce the tiny chunk-id rows into
        # fewer generator tasks (repartition() here yielded 4 files for a
        # 6-chunk table — the shuffle was AQE-coalesced by its byte size)
        spark.range(0, n_chunks, 1, n_chunks)
        .withColumnRenamed("id", "chunk_id")
        .mapInPandas(gen, schema)
        .write.mode("overwrite")
        .parquet(path)
    )


def write_images_table(
    spark, path: str, n: int, n_entities: int = 50, seed: int = 42
) -> None:
    """Materialize the synthetic table as parquet (Iceberg-layout stand-in:
    files partitioned by entity bucket — the layout SURVEY.md §4.2 prescribes,
    ``bucket(entity_id) × days(ts)``, approximated without an Iceberg catalog)."""
    pdf = generate_images_pandas(n, n_entities=n_entities, seed=seed)
    sdf = spark.createDataFrame(pdf)
    (
        sdf.withColumn("entity_bucket", sdf.entity_id % 8)
        .repartition("entity_bucket")
        .write.mode("overwrite")
        .partitionBy("entity_bucket")
        .parquet(path)
    )


def generate_exif_images_pandas(n: int, seed: int = 57) -> pd.DataFrame:
    """EXIF-orientation corpus: the JPEG corpus (baseline AND
    progressive members) re-tagged — ~70% of clips get an APP1/TIFF
    orientation 1-8 inserted after SOI (``jpeg.insert_exif_
    orientation``), the rest carry no EXIF at all (the
    missing-metadata case every real pipeline must default to 1).
    ``orientation_true`` records what was inserted (0 = absent) so
    the oracle can pin parse correctness independently of the
    parser."""
    from query_cost_feature_engineering_spark.jpeg import (
        insert_exif_orientation,
    )

    pdf = generate_jpeg_images_pandas(n, seed=seed)
    rng = np.random.default_rng(seed + 1)
    blobs, orients = [], []
    for i in range(len(pdf)):
        b = bytes(pdf["bytes"].iloc[i])
        if rng.random() < 0.7:
            o = int(rng.integers(1, 9))
            b = insert_exif_orientation(b, o)
        else:
            o = 0
        blobs.append(b)
        orients.append(np.int32(o))
    pdf = pdf.drop(columns=["arr_true"]).copy()
    pdf["bytes"] = blobs
    pdf["orientation_true"] = orients
    return pdf


def generate_mixed_images_pandas(n: int, seed: int = 58) -> pd.DataFrame:
    """Nine-format image corpus — the full decode surface in one
    table: png, jpeg (baseline), jpeg (progressive), gif, bmp, tiff
    (LZW), ico, ppm, tga cycle per row through the ONE dispatch
    (``codecs.decode_image``). Content is palette-limited for the
    paletted format (GIF needs ≤256 distinct colors) and smooth for
    the lossy ones (the 40 dB contract's precondition); every row
    carries the pre-encode array (``arr_true``, dropped before Spark)
    so fixtures can pin lossless formats exactly and lossy ones by
    decode-recompute."""
    from query_cost_feature_engineering_spark.codecs import (
        encode_bmp,
        encode_ico,
        encode_pnm,
        encode_tga,
    )
    from query_cost_feature_engineering_spark.gif import encode_gif
    from query_cost_feature_engineering_spark.jpeg_progressive import (
        encode_jpeg_progressive,
    )
    from query_cost_feature_engineering_spark.tiff import encode_tiff

    fmts = [
        "png", "jpeg", "jpeg_prog", "gif", "bmp", "tiff", "ico", "ppm",
        "tga",
    ]
    rng = np.random.default_rng(seed)
    rows = []
    for i in range(n):
        h = int(rng.choice(SIZES))
        w = int(rng.choice(SIZES))
        fmt = fmts[i % len(fmts)]
        if fmt == "gif":  # paletted content: lossless under GIF
            pal = rng.integers(0, 256, (32, 3)).astype(np.uint8)
            arr = pal[rng.integers(0, 32, (h, w))]
        elif fmt in ("jpeg", "jpeg_prog"):  # smooth content for lossy:
            # the same gradient + low-frequency sinusoid recipe the
            # jpeg corpus uses (white noise cannot clear 40 dB under
            # ANY conforming lossy codec)
            yy, xx = np.meshgrid(np.arange(h), np.arange(w), indexing="ij")
            g = (yy * 255) // max(h - 1, 1)
            g2 = (xx * 255) // max(w - 1, 1)
            tex = float(rng.uniform(6.0, 16.0)) * np.sin(
                yy / float(rng.uniform(4.0, 9.0))
            ) * np.cos(xx / float(rng.uniform(4.0, 9.0)))
            arr = np.clip(
                np.stack(
                    [(g + g2) // 2 + tex, g + tex / 2.0, 255 - g2 + tex],
                    axis=-1,
                ),
                0, 255,
            ).astype(np.uint8)
        else:
            arr = _pixels(rng, h, w)
        if fmt == "ico":  # ICO members are <=256px; SIZES qualify
            data = encode_ico(arr)
        elif fmt == "png":
            data = encode_png(arr)
        elif fmt == "jpeg":
            data = encode_jpeg(arr, quality=92)
        elif fmt == "jpeg_prog":
            data = encode_jpeg_progressive(arr, quality=92)
        elif fmt == "gif":
            data = encode_gif(arr)
        elif fmt == "bmp":
            data = encode_bmp(arr)
        elif fmt == "tiff":
            data = encode_tiff(arr, compression="lzw")
        elif fmt == "ppm":
            data = encode_pnm(arr)
        else:
            data = encode_tga(arr, rle=bool(i % 2))
        rows.append(
            {
                "image_id": f"mix{i:06d}",
                "bytes": data,
                "w": np.int32(w),
                "h": np.int32(h),
                "fmt": fmt,
                "arr_true": arr,
            }
        )
    return pd.DataFrame(rows)


def generate_letterbox_corpus_pandas(n: int = 200, seed: int = 61) -> pd.DataFrame:
    """Border-crop corpus: noise-bearing base images (interior can never
    be a uniform border color) wrapped in planted constant-color
    borders — per image, pad widths (t, b, l, r) drawn from 0-6 and a
    border luma from {0, 128, 255}; every 3rd image is left unpadded.
    Ground-truth pad widths ride along for gate verification."""
    rng = np.random.default_rng(seed)
    rows = []
    for i in range(n):
        h = int(rng.choice(SIZES))
        w = int(rng.choice(SIZES))
        arr = _pixels(rng, h, w)
        if i % 3 == 0:
            t = b = l = r = 0
        else:
            t, b, l, r = (int(v) for v in rng.integers(0, 7, size=4))
        c = int(rng.choice([0, 128, 255]))
        padded = np.full((h + t + b, w + l + r, 3), c, dtype=np.uint8)
        padded[t : t + h, l : l + w] = arr
        rows.append(
            {
                "image_id": f"lbx{i:06d}",
                "bytes": encode_png(padded),
                "fmt": "png",
                "pad_t": np.int32(t),
                "pad_b": np.int32(b),
                "pad_l": np.int32(l),
                "pad_r": np.int32(r),
            }
        )
    return pd.DataFrame(rows)


def generate_curation_corpus_pandas(
    n_base: int = 80, seed: int = 67
) -> pd.DataFrame:
    """Image-curation-capstone corpus: per base image, THREE variants —
    the original, a letterboxed copy (planted 2-6 px constant borders;
    same content, different bytes AND different raw phash), and a 3x3
    box-blurred copy (should fail the sharpness gate). Ground truth:
    ``group_id`` (base index) and ``role`` in {orig, padded, blurred}.
    The capstone must (a) drop every blurred row, (b) dedup each padded
    row against its original via the phash of the CROPPED content —
    which is bit-identical to the original array by construction."""
    rng = np.random.default_rng(seed)
    rows = []
    for g in range(n_base):
        h = int(rng.choice(SIZES))
        w = int(rng.choice(SIZES))
        arr = _pixels(rng, h, w)
        t, b, l, r = (int(v) for v in rng.integers(2, 7, size=4))
        c = int(rng.choice([0, 128, 255]))
        padded = np.full((h + t + b, w + l + r, 3), c, dtype=np.uint8)
        padded[t : t + h, l : l + w] = arr
        for role, px in (
            ("orig", arr),
            ("padded", padded),
            ("blurred", _box_blur3(arr)),
        ):
            rows.append(
                {
                    "image_id": f"cur{g:05d}_{role}",
                    "bytes": encode_png(px),
                    "fmt": "png",
                    "group_id": np.int64(g),
                    "role": role,
                }
            )
    return pd.DataFrame(rows)


def generate_decontam_corpus_pandas(n: int = 300, seed: int = 44) -> pd.DataFrame:
    """Decontamination corpus: every 10th image (by draw index) is a
    BENCH member, the rest are TRAIN; every 20th image's bytes are
    additionally copied verbatim into train under a ``leak...`` id
    (the eval-image-in-the-crawl case). ``leak_of`` carries the truth."""
    pdf = generate_images_pandas(n, 30, seed)
    pdf["side"] = "train"
    pdf["leak_of"] = None
    leaks = []
    for i in range(len(pdf)):
        idx = int(pdf.at[i, "image_id"][3:])
        if idx % 10 == 0:
            pdf.at[i, "side"] = "bench"
            if idx % 20 == 0:
                r = pdf.loc[i].copy()
                r["image_id"] = f"leak{idx:08d}"
                r["side"] = "train"
                r["leak_of"] = pdf.at[i, "image_id"]
                leaks.append(r)
    return pd.concat([pdf, pd.DataFrame(leaks)], ignore_index=True)
