"""Seeded input synthesis owned by the benchmark.

Everything here is a pure function of ``(seed, scale)``: no wall clock, no
engine generator. Images are encoded by this module's own PNG writer
(stdlib ``zlib`` + ``struct``) and by the engine's baseline T.81 encoder
``jpeg.encode_jpeg`` (real JFIF, decoded by the engine's T.81 decoder,
never the QJPG stub), so edits to ``sources/images.py`` cannot silently
change a workload. ``digest`` hashes every generated table; the same seed
must give the same digest (self-tested).

Encoding a JPEG costs about 8 ms per image here, so the JPEG rows draw
their entropy-coded payload from a seeded pool of distinct images and get
a per-row COM segment (``FFFE``) that makes every payload byte-distinct.
Decode work per row is the full T.81 decode either way.
"""

from __future__ import annotations

import hashlib
import os
import struct
import zlib
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# The 64-word caption vocabulary of the images schema. Kept as a literal
# so that the workload does not change when the engine's generator does.
VOCAB = (
    "aurora basin cobalt delta ember fjord glacier harbor indigo jasper krill "
    "lagoon mesa nectar onyx prairie quartz ridge sierra tundra umber vertex "
    "willow xenon yonder zephyr anchor breeze canyon dune estuary fern grove "
    "heron islet juniper kelp lichen marsh nimbus oasis pebble quill reef "
    "summit thicket upland vale wharf yarrow zenith alder birch cedar drift "
    "eddy flint gale haze inlet jetty knoll loch moss"
).split()
SIZES = (16, 24, 32, 48, 64)
EPOCH_US = 1_577_836_800_000_000  # 2020-01-01T00:00:00Z
SPAN_S = 12 * 3600  # time each entity's clock spans
US = 1_000_000


@dataclass(frozen=True)
class Scale:
    """Input sizes of one benchmark scale (``full`` or ``tiny``)."""

    images: int  # featurize rows
    image_entities: int
    jpeg_pool: int  # distinct JPEG scans the JPEG rows draw from
    feature_rows: int  # the upsert base table
    feature_entities: int
    feature_width: int  # array<double> width; full scale = len(FEATURE_ORDER)
    pit_probes: int  # spine of each upsert point-in-time read
    read_probes: int  # recent spine of each featurize read-after-write
    batch_updates: int  # upsert corrections per round
    batch_inserts: int  # upsert inserts per round


# ---------------------------------------------------------------- images


def _chunk(tag: bytes, body: bytes) -> bytes:
    return (
        struct.pack(">I", len(body))
        + tag
        + body
        + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
    )


def png_bytes(arr: np.ndarray) -> bytes:
    """(h, w, 3) uint8 -> truecolor 8-bit PNG, filter 0 on every row."""
    h, w = arr.shape[:2]
    raw = np.concatenate(
        [np.zeros((h, 1), np.uint8), arr.reshape(h, w * 3)], axis=1
    ).tobytes()
    return (
        b"\x89PNG\r\n\x1a\n"
        + _chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0))
        + _chunk(b"IDAT", zlib.compress(raw, 6))
        + _chunk(b"IEND", b"")
    )


def _noisy_gradient(rng: np.random.Generator, h: int, w: int) -> np.ndarray:
    yy, xx = np.meshgrid(np.arange(h), np.arange(w), indexing="ij")
    base = ((yy * 255) // max(h - 1, 1) + (xx * 255) // max(w - 1, 1)) // 2
    noise = rng.integers(-40, 41, size=(h, w, 3))
    return np.clip(base[..., None] + noise, 0, 255).astype(np.uint8)


def _smooth_photo(rng: np.random.Generator, h: int, w: int) -> np.ndarray:
    """Gradient + low-frequency texture: content a lossy codec keeps."""
    yy, xx = np.meshgrid(np.arange(h), np.arange(w), indexing="ij")
    g = (yy * 255) / max(h - 1, 1)
    g2 = (xx * 255) / max(w - 1, 1)
    tex = rng.uniform(6, 16) * np.sin(yy / rng.uniform(4, 9)) * np.cos(
        xx / rng.uniform(4, 9)
    )
    chans = [(g + g2) / 2 + tex, g + tex / 2, 255 - g2 + tex]
    return np.clip(np.stack(chans, axis=-1), 0, 255).astype(np.uint8)


def _ahash(arr: np.ndarray) -> int:
    """64-bit average hash (signed int64) of the image's grey 8x8 means."""
    g = arr.astype(np.float64).mean(axis=2)
    h, w = g.shape
    ys = (np.arange(8) * h) // 8
    xs = (np.arange(8) * w) // 8
    cells = np.add.reduceat(np.add.reduceat(g, ys, axis=0), xs, axis=1)
    bits = (cells.ravel() > cells.mean()).astype(np.uint64)
    v = int((bits << np.arange(63, -1, -1, dtype=np.uint64)).sum())
    return v - (1 << 64) if v >= 1 << 63 else v


def _entity_clocks(rng: np.random.Generator, ents: np.ndarray) -> np.ndarray:
    """Per-entity monotone timestamps (us) in draw order. Every entity's
    clock spans about SPAN_S, so entities interleave in time and a busy
    entity ticks faster: 5% of steps are zero (duplicate timestamps, as-of
    ties), up to 10% (about five per busy entity) are session gaps of
    1-2 h, and the rest are 0.1-1.9 times the entity's mean cadence."""
    n = len(ents)
    per_ent = np.maximum(np.bincount(ents)[ents], 1)
    dup = _exact(rng, n, [0.05, 0.95]) == 0
    gap = rng.random(n) < np.minimum(0.10, 5 / per_ent)
    step = np.where(
        dup,
        0.0,
        np.where(
            gap,
            rng.uniform(3600, 7200, size=n),
            SPAN_S / per_ent * rng.uniform(0.1, 1.9, size=n),
        ),
    )
    step = np.round(step).astype(np.int64) * US  # whole seconds, as sessions compare
    order = np.argsort(ents, kind="stable")
    s = step[order]
    e = ents[order]
    first = np.r_[True, e[1:] != e[:-1]]
    s[first] = np.maximum(s[first], US)  # no duplicate on an entity's first row
    cum = np.cumsum(s)
    starts = np.maximum.accumulate(np.where(first, cum - s, 0))
    ts = np.empty(n, np.int64)
    ts[order] = EPOCH_US + (cum - starts)
    return ts


def _exact(rng: np.random.Generator, n: int, shares: list[float]) -> np.ndarray:
    """Labels 0..k-1 in exactly ``round(share * n)`` copies each (the last
    label takes the rest), in seeded random order. Exact shares keep the
    work per run the same across seeds; only its order and content vary."""
    counts = [round(s * n) for s in shares[:-1]]
    counts.append(n - sum(counts))
    return rng.permutation(np.repeat(np.arange(len(counts)), counts))


def _entities(rng: np.random.Generator, n: int, n_ent: int, hot: float):
    """Entity ids: entity 0 holds exactly a ``hot`` share, the others
    equal shares of the rest."""
    rest = np.arange(n) % max(n_ent - 1, 1) + 1
    ents = np.where(_exact(rng, n, [hot, 1 - hot]) == 0, 0, rng.permutation(rest))
    return ents.astype(np.int64)


def _sizes(rng: np.random.Generator, n: int) -> np.ndarray:
    """(n, 2) image (h, w): every pair of SIZES equally often, shuffled."""
    pairs = np.array([(h, w) for h in SIZES for w in SIZES])
    return pairs[rng.permutation(np.arange(n) % len(pairs))]


def images_table(seed: int, sc: Scale) -> pa.Table:
    """The images input schema plus ``entity_id``/``ts``: about 60% PNG and
    40% baseline JPEG of 16-64 px, captions from ``VOCAB``, one entity with
    about 25% of the rows, duplicate timestamps, session gaps and
    shuffled arrival order."""
    from query_cost_feature_engineering_spark.jpeg import encode_jpeg

    rng = np.random.default_rng([seed, 1])
    pool = []
    subs = _exact(rng, sc.jpeg_pool, [0.35, 0.65])
    for (h, w), s420 in zip(_sizes(rng, sc.jpeg_pool), subs == 0):
        arr = _smooth_photo(rng, int(h), int(w))
        sub = "420" if s420 else "444"
        data = encode_jpeg(arr, quality=int(rng.integers(85, 96)), subsampling=sub)
        pool.append((data, w, h, _ahash(arr)))

    n = sc.images
    ents = _entities(rng, n, sc.image_entities, 0.25)
    ts = _entity_clocks(rng, ents)
    is_png = _exact(rng, n, [0.6, 0.4]) == 0
    pick = rng.permutation(np.arange(n) % sc.jpeg_pool)
    png_hw = iter(_sizes(rng, int(is_png.sum())))
    n_tok = rng.integers(3, 13, size=n)
    payload, ws, hs, ph, caps = [], [], [], [], []
    for i in range(n):
        if is_png[i]:
            h, w = (int(x) for x in next(png_hw))
            arr = _noisy_gradient(rng, h, w)
            payload.append(png_bytes(arr))
            ph.append(_ahash(arr))
        else:
            data, w, h, hsh = pool[pick[i]]
            tag = b"row%08d" % i
            payload.append(data[:2] + b"\xff\xfe" + struct.pack(">H", len(tag) + 2) + tag + data[2:])
            ph.append(hsh)
        ws.append(w)
        hs.append(h)
        caps.append(" ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), n_tok[i])))
    perm = np.random.default_rng([seed, 2]).permutation(n)
    cols = {
        "image_id": pa.array([f"img{i:08d}" for i in range(n)]),
        "bytes": pa.array(payload, pa.binary()),
        "w": pa.array(ws, pa.int32()),
        "h": pa.array(hs, pa.int32()),
        "fmt": pa.array(np.where(is_png, "png", "jpeg")),
        "caption": pa.array(caps),
        "phash": pa.array(ph, pa.int64()),
        "entity_id": pa.array(ents),
        "ts": pa.array(ts, pa.timestamp("us", tz="UTC")),
    }
    return pa.table(cols).take(pa.array(perm))


# ------------------------------------------------------ feature tables


def _vectors(rng: np.random.Generator, n: int, width: int) -> pa.Array:
    vals = rng.standard_normal(n * width)
    offsets = np.arange(0, (n + 1) * width, width, dtype=np.int32)
    return pa.ListArray.from_arrays(pa.array(offsets), pa.array(vals))


def feature_table(seed: int, sc: Scale) -> pa.Table:
    """Feature rows ``(entity_id, ts, image_id, session_id, features)``
    sorted by ts. Entity 0 holds 60% of the rows, which keeps it above the
    as-of join's auto hot threshold ``max(10000, rows / 32 * 2)`` in the
    upsert reads at full scale, so the time-sliced hot path runs beside
    the cold path."""
    rng = np.random.default_rng([seed, 3])
    n = sc.feature_rows
    ents = _entities(rng, n, sc.feature_entities, 0.6)
    ts = _entity_clocks(rng, ents)
    order = np.argsort(ts, kind="stable")
    ents, ts = ents[order], ts[order]
    return pa.table(
        {
            "entity_id": pa.array(ents),
            "ts": pa.array(ts, pa.timestamp("us", tz="UTC")),
            "image_id": pa.array([f"f{i:09d}" for i in range(n)]),
            "session_id": pa.array(rng.integers(1, 50, size=n)),
            "features": _vectors(rng, n, sc.feature_width),
        }
    )


def spine(seed: int, feats: pa.Table, n: int, recent_share: float = 0.0) -> pa.Table:
    """Probe spine ``(entity_id, ts, probe_id)``: 30% exact feature
    timestamps, 40% between rows, 15% before the entity's first row, 15%
    after its last, and 5% of probes on entities absent from ``feats``.
    ``recent_share`` > 0 draws the probed rows from the newest share of
    ``feats`` instead of all of it."""
    rng = np.random.default_rng([seed, 4, n])
    ents = feats.column("entity_id").to_numpy()
    ts = feats.column("ts").cast(pa.int64()).to_numpy()
    lo = int(len(ts) * (1 - recent_share)) if recent_share else 0
    idx = rng.integers(lo, len(ts), size=n)
    mode = _exact(rng, n, [0.30, 0.40, 0.15, 0.15])
    out_t = ts[idx] + np.select(
        [mode == 0, mode == 1, mode == 2],
        [0, rng.integers(1, 240, size=n) * US, -10**6 * US],
        10**6 * US,
    )
    absent = _exact(rng, n, [0.05, 0.95]) == 0
    out_e = np.where(absent, ents[idx] + 10**6, ents[idx])
    return pa.table(
        {
            "entity_id": pa.array(out_e.astype(np.int64)),
            "ts": pa.array(out_t, pa.timestamp("us", tz="UTC")),
            "probe_id": pa.array(np.arange(n, dtype=np.int64)),
        }
    )


def upsert_batch(seed: int, rnd: int, base: pa.Table, sc: Scale) -> pa.Table:
    """Round ``rnd``'s merge source: corrections of existing rows (95%
    drawn from the newest 10% of timestamps) with fresh feature values,
    plus new rows timestamped after the base table's last row. Inserted
    image ids carry the round number, so rounds never collide."""
    rng = np.random.default_rng([seed, 5, rnd])
    n = len(base)
    recent = _exact(rng, sc.batch_updates, [0.95, 0.05]) == 0
    idx = np.where(
        recent,
        rng.integers(int(n * 0.9), n, size=sc.batch_updates),
        rng.integers(0, n, size=sc.batch_updates),
    )
    idx = np.unique(idx)
    upd = base.take(pa.array(idx)).select(["entity_id", "ts", "image_id", "session_id"])
    upd = upd.append_column("features", _vectors(rng, len(idx), sc.feature_width))
    k = sc.batch_inserts
    last = base.column("ts").cast(pa.int64()).to_numpy()[-1]
    ins = pa.table(
        {
            "entity_id": pa.array(rng.integers(0, sc.feature_entities, size=k)),
            "ts": pa.array(
                last + rng.integers(1, 3600, size=k) * US + rnd * 3600 * US,
                pa.timestamp("us", tz="UTC"),
            ),
            "image_id": pa.array([f"n{rnd:04d}_{i:06d}" for i in range(k)]),
            "session_id": pa.array(rng.integers(1, 50, size=k)),
            "features": _vectors(rng, k, sc.feature_width),
        }
    )
    return pa.concat_tables([upd, ins.cast(upd.schema)])


# --------------------------------------------------------------- output


def digest(*tables: pa.Table) -> str:
    """sha256 over the tables' schemas and Arrow IPC column buffers."""
    h = hashlib.sha256()
    for t in tables:
        sink = pa.BufferOutputStream()
        with pa.ipc.new_stream(sink, t.schema) as w:
            w.write_table(t.combine_chunks())
        h.update(sink.getvalue().to_pybytes())
    return h.hexdigest()[:16]


def write_parquet(table: pa.Table, path: str, n_files: int) -> None:
    """Write ``table`` as ``n_files`` contiguous parquet files under ``path``."""
    os.makedirs(path, exist_ok=True)
    step = -(-len(table) // n_files)
    for k in range(n_files):
        pq.write_table(table.slice(k * step, step), f"{path}/part-{k:03d}.parquet")


def to_pandas(table: pa.Table) -> pd.DataFrame:
    """Pandas view with naive UTC timestamps, as Spark's toPandas returns."""
    df = table.to_pandas()
    for c in df.columns:
        if isinstance(df[c].dtype, pd.DatetimeTZDtype):
            df[c] = df[c].dt.tz_convert("UTC").dt.tz_localize(None)
    return df
