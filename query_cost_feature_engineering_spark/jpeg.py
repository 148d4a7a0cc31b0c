"""Baseline JPEG (ITU-T T.81 / JFIF) codec in pure NumPy + stdlib.

Closes the "compressed media codecs are environmental" gap for JPEG:
no codec library is used, because baseline sequential
JPEG is a published public specification (ITU-T Recommendation T.81,
1992; tables below are Annex K's example tables, the de-facto
standard ones every encoder ships). The encoder emits spec-conformant
JFIF files — SOI/APP0/DQT/SOF0/DHT/SOS/EOI markers, 4:4:4 sampling,
byte-stuffed entropy stream — that any external baseline decoder
reads; the decoder parses baseline-sequential streams (8-bit, 4:4:4 /
4:2:0 / 4:2:2, restart intervals) and dispatches SOF2 to the full
progressive decoder in jpeg_progressive.py; arithmetic coding and
hierarchical/lossless modes raise NotImplementedError rather than
guessing. An interop test against Pillow skips itself when Pillow is
not installed.

Scale note: encode/decode are per-image kernels called inside
Arrow-batched UDFs; the forward DCT and color transforms are vectorized
over all 8x8 blocks of an image. Decode reads each Huffman symbol from a
list of 32-bit stream windows with no call per symbol, and runs dezigzag
+ dequantize + IDCT as one (blocks, 64) @ (64, 64) product per component.
"""

from __future__ import annotations

import re
import struct
from array import array
from functools import lru_cache as _lru_cache

import numpy as np

# --- DCT basis (orthonormal 8x8 DCT-II; JPEG's normalization) --------------

_T8 = np.zeros((8, 8))
_T8[0, :] = 1.0 / np.sqrt(8.0)
for _u in range(1, 8):
    for _x in range(8):
        _T8[_u, _x] = 0.5 * np.cos((2 * _x + 1) * _u * np.pi / 16.0)

# --- Annex K example tables --------------------------------------------------

_QT_LUMA = np.array(
    [
        [16, 11, 10, 16, 24, 40, 51, 61],
        [12, 12, 14, 19, 26, 58, 60, 55],
        [14, 13, 16, 24, 40, 57, 69, 56],
        [14, 17, 22, 29, 51, 87, 80, 62],
        [18, 22, 37, 56, 68, 109, 103, 77],
        [24, 35, 55, 64, 81, 104, 113, 92],
        [49, 64, 78, 87, 103, 121, 120, 101],
        [72, 92, 95, 98, 112, 100, 103, 99],
    ],
    dtype=np.int32,
)
_QT_CHROMA = np.array(
    [
        [17, 18, 24, 47, 99, 99, 99, 99],
        [18, 21, 26, 66, 99, 99, 99, 99],
        [24, 26, 56, 99, 99, 99, 99, 99],
        [47, 66, 99, 99, 99, 99, 99, 99],
        [99, 99, 99, 99, 99, 99, 99, 99],
        [99, 99, 99, 99, 99, 99, 99, 99],
        [99, 99, 99, 99, 99, 99, 99, 99],
        [99, 99, 99, 99, 99, 99, 99, 99],
    ],
    dtype=np.int32,
)

_ZZ = np.array(
    [
        0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
        12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
        35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
        58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
    ]
)

# Annex K.3-K.6 typical Huffman tables: (bits[1..16], huffval)
_DC_LUMA_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
_DC_LUMA_VALS = list(range(12))
_DC_CHROMA_BITS = [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0]
_DC_CHROMA_VALS = list(range(12))
_AC_LUMA_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D]
_AC_LUMA_VALS = [
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41,
    0x06, 0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91,
    0xA1, 0x08, 0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24,
    0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A,
    0x25, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38,
    0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53,
    0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65, 0x66,
    0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
    0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A, 0x92, 0x93,
    0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
    0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6, 0xB7,
    0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
    0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1,
    0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2,
    0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
]
_AC_CHROMA_BITS = [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77]
_AC_CHROMA_VALS = [
    0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06, 0x12,
    0x41, 0x51, 0x07, 0x61, 0x71, 0x13, 0x22, 0x32, 0x81, 0x08, 0x14,
    0x42, 0x91, 0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0, 0x15,
    0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34, 0xE1, 0x25, 0xF1, 0x17,
    0x18, 0x19, 0x1A, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37,
    0x38, 0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A,
    0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65,
    0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
    0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A,
    0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3,
    0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5,
    0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7,
    0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9,
    0xDA, 0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF2,
    0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
]


def _quality_tables(quality: int) -> tuple[np.ndarray, np.ndarray]:
    """IJG quality scaling of the Annex K tables (public formula)."""
    q = max(1, min(100, int(quality)))
    scale = 5000 // q if q < 50 else 200 - 2 * q
    out = []
    for base in (_QT_LUMA, _QT_CHROMA):
        t = (base * scale + 50) // 100
        out.append(np.clip(t, 1, 255).astype(np.int32))
    return out[0], out[1]


def _huff_encode_table(bits: list[int], vals: list[int]) -> dict[int, tuple[int, int]]:
    """symbol -> (code, length) per T.81 Annex C code generation."""
    out: dict[int, tuple[int, int]] = {}
    code, k = 0, 0
    for ln in range(1, 17):
        for _ in range(bits[ln - 1]):
            out[vals[k]] = (code, ln)
            code += 1
            k += 1
        code <<= 1
    return out


@_lru_cache(maxsize=64)
def _decode_lut(bits_b: bytes, vals_b: bytes) -> tuple:
    """16-bit-peek lookup tables: index by the next 16 bits of the
    stream, read (symbol, code length) in two array loads. Cached per
    Huffman table (one build per distinct table, not per image)."""
    sym = np.zeros(65536, dtype=np.int16)
    ln = np.zeros(65536, dtype=np.uint8)
    code, k = 0, 0
    for length in range(1, 17):
        for _ in range(bits_b[length - 1]):
            lo = code << (16 - length)
            hi = (code + 1) << (16 - length)
            sym[lo:hi] = vals_b[k]
            ln[lo:hi] = length
            code += 1
            k += 1
        code <<= 1
    # plain lists: per-symbol indexing is the decode hot path, and
    # Python-list loads are ~3x cheaper than numpy scalar extraction
    return sym.tolist(), ln.tolist()


class _BitWriter:
    def __init__(self) -> None:
        self.buf = bytearray()
        self.acc = 0
        self.n = 0

    def put(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.n += length
        while self.n >= 8:
            self.n -= 8
            b = (self.acc >> self.n) & 0xFF
            self.buf.append(b)
            if b == 0xFF:  # byte stuffing (T.81 F.1.2.3)
                self.buf.append(0x00)
        self.acc &= (1 << self.n) - 1  # emitted bits: keep shifts O(1)

    def flush(self) -> bytes:
        if self.n:
            pad = 8 - self.n
            self.put((1 << pad) - 1, pad)  # pad with 1-bits per spec
        return bytes(self.buf)

    def restart_marker(self, k: int) -> None:
        """Byte-align with 1-fill bits, then emit RSTn (T.81 B.2.1.2,
        E.1.4). The fill may complete a 0xFF byte, which ``put``
        stuffs as FF 00 — decodable as a stuffed data byte; the
        marker itself is emitted raw (markers are never stuffed)."""
        if self.n:
            pad = 8 - self.n
            self.put((1 << pad) - 1, pad)
        self.buf += bytes([0xFF, 0xD0 + (k & 7)])


# Entropy segments end at the first real marker: 0xFF followed by
# anything but a stuffed 0x00 (T.81 B.1.1.5, F.1.2.3).
_MARKER = re.compile(rb"\xff[^\x00]")
# Window lists cover _CHUNK segment bytes (~35k ints whatever the scan
# size) plus _SLACK bytes: one block's worst case (DC 27 bits + 63 AC
# symbols of <= 31 bits < 2048 bits), so the baseline loop checks for a
# refill once per block.
_CHUNK = 4096
_SLACK = 256
_SHIFTS = np.arange(8, 0, -1, dtype=np.uint64)


class _BitReader:
    """Entropy-segment reader. A segment (up to the next real marker) is
    found by one regex search and unstuffed by one ``bytes.replace``;
    ``win[i]`` is the 32 stream bits from bit ``i`` of the current chunk,
    1-padded past the segment end (the spec's fill value, never a valid
    code). A symbol is one list load: its LUT index is ``win[p] >> 16``
    and its magnitude bits follow in the same window."""

    def __init__(self, data: bytes, pos: int = 0) -> None:
        self.data = data
        self._open(pos)

    def _open(self, pos: int) -> None:
        m = _MARKER.search(self.data, pos)
        self.end = m.start() if m else len(self.data)
        self.seg = self.data[pos:self.end].replace(b"\xff\x00", b"\xff")
        self.base = 0
        self.refill(0)

    def refill(self, p: int) -> tuple:
        """Rebuild the windows at bit ``p`` of the current list; returns the
        new ``(win, p, lim)``, ``lim`` being where the next refill is due."""
        bit = self.base + p
        byte = bit >> 3
        left = max(0, len(self.seg) - byte)
        n = min(left, _CHUNK)
        k = min(left, n + _SLACK)  # bytes whose windows hold stream bits
        buf = self.seg[byte:byte + k + 4].ljust(k + 4, b"\xff")
        b = np.frombuffer(buf, np.uint8).astype(np.uint64)
        v = (b[:k] << 32 | b[1:k + 1] << 24 | b[2:k + 2] << 16
             | b[3:k + 3] << 8 | b[4:k + 4])
        self.win = ((v[:, None] >> _SHIFTS) & 0xFFFFFFFF).ravel().tolist()
        self.win += [0xFFFFFFFF] * ((n + _SLACK - k) << 3)  # all fill bits
        self.base, self.p, self.lim = byte << 3, bit & 7, n << 3
        return self.win, self.p, self.lim

    def bits(self, k: int) -> int:
        if self.p >= self.lim:
            self.refill(self.p)
        x = self.win[self.p]
        self.p += k
        return x >> (32 - k)

    def marker(self) -> int:
        """Offset of the marker that ends the current segment, past any
        0xFF fill bytes before it (``len(data)`` if the stream ends)."""
        d, q = self.data, self.end
        while q + 2 < len(d) and d[q + 1] == 0xFF:
            q += 1
        return q

    def restart(self, k: int, p: int) -> tuple:
        """Consume the RSTk marker at a restart boundary (T.81 E.2.4),
        the current list read up to bit ``p``, and open the next
        interval's segment (returns ``refill``'s tuple). Only the 1-fill
        to the byte boundary (at most 7 bits) may remain undecoded."""
        left = 8 * len(self.seg) - self.base - p
        q = self.marker()
        got = f"{left} undecoded bits" if left > 7 else self.data[q:q + 2].hex()
        if got != f"ffd{k & 7}":
            got = got or "EOF"
            raise ValueError(f"expected RST{k & 7} at restart boundary, got {got}")
        self._open(q + 2)
        return self.win, self.p, self.lim


def _magnitude(v: int) -> tuple[int, int]:
    """(size-category, appended bits) for a DC diff / AC coefficient."""
    if v == 0:
        return 0, 0
    a = abs(v)
    s = a.bit_length()
    return s, (v if v > 0 else v + (1 << s) - 1)


def _extend(bits: int, s: int) -> int:
    """Inverse of _magnitude (T.81 F.2.2.1 EXTEND)."""
    if s == 0:
        return 0
    return bits if bits >= (1 << (s - 1)) else bits - (1 << s) + 1


def _rgb_to_ycbcr(arr: np.ndarray) -> np.ndarray:
    a = arr.astype(np.float64)
    r, g, b = a[..., 0], a[..., 1], a[..., 2]
    y = 0.299 * r + 0.587 * g + 0.114 * b
    cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
    cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
    return np.stack([y, cb, cr], axis=-1)


def _ycbcr_to_rgb(y: np.ndarray, cb: np.ndarray, cr: np.ndarray) -> np.ndarray:
    cb = cb - 128.0
    cr = cr - 128.0
    r = y + 1.402 * cr
    g = y - 0.344136 * cb - 0.714136 * cr
    b = y + 1.772 * cb
    return np.clip(np.round(np.stack([r, g, b], axis=-1)), 0, 255).astype(
        np.uint8
    )


def _blockify(comp: np.ndarray) -> np.ndarray:
    """(h, w) -> (n_blocks, 8, 8), edge-padded to multiples of 8."""
    h, w = comp.shape
    ph, pw = (-h) % 8, (-w) % 8
    comp = np.pad(comp, ((0, ph), (0, pw)), mode="edge")
    hb, wb = comp.shape[0] // 8, comp.shape[1] // 8
    return (
        comp.reshape(hb, 8, wb, 8).transpose(0, 2, 1, 3).reshape(-1, 8, 8),
        hb,
        wb,
    )


def _quantized_grids(arr, quality, subsampling):
    """RGB array → per-component (rows, cols, 8, 8) int32 quantized
    DCT grids at the MCU-padded dims, plus sampling/table context —
    the front half shared by the baseline and progressive encoders."""
    if arr.dtype != np.uint8 or arr.ndim != 3 or arr.shape[2] != 3:
        raise ValueError("encode_jpeg expects (h, w, 3) uint8")
    if subsampling not in ("444", "422", "420"):
        raise ValueError("subsampling must be '444', '422' or '420'")
    h, w = arr.shape[:2]
    qt_l, qt_c = _quality_tables(quality)
    ycc = _rgb_to_ycbcr(arr)
    samps = {
        "444": [(1, 1), (1, 1), (1, 1)],
        "422": [(2, 1), (1, 1), (1, 1)],
        "420": [(2, 2), (1, 1), (1, 1)],
    }[subsampling]
    hmax = max(s[0] for s in samps)
    vmax = max(s[1] for s in samps)
    mcus_x = -(-w // (8 * hmax))
    mcus_y = -(-h // (8 * vmax))

    grids = []  # per component: (rows, cols, 8, 8) quantized blocks
    for ci, (hs, vs) in enumerate(samps):
        plane = ycc[..., ci]
        if (hs, vs) != (hmax, vmax):
            # box-average subsample to the component resolution
            fy, fx = vmax // vs, hmax // hs
            ph, pw = (-h) % fy, (-w) % fx
            p = np.pad(plane, ((0, ph), (0, pw)), mode="edge")
            plane = p.reshape(
                p.shape[0] // fy, fy, p.shape[1] // fx, fx
            ).mean(axis=(1, 3))
        rows, cols = mcus_y * vs, mcus_x * hs
        ph, pw = rows * 8 - plane.shape[0], cols * 8 - plane.shape[1]
        plane = np.pad(plane, ((0, ph), (0, pw)), mode="edge")
        blocks = (
            plane.reshape(rows, 8, cols, 8)
            .transpose(0, 2, 1, 3)
            .reshape(-1, 8, 8)
        )
        f = np.einsum("ux,nxy,vy->nuv", _T8, blocks - 128.0, _T8)
        qt = qt_l if ci == 0 else qt_c
        q = np.round(f / qt).astype(np.int32).reshape(rows, cols, 8, 8)
        grids.append(q)
    return grids, samps, qt_l, qt_c, mcus_x, mcus_y


def _encode_block(bw, zz, prev_dc, dc_tab, ac_tab) -> int:
    """Entropy-encode one zigzagged quantized block; returns its DC."""
    dc = int(zz[0])
    s, mbits = _magnitude(dc - prev_dc)
    code, ln = dc_tab[s]
    bw.put(code, ln)
    if s:
        bw.put(mbits, s)
    run = 0
    last_nz = np.nonzero(zz[1:])[0]
    end = (last_nz[-1] + 2) if len(last_nz) else 1
    for k in range(1, end):
        v = int(zz[k])
        if v == 0:
            run += 1
            continue
        while run >= 16:
            code, ln = ac_tab[0xF0]  # ZRL
            bw.put(code, ln)
            run -= 16
        s, mbits = _magnitude(v)
        code, ln = ac_tab[run * 16 + s]
        bw.put(code, ln)
        bw.put(mbits, s)
        run = 0
    if end < 64:
        code, ln = ac_tab[0x00]  # EOB
        bw.put(code, ln)
    return dc


def encode_jpeg(
    arr: np.ndarray,
    quality: int = 90,
    subsampling: str = "444",
    restart_interval: int = 0,
) -> bytes:
    """(h, w, 3) uint8 RGB -> baseline JFIF bytes (Annex K quant
    tables at the given IJG quality, typical Huffman tables).
    ``subsampling``: '444' (full chroma, 1x1 sampling — the default),
    '420' (2x2 luma sampling with 2x2-box-averaged chroma, the
    variant nearly all real-world JPEGs use), or '422' (2x1 —
    horizontal-only chroma decimation, the broadcast/video-frame
    convention). ``restart_interval``:
    MCUs between RSTn markers (0 = none); restart markers make the
    entropy stream independently decodable per interval — what camera
    firmware emits for error resilience."""
    grids, samps, qt_l, qt_c, mcus_x, mcus_y = _quantized_grids(
        arr, quality, subsampling
    )
    if not (0 <= restart_interval <= 0xFFFF):
        raise ValueError("restart_interval must fit in uint16")
    h, w = arr.shape[:2]
    enc_dc = [
        _huff_encode_table(_DC_LUMA_BITS, _DC_LUMA_VALS),
        _huff_encode_table(_DC_CHROMA_BITS, _DC_CHROMA_VALS),
    ]
    enc_ac = [
        _huff_encode_table(_AC_LUMA_BITS, _AC_LUMA_VALS),
        _huff_encode_table(_AC_CHROMA_BITS, _AC_CHROMA_VALS),
    ]

    bw = _BitWriter()
    prev_dc = [0, 0, 0]
    n_mcus = mcus_y * mcus_x
    rst = 0
    for my in range(mcus_y):
        for mx in range(mcus_x):
            for ci, (hs, vs) in enumerate(samps):
                t = 0 if ci == 0 else 1
                for by in range(vs):
                    for bx in range(hs):
                        blk = grids[ci][my * vs + by, mx * hs + bx]
                        zz = blk.ravel()[_ZZ]
                        prev_dc[ci] = _encode_block(
                            bw, zz, prev_dc[ci], enc_dc[t], enc_ac[t]
                        )
            m = my * mcus_x + mx + 1
            if restart_interval and m % restart_interval == 0 and m < n_mcus:
                bw.restart_marker(rst)
                rst = (rst + 1) & 7
                prev_dc = [0, 0, 0]  # DC predictors reset per E.2.4
    scan = bw.flush()

    out = bytearray()
    out += b"\xff\xd8"  # SOI
    out += b"\xff\xe0" + struct.pack(
        ">H", 16
    ) + b"JFIF\x00" + bytes([1, 1, 0]) + struct.pack(">HH", 1, 1) + bytes(
        [0, 0]
    )
    for tq, qt in ((0, qt_l), (1, qt_c)):
        out += b"\xff\xdb" + struct.pack(">H", 67) + bytes([tq])
        out += bytes(int(qt.ravel()[z]) for z in _ZZ)
    out += b"\xff\xc0" + struct.pack(">HBHHB", 17, 8, h, w, 3)
    for ci, (cid, tq) in enumerate(((1, 0), (2, 1), (3, 1))):
        hs, vs = samps[ci]
        out += bytes([cid, (hs << 4) | vs, tq])
    for tc_th, bits, vals in (
        (0x00, _DC_LUMA_BITS, _DC_LUMA_VALS),
        (0x10, _AC_LUMA_BITS, _AC_LUMA_VALS),
        (0x01, _DC_CHROMA_BITS, _DC_CHROMA_VALS),
        (0x11, _AC_CHROMA_BITS, _AC_CHROMA_VALS),
    ):
        out += b"\xff\xc4" + struct.pack(
            ">H", 19 + len(vals)
        ) + bytes([tc_th]) + bytes(bits) + bytes(vals)
    if restart_interval:
        out += b"\xff\xdd" + struct.pack(">HH", 4, restart_interval)
    out += b"\xff\xda" + struct.pack(">HB", 12, 3)
    for cid, tt in ((1, 0x00), (2, 0x11), (3, 0x11)):
        out += bytes([cid, tt])
    out += bytes([0, 63, 0])  # Ss, Se, AhAl
    out += scan
    out += b"\xff\xd9"  # EOI
    return bytes(out)


def _marker_segment(data: bytes, pos: int) -> tuple:
    """(marker, payload, offset past it) for the marker at ``pos``; the
    payload is None for the standalone markers (EOI, TEM, RSTn)."""
    if pos + 1 >= len(data) or data[pos] != 0xFF:
        raise ValueError("marker expected")
    m = data[pos + 1]
    if m in (0xD9, 0x01) or 0xD0 <= m <= 0xD7:
        return m, None, pos + 2
    ln = int.from_bytes(data[pos + 2:pos + 4], "big")
    if ln < 2 or pos + 2 + ln > len(data):
        raise ValueError(f"truncated JPEG segment 0xFF{m:02X}")
    return m, data[pos + 4:pos + 2 + ln], pos + 2 + ln


def _parse_tables(m: int, seg: bytes, qts: dict, dcs: dict, acs: dict) -> None:
    """DQT (0xDB) or DHT (0xC4) payload -> quant / Huffman LUT dicts."""
    s = 0
    while s < len(seg):
        th = seg[s] & 0xF
        if m == 0xDB:
            if seg[s] >> 4:
                raise NotImplementedError("16-bit quant tables")
            if s + 65 > len(seg):
                raise ValueError("truncated DQT segment")
            tbl = np.zeros(64, dtype=np.int32)
            tbl[_ZZ] = np.frombuffer(seg, np.uint8, 64, s + 1)
            qts[th] = tbl.reshape(8, 8)
            s += 65
        else:
            nv = sum(seg[s + 1:s + 17])
            if s + 17 + nv > len(seg):
                raise ValueError("truncated DHT segment")
            (acs if seg[s] >> 4 else dcs)[th] = _decode_lut(
                bytes(seg[s + 1:s + 17]), bytes(seg[s + 17:s + 17 + nv])
            )
            s += 17 + nv


def _parse_sof(seg: bytes) -> tuple:
    """SOF0/SOF2 payload -> ((h, w, nc), [(id, sampling, tq), ...])."""
    if len(seg) < 6:
        raise ValueError("truncated SOF segment")
    prec, h, w, nc = struct.unpack(">BHHB", seg[:6])
    if prec != 8:
        raise NotImplementedError("non-8-bit precision")
    if nc not in (1, 3):
        raise NotImplementedError(f"{nc}-component JPEG")
    if len(seg) < 6 + 3 * nc or not h or not w:
        raise ValueError("truncated or empty SOF frame")
    comps = []
    for ci in range(nc):
        cid, samp, tq = seg[6 + 3 * ci:9 + 3 * ci]
        hs, vs = samp >> 4, samp & 0xF
        if not (1 <= hs <= 2 and 1 <= vs <= 2):
            raise NotImplementedError(f"sampling factors {hs}x{vs} (only 1-2 supported)")
        comps.append((cid, samp, tq))
    return (h, w, nc), comps


def _parse_sos(seg: bytes) -> tuple:
    """SOS payload -> ([(id, Td, Ta), ...], Ss, Se, Ah, Al)."""
    ns = seg[0] if seg else 0
    if not ns or len(seg) < 4 + 2 * ns:
        raise ValueError("truncated SOS segment")
    tabs = [(seg[i], seg[i + 1] >> 4, seg[i + 1] & 0xF)
            for i in range(1, 1 + 2 * ns, 2)]
    ss, se, ahal = seg[1 + 2 * ns:4 + 2 * ns]
    return tabs, ss, se, ahal >> 4, ahal & 0xF


def decode_jpeg(data: bytes) -> np.ndarray:
    """JFIF bytes -> (h, w, 3) uint8 RGB. Supports baseline sequential
    (SOF0): 8-bit, 1x1/2x2 sampling (4:4:4, 4:2:0 and the rectangular
    4:2:2/4:4:0 variants), single-component grayscale, and restart
    intervals (DRI/RSTn) — and PROGRESSIVE (SOF2) streams, dispatched
    to jpeg_progressive.decode_jpeg_progressive. Arithmetic coding,
    hierarchical/lossless SOFs, and sampling factors > 2 raise
    NotImplementedError — explicitly unsupported, never guessed;
    corrupt or truncated streams raise ValueError."""
    if data[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG (no SOI)")
    qts: dict[int, np.ndarray] = {}
    dcs: dict[int, tuple] = {}
    acs: dict[int, tuple] = {}
    sof = None
    comps: list[tuple[int, int, int]] = []  # (id, sampling, tq)
    ri = 0  # restart interval in MCUs (DRI; 0 = none)
    pos = 2
    while pos < len(data):
        m, seg, pos = _marker_segment(data, pos)
        if m == 0xD9:
            break
        if m in (0xDB, 0xC4):
            _parse_tables(m, seg, qts, dcs, acs)
        elif m == 0xC0:
            sof, comps = _parse_sof(seg)
        elif m in (0xC1,):
            raise NotImplementedError("extended sequential JPEG (SOF1)")
        elif m == 0xC2:  # progressive DCT: full Annex G support
            from query_cost_feature_engineering_spark.jpeg_progressive import (
                decode_jpeg_progressive,
            )

            return decode_jpeg_progressive(data)
        elif m in (0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB, 0xCD,
                   0xCE, 0xCF):
            raise NotImplementedError(
                f"non-baseline JPEG (SOF marker 0xFF{m:02X})"
            )
        elif m == 0xDD:
            ri = int.from_bytes(seg[:2], "big")
        elif m == 0xDA:
            scan_tabs = _parse_sos(seg)[0]
            return _decode_scan(
                data, pos, sof, comps, scan_tabs, qts, dcs, acs, ri
            )
    raise ValueError("no SOS marker found")


def _decode_scan(data, pos, sof, comps, scan_tabs, qts, dcs, acs, ri=0):
    if sof is None:
        raise ValueError("SOS before SOF0")
    h, w, nc = sof
    samps = [(c[1] >> 4, c[1] & 0xF) for c in comps]
    hmax = max(s[0] for s in samps)
    vmax = max(s[1] for s in samps)
    mcus_x = -(-w // (8 * hmax))
    mcus_y = -(-h // (8 * vmax))
    # per component: zigzag coefficients of every grid block, flat and
    # row-major over grid_dims, written in MCU order
    grid_dims = [(mcus_y * vs, mcus_x * hs) for hs, vs in samps]
    coefs = [array("i", bytes(256 * r * c)) for r, c in grid_dims]
    order = {cid: i for i, (cid, _, _) in enumerate(comps)}
    units = []  # per scan component: MCU steps, block offsets, tables
    for cid, dct, act in scan_tabs:
        if cid not in order or dct not in dcs or act not in acs:
            raise ValueError("scan names an undefined component or table")
        ci = order[cid]
        hs, vs = samps[ci]
        gcols = mcus_x * hs
        offs = [64 * (by * gcols + bx) for by in range(vs) for bx in range(hs)]
        units.append((ci, 64 * vs * gcols, 64 * hs, offs, *dcs[dct], *acs[act]))
    if sorted(u[0] for u in units) != list(range(nc)):
        raise ValueError("scan does not cover every frame component")
    br = _BitReader(data, pos)
    win, p, lim = br.win, br.p, br.lim
    pred = [0] * nc
    n_mcus = mcus_y * mcus_x
    for m in range(n_mcus):
        my, mx = divmod(m, mcus_x)
        for ci, rstep, cstep, offs, dsym, dlen, asym, alen in units:
            out = coefs[ci]
            dc = pred[ci]
            for o in offs:
                if p >= lim:
                    win, p, lim = br.refill(p)
                x = win[p]
                ln = dlen[x >> 16]
                if not ln:
                    raise ValueError("invalid Huffman code in JPEG scan")
                s = dsym[x >> 16]
                p += ln + s
                if s:
                    v = (x >> (32 - ln - s)) & ((1 << s) - 1)
                    dc += v if v >> (s - 1) else v - (1 << s) + 1
                    if s > 11 or not -32768 <= dc <= 32767:
                        raise ValueError("DC difference or coefficient out of range")
                o += my * rstep + mx * cstep
                out[o] = dc
                k = 1
                while k < 64:
                    x = win[p]
                    ln = alen[x >> 16]
                    if not ln:
                        raise ValueError("invalid Huffman code in JPEG scan")
                    rs = asym[x >> 16]
                    s = rs & 15
                    p += ln + s
                    if s:
                        k += rs >> 4
                        if k > 63:
                            raise ValueError("AC run past block end")
                        v = (x >> (32 - ln - s)) & ((1 << s) - 1)
                        out[o + k] = v if v >> (s - 1) else v - (1 << s) + 1
                        k += 1
                    elif rs == 0xF0:
                        k += 16  # ZRL
                    else:
                        break  # EOB
            pred[ci] = dc
        if ri and (m + 1) % ri == 0 and m + 1 < n_mcus:
            win, p, lim = br.restart(((m + 1) // ri - 1) & 7, p)
            pred = [0] * nc  # DC predictors reset per E.2.4
    zz = [np.frombuffer(c, np.int32).reshape(-1, 64) for c in coefs]
    return _reconstruct_planes(zz, comps, samps, grid_dims, qts, h, w, nc)


@_lru_cache(maxsize=64)
def _idct_matrix(qt: bytes) -> np.ndarray:
    """Dezigzag, dequantize and 2-D IDCT of one block as one 64x64 map:
    (blocks, 64) zigzag coefficients @ M = (blocks, 64) pixels - 128,
    row-major within the block. Cached per quant table."""
    q_zz = np.frombuffer(qt, np.int32)[_ZZ].astype(np.float64)
    m = np.kron(_T8.T, _T8.T)[:, _ZZ].T * q_zz[:, None]
    m.setflags(write=False)  # shared by every caller through the cache
    return m


def _reconstruct_planes(zz_arrays, comps, samps, grid_dims, qts, h, w, nc):
    """Dezigzag + dequant + IDCT + chroma upsample + crop — the shared
    reconstruction tail for the baseline and progressive decoders.
    ``zz_arrays[ci]`` is an (n_blocks, 64) array of quantizer-domain
    coefficients in zigzag order, blocks in row-major grid order over
    ``grid_dims[ci]``."""
    hmax = max(s[0] for s in samps)
    vmax = max(s[1] for s in samps)
    planes = []
    for ci in range(nc):
        hs, vs = samps[ci]
        rows, cols = grid_dims[ci]
        if comps[ci][2] not in qts:
            raise ValueError("component names an undefined quant table")
        qt = np.asarray(qts[comps[ci][2]], np.int32).tobytes()
        px = np.asarray(zz_arrays[ci], np.float64) @ _idct_matrix(qt) + 128.0
        plane = (
            px.reshape(rows, cols, 8, 8).transpose(0, 2, 1, 3)
            .reshape(rows * 8, cols * 8)
        )
        fy, fx = vmax // vs, hmax // hs
        if fy > 1 or fx > 1:  # box-replicate chroma back to full res
            plane = np.repeat(np.repeat(plane, fy, axis=0), fx, axis=1)
        planes.append(plane[:h, :w])
    if nc == 1:
        g = np.clip(np.round(planes[0]), 0, 255).astype(np.uint8)
        return np.repeat(g[..., None], 3, axis=2)
    return _ycbcr_to_rgb(planes[0], planes[1], planes[2])


def _read_symbol(br: _BitReader, table: tuple) -> int:
    sym_arr, ln_arr = table
    if br.p >= br.lim:
        br.refill(br.p)
    idx = br.win[br.p] >> 16
    length = ln_arr[idx]
    if length == 0:
        raise ValueError("invalid Huffman code in JPEG scan")
    br.p += length
    return sym_arr[idx]


def psnr(a: np.ndarray, b: np.ndarray) -> float:
    mse = float(np.mean((a.astype(np.float64) - b.astype(np.float64)) ** 2))
    if mse == 0:
        return float("inf")
    return 10.0 * np.log10(255.0 * 255.0 / mse)


# ---------------------------------------------------------------------------
# EXIF orientation (tag 0x0112) — the metadata every real ingestion
# pipeline must honor: cameras store sensor-native pixels and record
# the display transform in APP1/TIFF. Parsing is a plain TIFF IFD0
# walk (CIPA DC-008 / TIFF 6.0, both public); applying it is one of
# eight flip/rotate compositions. The JPEG decoders deliberately do
# NOT auto-rotate (matching libjpeg/Pillow) — orientation is surfaced
# and applied explicitly.
# ---------------------------------------------------------------------------


def parse_exif_orientation(data: bytes) -> int | None:
    """EXIF orientation value 1-8 from a JFIF/EXIF stream's APP1
    segment, or None when absent/unparseable (never raises on a
    malformed APP1 — metadata must not break decode)."""
    if data[:2] != b"\xff\xd8":
        return None
    pos = 2
    while pos + 4 <= len(data):
        if data[pos] != 0xFF:
            return None
        m = data[pos + 1]
        if m in (0xD9, 0xDA):  # EOI / SOS: no APP1 before image data
            return None
        pos += 2
        if 0xD0 <= m <= 0xD7 or m == 0x01:
            continue
        (ln,) = struct.unpack(">H", data[pos : pos + 2])
        seg = data[pos + 2 : pos + ln]
        pos += ln
        if m != 0xE1 or seg[:6] != b"Exif\x00\x00":
            continue
        t = seg[6:]  # TIFF stream
        try:
            if t[:2] == b"II":
                endian = "<"
            elif t[:2] == b"MM":
                endian = ">"
            else:
                return None
            (magic,) = struct.unpack(endian + "H", t[2:4])
            if magic != 42:
                return None
            (ifd0,) = struct.unpack(endian + "I", t[4:8])
            (n,) = struct.unpack(endian + "H", t[ifd0 : ifd0 + 2])
            for i in range(n):
                e = ifd0 + 2 + 12 * i
                tag, typ, cnt = struct.unpack(
                    endian + "HHI", t[e : e + 8]
                )
                if tag == 0x0112 and typ == 3 and cnt == 1:
                    (val,) = struct.unpack(endian + "H", t[e + 8 : e + 10])
                    return val if 1 <= val <= 8 else None
        except (struct.error, IndexError):
            return None
        return None
    return None


def insert_exif_orientation(data: bytes, orientation: int) -> bytes:
    """Insert a minimal APP1/EXIF segment carrying the orientation tag
    right after SOI — works on baseline and progressive streams alike
    (markers before SOF are application-order-free per JFIF)."""
    if data[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG (no SOI)")
    if not 1 <= orientation <= 8:
        raise ValueError("orientation must be 1..8")
    tiff = (
        b"MM" + struct.pack(">H", 42) + struct.pack(">I", 8)
        + struct.pack(">H", 1)  # one IFD0 entry
        + struct.pack(">HHI", 0x0112, 3, 1)
        + struct.pack(">HH", orientation, 0)
        + struct.pack(">I", 0)  # no next IFD
    )
    payload = b"Exif\x00\x00" + tiff
    app1 = b"\xff\xe1" + struct.pack(">H", 2 + len(payload)) + payload
    return data[:2] + app1 + data[2:]


def strip_metadata(data: bytes) -> tuple[bytes, int, int]:
    """Remove every metadata segment a JPEG can carry identifying
    information in — APP1..APP15 (EXIF/XMP/ICC/IPTC, incl. GPS tags)
    and COM comments — keeping SOI, APP0/JFIF and all coding segments
    byte-identical; from SOS onward the entropy stream is copied
    verbatim. Returns (scrubbed, n_removed, bytes_removed). The
    privacy-scrub pass LAION-style pipelines run before publishing:
    pixels and decode behavior are untouched (the decoder never reads
    the dropped segments), provenance metadata is gone."""
    if data[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG (no SOI)")
    out = bytearray(b"\xff\xd8")
    n_removed = 0
    bytes_removed = 0
    pos = 2
    while pos + 2 <= len(data):
        if data[pos] != 0xFF:
            # desync: keep the remainder verbatim (scrub must never
            # corrupt a stream it does not fully understand)
            out += data[pos:]
            break
        m = data[pos + 1]
        if m == 0xDA:  # SOS: entropy data + EOI, verbatim
            out += data[pos:]
            break
        if 0xD0 <= m <= 0xD9 or m == 0x01:  # bare markers
            out += data[pos : pos + 2]
            pos += 2
            continue
        (ln,) = struct.unpack(">H", data[pos + 2 : pos + 4])
        seg = data[pos : pos + 2 + ln]
        pos += 2 + ln
        if 0xE1 <= m <= 0xEF or m == 0xFE:  # APP1..APP15 / COM
            n_removed += 1
            bytes_removed += len(seg)
        else:
            out += seg
    return bytes(out), n_removed, bytes_removed


def apply_exif_orientation(arr: np.ndarray, orientation: int) -> np.ndarray:
    """Display-orient a decoded (h, w, c) array per EXIF 1-8:
    1 identity, 2 mirror-H, 3 rotate 180, 4 mirror-V, 5 transpose,
    6 rotate 90 CW, 7 transverse, 8 rotate 270 CW."""
    if orientation in (1, None):
        return arr
    if orientation == 2:
        return arr[:, ::-1]
    if orientation == 3:
        return arr[::-1, ::-1]
    if orientation == 4:
        return arr[::-1, :]
    if orientation == 5:
        return arr.transpose(1, 0, 2)
    if orientation == 6:
        return arr.transpose(1, 0, 2)[:, ::-1]
    if orientation == 7:
        return arr.transpose(1, 0, 2)[::-1, ::-1]
    if orientation == 8:
        return arr.transpose(1, 0, 2)[::-1, :]
    raise ValueError("orientation must be 1..8")
