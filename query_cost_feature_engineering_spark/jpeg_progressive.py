"""Progressive JPEG (SOF2) — encode and decode in pure NumPy, written
against ITU-T T.81 Annex G (progressive DCT) and Annex K.2 (optimal
Huffman table generation).  This closes the most common real-world
JPEG variant after baseline: web images are very often progressive
(spectral selection + successive approximation, the libjpeg default
scan script).

* encode — ``encode_jpeg_progressive``: the classic 9/10-scan script
  (DC first at Al=1, luma AC bands 1-5 / 6-63 at Al=2, chroma AC at
  Al=1, then successive-approximation refinement scans down to Al=0,
  DC refinement last-but-one).  Every scan gets a per-scan OPTIMAL
  Huffman table built by the Annex K.2 two-pass algorithm (collect
  symbol frequencies, derive canonical code lengths with the reserved
  pseudo-symbol, condense >16-bit lengths) — required because the
  Annex K "typical" tables lack the EOBn run symbols progressive AC
  scans emit.
* decode — ``decode_jpeg_progressive``: full Annex G decode: DC
  first/refine (interleaved or single-component), AC first with EOB
  runs, AC refinement with correction bits (the G.1.2.3 algorithm),
  any spectral band / successive-approximation split, restart
  intervals, grayscale or color, reusing the baseline module's
  marker parsers, entropy-segment reader (``jpeg._BitReader``: one
  segment scan and unstuffing per restart interval, bit windows
  per bounded chunk, the ≤7-fill-bit check at each RSTn), 16-bit-peek
  Huffman LUT, and IDCT reconstruction — so a fully-refined
  progressive stream decodes BIT-IDENTICALLY to the baseline encoding
  of the same image (the tests assert exactly that).

Both halves share the baseline codec's plane prep and reconstruction
(`jpeg._quantized_grids`, `jpeg._reconstruct_planes`), so quantizer
behavior is identical across the two entry points by construction.
"""

from __future__ import annotations

import struct

import numpy as np

from query_cost_feature_engineering_spark.jpeg import (
    _ZZ,
    _BitReader,
    _BitWriter,
    _extend,
    _huff_encode_table,
    _magnitude,
    _marker_segment,
    _parse_sof,
    _parse_sos,
    _parse_tables,
    _quantized_grids,
    _read_symbol,
    _reconstruct_planes,
)

# ---------------------------------------------------------------------------
# Optimal Huffman table construction (T.81 Annex K.2).
# ---------------------------------------------------------------------------


def _optimal_table(freq: dict[int, int]) -> tuple[list[int], list[int]]:
    """Symbol frequencies → (BITS[1..16], HUFFVAL) per Annex K.2: the
    reserved 257th pseudo-symbol guarantees no real symbol gets the
    all-ones code, and over-16-bit lengths are condensed by the
    standard pair-move procedure."""
    f = np.zeros(257, dtype=np.int64)
    for sym, c in freq.items():
        f[sym] = c
    f[256] = 1  # reserved: claims the all-ones codepoint
    codesize = np.zeros(257, dtype=np.int64)
    others = np.full(257, -1, dtype=np.int64)
    while True:
        nz = np.nonzero(f)[0]
        if len(nz) <= 1:
            break
        fv = f[nz]
        m1 = fv.min()
        c1 = int(nz[fv == m1][-1])  # ties → larger symbol, per K.2
        mask = nz != c1
        nz2, fv2 = nz[mask], fv[mask]
        m2 = fv2.min()
        c2 = int(nz2[fv2 == m2][-1])
        f[c1] += f[c2]
        f[c2] = 0
        codesize[c1] += 1
        while others[c1] >= 0:
            c1 = int(others[c1])
            codesize[c1] += 1
        others[c1] = c2
        codesize[c2] += 1
        while others[c2] >= 0:
            c2 = int(others[c2])
            codesize[c2] += 1
    bits = np.zeros(60, dtype=np.int64)
    for i in range(257):
        if codesize[i]:
            bits[codesize[i]] += 1
    for i in range(len(bits) - 1, 16, -1):  # condense lengths > 16
        while bits[i] > 0:
            j = i - 2
            while bits[j] == 0:
                j -= 1
            bits[i] -= 2
            bits[i - 1] += 1
            bits[j + 1] += 2
            bits[j] -= 1
    i = 16
    while bits[i] == 0:
        i -= 1
    bits[i] -= 1  # drop the reserved symbol
    pairs = sorted((int(codesize[s]), s) for s in range(256) if codesize[s])
    vals = [s for _, s in pairs]
    return [int(b) for b in bits[1:17]], vals


# ---------------------------------------------------------------------------
# Two-pass scan sinks: pass 1 counts symbols, pass 2 writes bits.
# ---------------------------------------------------------------------------


class _CountSink:
    def __init__(self) -> None:
        self.freq: dict[int, dict[int, int]] = {}

    def sym(self, tid: int, symbol: int) -> None:
        t = self.freq.setdefault(tid, {})
        t[symbol] = t.get(symbol, 0) + 1

    def bits(self, value: int, n: int) -> None:
        pass

    def restart(self, k: int) -> None:
        pass


class _WriteSink:
    def __init__(self, tables: dict[int, dict]) -> None:
        self.bw = _BitWriter()
        self.tables = tables

    def sym(self, tid: int, symbol: int) -> None:
        code, ln = self.tables[tid][symbol]
        self.bw.put(code, ln)

    def bits(self, value: int, n: int) -> None:
        if n:
            self.bw.put(value, n)

    def restart(self, k: int) -> None:
        self.bw.restart_marker(k)


# ---------------------------------------------------------------------------
# Scan encoders (each runs twice, once per sink).
# ---------------------------------------------------------------------------


def _scan_dc_first(sink, zzs, comps_idx, samps, mcus_x, mcus_y, al, tids, ri):
    prev = {ci: 0 for ci in comps_idx}
    n_mcus = mcus_y * mcus_x
    m = rst = 0
    for my in range(mcus_y):
        for mx in range(mcus_x):
            for ci in comps_idx:
                hs, vs = samps[ci]
                for by in range(vs):
                    for bx in range(hs):
                        idx = (my * vs + by) * (mcus_x * hs) + mx * hs + bx
                        v = int(zzs[ci][idx, 0]) >> al  # arithmetic shift
                        s, mbits = _magnitude(v - prev[ci])
                        prev[ci] = v
                        sink.sym(tids[ci], s)
                        sink.bits(mbits, s)
            m += 1
            if ri and m % ri == 0 and m < n_mcus:
                sink.restart(rst)
                rst = (rst + 1) & 7
                prev = {ci: 0 for ci in comps_idx}


def _scan_dc_refine(sink, zzs, comps_idx, samps, mcus_x, mcus_y, al, ri):
    n_mcus = mcus_y * mcus_x
    m = rst = 0
    for my in range(mcus_y):
        for mx in range(mcus_x):
            for ci in comps_idx:
                hs, vs = samps[ci]
                for by in range(vs):
                    for bx in range(hs):
                        idx = (my * vs + by) * (mcus_x * hs) + mx * hs + bx
                        sink.bits((int(zzs[ci][idx, 0]) >> al) & 1, 1)
            m += 1
            if ri and m % ri == 0 and m < n_mcus:
                sink.restart(rst)
                rst = (rst + 1) & 7


def _flush_eobrun(sink, tid, state):
    eobrun = state["eobrun"]
    if eobrun > 0:
        r = eobrun.bit_length() - 1
        sink.sym(tid, r << 4)
        sink.bits(eobrun - (1 << r), r)
        state["eobrun"] = 0
    for b in state["br"]:
        sink.bits(b, 1)
    state["br"] = []


def _scan_ac_first(sink, zz, block_idxs, ss, se, al, tid, ri):
    """AC first pass (Ah=0): band values |v|>>Al re-signed, EOB runs
    shared across blocks (T.81 G.1.2.2)."""
    state = {"eobrun": 0, "br": []}
    rst = 0
    for b, idx in enumerate(block_idxs):
        if ri and b and b % ri == 0:
            _flush_eobrun(sink, tid, state)
            sink.restart(rst)
            rst = (rst + 1) & 7
        band = zz[idx, ss : se + 1]
        scaled = np.sign(band) * (np.abs(band) >> al)
        nz = np.nonzero(scaled)[0]
        if len(nz) == 0:
            state["eobrun"] += 1
            if state["eobrun"] == 0x7FFF:
                _flush_eobrun(sink, tid, state)
            continue
        _flush_eobrun(sink, tid, state)
        r = 0
        last = nz[-1]
        for k in range(last + 1):
            v = int(scaled[k])
            if v == 0:
                r += 1
                continue
            while r > 15:
                sink.sym(tid, 0xF0)  # ZRL
                r -= 16
            s, mbits = _magnitude(v)
            sink.sym(tid, (r << 4) | s)
            sink.bits(mbits, s)
            r = 0
        if last < se - ss:  # trailing zeros → this block opens an EOB run
            state["eobrun"] = 1
    _flush_eobrun(sink, tid, state)


def _scan_ac_refine(sink, zz, block_idxs, ss, se, al, tid, ri):
    """AC refinement (Ah=Al+1): newly-significant coefficients are
    coded as run+1 symbols; already-nonzero coefficients contribute
    buffered correction bits (T.81 G.1.2.3)."""
    state = {"eobrun": 0, "br": []}
    rst = 0
    for b, idx in enumerate(block_idxs):
        if ri and b and b % ri == 0:
            _flush_eobrun(sink, tid, state)
            sink.restart(rst)
            rst = (rst + 1) & 7
        band = zz[idx, ss : se + 1]
        absv = np.abs(band) >> al
        newly = np.nonzero(absv == 1)[0]
        eob = int(newly[-1]) if len(newly) else -1
        r = 0
        br: list[int] = []
        for k in range(se - ss + 1):
            t = int(absv[k])
            if t == 0:
                r += 1
                continue
            while r > 15 and k <= eob:
                _flush_eobrun(sink, tid, state)
                sink.sym(tid, 0xF0)
                r -= 16
                for b in br:
                    sink.bits(b, 1)
                br = []
            if t > 1:  # history coefficient: buffered correction bit
                br.append(t & 1)
                continue
            _flush_eobrun(sink, tid, state)
            sink.sym(tid, (r << 4) | 1)
            sink.bits(1 if int(band[k]) >= 0 else 0, 1)
            r = 0
            for b in br:
                sink.bits(b, 1)
            br = []
        if r > 0 or br:
            state["eobrun"] += 1
            state["br"].extend(br)
            if state["eobrun"] == 0x7FFF:
                _flush_eobrun(sink, tid, state)
    _flush_eobrun(sink, tid, state)


# ---------------------------------------------------------------------------
# Encoder.
# ---------------------------------------------------------------------------


def _comp_block_idxs(ci, samps, mcus_x, mcus_y, h, w):
    """Raster-order padded-grid indices of a component's OWN blocks
    (ceil of its sample dims) — the block set non-interleaved scans
    cover, which for subsampled images is smaller than the padded
    grid (the extra pad blocks are coded only by interleaved DC
    scans, per A.2.2)."""
    hs, vs = samps[ci]
    hmax = max(s[0] for s in samps)
    vmax = max(s[1] for s in samps)
    ch = -(-h * vs // vmax)
    cw = -(-w * hs // hmax)
    rows_c, cols_c = -(-ch // 8), -(-cw // 8)
    gcols = mcus_x * hs
    return [by * gcols + bx for by in range(rows_c) for bx in range(cols_c)]


def encode_jpeg_progressive(
    arr: np.ndarray,
    quality: int = 90,
    subsampling: str = "444",
    restart_interval: int = 0,
) -> bytes:
    """(h, w, 3) uint8 RGB → progressive JFIF bytes (SOF2) using the
    classic spectral-selection + successive-approximation scan script
    with per-scan optimal Huffman tables.  ``restart_interval`` is in
    MCUs for the interleaved DC scans and in blocks for the
    non-interleaved AC scans, per T.81 B.2.1.2."""
    grids, samps, qt_l, qt_c, mcus_x, mcus_y = _quantized_grids(
        arr, quality, subsampling
    )
    if not (0 <= restart_interval <= 0xFFFF):
        raise ValueError("restart_interval must fit in uint16")
    ri = restart_interval
    h, w = arr.shape[:2]
    zzs = []  # per component: (n_blocks, 64) zigzag coefficient array
    for g in grids:
        rows, cols = g.shape[0], g.shape[1]
        # _ZZ maps zigzag position -> natural index, so this selection
        # reorders each natural-order block row INTO zigzag order
        zzs.append(g.reshape(rows * cols, 64)[:, _ZZ])
    cidx = [
        _comp_block_idxs(ci, samps, mcus_x, mcus_y, h, w) for ci in range(3)
    ]

    # scan script: (kind, comps, Ss, Se, Ah, Al)
    script = [
        ("dc_first", [0, 1, 2], 0, 0, 0, 1),
        ("ac_first", [0], 1, 5, 0, 2),
        ("ac_first", [1], 1, 63, 0, 1),
        ("ac_first", [2], 1, 63, 0, 1),
        ("ac_first", [0], 6, 63, 0, 2),
        ("ac_refine", [0], 1, 63, 2, 1),
        ("dc_refine", [0, 1, 2], 0, 0, 1, 0),
        ("ac_refine", [1], 1, 63, 1, 0),
        ("ac_refine", [2], 1, 63, 1, 0),
        ("ac_refine", [0], 1, 63, 1, 0),
    ]

    out = bytearray()
    out += b"\xff\xd8"
    out += (
        b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00"
        + bytes([1, 1, 0]) + struct.pack(">HH", 1, 1) + bytes([0, 0])
    )
    for tq, qt in ((0, qt_l), (1, qt_c)):
        out += b"\xff\xdb" + struct.pack(">H", 67) + bytes([tq])
        out += bytes(int(qt.ravel()[z]) for z in _ZZ)
    out += b"\xff\xc2" + struct.pack(">HBHHB", 17, 8, h, w, 3)  # SOF2
    for ci, (cid, tq) in enumerate(((1, 0), (2, 1), (3, 1))):
        hs, vs = samps[ci]
        out += bytes([cid, (hs << 4) | vs, tq])
    if ri:
        out += b"\xff\xdd" + struct.pack(">HH", 4, ri)

    def run_scan(kind, comps, ss, se, ah, al, sink, tids):
        if kind == "dc_first":
            _scan_dc_first(
                sink, zzs, comps, samps, mcus_x, mcus_y, al, tids, ri
            )
        elif kind == "dc_refine":
            _scan_dc_refine(sink, zzs, comps, samps, mcus_x, mcus_y, al, ri)
        elif kind == "ac_first":
            ci = comps[0]
            _scan_ac_first(sink, zzs[ci], cidx[ci], ss, se, al, tids[ci], ri)
        else:
            ci = comps[0]
            _scan_ac_refine(sink, zzs[ci], cidx[ci], ss, se, al, tids[ci], ri)

    for kind, comps, ss, se, ah, al in script:
        is_dc = kind.startswith("dc")
        # table id per component within this scan (DC: 0 luma / 1
        # chroma; AC: one table, id 0)
        tids = {ci: (0 if ci == 0 else 1) if is_dc else 0 for ci in comps}
        counter = _CountSink()
        run_scan(kind, comps, ss, se, ah, al, counter, tids)
        tables: dict[int, dict] = {}
        for tid, freq in sorted(counter.freq.items()):
            bits, vals = _optimal_table(freq)
            tables[tid] = _huff_encode_table(bits, vals)
            tc = 0x00 if is_dc else 0x10
            out += (
                b"\xff\xc4" + struct.pack(">H", 19 + len(vals))
                + bytes([tc | tid]) + bytes(bits) + bytes(vals)
            )
        writer = _WriteSink(tables)
        run_scan(kind, comps, ss, se, ah, al, writer, tids)
        out += b"\xff\xda" + struct.pack(">HB", 6 + 2 * len(comps), len(comps))
        for ci in comps:
            tid = tids[ci]
            tt = (tid << 4) if is_dc else tid  # DC table high, AC low
            out += bytes([ci + 1, tt])
        out += bytes([ss, se, (ah << 4) | al])
        out += writer.bw.flush()
    out += b"\xff\xd9"
    return bytes(out)


# ---------------------------------------------------------------------------
# Decoder.
# ---------------------------------------------------------------------------


def decode_jpeg_progressive(data: bytes) -> np.ndarray:
    """Progressive JFIF bytes (SOF2) → (h, w, 3) uint8 RGB."""
    if data[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG (no SOI)")
    qts: dict[int, np.ndarray] = {}
    dcs: dict[int, tuple] = {}
    acs: dict[int, tuple] = {}
    sof = None
    comps: list[tuple[int, int, int]] = []
    ri = 0
    coef: list[np.ndarray] = []
    grid_dims: list[tuple[int, int]] = []
    samps: list[tuple[int, int]] = []
    pos = 2
    while pos < len(data):
        m, seg, pos = _marker_segment(data, pos)
        if m == 0xD9:
            break
        if m in (0xDB, 0xC4):
            _parse_tables(m, seg, qts, dcs, acs)
        elif m == 0xC2:
            sof, comps = _parse_sof(seg)
            h, w, nc = sof
            samps = [(c[1] >> 4, c[1] & 0xF) for c in comps]
            hmax = max(s[0] for s in samps)
            vmax = max(s[1] for s in samps)
            mcus_x = -(-w // (8 * hmax))
            mcus_y = -(-h // (8 * vmax))
            grid_dims = [(mcus_y * vs, mcus_x * hs) for hs, vs in samps]
            coef = [
                np.zeros((r * c, 64), dtype=np.int32) for r, c in grid_dims
            ]
        elif m == 0xC0:
            raise ValueError("baseline SOF0 in progressive decoder")
        elif m == 0xDD:
            ri = int.from_bytes(seg[:2], "big")
        elif m == 0xDA:
            if sof is None:
                raise ValueError("SOS before SOF2")
            scan_comps, ss, se, ah, al = _parse_sos(seg)
            pos = _decode_progressive_scan(
                data, pos, sof, comps, samps, grid_dims, coef,
                scan_comps, ss, se, ah, al, dcs, acs, ri,
                mcus_x, mcus_y,
            )
    if sof is None:
        raise ValueError("no SOF2 frame header found")
    h, w, nc = sof
    return _reconstruct_planes(
        coef, comps, samps, grid_dims, qts, h, w, nc
    )


def _decode_progressive_scan(
    data, pos, sof, comps, samps, grid_dims, coef, scan_comps,
    ss, se, ah, al, dcs, acs, ri, mcus_x, mcus_y,
):
    h, w, nc = sof
    order = {cid: i for i, (cid, _, _) in enumerate(comps)}
    br = _BitReader(data, pos)
    is_dc = ss == 0
    if is_dc and se != 0:
        raise ValueError("DC scan must have Se=0")
    if not is_dc and len(scan_comps) != 1:
        raise ValueError("AC scans must be non-interleaved (B.2.3)")
    if se > 63 or ss > se or any(c[0] not in order for c in scan_comps):
        raise ValueError("scan names a bad band or an undefined component")
    tabs = acs if ss else dcs  # a DC refinement scan decodes no symbol
    if not (is_dc and ah) and any(c[2 if ss else 1] not in tabs for c in scan_comps):
        raise ValueError("scan names an undefined Huffman table")

    eobrun = 0
    if is_dc and len(scan_comps) > 1:
        # interleaved DC scan over the MCU grid
        prev = [0] * nc
        n_mcus = mcus_y * mcus_x
        m = 0
        for my in range(mcus_y):
            for mx in range(mcus_x):
                for cid, dct, _ in scan_comps:
                    ci = order[cid]
                    hs, vs = samps[ci]
                    for by in range(vs):
                        for bx in range(hs):
                            idx = (my * vs + by) * (mcus_x * hs) + (
                                mx * hs + bx
                            )
                            if ah == 0:
                                s = _read_symbol(br, dcs[dct])
                                diff = _extend(br.bits(s), s) if s else 0
                                prev[ci] += diff
                                if not -32768 <= prev[ci] <= 32767:
                                    raise ValueError("DC coefficient out of range")
                                coef[ci][idx, 0] = prev[ci] << al
                            elif br.bits(1):
                                coef[ci][idx, 0] |= 1 << al
                m += 1
                if ri and m % ri == 0 and m < n_mcus:
                    br.restart((m // ri - 1) & 7, br.p)
                    prev = [0] * nc
    else:
        cid, dct, act = scan_comps[0]
        ci = order[cid]
        hs, vs = samps[ci]
        hmax = max(s[0] for s in samps)
        vmax = max(s[1] for s in samps)
        ch = -(-h * vs // vmax)
        cw = -(-w * hs // hmax)
        rows_c, cols_c = -(-ch // 8), -(-cw // 8)
        gcols = grid_dims[ci][1]
        cz = coef[ci]
        n_blocks = rows_c * cols_c
        b = 0
        prev_dc = 0
        for by in range(rows_c):
            for bx in range(cols_c):
                idx = by * gcols + bx
                if is_dc:
                    if ah == 0:
                        s = _read_symbol(br, dcs[dct])
                        diff = _extend(br.bits(s), s) if s else 0
                        prev_dc += diff
                        if not -32768 <= prev_dc <= 32767:
                            raise ValueError("DC coefficient out of range")
                        cz[idx, 0] = prev_dc << al
                    elif br.bits(1):
                        cz[idx, 0] |= 1 << al
                elif ah == 0:
                    eobrun = _ac_first_block(
                        br, cz, idx, ss, se, al, acs[act], eobrun
                    )
                else:
                    eobrun = _ac_refine_block(
                        br, cz, idx, ss, se, al, acs[act], eobrun
                    )
                b += 1
                if ri and b % ri == 0 and b < n_blocks:
                    br.restart((b // ri - 1) & 7, br.p)
                    prev_dc = 0
                    eobrun = 0
    q = br.marker()
    if q + 1 >= len(data):
        raise ValueError("JPEG stream truncated inside scan")
    return q


def _ac_first_block(br, cz, idx, ss, se, al, atab, eobrun):
    if eobrun > 0:
        return eobrun - 1
    k = ss
    while k <= se:
        rs = _read_symbol(br, atab)
        r, s = rs >> 4, rs & 0xF
        if s == 0:
            if r < 15:
                eobrun = (1 << r) - 1
                if r:
                    eobrun += br.bits(r)
                break
            k += 16  # ZRL
            continue
        k += r
        if k > se:
            raise ValueError("AC run past band end")
        cz[idx, k] = _extend(br.bits(s), s) << al
        k += 1
    return eobrun


def _ac_refine_block(br, cz, idx, ss, se, al, atab, eobrun):
    """T.81 G.1.2.3 AC successive-approximation refinement."""
    p1 = 1 << al
    m1 = -1 << al
    k = ss
    if eobrun == 0:
        while k <= se:
            rs = _read_symbol(br, atab)
            r, s = rs >> 4, rs & 0xF
            val = 0
            if s:
                if s != 1:
                    raise ValueError("bad refinement symbol size")
                val = p1 if br.bits(1) else m1
            else:
                if r < 15:
                    eobrun = 1 << r
                    if r:
                        eobrun += br.bits(r)
                    break
                # ZRL: r stays 15 → skip 16 zero-history coefficients
            while k <= se:
                c = int(cz[idx, k])
                if c != 0:
                    if br.bits(1) and (c & p1) == 0:
                        cz[idx, k] = c + (p1 if c >= 0 else m1)
                else:
                    if r == 0:
                        break
                    r -= 1
                k += 1
            if val and k <= se:
                cz[idx, k] = val
            k += 1
    if eobrun > 0:
        while k <= se:
            c = int(cz[idx, k])
            if c != 0 and br.bits(1) and (c & p1) == 0:
                cz[idx, k] = c + (p1 if c >= 0 else m1)
            k += 1
        eobrun -= 1
    return eobrun
