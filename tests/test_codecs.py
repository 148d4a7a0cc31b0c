import numpy as np

from query_cost_feature_engineering_spark.codecs import (
    decode_image,
    decode_png,
    encode_png,
    hamming64,
    phash64,
    psnr,
)
from query_cost_feature_engineering_spark.sources.images import (
    generate_images_pandas,
)


def test_png_roundtrip_exact():
    rng = np.random.default_rng(7)
    for h, w in [(16, 16), (24, 48), (64, 33)]:
        a = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
        assert np.array_equal(decode_png(encode_png(a)), a)


def test_lossy_psnr_at_least_40db(monkeypatch):
    """Every JPEG row of the registry image corpus decodes at >= 40 dB
    PSNR against the pixels the generator encoded (BASELINE.json
    ``input_hint``)."""
    from query_cost_feature_engineering_spark.jpeg import encode_jpeg
    from query_cost_feature_engineering_spark.sources import images

    encoded = []  # source pixels of the JPEG rows, in draw order

    def capture(arr, quality):
        encoded.append(arr)
        return encode_jpeg(arr, quality)

    monkeypatch.setattr(images, "encode_jpeg", capture)
    pdf = generate_images_pandas(400, 30, 42)
    jpeg = pdf[pdf["fmt"] == "jpeg"].sort_values("image_id")
    assert len(jpeg) == len(encoded) > 100
    for src, data in zip(encoded, jpeg["bytes"]):
        assert psnr(src, decode_image(bytes(data), "jpeg")) >= 40.0


def test_phash_deterministic_and_locality():
    rng = np.random.default_rng(9)
    a = rng.integers(0, 256, (48, 48, 3), dtype=np.uint8)
    h1, h2 = phash64(a), phash64(a.copy())
    assert h1 == h2
    b = np.clip(a.astype(int) + rng.integers(-2, 3, a.shape), 0, 255).astype(np.uint8)
    assert hamming64(h1, phash64(b)) <= 16  # tiny noise ⇒ near hash
    assert -(2**63) <= h1 < 2**63


def test_generator_determinism_and_fidelity():
    df1 = generate_images_pandas(60, n_entities=10, seed=5)
    df2 = generate_images_pandas(60, n_entities=10, seed=5)
    assert df1.equals(df2)
    for _, r in df1.head(20).iterrows():
        arr = decode_image(r["bytes"], r["fmt"])
        assert arr.shape == (r["h"], r["w"], 3)
        # stored phash was computed pre-encode; decoded-pixel phash must be
        # identical for png and near for lossy
        ham = hamming64(int(r["phash"]), phash64(arr))
        assert ham == 0 if r["fmt"] == "png" else ham <= 10
        assert isinstance(r["caption"], str) and 3 <= len(r["caption"].split()) <= 12


def test_wav_pcm16_roundtrip_mono_and_stereo():
    """Round-4: REAL RIFF/PCM16 WAV in pure stdlib — lossless round-trip
    for mono and stereo, exact sample + rate recovery."""
    import numpy as np

    from query_cost_feature_engineering_spark.codecs import (
        decode_wav,
        encode_wav_pcm16,
    )

    rng = np.random.default_rng(7)
    mono = (rng.standard_normal(4001) * 9000).astype(np.int16)  # odd length
    pcm, rate = decode_wav(encode_wav_pcm16(mono, rate=22050))
    assert rate == 22050 and pcm.shape == (4001, 1)
    np.testing.assert_array_equal(pcm[:, 0], mono)

    stereo = (rng.standard_normal((1234, 2)) * 9000).astype(np.int16)
    pcm2, rate2 = decode_wav(encode_wav_pcm16(stereo, rate=44100))
    assert rate2 == 44100
    np.testing.assert_array_equal(pcm2, stereo)


def test_wav_chunk_walk_skips_metadata_and_rejects_compressed():
    """The parser is a real RIFF chunk walk: LIST/fact metadata chunks
    (with the odd-size pad byte) are skipped; non-PCM formats raise."""
    import struct

    import numpy as np
    import pytest

    from query_cost_feature_engineering_spark.codecs import (
        decode_wav,
        encode_wav_pcm16,
    )

    mono = np.arange(-500, 500, dtype=np.int16)
    wav = encode_wav_pcm16(mono, rate=8000)
    # splice a LIST chunk (odd size -> pad byte) between fmt and data
    fmt_end = wav.index(b"data")
    meta = b"LIST" + struct.pack("<I", 5) + b"INFOx" + b"\x00"
    spliced = wav[:fmt_end] + meta + wav[fmt_end:]
    # RIFF size field is informational for our walk; re-parse succeeds
    pcm, rate = decode_wav(spliced)
    np.testing.assert_array_equal(pcm[:, 0], mono)
    assert rate == 8000

    # IEEE-float WAV (format 3) must raise, not mis-decode
    bad = bytearray(wav)
    fmt_pos = wav.index(b"fmt ") + 8
    struct.pack_into("<H", bad, fmt_pos, 3)
    with pytest.raises(NotImplementedError, match="PCM16"):
        decode_wav(bytes(bad))


def test_avi_dib_roundtrip_and_compressed_rejection():
    """Round-4: REAL uncompressed-DIB AVI in pure stdlib — lossless
    frame round-trip (incl. non-4-multiple widths that exercise row
    stride padding); compressed fourccs raise instead of mis-decoding."""
    import struct

    import numpy as np
    import pytest

    from query_cost_feature_engineering_spark.codecs import (
        decode_avi,
        encode_avi_dib,
    )

    rng = np.random.default_rng(9)
    for shape in [(5, 16, 24, 3), (3, 17, 23, 3)]:
        fr = rng.integers(0, 256, size=shape).astype(np.uint8)
        back = decode_avi(encode_avi_dib(fr, fps=12))
        np.testing.assert_array_equal(back, fr)

    data = bytearray(encode_avi_dib(rng.integers(0, 256, (2, 8, 8, 3)).astype(np.uint8)))
    # flip biCompression in the strf BITMAPINFOHEADER to H264 — a fourcc
    # that genuinely needs a codec library (MJPG is now a REAL supported
    # path via the T.81 codec, covered by its own roundtrip test)
    strf = bytes(data).index(b"strf") + 8
    struct.pack_into("<I", data, strf + 16, int.from_bytes(b"H264", "little"))
    with pytest.raises(NotImplementedError, match="MJPG"):
        decode_avi(bytes(data))


def test_video_and_audio_dispatch_sniff():
    """_sniff_head splits RIFF into wav vs avi via the form type."""
    import numpy as np

    from query_cost_feature_engineering_spark.codecs import (
        encode_avi_dib,
        encode_wav_pcm16,
    )
    from query_cost_feature_engineering_spark.functions.multimodal import (
        _sniff_head,
    )

    rng = np.random.default_rng(4)
    avi = encode_avi_dib(rng.integers(0, 256, (2, 8, 8, 3)).astype(np.uint8))
    wav = encode_wav_pcm16((rng.standard_normal(64) * 100).astype(np.int16))
    assert _sniff_head(avi[:12]) == "avi"
    assert _sniff_head(wav[:12]) == "wav"
    assert _sniff_head(b"\x89PNG\r\n\x1a\n0000") == "png"
    assert _sniff_head(b"RIFF\x00\x00\x00\x00XXXX") == "riff"


def test_avi_top_down_dib_and_rec_groups():
    """Round-5 ADVICE: the two valid real-file shapes the decoder used
    to mishandle — negative biHeight (top-down row order) and frames
    nested inside 'LIST rec ' interleave groups — now decode exactly;
    an unrecognized LIST kind inside movi raises instead of silently
    truncating the frame array."""
    import struct

    import numpy as np
    import pytest

    from query_cost_feature_engineering_spark.codecs import (
        decode_avi,
        encode_avi_dib,
    )

    rng = np.random.default_rng(5)
    frames = rng.integers(0, 256, size=(3, 6, 5, 3), dtype=np.uint8)

    # --- top-down: feed vertically flipped frames to the bottom-up
    # encoder (stored bytes become natural row order), then flip the
    # sign of biHeight in the BITMAPINFOHEADER
    data = bytearray(encode_avi_dib(frames[:, ::-1]))
    bmih = data.index(b"strf") + 8
    (h,) = struct.unpack_from("<i", data, bmih + 8)
    assert h == 6
    struct.pack_into("<i", data, bmih + 8, -h)
    got = decode_avi(bytes(data))
    assert np.array_equal(got, frames)

    # --- LIST rec: rewrap the movi items in a single interleave group
    data = bytes(encode_avi_dib(frames))
    movi_hdr = data.index(b"movi") - 8
    (movi_size,) = struct.unpack("<I", data[movi_hdr + 4 : movi_hdr + 8])
    items = data[movi_hdr + 12 : movi_hdr + 8 + movi_size]
    rec = b"LIST" + struct.pack("<I", 4 + len(items)) + b"rec " + items
    new_movi = b"LIST" + struct.pack("<I", 4 + len(rec)) + b"movi" + rec
    body = data[8:movi_hdr] + new_movi
    wrapped = b"RIFF" + struct.pack("<I", len(body)) + body
    got = decode_avi(wrapped)
    assert np.array_equal(got, frames)

    # --- unknown LIST kind inside movi raises loudly
    bogus = b"LIST" + struct.pack("<I", 4 + len(items)) + b"xxxx" + items
    new_movi = b"LIST" + struct.pack("<I", 4 + len(bogus)) + b"movi" + bogus
    body = data[8:movi_hdr] + new_movi
    with pytest.raises(ValueError, match="unrecognized LIST"):
        decode_avi(b"RIFF" + struct.pack("<I", len(body)) + body)


# --- real baseline JPEG (pure-NumPy T.81 codec, round 5) --------------------


def test_jpeg_uniform_roundtrip_exact_and_hand_checked():
    """A uniform image has one nonzero coefficient per block (the DC).
    Expected decode value derived by HAND from the spec, not via the
    codec's own transforms: F00 = 8*(v-128), q = round(F00/Q00),
    back = round(q*Q00/8) + 128."""
    import numpy as np

    from query_cost_feature_engineering_spark.jpeg import (
        _quality_tables,
        decode_jpeg,
        encode_jpeg,
    )

    q_l, _ = _quality_tables(90)
    q00 = int(q_l[0, 0])
    for v in (0, 37, 128, 201, 255):
        arr = np.full((16, 24, 3), v, dtype=np.uint8)
        out = decode_jpeg(encode_jpeg(arr, quality=90))
        dc = round(8.0 * (v - 128.0) / q00)
        # luma of a gray pixel == v; chroma is neutral 128 for r=g=b
        want = int(np.clip(round(dc * q00 / 8.0) + 128, 0, 255))
        got = sorted(set(out.ravel().tolist()))
        assert got == [want], (v, want, got)


def test_jpeg_psnr_contract_on_smooth_content():
    """PSNR >= 40 dB on smooth (photograph-like) content at the
    default quality — the BASELINE.json lossy-fidelity contract; on
    uniform blocks the roundtrip is exact (inf dB)."""
    import numpy as np

    from query_cost_feature_engineering_spark.jpeg import (
        decode_jpeg,
        encode_jpeg,
        psnr,
    )

    yy, xx = np.meshgrid(np.arange(48), np.arange(64), indexing="ij")
    g = ((yy * 255) // 47 + (xx * 255) // 63) // 2
    tex = (12.0 * np.sin(yy / 6.0) * np.cos(xx / 7.0)).astype(np.int32)
    arr = np.clip(
        np.stack([g + tex, g, 255 - g + tex], axis=-1), 0, 255
    ).astype(np.uint8)
    out = decode_jpeg(encode_jpeg(arr, quality=90))
    assert psnr(arr, out) >= 40.0


def test_jpeg_structure_and_unsupported_paths():
    """Spec-conformant marker layout; the decoder REFUSES (rather than
    guesses) progressive SOF2 and subsampled chroma."""
    import struct

    import numpy as np
    import pytest

    from query_cost_feature_engineering_spark.jpeg import (
        decode_jpeg,
        encode_jpeg,
    )

    rng = np.random.default_rng(7)
    arr = rng.integers(0, 256, size=(19, 30, 3)).astype(np.uint8)
    d = encode_jpeg(arr, quality=85)
    assert d[:2] == b"\xff\xd8" and d[-2:] == b"\xff\xd9"
    for marker in (b"\xff\xe0JFIF\x00"[:2], b"\xff\xdb", b"\xff\xc0",
                   b"\xff\xc4", b"\xff\xda"):
        assert marker in d
    # SOF0 dims match input
    i = d.index(b"\xff\xc0")
    _, _, h, w, nc = struct.unpack(">HBHHB", d[i + 2:i + 10])
    assert (h, w, nc) == (19, 30, 3)
    assert decode_jpeg(d).shape == (19, 30, 3)
    # progressive (SOF2) is now SUPPORTED (test_jpeg_progressive.py);
    # a baseline stream merely RELABELED SOF2 is corrupt — its scan
    # header (Ss=0, Se=63) is illegal for progressive and must raise
    prog = d[:i] + b"\xff\xc2" + d[i + 2:]
    with pytest.raises(ValueError, match="DC scan"):
        decode_jpeg(prog)
    # sampling factor 3 (valid per spec, rare, unsupported here):
    # patch the Y sampling byte (0x11 -> 0x31) — must refuse loudly
    # (4:2:0/0x22 is a SUPPORTED path, covered by its own test)
    sub = bytearray(d)
    sub[i + 11] = 0x31
    with pytest.raises(NotImplementedError):
        decode_jpeg(bytes(sub))


def test_jpeg_dispatches_through_decode_image():
    """codecs.decode_image routes real FFD8 payloads (fmt='jpeg') to
    the T.81 decoder."""
    import numpy as np

    from query_cost_feature_engineering_spark.codecs import decode_image
    from query_cost_feature_engineering_spark.jpeg import encode_jpeg

    arr = np.full((8, 8, 3), 90, dtype=np.uint8)
    real = decode_image(encode_jpeg(arr, 90), "jpeg")
    assert real.shape == (8, 8, 3)
    assert abs(int(real[0, 0, 0]) - 90) <= 1


def test_jpeg_interop_with_pillow_when_present():
    """Conformance spot-check against an independent decoder — runs
    only where Pillow exists (absent in this container; import-probed
    like every codec-library path)."""
    import numpy as np
    import pytest

    try:
        from PIL import Image  # noqa: F401
    except Exception:
        pytest.skip("Pillow not installed in this container")
    import io

    from query_cost_feature_engineering_spark.jpeg import (
        encode_jpeg,
        psnr,
    )

    rng = np.random.default_rng(11)
    arr = rng.integers(0, 256, size=(24, 40, 3)).astype(np.uint8)
    pil = np.asarray(
        Image.open(io.BytesIO(encode_jpeg(arr, quality=95))).convert("RGB")
    )
    assert psnr(arr, pil) >= 30.0  # external decoder reads our bytes


def test_mjpeg_avi_roundtrip_and_dispatch():
    """Motion-JPEG AVI: real compressed video via the T.81 codec —
    per-frame PSNR >= 40 dB on smooth frames, correct dispatch through
    decode_video, and a loud raise for unknown fourccs."""
    import numpy as np
    import pytest

    from query_cost_feature_engineering_spark.codecs import (
        decode_avi,
        encode_avi_mjpeg,
        psnr,
    )
    from query_cost_feature_engineering_spark.functions.multimodal import (
        decode_video,
    )

    yy, xx = np.meshgrid(np.arange(32), np.arange(40), indexing="ij")
    frames = np.stack(
        [
            np.clip(
                np.stack(
                    [
                        (yy * 255) // 31 + k * 9,
                        (xx * 255) // 39,
                        10 * np.sin(yy / 5.0) + 120,
                    ],
                    axis=-1,
                ),
                0,
                255,
            ).astype(np.uint8)
            for k in range(5)
        ]
    )
    data = encode_avi_mjpeg(frames, quality=92)
    assert data[:4] == b"RIFF" and data[8:12] == b"AVI "
    out = decode_avi(data)
    assert out.shape == frames.shape
    for i in range(len(frames)):
        assert psnr(frames[i], out[i]) >= 40.0
    # real compression vs the uncompressed DIB container
    from query_cost_feature_engineering_spark.codecs import encode_avi_dib

    assert len(data) < len(encode_avi_dib(frames))
    # magic-byte dispatch path used by every video query
    assert decode_video(data).shape == frames.shape
    # unknown fourcc still refuses
    h264 = bytearray(data)
    i = data.index(b"MJPG", data.index(b"strf"))  # biCompression field
    h264[i:i + 4] = b"H264"
    with pytest.raises(NotImplementedError):
        decode_avi(bytes(h264))


def test_ima_adpcm_roundtrip_and_refusals():
    """IMA ADPCM WAV (format tag 17): length-exact decode via the fact
    chunk, SNR >= 25 dB on band-limited audio, exact silence, ~4:1
    compression, and loud refusals for stereo / missing fact."""
    import struct

    import numpy as np
    import pytest

    from query_cost_feature_engineering_spark.codecs import (
        decode_wav,
        encode_wav_adpcm,
    )
    from query_cost_feature_engineering_spark.functions.multimodal import (
        decode_audio,
    )

    t = np.arange(12345) / 16000.0
    pcm = (
        10000 * np.sin(2 * np.pi * 220 * t)
        + 4000 * np.sin(2 * np.pi * 1100 * t)
    ).astype(np.int16)
    data = encode_wav_adpcm(pcm, rate=16000)
    out, rate = decode_wav(data)
    assert rate == 16000 and out.shape == (12345, 1)
    sig = float((pcm.astype(np.float64) ** 2).mean())
    err = float(((out[:, 0] - pcm).astype(np.float64) ** 2).mean())
    assert 10 * np.log10(sig / err) >= 25.0
    assert len(data) < 2 * len(pcm) / 3.5  # real compression
    # silence decodes exactly
    z, _ = decode_wav(encode_wav_adpcm(np.zeros(900, dtype=np.int16)))
    assert int(np.abs(z).max()) == 0
    # dispatch: the audio UDF path reads ADPCM through the same magic
    got = decode_audio(data)
    assert got[0].shape[0] == 12345
    # stereo refusal: patch nChannels=2 in fmt
    i = data.index(b"fmt ") + 8
    st = bytearray(data)
    struct.pack_into("<H", st, i + 2, 2)
    with pytest.raises(NotImplementedError, match="mono"):
        decode_wav(bytes(st))


def test_jpeg_420_subsampling_roundtrip():
    """4:2:0 — the variant nearly all real-world JPEGs use: decoder
    handles 2x2 luma sampling with box-replicated chroma upsample;
    PSNR >= 40 dB on smooth content, smaller files than 4:4:4,
    uniform images still exact, odd (non-MCU-multiple) dims crop
    correctly."""
    import numpy as np

    from query_cost_feature_engineering_spark.jpeg import (
        decode_jpeg,
        encode_jpeg,
        psnr,
    )

    yy, xx = np.meshgrid(np.arange(48), np.arange(64), indexing="ij")
    g = ((yy * 255) // 47 + (xx * 255) // 63) // 2
    tex = (12.0 * np.sin(yy / 6.0) * np.cos(xx / 7.0)).astype(np.int32)
    arr = np.clip(
        np.stack([g + tex, g, 255 - g + tex], axis=-1), 0, 255
    ).astype(np.uint8)
    d420 = encode_jpeg(arr, quality=90, subsampling="420")
    out = decode_jpeg(d420)
    assert out.shape == arr.shape
    assert psnr(arr, out) >= 40.0
    assert len(d420) < len(encode_jpeg(arr, quality=90))
    # odd dims (not multiples of the 16px MCU)
    odd = arr[:45, :53]
    oo = decode_jpeg(encode_jpeg(odd, quality=92, subsampling="420"))
    assert oo.shape == (45, 53, 3) and psnr(odd, oo) >= 40.0
    # uniform stays exact through the subsampled path
    u = np.full((20, 28, 3), 90, dtype=np.uint8)
    got = sorted(set(decode_jpeg(
        encode_jpeg(u, quality=90, subsampling="420")
    ).ravel().tolist()))
    assert got == [90]


def test_jpeg_restart_markers_roundtrip():
    """DRI/RSTn (what camera firmware emits): restart-encoded streams
    decode bit-identically to the no-restart encoding of the same
    quantized coefficients, across 4:4:4/4:2:0 and odd dims; a
    wrong-sequence RST marker errors loudly."""
    import numpy as np
    import pytest

    from query_cost_feature_engineering_spark.jpeg import (
        decode_jpeg,
        encode_jpeg,
    )

    yy, xx = np.meshgrid(np.arange(45), np.arange(53), indexing="ij")
    g = ((yy * 255) // 44 + (xx * 255) // 52) // 2
    tex = (10 * np.sin(yy / 5.0) * np.cos(xx / 6.0)).astype(np.int32)
    arr = np.clip(
        np.stack([g + tex, g, 255 - g + tex], axis=-1), 0, 255
    ).astype(np.uint8)
    for sub, ri in (("444", 1), ("444", 3), ("420", 1), ("420", 2)):
        base = decode_jpeg(encode_jpeg(arr, quality=90, subsampling=sub))
        d = encode_jpeg(
            arr, quality=90, subsampling=sub, restart_interval=ri
        )
        assert any(
            d[i] == 0xFF and 0xD0 <= d[i + 1] <= 0xD7
            for i in range(2, len(d) - 1)
        )
        assert np.array_equal(decode_jpeg(d), base)
    # wrong RST sequence number must raise, not desync silently
    d = encode_jpeg(
        np.full((32, 32, 3), 100, np.uint8), restart_interval=1
    )
    b = bytearray(d)
    i = b.find(b"\xff\xd0")
    b[i + 1] = 0xD5
    with pytest.raises(ValueError, match="restart boundary"):
        decode_jpeg(bytes(b))


def test_jpeg_422_subsampling_roundtrip():
    """4:2:2 (horizontal-only chroma decimation, the broadcast/video
    convention): 2x1 sampling roundtrips at PSNR >= 40 dB on
    chroma-smooth content, odd dims crop exactly."""
    import numpy as np

    from query_cost_feature_engineering_spark.jpeg import (
        decode_jpeg,
        encode_jpeg,
        psnr,
    )

    yy, xx = np.meshgrid(np.arange(45), np.arange(53), indexing="ij")
    g = ((yy * 255) // 44 + (xx * 255) // 52) // 2
    tex = (10 * np.sin(yy / 5.0) * np.cos(xx / 6.0)).astype(np.int32)
    luma = g + tex
    arr = np.clip(
        np.stack(
            [
                luma + 15.0 * np.sin(yy / 45.0),
                luma,
                luma + 15.0 * np.cos(xx / 53.0),
            ],
            axis=-1,
        ),
        0,
        255,
    ).astype(np.uint8)
    out = decode_jpeg(encode_jpeg(arr, quality=90, subsampling="422"))
    assert out.shape == (45, 53, 3)
    assert psnr(arr, out) >= 40.0


# --- JPEG decode kernel: bit-window entropy loop, one GEMM per component ----


def _jpeg_corpus():
    """Seeded baseline streams: every sampling layout x restart
    interval 0/1/3, odd sizes 1-90 px, noise and smooth content,
    qualities 5-100. Yields (arr, quality, subsampling, stream)."""
    from query_cost_feature_engineering_spark.jpeg import encode_jpeg

    rng = np.random.default_rng(29)
    sizes = [(1, 1), (7, 90), (90, 3), (33, 17), (45, 61), (16, 16),
             (1, 40), (61, 8), (23, 23)]
    for i, (sub, ri) in enumerate(
        (s, r) for s in ("444", "420", "422") for r in (0, 1, 3)
    ):
        h, w = sizes[i]
        if i % 2:
            arr = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
        else:
            yy, xx = np.mgrid[:h, :w]
            arr = np.stack(
                [(yy * 3 + xx) % 256, (xx * 5) % 256, (yy * 7) % 256], -1
            ).astype(np.uint8)
        q = int(rng.integers(5, 101))
        yield arr, q, sub, encode_jpeg(
            arr, quality=q, subsampling=sub, restart_interval=ri
        )


def test_jpeg_entropy_stage_returns_the_encoder_coefficients(monkeypatch):
    """The Huffman kernel alone, independent of float rounding: the
    quantized zigzag coefficients the scan decoder hands to
    reconstruction equal the encoder's ``_quantized_grids`` exactly."""
    from query_cost_feature_engineering_spark import jpeg

    monkeypatch.setattr(jpeg, "_reconstruct_planes", lambda zz, *a: zz)
    for arr, q, sub, data in _jpeg_corpus():
        grids = jpeg._quantized_grids(arr, q, sub)[0]
        got = jpeg.decode_jpeg(data)
        assert len(got) == 3
        for g, z in zip(grids, got):
            want = g.reshape(-1, 64)[:, jpeg._ZZ]
            assert np.array_equal(z, want), (arr.shape, q, sub)


def test_jpeg_idct_gemm_matches_einsum():
    """Dezigzag + dequant + IDCT as one 64x64 matrix equals the
    separable einsum formula it replaces."""
    from query_cost_feature_engineering_spark.jpeg import (
        _T8,
        _ZZ,
        _idct_matrix,
        _quality_tables,
    )

    rng = np.random.default_rng(3)
    zz = rng.integers(-64, 65, (40, 64)).astype(np.float64)
    for quality in (5, 50, 90, 100):
        for qt in _quality_tables(quality):
            coeff = np.zeros((40, 64))
            coeff[:, _ZZ] = zz * qt.ravel()[_ZZ]
            want = np.einsum(
                "xu,nuv,yv->nxy", _T8.T, coeff.reshape(-1, 8, 8), _T8.T
            ).reshape(-1, 64)
            got = zz @ _idct_matrix(qt.astype(np.int32).tobytes())
            assert np.allclose(got, want, rtol=0, atol=1e-9)


def test_jpeg_corrupt_streams_raise_valueerror():
    """Every truncation and byte flip of a few small baseline and
    progressive streams decodes or raises ValueError, never
    IndexError/KeyError/struct.error; a flip inside a header may also
    select an explicitly unsupported variant (NotImplementedError).
    Junk before an RST marker is a desync."""
    import pytest

    from query_cost_feature_engineering_spark.jpeg import (
        decode_jpeg,
        encode_jpeg,
    )
    from query_cost_feature_engineering_spark.jpeg_progressive import (
        encode_jpeg_progressive,
    )

    rng = np.random.default_rng(17)
    for enc, sub, ri, (h, w) in (
        (encode_jpeg, "444", 0, (9, 13)),
        (encode_jpeg, "420", 1, (17, 12)),
        (encode_jpeg, "422", 3, (8, 21)),
        (encode_jpeg_progressive, "420", 2, (9, 11)),
    ):
        arr = rng.integers(0, 256, (h, w, 3), dtype=np.uint8)
        d = enc(arr, quality=60, subsampling=sub, restart_interval=ri)
        scan = d.index(b"\xff\xda") + 14
        cases = [(d[:n], True) for n in range(len(d))]
        for i in range(2, len(d)):
            for x in (0x01, 0xFF) if i >= scan else (0xFF,):
                b = bytearray(d)
                b[i] ^= x
                cases.append((bytes(b), i >= scan))
        for c, in_scan in cases:
            try:
                decode_jpeg(c)
            except ValueError:
                pass
            except NotImplementedError:
                assert not in_scan, c

    d = encode_jpeg(np.full((32, 32, 3), 100, np.uint8), restart_interval=1)
    i = d.index(b"\xff\xd0")
    with pytest.raises(ValueError, match="restart boundary"):
        decode_jpeg(d[:i] + b"\x00" + d[i:])

    # an all-ones DC code for category 11 read from the 1-fill past an
    # empty scan adds 2047 to the DC predictor per block
    ones = b"\x02" + bytes(15)
    for sof, sos in ((0xC0, b"\x00\x3f\x00"), (0xC2, b"\x00\x00\x00")):
        d = (
            b"\xff\xd8\xff\xdb\x00\x43\x00" + b"\x01" * 64
            + bytes([0xFF, sof]) + b"\x00\x0b\x08\x00\x08\x00\xa0\x01\x01\x11\x00"
            + b"\xff\xc4\x00\x15\x00" + ones + b"\x00\x0b"
            + b"\xff\xc4\x00\x15\x10" + ones + b"\x01\x00"
            + b"\xff\xda\x00\x08\x01\x01\x00" + sos + b"\xff\xd9"
        )
        with pytest.raises(ValueError, match="coefficient out of range"):
            decode_jpeg(d)


def test_jpeg_decode_python_call_budget():
    """The entropy loop makes no call per symbol: a 64x64 decode stays
    under 500 profiled calls. A per-symbol ``_read_symbol``/``bits``
    loop made ~5,000 (4:4:4) and ~3,500 (4:2:0)."""
    import cProfile
    import pstats

    from query_cost_feature_engineering_spark.jpeg import (
        decode_jpeg,
        encode_jpeg,
    )

    yy, xx = np.mgrid[:64, :64]
    arr = np.stack(
        [yy * 4, xx * 4, (yy + xx) * 2 + 8 * np.sin(xx / 3.0)], -1
    ).clip(0, 255).astype(np.uint8)
    for sub in ("444", "420"):
        d = encode_jpeg(arr, quality=90, subsampling=sub)
        decode_jpeg(d)  # warm the per-table LUT and matrix caches
        prof = cProfile.Profile()
        prof.runcall(decode_jpeg, d)
        calls = pstats.Stats(prof).total_calls
        assert calls < 500, (sub, calls)


def test_jpeg_decode_memory_is_bounded():
    """Bit windows are built per bounded chunk of the segment, not per
    bit of the whole scan: a 256x256 q90 noise JPEG (120 KB of scan)
    decodes within 2x the byte-at-a-time reader's 10.8 MB
    tracemalloc peak; one window list for the whole scan peaked at
    ~76 MB."""
    import tracemalloc

    from query_cost_feature_engineering_spark.jpeg import (
        decode_jpeg,
        encode_jpeg,
    )

    arr = np.random.default_rng(0).integers(
        0, 256, (256, 256, 3), dtype=np.uint8
    )
    d = encode_jpeg(arr, quality=90)
    decode_jpeg(encode_jpeg(arr[:8, :8], quality=90))  # same tables: warm
    tracemalloc.start()
    try:
        decode_jpeg(d)
        peak = tracemalloc.get_traced_memory()[1]
    finally:
        tracemalloc.stop()
    assert peak <= 2 * 10.8e6, peak


def test_mp4_mjpeg_roundtrip_and_stsc_layouts():
    """ISO-BMFF mp4 with a 'jpeg' video track: encode/decode
    roundtrip at PSNR >= 40 dB; the decoder reconstructs sample
    offsets from the REAL stsc/stsz/stco tables, proven by re-muxing
    the same mdat into a 2-samples-per-chunk layout (fewer chunks,
    same bytes) and getting identical frames; AVC tracks and
    non-BMFF payloads refuse loudly."""
    import struct

    import numpy as np
    import pytest

    from query_cost_feature_engineering_spark.codecs import (
        decode_mp4,
        encode_mp4_mjpeg,
        psnr,
    )

    yy, xx = np.meshgrid(np.arange(24), np.arange(32), indexing="ij")
    g = (yy * 255) // 23
    g2 = (xx * 255) // 31
    frames = np.stack(
        [
            np.clip(
                np.stack([g + o, g2, (g + g2) // 2], axis=-1), 0, 255
            ).astype(np.uint8)
            for o in (0, 15, 30, 45, 60, 75)
        ]
    )
    d = encode_mp4_mjpeg(frames, fps=10, quality=92)
    out = decode_mp4(d)
    assert out.shape == frames.shape
    assert min(psnr(frames[i], out[i]) for i in range(len(frames))) >= 40.0

    # --- re-mux: 2 samples per chunk, mdat untouched -------------------
    def patch_box(buf, tag, new_payload):
        i = buf.find(tag)
        assert i >= 4
        old_len = struct.unpack(">I", buf[i - 4:i])[0]
        start, end = i - 4, i - 4 + old_len
        rebuilt = struct.pack(">I", 8 + len(new_payload)) + tag + new_payload
        return buf[:start] + rebuilt + buf[end:], old_len - len(rebuilt)

    b = bytes(d)
    i = b.find(b"stsz")
    n = struct.unpack(">I", b[i + 12:i + 16])[0]
    sizes = struct.unpack(f">{n}I", b[i + 16:i + 16 + 4 * n])
    i = b.find(b"stco")
    offs = struct.unpack(f">{n}I", b[i + 12:i + 12 + 4 * n])
    # chunk offsets = every other sample offset (samples are contiguous)
    pair_offs = [offs[k] for k in range(0, n, 2)]
    new_stco = struct.pack(">II", 0, len(pair_offs)) + b"".join(
        struct.pack(">I", o) for o in pair_offs
    )
    new_stsc = struct.pack(">II", 0, 1) + struct.pack(">III", 1, 2, 1)
    b, _ = patch_box(b, b"stco", new_stco)
    b, _ = patch_box(b, b"stsc", new_stsc)
    # moov sits after mdat, so shrinking it leaves sample offsets valid;
    # fix the enclosing box lengths (moov/trak/mdia/minf/stbl)
    for outer in (b"moov", b"trak", b"mdia", b"minf", b"stbl"):
        j = b.find(outer)
        inner_end = len(b)
        b = (
            b[: j - 4]
            + struct.pack(">I", inner_end - (j - 4))
            + b[j:]
        )
    np.testing.assert_array_equal(decode_mp4(b), out)

    # --- refusals ------------------------------------------------------
    raw = bytearray(d)
    k = raw.find(b"jpeg", raw.find(b"stsd"))
    raw[k:k + 4] = b"avc1"
    with pytest.raises(NotImplementedError, match="H.264"):
        decode_mp4(bytes(raw))
    with pytest.raises(ValueError, match="ftyp"):
        decode_mp4(b"\x00\x00\x00\x08free")


def test_g711_audioop_conformance_and_roundtrip():
    """G.711 μ-law/A-law (WAV tags 7/6): encoder swept over ALL 65,536
    int16 inputs and decoder over all 256 bytes against CPython's
    audioop (an independent build of the public Sun g711.c reference);
    pinned literal vectors keep the check alive if audioop disappears
    (removed in Python 3.13); WAV roundtrip SNR >= 30 dB, stereo
    interleave, dispatch via decode_audio, 2:1 size."""
    import numpy as np
    import pytest

    from query_cost_feature_engineering_spark.codecs import (
        _ALAW_LUT,
        _ULAW_LUT,
        alaw_encode,
        decode_wav,
        encode_wav_g711,
        ulaw_encode,
    )
    from query_cost_feature_engineering_spark.functions.multimodal import (
        decode_audio,
    )

    # audioop-independent pinned vectors (generated once FROM audioop)
    vecs = [  # (pcm, ulaw_byte, alaw_byte, ulaw_dec, alaw_dec)
        (-32768, 0x00, 0x2A, -32124, -32256),
        (-12345, 0x17, 0x3D, -12412, -12544),
        (-1, 0x7E, 0x55, -8, -8),
        (0, 0xFF, 0xD5, 0, 8),
        (77, 0xF5, 0xD1, 80, 72),
        (500, 0xDC, 0xCA, 492, 504),
        (8159, 0x9F, 0x8A, 8316, 8064),
        (32767, 0x80, 0xAA, 32124, 32256),
    ]
    for v, ub, ab, ud, ad in vecs:
        a = np.array([v], dtype=np.int16)
        assert int(ulaw_encode(a)[0]) == ub and int(alaw_encode(a)[0]) == ab
        assert int(_ULAW_LUT[ub]) == ud and int(_ALAW_LUT[ab]) == ad

    try:
        import warnings

        with warnings.catch_warnings():
            warnings.simplefilter("ignore")
            import audioop
    except ImportError:
        audioop = None
    if audioop is not None:  # exhaustive independent conformance
        all16 = np.arange(-32768, 32768, dtype=np.int16)
        assert np.array_equal(
            ulaw_encode(all16),
            np.frombuffer(audioop.lin2ulaw(all16.tobytes(), 2), np.uint8),
        )
        assert np.array_equal(
            alaw_encode(all16),
            np.frombuffer(audioop.lin2alaw(all16.tobytes(), 2), np.uint8),
        )
        allb = bytes(range(256))
        assert np.array_equal(
            _ULAW_LUT, np.frombuffer(audioop.ulaw2lin(allb, 2), "<i2")
        )
        assert np.array_equal(
            _ALAW_LUT, np.frombuffer(audioop.alaw2lin(allb, 2), "<i2")
        )

    t = np.arange(16000) / 8000.0
    sig = (20000 * np.sin(2 * np.pi * 440 * t)).astype(np.int16)
    for law in ("ulaw", "alaw"):
        data = encode_wav_g711(sig, rate=8000, law=law)
        dec, rate = decode_wav(data)
        assert rate == 8000 and dec.shape == (16000, 1)
        err = (dec[:, 0].astype(np.float64) - sig).astype(np.float64)
        snr = 10 * np.log10(
            float((sig.astype(np.float64) ** 2).mean()) / float((err**2).mean())
        )
        assert snr >= 30.0
        assert len(data) < len(sig) * 2 * 0.55  # real 2:1 compression
        got, _ = decode_audio(data)  # magic-byte dispatch path
        assert got.shape[0] == 16000
    # stereo interleave roundtrips per channel
    st = np.stack([sig[:257], (-sig[:257]).astype(np.int16)], axis=1)
    d2, _ = decode_wav(encode_wav_g711(st.astype(np.int16), 8000, "alaw"))
    assert d2.shape == (257, 2)
    exp = _ALAW_LUT[alaw_encode(st.astype(np.int16))]
    assert np.array_equal(d2, exp)
    with pytest.raises(ValueError, match="law"):
        encode_wav_g711(sig, 8000, law="mp3")


def test_audio_corpus_cycles_eight_formats():
    """generate_audio_pandas cycles eight slots, wav/wav/adpcm/ulaw/
    alaw/flac/aiff/au; every clip decodes through the single dispatch with the
    declared sample count, each WAV variant carries its distinct
    format tag, and the container magics line up."""
    import struct

    import numpy as np

    from query_cost_feature_engineering_spark.functions.multimodal import (
        decode_audio,
    )
    from query_cost_feature_engineering_spark.sources.media import (
        generate_audio_pandas,
    )

    df = generate_audio_pandas(24, seed=53)
    assert sorted(df["fmt"].unique()) == [
        "adpcm", "aiff", "alaw", "au", "flac", "ulaw", "wav",
    ]
    tags = {"wav": 1, "adpcm": 17, "ulaw": 7, "alaw": 6}
    magics = {"flac": b"fLaC", "aiff": b"FORM", "au": b".snd"}
    for _, r in df.iterrows():
        b = bytes(r["bytes"])
        pcm, rate = decode_audio(b)
        assert pcm.shape[0] == r["n_samples_true"]
        assert rate == (
            8000 if r["fmt"] in ("ulaw", "alaw", "au") else 16000
        )
        if r["fmt"] in tags:
            i = b.index(b"fmt ") + 8
            (tag,) = struct.unpack_from("<H", b, i)
            assert tag == tags[r["fmt"]]
        elif r["fmt"] in magics:
            assert b[:4] == magics[r["fmt"]]
