"""Deterministic synthetic video/audio clip tables (multimodal test input).

Same philosophy as ``sources/images.py``: fully seeded, no external data.
Every payload is a real container written by the in-repo encoders
(``codecs.py``, ``gif.py``, ``flac.py``), so the queries over these
tables run the same decoders as any real input."""

from __future__ import annotations

import numpy as np
import pandas as pd


def generate_videos_pandas(n: int, seed: int = 52) -> pd.DataFrame:
    """Mixed-format clip table, four REAL dispatch paths per query
    run: clips cycle uncompressed-DIB AVI (``codecs.encode_avi_dib``;
    RGB noise, then grey noise), Motion-JPEG AVI (``codecs.encode_avi_mjpeg``:
    genuinely compressed frames via the pure-NumPy T.81 codec),
    ISO-BMFF .mp4 with a 'jpeg' video track
    (``codecs.encode_mp4_mjpeg``), and — round 5 — animated GIF89a
    (``gif.encode_gif``: real LZW-compressed paletted frames,
    lossless), all through one magic-byte + fourcc dispatch
    (``functions.multimodal.decode_video``). MJPG/mp4 frames use
    smooth content (gradient + per-frame offset), not noise — lossy
    codecs only owe fidelity on photograph-like signals; GIF clips
    use paletted content (a ≤256-color format is lossless only on
    paletted frames)."""
    from query_cost_feature_engineering_spark.codecs import (
        encode_avi_dib,
        encode_avi_mjpeg,
        encode_mp4_mjpeg,
    )
    from query_cost_feature_engineering_spark.gif import encode_gif

    rng = np.random.default_rng(seed)
    rows = []
    for i in range(n):
        nf = int(rng.integers(8, 40))
        h = int(rng.choice([16, 24, 32]))
        w = int(rng.choice([16, 24, 32]))
        kind = ("avi", "avi", "mjpg", "mp4", "gif")[i % 5]
        if kind == "avi":
            grey = i % 5 == 1  # one noise channel, stored three times
            frames = rng.integers(0, 256, size=(nf, h, w, 1 if grey else 3))
            frames = np.repeat(frames, 3 if grey else 1, axis=3)
            data = encode_avi_dib(frames.astype(np.uint8))
        elif kind == "gif":
            pal = rng.integers(0, 256, size=(32, 3)).astype(np.uint8)
            idx = rng.integers(0, 32, size=(nf, h, w))
            frames = pal[idx]
            data = encode_gif(frames, delays_cs=[10] * nf)
        elif kind in ("mjpg", "mp4"):
            yy, xx = np.meshgrid(np.arange(h), np.arange(w), indexing="ij")
            g = (yy * 255) // max(h - 1, 1)
            g2 = (xx * 255) // max(w - 1, 1)
            offs = rng.integers(0, 60, size=nf)
            frames = np.stack(
                [
                    np.clip(
                        np.stack([g + int(o), g2, (g + g2) // 2], axis=-1),
                        0,
                        255,
                    ).astype(np.uint8)
                    for o in offs
                ]
            )
            if kind == "mjpg":
                data = encode_avi_mjpeg(frames, quality=92)
            else:
                data = encode_mp4_mjpeg(frames, quality=92)
        rows.append(
            {
                "media_id": f"vid{i:06d}",
                "bytes": data,
                "n_frames_true": nf,
                "fmt": kind,
            }
        )
    return pd.DataFrame(rows)


def generate_static_videos_pandas(n: int, seed: int = 54) -> pd.DataFrame:
    """Scene-structured clip table for frame-dedup queries: each video
    is a sequence of SCENES — a base frame repeated 2-8 times with
    per-pixel ±1 jitter (near-static runs, the camera-on-a-tripod
    shape) — so consecutive-frame perceptual hashes collide within a
    scene and jump across scene cuts. Every clip is
    uncompressed-DIB AVI; odd clips are grey (three equal channels).
    Returns the ORIGINAL frame arrays too (``frames_true``, object
    column, never written to parquet) so fixtures can recompute
    expected hashes without the decode path under test."""
    from query_cost_feature_engineering_spark.codecs import encode_avi_dib

    rng = np.random.default_rng(seed)
    rows = []
    for i in range(n):
        h = int(rng.choice([16, 24, 32]))
        w = int(rng.choice([16, 24, 32]))
        n_scenes = int(rng.integers(2, 6))
        frames = []
        for _ in range(n_scenes):
            base = rng.integers(0, 256, size=(h, w, 3)).astype(np.int16)
            run = int(rng.integers(2, 9))
            for _ in range(run):
                jit = rng.integers(-1, 2, size=(h, w, 3))
                frames.append(
                    np.clip(base + jit, 0, 255).astype(np.uint8)
                )
        arr = np.stack(frames)
        if i % 2:
            arr = np.repeat(arr[:, :, :, :1], 3, axis=3)
        rows.append(
            {
                "media_id": f"svid{i:06d}",
                "bytes": encode_avi_dib(arr),
                "n_frames_true": arr.shape[0],
                "fmt": "avi",
                "frames_true": arr,
            }
        )
    return pd.DataFrame(rows)


def generate_audio_pandas(n: int, seed: int = 53) -> pd.DataFrame:
    """Mixed-format clip table, seven REAL dispatch paths per query
    run: clips cycle RIFF/PCM16 WAV (``codecs.encode_wav_pcm16``, two
    slots of the eight), IMA ADPCM WAV (``codecs.encode_wav_adpcm``:
    genuinely compressed 4-bit audio, format tag 17), and — round 5 —
    G.711 μ-law and A-law WAV (``codecs.encode_wav_g711``: the real
    telephony companding codecs, tags 7/6, audioop-conformance-swept),
    FLAC (``flac.encode_flac``: real lossless Rice-coded frames,
    CRC-8/CRC-16/MD5-verified), big-endian AIFF
    (``codecs.encode_aiff``: IFF container, 80-bit extended-float
    sample rate) and Sun AU (``codecs.encode_au``: μ-law payload over
    the same swept G.711 LUT), all through one magic-byte +
    format-tag dispatch (``functions.multimodal.decode_audio``).
    ADPCM and FLAC clips carry smooth band-limited content (summed
    sines) — a predictive codec only owes fidelity (ADPCM) or
    compression (FLAC) on audio-like signals; G.711 is memoryless so
    its clips keep the noise content (8 kHz rate, per telephony
    convention)."""
    from query_cost_feature_engineering_spark.codecs import (
        encode_aiff,
        encode_au,
        encode_wav_adpcm,
        encode_wav_g711,
        encode_wav_pcm16,
    )
    from query_cost_feature_engineering_spark.flac import encode_flac

    rng = np.random.default_rng(seed)
    rows = []
    for i in range(n):
        ns = int(rng.integers(1600, 48000))
        kind = (
            "wav", "wav", "adpcm", "ulaw", "alaw", "flac", "aiff", "au"
        )[i % 8]
        if kind in ("adpcm", "flac"):
            t = np.arange(ns) / 16000.0
            f1, f2 = rng.uniform(80, 400), rng.uniform(400, 2000)
            sig = 9000 * np.sin(2 * np.pi * f1 * t) + 3000 * np.sin(
                2 * np.pi * f2 * t
            )
            pcm = sig.astype(np.int16)
            if kind == "flac":
                # stereo: slightly decorrelated channels exercise the
                # auto mid-side decision + stereo decode in the UDF path
                st = np.stack([pcm, (pcm // 2)], axis=1).astype(np.int16)
                data = encode_flac(st, rate=16000, stereo_mode="auto")
            else:
                data = encode_wav_adpcm(pcm, rate=16000)
        elif kind in ("ulaw", "alaw"):
            pcm = (rng.standard_normal(ns) * 3000).astype(np.int16)
            data = encode_wav_g711(pcm, rate=8000, law=kind)
        elif kind == "aiff":
            pcm = (rng.standard_normal(ns) * 3000).astype(np.int16)
            data = encode_aiff(pcm, rate=16000)
        elif kind == "au":
            pcm = (rng.standard_normal(ns) * 3000).astype(np.int16)
            data = encode_au(pcm, rate=8000, encoding="ulaw")
        else:
            pcm = (rng.standard_normal(ns) * 3000).astype(np.int16)
            data = encode_wav_pcm16(pcm, rate=16000)
        rows.append(
            {
                "clip_id": f"aud{i:06d}",
                "bytes": data,
                "n_samples_true": ns,
                "fmt": kind,
            }
        )
    return pd.DataFrame(rows)


def generate_audio_dedup_pandas(n: int = 96, seed: int = 59) -> pd.DataFrame:
    """Fingerprint-dedup corpus: groups of 4 clips — [base, exact
    byte-duplicate, amplitude-DOUBLED re-encode (different bytes, same
    fingerprint: x*2 scales every band energy by exactly 4, preserving
    every frame-delta sign), independent clip]. ``dup_of`` carries the
    planted ground truth (clip_id of the original, else None). Base
    amplitude is clipped to ±8000 so the doubled copy never clips."""
    from query_cost_feature_engineering_spark.codecs import encode_wav_pcm16

    rng = np.random.default_rng(seed)
    rows = []
    last_pcm, last_id = None, None
    for i in range(n):
        cid = f"fpc{i:06d}"
        role = i % 4
        if role in (0, 3):
            ns = int(rng.integers(12000, 48000))
            pcm = (
                np.clip(rng.standard_normal(ns) * 2500, -8000, 8000)
                .astype(np.int16)
            )
            data = encode_wav_pcm16(pcm, rate=16000)
            dup_of = None
            if role == 0:
                last_pcm, last_id = pcm, cid
        elif role == 1:
            data = encode_wav_pcm16(last_pcm, rate=16000)
            dup_of = last_id
        else:  # role == 2: louder re-master of the same recording
            data = encode_wav_pcm16(
                (last_pcm.astype(np.int32) * 2).astype(np.int16), rate=16000
            )
            dup_of = last_id
        rows.append(
            {"clip_id": cid, "bytes": data, "fmt": "wav", "dup_of": dup_of}
        )
    return pd.DataFrame(rows)


def generate_audio_neardup_pandas(n_pairs: int = 30, seed: int = 62) -> pd.DataFrame:
    """Near-dup corpus: pairs of [base, NOISED re-master] — per-sample
    uniform noise of amplitude cycling {200, 400, 800} over a sigma-2500
    signal, so the copy's fingerprint differs in a FEW bits (measured:
    hamming <= 9 at the strongest level; unrelated clips measure >= 23)
    — the case exact-fingerprint dedup misses and banded hamming
    catches. ``near_of`` carries the planted truth."""
    from query_cost_feature_engineering_spark.codecs import encode_wav_pcm16

    rng = np.random.default_rng(seed)
    rows = []
    for i in range(n_pairs):
        ns = int(rng.integers(12000, 48000))
        pcm = (
            np.clip(rng.standard_normal(ns) * 2500, -8000, 8000)
            .astype(np.int16)
        )
        amp = (200, 400, 800)[i % 3]
        noised = np.clip(
            pcm.astype(np.int32) + rng.integers(-amp, amp + 1, ns),
            -32768, 32767,
        ).astype(np.int16)
        base_id = f"nda{i:06d}"
        rows.append(
            {"clip_id": base_id, "bytes": encode_wav_pcm16(pcm, 16000),
             "fmt": "wav", "near_of": None}
        )
        rows.append(
            {"clip_id": f"ndb{i:06d}",
             "bytes": encode_wav_pcm16(noised, 16000),
             "fmt": "wav", "near_of": base_id}
        )
    return pd.DataFrame(rows)
