"""Robust audio fingerprint deduplication — content-based multimodal
dedup, the AUDIO sibling of B120's image pHash (B130).

Byte hashing cannot see that two WAV files carry the same recording
(different header padding, re-gained copies, sparse dropouts); the
published fix is the Philips Robust Hash (Haitsma & Kalker 2002, "A
Highly Robust Audio Fingerprint Based On Band Energies" — the
chromaprint/AcoustID family's ancestor): frame the signal, compute
per-frame spectral BAND ENERGIES, and take the sign of the
energy-difference-of-differences across (band, frame) as the bit:

    bit(n, m) = 1  iff  (E[n][m] - E[n][m+1])
                      - (E[n-1][m] - E[n-1][m+1]) > 0

The double difference makes the bits invariant to global gain (a
volume change scales every energy by g^2 > 0 — every sign survives,
test-pinned) and robust to small local edits. This implementation
keeps the recipe but simplifies two knobs, documented: LINEAR
frequency bands instead of Philips' log-spaced bark bands (log
spacing models human hearing for real recordings; the synthetic
fixtures spread their components linearly), and 4 selected frame
pairs x 16 band-differences packed into ONE 64-bit clip hash instead
of a per-frame fingerprint stream (the clip-retrieval granularity —
matching B120's 64-bit shape so the dedup machinery is SHARED).

Spark shape, and why it holds at 100 TB — identical to B120 by
construction:

- DECODE IS THE NARROW STAGE: WAV payloads decode and fingerprint
  inside one ``mapInPandas`` pass; each clip leaves as ONE 8-byte row.
- EXACT CONTENT DEDUP IS A HASH GROUPBY on the fingerprint.
- NEAR-DUP CANDIDATES by the SAME 4x16-bit pigeonhole banding over
  DISTINCT hashes (``phash.phash_near_pairs(col="afp")`` — reused,
  not re-implemented): Hamming <= 3 implies agreement on >= 1 band,
  zero false negatives, and a viral clip with a million copies is one
  row by the time pairs form.

Fixtures: deterministic sinusoid-sum clips keyed by the documents
table (3 components, doc-derived frequencies/phases, int16 PCM in the
engine's own ``multimodal.encode_wav``-style RIFF container built
from REAL sample bytes). Planted by residue: exact PCM copies
(Hamming 0), gain-scaled copies (x0.9 — sign-invariance up to int16
re-quantization, expect tiny Hamming), sparse-dropout copies, and
torn payloads (error rows).

Reference parity: none (no analytics in the 412-LoC reference);
BASELINE.json north-star tier (multimodal curation at 100 TB).
NON-SQL-EXPRESSIBLE (payload bytes never exist in SQL); direct tests
replay every fingerprint with an independently-structured
python-loop DCT and brute-force every Hamming pair
(tests/test_audiofp.py).
"""

from __future__ import annotations

import math
import struct
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from .phash import (
    _asset_id_scan,
    _dct_matrix,
    fingerprint_batches,
    media_dedup_verdict,
)

AFP_SR = 8000          # fixture sample rate (Hz)
AFP_FRAME = 512        # frame length (samples)
AFP_HOP = 256          # hop (50% overlap — the Philips framing)
AFP_FRAMES = 17        # frames per clip -> 16 adjacent pairs
AFP_SAMPLES = AFP_FRAME + (AFP_FRAMES - 1) * AFP_HOP  # 4608
AFP_BANDS = 17         # 17 band energies -> 16 difference bits/pair
AFP_PAIRS = (2, 6, 10, 14)  # 4 selected pairs x 16 bits = 64 bits
# linear bands over DCT bins [32, 457): bin k ~ k * SR/(2*FRAME) Hz,
# so the banded range is ~250-3570 Hz — brackets every fixture
# component (300-3300 Hz)
AFP_BIN_LO = 32
AFP_BAND_W = 25
AFP_MAX_HAMMING = 3
_TORN_EVERY = 89       # every 89th clip's data chunk is truncated

# only the banded bin rows of the DCT basis are ever needed — the
# einsum below computes 425x512 per frame instead of 512x512 (the
# B120 fixed-order-einsum BLAS-immunity argument, trimmed to the used
# spectrum)
_DCT_BANDED = _dct_matrix(AFP_FRAME)[
    AFP_BIN_LO : AFP_BIN_LO + AFP_BANDS * AFP_BAND_W
]


def band_energies(samples: np.ndarray) -> np.ndarray:
    """(AFP_FRAMES, AFP_BANDS) band-energy matrix of an int16 clip.
    Deterministic float64: the per-frame banded spectrum is the
    orthonormal DCT-II via fixed-order einsum, energies are
    squared-coefficient sums over fixed bin ranges."""
    if samples.size < AFP_SAMPLES:
        raise ValueError(
            f"clip too short: {samples.size} < {AFP_SAMPLES} samples"
        )
    x = samples[:AFP_SAMPLES].astype(np.float64)
    frames = np.stack(
        [x[i * AFP_HOP : i * AFP_HOP + AFP_FRAME] for i in range(AFP_FRAMES)]
    )
    spec = np.einsum("ij,kj->ki", _DCT_BANDED, frames)  # (frames, bins)
    e = np.empty((AFP_FRAMES, AFP_BANDS))
    for m in range(AFP_BANDS):
        lo = m * AFP_BAND_W
        e[:, m] = np.square(spec[:, lo : lo + AFP_BAND_W]).sum(axis=1)
    return e


def afp64(samples: np.ndarray) -> int:
    """The 64-bit clip fingerprint: for each selected frame pair n and
    band m, bit = sign of the Philips double difference. Gain
    invariance by construction (energies scale uniformly under volume
    change); bit 63 belongs to the last (pair, band) slot like any
    other — the value is masked into a non-negative BIGINT and the
    dropped sign bit is shared by both sides of every comparison."""
    e = band_energies(samples)
    bits = 0
    slot = 0
    for n in AFP_PAIRS:
        for m in range(AFP_BANDS - 1):
            d = (e[n][m] - e[n][m + 1]) - (e[n - 1][m] - e[n - 1][m + 1])
            if d > 0:
                bits |= 1 << slot
            slot += 1
    return bits & ((1 << 63) - 1)


# --- deterministic clip fixtures -------------------------------------------

def clip_samples(seed: int) -> np.ndarray:
    """int16 PCM: five AM'd sinusoids with seed-derived frequencies,
    phases, and AM rates — enough spectral AND temporal structure that
    every band-difference bit carries real margin (a bare tone leaves
    most double differences near zero and the hash degenerates into
    re-quantization coin flips; too-narrow frequency mixing made
    distinct seeds collide within the Hamming radius — both measured
    while building the fixture, both pinned by the corpus-wide
    separation test)."""
    t = np.arange(AFP_SAMPLES, dtype=np.float64) / AFP_SR
    x = np.zeros(AFP_SAMPLES)
    for k in range(5):
        f = 300.0 + 6.5 * ((seed * 101 + k * 89) % 500)
        ph = 2.0 * math.pi * ((seed * 13 + 5 * k) % 97) / 97.0
        # per-component AM at a seed-derived rate keeps frame energies
        # varying, so the across-frame difference term has margin
        am_hz = 1.0 + ((seed + 3 * k) % 7)
        am = 1.0 + 0.35 * np.sin(2.0 * math.pi * am_hz * t + ph)
        x += (8000.0 / 5.0) * am * np.sin(2.0 * math.pi * f * t + ph)
    return np.clip(np.round(x), -32768, 32767).astype(np.int16)


def gain_scale(samples: np.ndarray, gain: float = 0.9) -> np.ndarray:
    """The re-gained copy fixture (volume change + int16
    re-quantization)."""
    return np.clip(
        np.round(samples.astype(np.float64) * gain), -32768, 32767
    ).astype(np.int16)


def dropout(samples: np.ndarray, step: int = 101) -> np.ndarray:
    """Sparse dropout: every ``step``-th sample attenuated 5% — the
    damaged re-encode fixture. The attenuation is deliberately gentle:
    impulsive damage is BROADBAND, and a harsher touch injects enough
    energy into every band to flip signs past the Hamming radius
    (measured: halving every 101st sample cost up to 14 bits; this
    form stays within the radius corpus-wide, pinned by test)."""
    out = samples.astype(np.float64).copy()
    out[::step] *= 0.95
    return np.clip(np.round(out), -32768, 32767).astype(np.int16)


def encode_clip_wav(samples: np.ndarray) -> bytes:
    """Minimal mono 16-bit RIFF/WAVE around REAL sample bytes (the
    ``multimodal.encode_wav`` framing with a payload that matters)."""
    data = samples.astype("<i2").tobytes()
    fmt = struct.pack("<HHIIHH", 1, 1, AFP_SR, AFP_SR * 2, 2, 16)
    body = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
    body += b"data" + struct.pack("<I", len(data)) + data
    return b"RIFF" + struct.pack("<I", len(body)) + body


def decode_clip_wav(payload: bytes) -> np.ndarray:
    """Strict minimal RIFF/WAVE PCM reader (mono 16-bit): walks the
    chunk list, validates fmt, and REFUSES a data chunk shorter than
    its declared length — the torn-file arm."""
    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    pos, fmt, data = 12, None, None
    while pos + 8 <= len(payload):
        cid = payload[pos : pos + 4]
        (clen,) = struct.unpack("<I", payload[pos + 4 : pos + 8])
        body = payload[pos + 8 : pos + 8 + clen]
        if cid == b"fmt ":
            fmt = struct.unpack("<HHIIHH", body[:16])
        elif cid == b"data":
            if len(body) < clen:
                raise ValueError("truncated WAVE data chunk")
            data = body
        pos += 8 + clen + (clen & 1)
    if fmt is None or data is None:
        raise ValueError("WAVE missing fmt or data chunk")
    if fmt[0] != 1 or fmt[1] != 1 or fmt[5] != 16:
        raise ValueError("unsupported WAVE encoding (want mono PCM16)")
    return np.frombuffer(data, dtype="<i2")


def afp_spec(doc_id: int) -> dict:
    """Single source of truth for the fixture corpus (the B120
    ``phash_spec`` discipline — the direct tests replay it byte for
    byte). Returns {seed, variant, torn}: ``seed`` picks the content,
    ``variant`` the planted transform. Residue plan (mod 13): 5 ->
    exact PCM copy of doc_id-2's content, 7 -> gain-scaled copy of
    doc_id-4's, 9 -> sparse-dropout copy of doc_id-6's; every partner
    lands on residue 3, which is always a base clip under its own
    seed. Torn rides ``doc_id % 89 == 0`` (the WARC/media battery
    convention, its own modulus so it crosses every variant)."""
    r = doc_id % 13
    if r == 5 and doc_id >= 2:
        return {"seed": doc_id - 2, "variant": "copy", "torn": doc_id % _TORN_EVERY == 0}
    if r == 7 and doc_id >= 4:
        return {"seed": doc_id - 4, "variant": "gain", "torn": doc_id % _TORN_EVERY == 0}
    if r == 9 and doc_id >= 6:
        return {"seed": doc_id - 6, "variant": "dropout", "torn": doc_id % _TORN_EVERY == 0}
    return {"seed": doc_id, "variant": "base", "torn": doc_id % _TORN_EVERY == 0}


def afp_payload(doc_id: int) -> bytes:
    spec = afp_spec(doc_id)
    s = clip_samples(spec["seed"])
    if spec["variant"] == "gain":
        s = gain_scale(s)
    elif spec["variant"] == "dropout":
        s = dropout(s)
    p = encode_clip_wav(s)
    if spec["torn"]:
        p = p[: len(p) - len(p) // 3]  # mid-data truncation
    return p


def _synth_fp_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """``phash.fingerprint_batches`` over ``afp_payload`` bytes, decoded
    by ``decode_clip_wav`` and fingerprinted by ``afp64``."""
    return fingerprint_batches(
        batches, "afp", lambda d: afp64(decode_clip_wav(afp_payload(d)))
    )


def afp_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(asset_id, afp, error): synth + decode + fingerprint in ONE
    narrow Arrow stage — each clip leaves as one 8-byte row and the
    payload bytes never cross the Python/JVM boundary. The asset-id
    universe is ``phash._asset_id_scan``, shared by every media family
    (CPU-heavy small scan: the B120 spread discipline)."""
    return _asset_id_scan(spark, sf_dir).mapInPandas(
        _synth_fp_batch, "asset_id long, afp long, error string"
    )


def q_audio_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(asset_id, afp, content_id, near_id, hamming_to_near, error):
    the per-clip fingerprint-dedup verdict (``phash.media_dedup_verdict``
    — the same shape as q_phash_dedup). Torn payloads surface as error
    rows. (Unregistered, NON-SQL-EXPRESSIBLE — payload bytes never
    exist in SQL; direct tests replay every fingerprint and
    brute-force every pair.)"""
    return media_dedup_verdict(
        afp_fingerprints(spark, sf_dir), "afp", AFP_MAX_HAMMING
    )


UNREGISTERED_AUDIOFP_QUERIES = {"q_audio_dedup": q_audio_dedup}
UNREGISTERED_AUDIOFP_ORACLES: dict = {}
