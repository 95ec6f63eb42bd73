"""Video content fingerprint deduplication — the VIDEO sibling of
B120's image pHash and B130's audio fingerprint (B132, VERDICT r11
#2): completes the multimodal dedup battery (text x12, image, audio,
video metadata via B116 — video CONTENT was the last gap).

Byte hashing cannot see that two Y4M streams carry the same footage
(brightness-graded copies, re-encode quantization jitter, sparse pixel
dropouts); the standard fix is a FRAME-SAMPLED perceptual hash (the
published video-copy-detection baseline — e.g. the TRECVID CBCD
track's keyframe-DCT family): sample a fixed set of temporal
positions, perceptual-hash each sampled frame's luma, and concatenate
the per-frame signatures into one clip hash.

    vfp64 = 4 sampled frames (at 1/8, 3/8, 5/8, 7/8 of the clip)
            x 16-bit per-frame core
    core  = signs of ADJACENT BLOCK-MEAN DIFFERENCES over a 4x5 grid
            of the 32x32 luma resample (B120's ``_resample32``,
            reused) — 4 rows x 4 horizontal differences = 16 bits.
            This is the spatial twin of B130's Philips band-energy
            difference bits, and it was CHOSEN BY MEASUREMENT over
            the DCT-median core (B120's recipe at 4x4): with only 15
            ACs the median threshold couples bits through the rank
            order and an 8-gray-level brightness grade flipped up to
            10 bits; sign-of-difference bits have independent margins
            and the same grade flips <= 2 corpus-wide (pinned).

The per-frame core is brightness- and gain-robust by construction (a
uniform luma shift cancels in every difference; a gain scales every
difference without moving its sign — both exactly, up to uint8
clipping at the extremes) and each frame's bits occupy ONE 16-bit
band of the clip hash, so damage confined to one sampled frame stays
confined to one band — exactly the pigeonhole banding's structure.
Honest trade, shared by every 64-bit perceptual hash: collision
probability between genuinely distinct clips grows with corpus size
(measured: first collision near 2 k fixture clips), so near-pairs are
CANDIDATES — production verifies with an exact comparison or hands
the edge list to ``connected_components``, the same post-filter
contract as MinHash banding.

Spark shape, identical to B120/B130 by construction:

- DECODE IS THE NARROW STAGE: Y4M payloads decode (strict ISO-style
  framing walk, the ``multimodal.py`` Y4M contract with the pixel
  planes actually READ) and fingerprint inside one ``mapInPandas``
  pass; each clip leaves as ONE 8-byte row.
- EXACT CONTENT DEDUP IS A HASH GROUPBY on the fingerprint.
- NEAR-DUP CANDIDATES by the SAME 4x16-bit pigeonhole banding over
  DISTINCT hashes (``phash.phash_near_pairs(col="vfp")`` — reused):
  Hamming <= 3 implies agreement on >= 1 band, zero false negatives,
  and a viral clip with a million copies is one row by the time pairs
  form.

Fixtures: deterministic moving sinusoid-field clips keyed by the
documents table (8 spatial components with 1/k natural-image
amplitude decay — the B120 broad-spectrum lesson — plus per-component
temporal phase velocity so frames genuinely differ), 4:2:0 Y4M with
REAL luma planes (the engine's own ``multimodal.encode_y4m`` framing;
its zero-pixel payload synthesizer never read the planes, this one
does). Planted by residue: exact byte copies, re-encode quantization
jitter (±1 alternating-pixel), brightness-graded copies (+8 luma),
sparse dropout copies, and torn payloads (error rows).

Reference parity: none (no analytics in the 412-LoC reference);
BASELINE.json north-star tier (multimodal curation at 100 TB).
NON-SQL-EXPRESSIBLE (payload bytes never exist in SQL); direct tests
replay every fingerprint with an independently-structured python-loop
DCT and brute-force every Hamming pair (tests/test_videofp.py).
"""

from __future__ import annotations

import math
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from .phash import (
    _asset_id_scan,
    _resample32,
    fingerprint_batches,
    media_dedup_verdict,
)

VFP_W = 48             # fixture frame size (4:2:0 wants even dims)
VFP_H = 32
VFP_SAMPLES = 4        # sampled frames per clip -> 4 x 16-bit bands
VFP_GRID_R = 4         # block grid rows over the 32x32 resample
VFP_GRID_C = 5         # block grid cols -> 4x4 horizontal diffs = 16 bits
VFP_MIN_FRAMES = 4     # below this the sample positions collide
VFP_MAX_HAMMING = 3
_TORN_EVERY = 89       # every 89th clip's last frame is truncated
# integer column boundaries of the 5 grid cells over 32 columns
_COL_BOUNDS = [(c * 32) // VFP_GRID_C for c in range(VFP_GRID_C)] + [32]


def sample_indices(n_frames: int) -> list[int]:
    """The 4 sampled temporal positions: 1/8, 3/8, 5/8, 7/8 of the
    clip — fixed FRACTIONS, not fixed offsets, so copies that keep the
    frame count sample identical frames regardless of clip length."""
    if n_frames < VFP_MIN_FRAMES:
        raise ValueError(f"clip too short: {n_frames} < {VFP_MIN_FRAMES} frames")
    return [((2 * j + 1) * n_frames) // 8 for j in range(VFP_SAMPLES)]


def frame_core16(luma: np.ndarray) -> int:
    """The 16-bit per-frame core: box-resample the luma plane to
    32x32 (``_resample32``, reused from B120), average over a 4x5
    block grid, bit (r, c) = sign of the horizontal block-mean
    difference means[r][c] - means[r][c+1] — the spatial form of
    B130's band-energy difference bits. A uniform brightness shift
    cancels in every difference and a uniform gain scales every
    difference positively, so both transforms are sign-invariant by
    construction (up to uint8 clipping). 4 rows x 4 diffs = bits
    0..15, slot order row-major."""
    small = _resample32(luma.astype(np.float64))
    bits = 0
    slot = 0
    for r in range(VFP_GRID_R):
        rows = small[r * 8 : (r + 1) * 8, :]
        means = [
            rows[:, _COL_BOUNDS[c] : _COL_BOUNDS[c + 1]].mean()
            for c in range(VFP_GRID_C)
        ]
        for c in range(VFP_GRID_C - 1):
            if means[c] - means[c + 1] > 0:
                bits |= 1 << slot
            slot += 1
    return bits


def vfp64(frames: list[np.ndarray]) -> int:
    """The 64-bit clip fingerprint: sampled frame j's 16-bit core in
    bit band [16j, 16j+16). Masked into a non-negative BIGINT (the
    ``afp64`` rule): the 4th frame's top difference bit is dropped on
    BOTH sides of every comparison, so its band carries 15 bits — the
    pigeonhole guarantee (<= 3 errors cannot touch all 4 bands) is
    unaffected."""
    idx = sample_indices(len(frames))
    bits = 0
    for j, fi in enumerate(idx):
        bits |= frame_core16(frames[fi]) << (16 * j)
    return bits & ((1 << 63) - 1)


# --- deterministic clip fixtures -------------------------------------------

def clip_frames(seed: int) -> list[np.ndarray]:
    """uint8 luma planes: 8 moving spatial sinusoids with 1/k
    amplitude decay and FRACTIONAL seed-derived frequencies in
    [0.3, 4.3) cycles — measured while building the fixture: integer
    frequencies quantized the block-mean sign patterns so hard that
    400 seeds collided within the Hamming radius; fractional spacing
    under a hashed seed keeps 600 fixture clips all-unique at
    pairwise Hamming >= 4 (pinned by the separation test). Each
    component carries a seed-derived temporal phase velocity, so the
    clip has real MOTION — distinct sampled frames carry distinct
    cores."""
    nf = n_frames_for(seed)
    s = (seed * 2654435761 + 12345) % (1 << 31)
    x = np.arange(VFP_W, dtype=np.float64)[None, :] / VFP_W
    y = np.arange(VFP_H, dtype=np.float64)[:, None] / VFP_H
    comps = []
    for k in range(1, 9):
        fx = 0.3 + ((s * 101 + k * 89) % 400) / 100.0
        fy = 0.3 + ((s * 61 + k * 53) % 400) / 100.0
        ph = 2.0 * math.pi * ((s * 13 + 5 * k) % 97) / 97.0
        om = 2.0 * math.pi * (((s + k) % 5) + 1) / 16.0  # phase/frame
        comps.append((80.0 / k, fx, fy, ph, om))
    frames = []
    for t in range(nf):
        base = np.zeros((VFP_H, VFP_W))
        for a, fx, fy, ph, om in comps:
            base += a * np.sin(2.0 * math.pi * (fx * x + fy * y) + ph + om * t)
        frames.append(
            np.clip(np.round(128.0 + base), 0, 255).astype(np.uint8)
        )
    return frames


def n_frames_for(seed: int) -> int:
    return 8 + (seed * 7) % 9  # 8..16 frames


def brightness_grade(frames: list[np.ndarray], delta: int = 8) -> list[np.ndarray]:
    """The brightness-graded copy: +delta on every luma sample,
    clipped — the per-frame core is invariant up to clipping (a
    uniform shift moves only DC)."""
    return [
        np.clip(f.astype(np.int32) + delta, 0, 255).astype(np.uint8)
        for f in frames
    ]


def reencode_jitter(frames: list[np.ndarray]) -> list[np.ndarray]:
    """The re-encode copy: ±1 alternating-pixel quantization jitter
    (a codec round-trip's rounding noise is high-frequency; the 4x4
    low block barely moves)."""
    out = []
    for t, f in enumerate(frames):
        yy, xx = np.indices(f.shape)
        sign = np.where((xx + yy + t) % 2 == 0, 1, -1)
        out.append(
            np.clip(f.astype(np.int32) + sign, 0, 255).astype(np.uint8)
        )
    return out


def dropout(frames: list[np.ndarray], step: int = 101) -> list[np.ndarray]:
    """Sparse dropout: every ``step``-th luma byte attenuated 25% — the
    damaged-copy fixture (strong enough to flip a few bits, within the
    Hamming radius corpus-wide — pinned by test)."""
    out = []
    for f in frames:
        flat = f.astype(np.float64).reshape(-1).copy()
        flat[::step] *= 0.75
        out.append(
            np.clip(np.round(flat), 0, 255).astype(np.uint8).reshape(f.shape)
        )
    return out


def encode_clip_y4m(frames: list[np.ndarray]) -> bytes:
    """YUV4MPEG2 with REAL luma planes: the ``multimodal.encode_y4m``
    framing (ascii header, per-frame ``FRAME\\n`` + w*h*3/2 planar
    4:2:0 bytes) with the Y plane carrying the fixture pixels and
    neutral chroma (0x80) — B120 hashes luma only, as pHash does."""
    h, w = frames[0].shape
    head = f"YUV4MPEG2 W{w} H{h} F10:1 Ip A1:1\n".encode("ascii")
    chroma = b"\x80" * ((w * h) // 2)
    out = [head]
    for f in frames:
        out.append(b"FRAME\n" + f.tobytes() + chroma)
    return b"".join(out)


def decode_clip_y4m(payload: bytes) -> list[np.ndarray]:
    """Strict YUV4MPEG2 luma reader: walks the header and FRAME
    markers exactly like ``multimodal.py``'s metadata walk (same
    torn-file arms — missing newline, truncated frame data) but READS
    each frame's Y plane. Chroma planes are skipped, not decoded."""
    if payload[:9] != b"YUV4MPEG2":
        raise ValueError("not a YUV4MPEG2 payload")
    nl = payload.find(b"\n")
    if nl < 0:
        raise ValueError("torn Y4M header")
    w = h = None
    for p in payload[10:nl].split(b" "):
        if p[:1] == b"W":
            w = int(p[1:])
        elif p[:1] == b"H":
            h = int(p[1:])
    if w is None or h is None:
        raise ValueError("Y4M header missing W/H")
    frame_bytes = (w * h * 3) // 2
    frames, pos = [], nl + 1
    while pos < len(payload):
        if payload[pos : pos + 5] != b"FRAME":
            raise ValueError("garbage between Y4M frames")
        skip = payload.find(b"\n", pos)
        if skip < 0:
            raise ValueError("torn Y4M frame marker")
        data = payload[skip + 1 : skip + 1 + frame_bytes]
        if len(data) < frame_bytes:
            raise ValueError("truncated Y4M frame data")
        frames.append(
            np.frombuffer(data[: w * h], dtype=np.uint8).reshape(h, w)
        )
        pos = skip + 1 + frame_bytes
    if not frames:
        raise ValueError("Y4M stream carries no frames")
    return frames


def vfp_spec(doc_id: int) -> dict:
    """Single source of truth for the fixture corpus (the B120/B130
    ``*_spec`` discipline — direct tests replay it byte for byte).
    Residue plan (mod 13): 5 -> exact byte copy of doc_id-2's clip,
    7 -> brightness-graded copy of doc_id-4's, 9 -> sparse-dropout
    copy of doc_id-6's, 11 -> re-encode-jitter copy of doc_id-8's;
    every partner lands on residue 3, always a base clip under its
    own seed. Torn rides ``doc_id % 89 == 0`` (its own modulus so it
    crosses every variant)."""
    r = doc_id % 13
    torn = doc_id % _TORN_EVERY == 0
    if r == 5 and doc_id >= 2:
        return {"seed": doc_id - 2, "variant": "copy", "torn": torn}
    if r == 7 and doc_id >= 4:
        return {"seed": doc_id - 4, "variant": "bright", "torn": torn}
    if r == 9 and doc_id >= 6:
        return {"seed": doc_id - 6, "variant": "dropout", "torn": torn}
    if r == 11 and doc_id >= 8:
        return {"seed": doc_id - 8, "variant": "reencode", "torn": torn}
    return {"seed": doc_id, "variant": "base", "torn": torn}


def vfp_variant_frames(spec: dict) -> list[np.ndarray]:
    frames = clip_frames(spec["seed"])
    if spec["variant"] == "bright":
        return brightness_grade(frames)
    if spec["variant"] == "dropout":
        return dropout(frames)
    if spec["variant"] == "reencode":
        return reencode_jitter(frames)
    return frames


def vfp_payload(doc_id: int) -> bytes:
    spec = vfp_spec(doc_id)
    p = encode_clip_y4m(vfp_variant_frames(spec))
    if spec["torn"]:
        p = p[: len(p) - (VFP_W * VFP_H) // 2]  # mid-frame truncation
    return p


def _synth_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        yield pd.DataFrame(
            {
                "asset_id": pdf["doc_id"].values,
                "payload": [vfp_payload(int(d)) for d in pdf["doc_id"]],
            }
        )


def _synth_fp_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """``phash.fingerprint_batches`` over ``vfp_payload`` bytes, decoded
    by ``decode_clip_y4m`` and fingerprinted by ``vfp64``.
    ``vfp_assets`` is the payload relation the r13 stage probe
    (tools/r13_stage_probe.py) times this stage against."""
    return fingerprint_batches(
        batches, "vfp", lambda d: vfp64(decode_clip_y4m(vfp_payload(d)))
    )


def vfp_assets(spark: SparkSession, sf_dir: str) -> DataFrame:
    # one shared asset-id universe with the fused fingerprint relation
    # (phash._asset_id_scan — ADVICE r13 #4); CPU-heavy small scan:
    # same spread discipline as B120/B130
    return _asset_id_scan(spark, sf_dir).mapInPandas(
        _synth_batch, "asset_id long, payload binary"
    )


def vfp_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(asset_id, vfp, error): synth + decode + fingerprint in ONE
    narrow Arrow stage — each clip leaves as one 8-byte row and the
    payload bytes never cross the Python/JVM boundary. Derives its
    asset-id universe from the same scan as ``vfp_assets``."""
    return _asset_id_scan(spark, sf_dir).mapInPandas(
        _synth_fp_batch, "asset_id long, vfp long, error string"
    )


def q_video_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(asset_id, vfp, content_id, near_id, hamming_to_near, error):
    the per-clip fingerprint-dedup verdict (``phash.media_dedup_verdict``
    — the same shape as q_phash_dedup). Torn payloads surface as error
    rows. (Unregistered, NON-SQL-EXPRESSIBLE — payload bytes never
    exist in SQL; direct tests replay every fingerprint and
    brute-force every pair.)"""
    return media_dedup_verdict(
        vfp_fingerprints(spark, sf_dir), "vfp", VFP_MAX_HAMMING
    )


UNREGISTERED_VIDEOFP_QUERIES = {"q_video_dedup": q_video_dedup}
UNREGISTERED_VIDEOFP_ORACLES: dict = {}
