"""Perceptual-hash (pHash) image deduplication — content-based
multimodal dedup (B120).

The text side of the engine has seven near-dup families; this is the
IMAGE side's equivalent, and it catches what byte-level hashing cannot:
the same picture stored as a PNG and as a PPM has different bytes but
identical pixels (hash equal), and a re-encoded/slightly-retouched copy
has almost-identical low-frequency structure (hash within a few bits).
That is the standard published recipe (DCT perceptual hash — Zauner
2010, "Implementation and Benchmarking of Perceptual Image Hash
Functions"; the pHash.org algorithm):

1. decode to pixels, collapse to luma (ITU-R BT.601 weights — the same
   ladder the engine's JPEG path uses);
2. box-downsample to 32x32 (kills alignment/scale detail, keeps
   composition);
3. 2-D orthonormal DCT-II; keep the top-left 8x8 low-frequency block;
4. threshold the 63 AC coefficients at their MEDIAN -> a 64-bit hash
   (DC slot fixed to 0, so the hash is a non-negative BIGINT both
   engines can carry).

Hamming distance <= PHASH_MAX_HAMMING between hashes == near-duplicate
images.

Spark shape, and why it holds at 100 TB:

- DECODE IS THE NARROW STAGE: payloads are decoded and hashed inside
  one ``mapInPandas`` pass (the sanctioned Arrow path for binary
  columns — payload bytes never visit the driver or a shuffle); each
  asset leaves the stage as ONE 8-byte hash row however many MB the
  image was.
- EXACT CONTENT DEDUP IS A HASH GROUPBY: one shuffle on the 8-byte
  hash; min(asset_id) is the canonical keeper — the cross-container
  copies collapse here, before any pair work.
- NEAR-DUP CANDIDATES BY PIGEONHOLE BANDING, over DISTINCT hashes
  only: the 64-bit hash splits into 4 disjoint 16-bit bands; two
  hashes within Hamming distance 3 differ in at most 3 bands, so they
  AGREE on at least one — an equi-join per band finds every qualifying
  pair with zero false negatives (the SimHash/B32 pigeonhole argument,
  reused verbatim). Because banding runs on the DISTINCT hash
  relation, a viral image with a million byte-level copies is ONE row
  by the time pairs form — the dup-cluster hub cannot go quadratic
  (the LSH_BUCKET_CAP lesson, solved structurally instead of by
  capping).
- the verdict join back to assets is a broadcast at audit sizes and an
  8-byte-key shuffle at scale; ``bit_count(a ^ b)`` is one JVM
  instruction per surviving candidate.

The media dedup core lives here once, and the other media families
call it:

- ``fingerprint_batches`` — the fused synth -> decode -> fingerprint
  batch (torn payload -> error row), run by ``phash_hashes`` and by
  ``audiofp.afp_fingerprints`` / ``videofp.vfp_fingerprints``;
- ``hash_bands`` — the 4x16-bit banding, used by ``phash_near_pairs``
  and by ``media_ingest.incremental_media_dedup``;
- ``media_dedup_verdict`` — checkpoint, exact groups, near pairs,
  one-hop near pick and the error arm, returned by ``q_phash_dedup``,
  ``audiofp.q_audio_dedup`` and ``videofp.q_video_dedup``.

``near_id`` is the ONE-HOP canonical (min content id among hashes
within the Hamming radius, self included) — deterministic and cheap;
full transitive closure over near edges is ``connected_components``'
job (B48), same as for the text families.

Fixtures: the documents table keys a deterministic synthetic corpus of
SMOOTH images (low-frequency sinusoid fields — pHash is a low-frequency
signature, so fixtures must carry low-frequency structure; the media
battery's sawtooth generator is spectrally flat after downsampling and
would make every hash a coin flip). Planted cases: cross-format
identical-pixel copies (PNG <-> PPM, expect Hamming 0), perturbed
copies (a sparse +3 brightness touch, expect small Hamming), sawtooth
JPEGs (exercise the lossy-decode arm), and torn payloads (error rows).

Reference parity: none (no analytics in the 412-LoC reference —
``src/ingestService.js`` processes ids only); BASELINE.json north-star
tier (multimodal curation at 100 TB). NON-SQL-EXPRESSIBLE (payload
bytes never exist in SQL); driver-grade direct tests replay every
hash and brute-force every Hamming pair in
``tests/test_unregistered_ops.py``.
"""

from __future__ import annotations

import math
import struct
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.loader import load_table, spread_small_scan

PHASH_DOWN = 32       # downsample box (32x32 luma)
PHASH_BLOCK = 8       # low-frequency DCT block kept (8x8 -> 64 bits)
PHASH_MAX_HAMMING = 3
PHASH_BANDS = 4       # 4 disjoint 16-bit bands; <=3 bit errors cannot
                      # touch all 4 (pigeonhole) -> zero false negatives
_TORN_EVERY = 97


def _dct_matrix(n: int) -> np.ndarray:
    """Orthonormal DCT-II basis (the 32x32 sibling of the JPEG path's
    8x8 ``_jpeg_dct_matrix``)."""
    k = np.arange(n, dtype=np.float64)
    m = math.sqrt(2.0 / n) * np.cos(
        (2.0 * k[None, :] + 1.0) * k[:, None] * math.pi / (2.0 * n)
    )
    m[0] *= 1.0 / math.sqrt(2.0)
    return m


_DCT32 = _dct_matrix(PHASH_DOWN)


def _resample32(luma: np.ndarray) -> np.ndarray:
    """Output-driven box resample to 32x32: output cell (r, c) is the
    mean of source block [r*h//32, max(+1, (r+1)*h//32)) x [likewise in
    c] — plain downsample averaging when the image is larger than 32,
    nearest-row/col replication when smaller (the JPEG fixtures go down
    to 16px). Deterministic float64 folds.

    Vectorized (r13, guide §4.2): the loop form issued d² = 1024 scalar
    ``.mean()`` calls per image — pure numpy dispatch overhead that
    dominated BOTH perceptual-hash families (measured: 97% of the video
    fingerprint stage, ~60% of the image hash stage). The vector form
    accumulates each block with EXPLICIT left-to-right offset adds
    (``s = s + block_element_k``, one vectorized add per offset), which
    is bit-identical to the loop's two-stage row-block-mean ->
    col-block-mean fold because numpy's ``.mean()`` sums small blocks
    sequentially too — only at >= 8 elements does its partial-pairwise
    accumulation diverge (np.add.reduceat was 1 ulp off for exactly
    that reason on the contiguous axis), so blocks of >= 8 (sources
    >= 256 px — none in any corpus here) take the legacy loop instead.
    Equality is pinned over every source shape in
    tests/test_phash.py::test_resample32_vectorized_bit_identical."""
    h, w = luma.shape
    d = PHASH_DOWN
    r_idx = np.arange(d)
    rlo = (r_idx * h) // d
    rhi = np.maximum(rlo + 1, ((r_idx + 1) * h) // d)
    clo = (r_idx * w) // d
    chi = np.maximum(clo + 1, ((r_idx + 1) * w) // d)
    m = rhi - rlo
    k = chi - clo
    if m.max() <= 7 and k.max() <= 7:
        rs = luma[rlo, :].copy()
        for off in range(1, int(m.max())):
            sel = np.nonzero(m > off)[0]
            rs[sel, :] += luma[rlo[sel] + off, :]
        row_means = rs / m[:, None]
        cs = row_means[:, clo].copy()
        for off in range(1, int(k.max())):
            sel = np.nonzero(k > off)[0]
            cs[:, sel] += row_means[:, clo[sel] + off]
        return cs / k[None, :]
    out = np.empty((d, d))
    for r in range(d):
        col_mean = luma[rlo[r] : rhi[r], :].mean(axis=0)
        for c in range(d):
            out[r, c] = col_mean[clo[c] : chi[c]].mean()
    return out


def phash64(width: int, height: int, rgb: bytes) -> int:
    """The 64-bit DCT perceptual hash of an RGB raster (w*h*3 bytes).
    Deterministic float64 arithmetic end to end; bit 63 (the DC slot)
    is always 0, so the value fits a non-negative BIGINT."""
    px = np.frombuffer(rgb, dtype=np.uint8).astype(np.float64)
    px = px.reshape(height, width, 3)
    luma = 0.299 * px[..., 0] + 0.587 * px[..., 1] + 0.114 * px[..., 2]
    small = _resample32(luma)
    # only the 8x8 low-frequency block is needed, and it must be
    # BIT-DETERMINISTIC across processes: einsum without optimize= is
    # fixed-order C loops everywhere, immune to the BLAS library's
    # thread-count-dependent dgemm blocking that a plain `@` would
    # dispatch to (Spark pins worker threads to 1; the driver runs
    # unpinned) — and it computes 8x32 instead of 32x32 of the
    # spectrum.
    c8 = _DCT32[:PHASH_BLOCK]
    block = np.einsum("ij,jk,lk->il", c8, small, c8).flatten()
    ac = block[1:]  # exclude DC
    med = float(np.median(ac))
    bits = 0
    for i, v in enumerate(ac):
        if v > med:
            bits |= 1 << i  # bits 0..62; bit 63 stays 0
    return bits


def hamming64(a: int, b: int) -> int:
    return bin(a ^ b).count("1")


# --- deterministic smooth-image fixtures -----------------------------------

def _lcg(seed: int) -> Iterator[int]:
    s = (seed * 2654435761 + 12345) % (1 << 31)
    while True:
        s = (s * 1103515245 + 12345) % (1 << 31)
        yield s


def smooth_raster(width: int, height: int, seed: int) -> bytes:
    """A 1/f sinusoid field: K=14 components at seed-derived
    frequencies with amplitudes decaying like natural-image spectra,
    plus a per-channel tint. The broad spectrum matters: an image with
    only 2-3 strong components leaves most of the 63 AC coefficients
    clustered at the median, and the hash degenerates into coin flips
    under any edit (measured: a small patch edit flipped 8-28 bits on
    2-component fields vs 0-6 on this generator — natural-image-like
    behavior). Same (width, height, seed) -> byte-identical raster on
    every engine/replay."""
    g = _lcg(seed)
    x = np.arange(width, dtype=np.float64)[None, :] / width
    y = np.arange(height, dtype=np.float64)[:, None] / height
    base = np.zeros((height, width))
    for k in range(1, 15):
        fx = next(g) % 8
        fy = next(g) % 8
        ph = (next(g) % 628) / 100.0
        base += (90.0 / k) * np.sin(2 * math.pi * (fx * x + fy * y) + ph)
    chans = []
    for _c in range(3):
        tint = 20.0 * np.sin(
            2 * math.pi * ((1 + next(g) % 3) * x) + (next(g) % 628) / 100.0
        )
        v = 128.0 + base + tint
        chans.append(np.clip(np.round(v), 0, 255).astype(np.uint8))
    return np.stack(chans, axis=-1).tobytes()


def perturb_raster(raster: bytes, step: int = 53, delta: int = 3) -> bytes:
    """A sparse brightness touch (+delta on every ``step``-th byte,
    clipped) — the 'slightly retouched copy' fixture."""
    arr = np.frombuffer(raster, dtype=np.uint8).copy()
    idx = np.arange(0, arr.size, step)
    arr[idx] = np.minimum(arr[idx].astype(np.int32) + delta, 255).astype(
        np.uint8
    )
    return arr.tobytes()


def phash_spec(doc_id: int) -> dict:
    """Single source of truth for the fixture corpus — the direct tests
    replay it byte for byte. Returns {kind, width, height, seed,
    base_id, fmt} where base_id != doc_id marks a planted copy."""
    w = 48 + (doc_id * 5) % 32
    h = 48 + (doc_id * 3) % 32
    if doc_id % 19 == 5:
        # sawtooth JPEG: exercises the lossy Huffman+IDCT decode arm
        # inside the hash stage (no dup semantics claimed — the
        # sawtooth is spectrally flat after downsampling)
        return {"fmt": "jpeg", "width": 16 + (doc_id * 7) % 48,
                "height": 16 + doc_id % 48, "seed": doc_id,
                "base_id": doc_id}
    if doc_id % 17 == 1 and doc_id >= 1:
        base = doc_id - 1
        if base % 19 != 5:  # never base on the jpeg arm
            return {"fmt": "ppm", "width": 48 + (base * 5) % 32,
                    "height": 48 + (base * 3) % 32, "seed": base,
                    "base_id": base, "perturb": True}
    if doc_id % 17 == 2 and doc_id >= 2:
        base = doc_id - 2
        if base % 19 != 5:
            # identical pixels, the OTHER container: content dup that
            # byte-hashing can never see
            return {"fmt": "ppm" if base % 2 == 0 else "png",
                    "width": 48 + (base * 5) % 32,
                    "height": 48 + (base * 3) % 32, "seed": base,
                    "base_id": base}
    return {"fmt": "png" if doc_id % 2 == 0 else "ppm", "width": w,
            "height": h, "seed": doc_id, "base_id": doc_id}


def phash_payload(doc_id: int) -> bytes:
    """Encode the spec'd image; every ``_TORN_EVERY``-th asset is
    truncated mid-stream (the torn-ingest arm)."""
    from .multimodal import encode_jpeg, encode_png, encode_ppm_raw

    spec = phash_spec(doc_id)
    w, h = spec["width"], spec["height"]
    if spec["fmt"] == "jpeg":
        p = encode_jpeg(w, h, seed=spec["seed"])
    else:
        raster = smooth_raster(w, h, spec["seed"])
        if spec.get("perturb"):
            raster = perturb_raster(raster)
        if spec["fmt"] == "ppm":
            p = encode_ppm_raw(w, h, raster)
        else:
            stride = w * 3

            def row_fn(_w, _s, y):
                return raster[y * stride : (y + 1) * stride]

            p = encode_png(w, h, seed=spec["seed"], row_fn=row_fn)
    if doc_id % _TORN_EVERY == 0:
        p = p[: max(4, len(p) // 2)]
    return p


def _raster_of(payload: bytes) -> tuple[int, int, bytes]:
    """Dispatch on magic to the engine's raster decoders (PNG / PPM /
    baseline JPEG)."""
    from .multimodal import _decode_jpeg_pixels, _png_raster, _ppm_raster

    if payload[:8] == b"\x89PNG\r\n\x1a\n":
        return _png_raster(payload)
    if payload[:2] == b"P6":
        return _ppm_raster(payload)
    if payload[:2] == b"\xff\xd8":
        w, h, px = _decode_jpeg_pixels(payload)
        return w, h, px.astype(np.uint8).tobytes()
    raise ValueError(f"unrecognized image payload (magic {payload[:4]!r})")


def _synth_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        yield pd.DataFrame(
            {
                "asset_id": pdf["doc_id"].values,
                "payload": [phash_payload(int(d)) for d in pdf["doc_id"]],
            }
        )


def _asset_id_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The asset-id universe BOTH the payload relation and the fused
    hash relation derive from (r14, ADVICE r13 #4: one definition, so
    a filter/spec change here cannot silently diverge the byte-level
    payload relation from the hash relation its tests compare against).
    The doc_id relation is byte-tiny (one parquet split), but every
    row fans out into milliseconds of Python decode+hash work — the
    CPU-heavy-small-scan case spread_small_scan exists for (without
    it the whole synth+hash pipeline ran as ONE task: measured 38.9 s
    for ~1.2 s of 32-core work at sf0.1)."""
    return spread_small_scan(
        load_table(spark, sf_dir, "documents").select("doc_id"), "doc_id"
    )


def phash_assets(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _asset_id_scan(spark, sf_dir).mapInPandas(
        _synth_batch, "asset_id long, payload binary"
    )


def fingerprint_batches(
    batches: Iterator[pd.DataFrame], col: str, fp_of
) -> Iterator[pd.DataFrame]:
    """The fused synth -> decode -> fingerprint batch every media family
    runs (r13, guide §4.1): ``fp_of(doc_id)`` builds the asset's payload
    and returns its 64-bit fingerprint inside ONE Python worker, so the
    payload never crosses an Arrow boundary and each asset leaves as
    one 8-byte ``(asset_id, <col>, error)`` row. A torn payload becomes
    an error row, never a dead executor task: every decoder raises
    ValueError on torn bytes, and ``struct.error`` covers a truncation
    landing inside a fixed-width header (the r9 multimodal lesson)."""
    for pdf in batches:
        ids, fps, errs = [], [], []
        for d in pdf["doc_id"]:
            ids.append(int(d))
            try:
                fps.append(fp_of(int(d)))
                errs.append(None)
            except (ValueError, struct.error) as exc:
                fps.append(None)
                errs.append(str(exc))
        # NULLABLE Int64 built FROM THE PYTHON INTS, never float64: one
        # error row's None in a plain pd.DataFrame(...) coerces the
        # whole column to float64 at construction, rounding every hash
        # to 2^-53 relative precision (an astype("Int64") afterward
        # just freezes the damage)
        yield pd.DataFrame(
            {
                "asset_id": pd.array(ids, dtype="int64"),
                col: pd.array(fps, dtype="Int64"),
                "error": pd.array(errs, dtype="string"),
            }
        )


def _synth_hash_batch(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    """``fingerprint_batches`` over ``phash_payload`` bytes, decoded by
    ``_raster_of`` and hashed by ``phash64``. ``phash_assets`` is the
    payload relation the r13 stage probe (tools/r13_stage_probe.py)
    times this stage against."""
    return fingerprint_batches(
        batches, "phash", lambda d: phash64(*_raster_of(phash_payload(d)))
    )


def phash_hashes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(asset_id, phash, error): synth + decode + hash in ONE narrow
    Arrow stage — each asset leaves as one 8-byte hash row and the
    payload bytes never cross the Python/JVM boundary."""
    return _asset_id_scan(spark, sf_dir).mapInPandas(
        _synth_hash_batch, "asset_id long, phash long, error string"
    )


def hash_bands(df: DataFrame, col: str) -> DataFrame:
    """(<col>, band_idx, band_val): the 4x16-bit pigeonhole
    decomposition of a 64-bit hash column — <= 3 bit errors cannot
    touch all 4 disjoint bands, so an equi-join on (band_idx, band_val)
    finds every pair within Hamming 3."""
    return df.select(
        col,
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(i).alias("band_idx"),
                    F.expr(f"({col} >> {16 * i}) & 65535").alias("band_val"),
                )
                for i in range(PHASH_BANDS)
            ])
        ).alias("b"),
    ).select(col, "b.band_idx", "b.band_val")


def phash_near_pairs(
    hashes: DataFrame,
    max_hamming: int = PHASH_MAX_HAMMING,
    col: str = "phash",
) -> DataFrame:
    """(<col>_a, <col>_b, hamming) over DISTINCT hashes, complete for
    Hamming <= max_hamming by the 4x16-bit pigeonhole bands. ``col``
    names the 64-bit hash column — the audio (``afp``) and video
    (``vfp``) fingerprints reuse the identical banding."""
    distinct = hashes.filter(F.col(col).isNotNull()).select(col).distinct()
    ca, cb = f"{col}_a", f"{col}_b"
    bands = hash_bands(distinct, col)
    a = bands.select(F.col(col).alias(ca), "band_idx", "band_val")
    b = bands.select(F.col(col).alias(cb), "band_idx", "band_val")
    return (
        a.join(b, ["band_idx", "band_val"])
        .filter(F.col(ca) < F.col(cb))
        .select(ca, cb)
        .distinct()
        .withColumn(
            "hamming",
            F.bit_count(F.col(ca).bitwiseXOR(F.col(cb))).cast("int"),
        )
        .filter(F.col("hamming") <= max_hamming)
    )


def media_dedup_verdict(fps: DataFrame, col: str, max_hamming: int) -> DataFrame:
    """(asset_id, <col>, content_id, near_id, hamming_to_near, error):
    the per-asset verdict every media dedup query returns over its
    ``(asset_id, <col>, error)`` fingerprint relation. ``content_id`` =
    smallest asset sharing the exact hash; ``near_id`` = smallest
    content id within Hamming <= max_hamming, one hop, self included
    (the transitive closure is ``connected_components``'). Assets whose
    hash is null surface as error rows with null hash columns."""
    # the hash relation feeds FOUR subtrees (content groups, band
    # pairs, the verdict join, the error arm) — checkpoint it so the
    # Python decode+hash stages run once, not once per branch (the
    # blocks are 17 bytes/asset; the returned plan reads them, so they
    # stay persisted — the documented final-checkpoint shape)
    fps = fps.localCheckpoint()
    good = fps.filter(F.col(col).isNotNull())
    content = good.groupBy(col).agg(F.min("asset_id").alias("content_id"))
    pairs = phash_near_pairs(good, max_hamming=max_hamming, col=col)
    # per-hash best near neighbor: both edge directions + self(0)
    edges = (
        pairs.select(
            F.col(f"{col}_a").alias(col), F.col(f"{col}_b").alias("other"),
            "hamming",
        )
        .unionByName(
            pairs.select(
                F.col(f"{col}_b").alias(col), F.col(f"{col}_a").alias("other"),
                "hamming",
            )
        )
        .join(
            content.select(
                F.col(col).alias("other"),
                F.col("content_id").alias("other_content"),
            ),
            "other",
        )
        .select(col, "other_content", "hamming")
        .unionByName(
            content.select(
                col,
                F.col("content_id").alias("other_content"),
                F.lit(0).alias("hamming"),
            )
        )
    )
    near = edges.groupBy(col).agg(
        F.min("other_content").alias("near_id"),
        # the hamming TO that chosen canonical (min (content, hamming)
        # struct keeps the pair consistent under ties)
        F.min(F.struct("other_content", "hamming"))["hamming"].alias(
            "hamming_to_near"
        ),
    )
    verdict = (
        good.join(content, col)
        .join(near, col)
        .select(
            "asset_id",
            col,
            "content_id",
            "near_id",
            F.col("hamming_to_near").cast("int").alias("hamming_to_near"),
            F.lit(None).cast("string").alias("error"),
        )
    )
    errors = fps.filter(F.col(col).isNull()).select(
        "asset_id",
        F.lit(None).cast("long").alias(col),
        F.lit(None).cast("long").alias("content_id"),
        F.lit(None).cast("long").alias("near_id"),
        F.lit(None).cast("int").alias("hamming_to_near"),
        "error",
    )
    return verdict.unionByName(errors)


def q_phash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(asset_id, phash, content_id, near_id, hamming_to_near, error):
    the per-asset perceptual-dedup verdict (``media_dedup_verdict``).
    Cross-container byte-different copies collapse into one
    ``content_id``; torn payloads surface as error rows. (Unregistered,
    NON-SQL-EXPRESSIBLE — payload bytes never exist in SQL; direct
    tests replay every hash and brute-force every pair.)"""
    return media_dedup_verdict(
        phash_hashes(spark, sf_dir), "phash", PHASH_MAX_HAMMING
    )


UNREGISTERED_PHASH_QUERIES = {"q_phash_dedup": q_phash_dedup}
