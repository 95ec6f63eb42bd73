"""Perceptual-hash image dedup (B120, ``operators/phash.py``).

Driver-grade evidence without a SQL oracle (payload bytes never exist
in SQL): an INDEPENDENT driver-side replay recomputes every fixture
payload, decodes it through the same byte-level decoders, rehashes,
and brute-forces every Hamming pair over the full hash set — the
operator's banded plan must reproduce that exactly (the 4x16 pigeonhole
is a theorem, so the equality is completeness, not luck). Plus planted
golden cases: cross-format identical-pixel copies hash EQUAL, perturbed
copies land within the radius, torn payloads become error rows.
"""

import collections
import os
import sys

import numpy as np
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from data_ingestion_api_system_loop_ai_spark.operators.phash import (
    PHASH_MAX_HAMMING,
    _TORN_EVERY,
    _raster_of,
    hamming64,
    perturb_raster,
    phash64,
    phash_payload,
    phash_spec,
    q_phash_dedup,
    smooth_raster,
)


def _replay(doc_ids):
    """The independent model: payload -> raster -> hash per doc, then
    brute-force Hamming pairs and the same content/near verdicts."""
    hashes, errors = {}, {}
    for did in doc_ids:
        p = phash_payload(did)
        try:
            w, h, raster = _raster_of(p)
            hashes[did] = phash64(w, h, raster)
        except ValueError as exc:
            errors[did] = str(exc)
    content = {}
    for did, hsh in hashes.items():
        content[hsh] = min(content.get(hsh, did), did)
    distinct = sorted(set(hashes.values()))
    near = {h: {content[h]} for h in distinct}
    for i, ha in enumerate(distinct):
        for hb in distinct[i + 1 :]:
            d = hamming64(ha, hb)
            if d <= PHASH_MAX_HAMMING:
                near[ha].add(content[hb])
                near[hb].add(content[ha])
    rows = {}
    for did, hsh in hashes.items():
        # hamming to the chosen near canonical, min (content, hamming)
        cands = sorted(
            (content[h2], hamming64(hsh, h2))
            for h2 in distinct
            if content[h2] in near[hsh]
            and (h2 == hsh or hamming64(hsh, h2) <= PHASH_MAX_HAMMING)
        )
        near_id = cands[0][0]
        ham = min(d for c, d in cands if c == near_id)
        rows[did] = (hsh, content[hsh], near_id, ham, None)
    for did, err in errors.items():
        rows[did] = (None, None, None, None, err)
    return rows


def test_phash_verdicts_match_independent_replay(spark, sf_dir):
    out = {
        r["asset_id"]: (
            r["phash"],
            r["content_id"],
            r["near_id"],
            r["hamming_to_near"],
            r["error"],
        )
        for r in q_phash_dedup(spark, sf_dir).collect()
    }
    from data_ingestion_api_system_loop_ai_spark.sources.loader import (
        load_table,
    )

    doc_ids = [
        r["doc_id"]
        for r in load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .collect()
    ]
    expected = _replay(doc_ids)
    assert set(out) == set(expected)
    mismatches = {
        k: (out[k], expected[k])
        for k in expected
        if out[k][:4] != expected[k][:4]
        or (out[k][4] is None) != (expected[k][4] is None)
    }
    assert not mismatches, dict(list(mismatches.items())[:5])


def test_phash_planted_cases(spark, sf_dir):
    rows = {
        r["asset_id"]: r for r in q_phash_dedup(spark, sf_dir).collect()
    }
    cross = perturbed = 0
    perturbed_hit = 0
    for did, r in rows.items():
        spec = phash_spec(did)
        base = spec["base_id"]
        if base == did or r["error"] is not None:
            continue
        if base not in rows or rows[base]["error"] is not None:
            continue
        if spec.get("perturb"):
            perturbed += 1
            if r["near_id"] == rows[base]["near_id"]:
                perturbed_hit += 1
        else:
            cross += 1
            # identical pixels in a different container: the HASH is
            # equal, so the exact-content group merges them
            assert r["phash"] == rows[base]["phash"], (did, base)
            assert r["content_id"] == rows[base]["content_id"]
    assert cross >= 10, "fixture corpus lost its cross-format plants"
    assert perturbed >= 10, "fixture corpus lost its perturbed plants"
    # sparse +3 touches measured <= 2 bits on the 1/f fixtures; leave
    # headroom but insist near-dup grouping catches the large majority
    assert perturbed_hit / perturbed >= 0.8, (perturbed_hit, perturbed)


def test_phash_error_rows_and_determinism(spark, sf_dir):
    out1 = sorted(
        map(tuple, q_phash_dedup(spark, sf_dir).collect())
    )
    out2 = sorted(
        map(tuple, q_phash_dedup(spark, sf_dir).collect())
    )
    assert out1 == out2
    errs = [r for r in out1 if r[5] is not None]
    assert errs, "torn payloads must surface as error rows"
    for r in errs:
        assert r[0] % _TORN_EVERY == 0
        assert r[1] is None and r[2] is None and r[3] is None


def test_phash_cross_format_raster_identity():
    from data_ingestion_api_system_loop_ai_spark.operators.multimodal import (
        encode_png,
        encode_ppm_raw,
    )

    r = smooth_raster(60, 52, seed=7)
    stride = 60 * 3
    png = encode_png(
        60, 52, seed=7, row_fn=lambda w, s, y: r[y * stride : (y + 1) * stride]
    )
    ppm = encode_ppm_raw(60, 52, r)
    assert _raster_of(png)[2] == _raster_of(ppm)[2] == r
    assert phash64(60, 52, _raster_of(png)[2]) == phash64(60, 52, r)


def test_phash_separation_and_perturb_locality():
    """The hash behaves like a perceptual hash on the fixture corpus:
    distinct images sit far apart, sparse retouches sit within the
    radius for the large majority — measured, not assumed."""
    dists, perturbs = [], []
    h0 = phash64(60, 52, smooth_raster(60, 52, seed=0))
    for s in range(1, 30):
        h = phash64(60, 52, smooth_raster(60, 52, seed=100 + s))
        dists.append(hamming64(h0, h))
    for s in range(40):
        w, h = 48 + (s * 5) % 32, 48 + (s * 3) % 32
        rr = smooth_raster(w, h, seed=s)
        perturbs.append(
            hamming64(
                phash64(w, h, rr), phash64(w, h, perturb_raster(rr))
            )
        )
    assert min(dists) > PHASH_MAX_HAMMING * 3, collections.Counter(dists)
    within = sum(1 for d in perturbs if d <= PHASH_MAX_HAMMING)
    assert within / len(perturbs) >= 0.8, collections.Counter(perturbs)


@pytest.mark.parametrize("seed", [1, 2, 3, 11, 12])
def test_phash_band_pigeonhole_property(seed):
    """The completeness theorem behind the banded join: flipping at
    most PHASH_MAX_HAMMING bits of a 64-bit value cannot touch all 4
    16-bit bands, so at least one band compares equal."""
    rng = np.random.Generator(np.random.PCG64(seed))
    for _ in range(200):
        v = int(rng.integers(0, 1 << 63))
        flips = rng.choice(64, size=PHASH_MAX_HAMMING, replace=False)
        u = v
        for f in flips:
            u ^= 1 << int(f)
        bands_equal = sum(
            ((v >> (16 * i)) & 0xFFFF) == ((u >> (16 * i)) & 0xFFFF)
            for i in range(4)
        )
        assert bands_equal >= 1


def test_phash_resample_paths():
    """Sub-32 images (the JPEG fixtures go to 16px) and above-32 images
    both hash deterministically, and upscale/downscale of the SAME
    smooth field stay perceptually close."""
    r16 = smooth_raster(16, 16, seed=3)
    h16 = phash64(16, 16, r16)
    assert 0 <= h16 < (1 << 63)
    r64 = smooth_raster(64, 64, seed=3)
    h64 = phash64(64, 64, r64)
    # same seed, resampled rendering: not asserted equal (the field is
    # evaluated at different lattices) but must be far from a DIFFERENT
    # seed's image relative to the match radius
    other = phash64(64, 64, smooth_raster(64, 64, seed=4))
    assert hamming64(h64, other) > PHASH_MAX_HAMMING


def test_resample32_vectorized_bit_identical():
    """r13 optimization pin: the vectorized offset-add box resample is
    BIT-IDENTICAL to the original per-cell ``.mean()`` loop over every
    source shape class the corpora produce (phash fixtures 16-80 px,
    video luma 48x32) and across the guard boundary where the legacy
    loop takes over (blocks >= 8 elements, i.e. sources >= 256 px)."""
    from data_ingestion_api_system_loop_ai_spark.operators.phash import (
        PHASH_DOWN,
        _resample32,
    )

    d = PHASH_DOWN

    def legacy(luma):
        h, w = luma.shape
        r_idx = np.arange(d)
        rlo = (r_idx * h) // d
        rhi = np.maximum(rlo + 1, ((r_idx + 1) * h) // d)
        clo = (r_idx * w) // d
        chi = np.maximum(clo + 1, ((r_idx + 1) * w) // d)
        out = np.empty((d, d))
        for r in range(d):
            col_mean = luma[rlo[r] : rhi[r], :].mean(axis=0)
            for c in range(d):
                out[r, c] = col_mean[clo[c] : chi[c]].mean()
        return out

    rng = np.random.Generator(np.random.PCG64(11))
    shapes = [
        (16, 16), (16, 64), (31, 33), (32, 48), (32, 32), (48, 80),
        (64, 64), (65, 80), (79, 79), (80, 48), (96, 113), (128, 200),
        (223, 223), (224, 64), (255, 257), (256, 256), (300, 80),
    ]
    for h, w in shapes:
        a = rng.integers(0, 256, size=(h, w)).astype(np.float64)
        assert _resample32(a).tobytes() == legacy(a).tobytes(), (h, w)


def test_png_short_ihdr_raises_value_error():
    """An IHDR chunk shorter than its 13-byte layout — CRC intact, so
    only the length check can catch it — must raise ValueError, the
    error every PNG caller turns into an error row (a ``struct.error``
    escaping here would kill the decode task instead)."""
    import struct
    import zlib

    from data_ingestion_api_system_loop_ai_spark.operators.multimodal import (
        _png_raster,
        decode_real,
    )

    def chunk(typ: bytes, data: bytes) -> bytes:
        crc = zlib.crc32(typ + data) & 0xFFFFFFFF
        return struct.pack(">I", len(data)) + typ + data + struct.pack(">I", crc)

    ihdr12 = struct.pack(">IIBBBB", 4, 4, 8, 2, 0, 0)  # interlace byte missing
    png = (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr12)
        + chunk(b"IDAT", zlib.compress(bytes(4 * 13)))
        + chunk(b"IEND", b"")
    )
    for decode in (_png_raster, _raster_of, decode_real):
        with pytest.raises(ValueError):
            decode(png)
