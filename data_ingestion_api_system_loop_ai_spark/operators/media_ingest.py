"""Day-2 media ingest: incremental fingerprint dedup against a
PERSISTED index (VERDICT r12 #4).

The three media dedup families (image pHash B120, audio fingerprint
B130, video fingerprint B132) each classify a DAY-1 corpus; until this
module a NEW batch of media either rebuilt the whole fingerprint
corpus or went unchecked. This is the O(batch) twin — the media-side
mirror of ``ingest_url_batch`` (urls.py) and ``ingest_embedding_batch``
(ann_index.py):

- the index persists one row per KEPT (canonical) 64-bit fingerprint,
  ``(fp, canonical_id)``, under ``fp/unit=<label>/`` with the
  unit-marker commit protocol (marker LAST — a crash between the
  parquet write and the commit leaves an invisible torn unit);
- a new batch fingerprints ONLY its own payloads (the caller brings
  the modality's fingerprint relation — ``phash_hashes``,
  ``afp_fingerprints``, ``vfp_fingerprints`` — renamed to the shared
  ``(asset_id, fp, error)`` shape), then probes history through the
  SAME 4x16-bit pigeonhole banding every family's near-pair join uses
  (``phash.hash_bands``): history fingerprints are semi-joined to the
  BATCH's band keys before any pairing, so the pair relation is
  O(batch), never O(history);
- verdicts per asset: ``media_dup`` (exact or Hamming <= max_hamming
  of a history canonical, or claimed by an earlier asset in this
  batch — one hop, like every family's ``near_id``), else ``kept``;
  torn payloads pass through as ``error`` rows and are never indexed;
- kept fingerprints append as one committed unit; replaying an
  ever-published label classifies with its OWN unit excluded from the
  view (identical pre-publish verdicts — the r9 dedup_stream_writer
  lesson), and a label a compaction superseded RAISES instead of
  returning wrong verdicts (the ``ingest_url_batch`` contract).

100 TB shape: the probe joins on (band_idx, band_val) with the batch's
band keys broadcast; a viral image with a million history copies is
ONE canonical row on the build side (the index stores canonicals, and
the read re-aggregates min(canonical_id) per fp so even a
double-committed unit cannot multiply probe rows); per-batch work is
O(|batch| · band collisions), independent of history size.

GIVEN the fingerprints, the whole classification is SQL-expressible —
the direct test pins it against a DuckDB oracle over constructed
fingerprint rows (exact / near / chained / torn), plus replay + crash
tests matching tests/test_corpus_ingest.py's discipline.

Reference parity: none (no media, no storage in the 412-LoC
reference); BASELINE.json north-star tier — multimodal dedup at scale.
"""

from __future__ import annotations

import os as _os
import shutil as _shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources import commit_protocol as _cp
from .phash import PHASH_MAX_HAMMING, hash_bands

_FP_INDEX_SCHEMA = "fp long, canonical_id long"


def _read_fp_index(
    spark: SparkSession, index_path: str, exclude_unit: str | None = None
) -> DataFrame:
    """(fp, canonical_id) over COMMITTED units only; a missing index is
    EMPTY HISTORY (the first batch seeds it). ``exclude_unit`` drops
    one unit from the view — the replay path's own already-published
    rows (see ``ingest_media_batch``)."""
    units = [u for u in _cp.committed_units(index_path) if u != exclude_unit]
    if not units:
        return spark.createDataFrame([], _FP_INDEX_SCHEMA)
    return spark.read.schema(_FP_INDEX_SCHEMA).parquet(
        *[_os.path.join(index_path, "fp", f"unit={u}") for u in units]
    )


def incremental_media_dedup(
    spark: SparkSession,
    hashes: DataFrame,
    index_path: str,
    max_hamming: int = PHASH_MAX_HAMMING,
    exclude_unit: str | None = None,
) -> DataFrame:
    """Classify each (asset_id, fp, error) of the batch against the
    index AND the rest of its own batch. Returns (asset_id, fp,
    status, matched_id, hamming):

    - ``media_dup`` — the fingerprint is exact-or-near (Hamming <=
      max_hamming) a history canonical (matched_id = the nearest
      canonical, Hamming then id as tiebreak), or claimed by an
      earlier asset of this batch (one-hop near, first-asset-wins);
      history wins over in-batch when both match;
    - ``kept`` — a new canonical;
    - ``error`` — torn payload (null fp), passed through.

    One banding pass over the batch + one band-key-filtered probe of
    history + one in-batch band self-join: O(|batch|), never
    O(history)."""
    good = hashes.filter(F.col("fp").isNotNull()).select("asset_id", "fp")
    batch_fps = good.select("fp").distinct()
    batch_bands = hash_bands(batch_fps, "fp")
    band_keys = batch_bands.select("band_idx", "band_val").distinct()
    # history probe slice: canonicals re-aggregated per fp (duplicate
    # units can never multiply probe rows), banded, cut to the batch's
    # band keys BEFORE pairing — the O(batch) discipline
    hist = (
        _read_fp_index(spark, index_path, exclude_unit=exclude_unit)
        .groupBy("fp")
        .agg(F.min("canonical_id").alias("canonical_id"))
    )
    hist_bands = hash_bands(hist, "fp").join(
        F.broadcast(band_keys), ["band_idx", "band_val"], "left_semi"
    )
    hist_hits = (
        batch_bands.join(
            hist_bands.select(
                F.col("fp").alias("h_fp"), "band_idx", "band_val"
            ),
            ["band_idx", "band_val"],
        )
        .select("fp", "h_fp")
        .distinct()
        .withColumn(
            "hamming",
            F.bit_count(F.col("fp").bitwiseXOR(F.col("h_fp"))).cast("int"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .join(hist.select(F.col("fp").alias("h_fp"), "canonical_id"), "h_fp")
        .groupBy("fp")
        .agg(F.min(F.struct("hamming", "canonical_id")).alias("hb"))
        .select(
            "fp",
            F.col("hb.canonical_id").alias("hist_id"),
            F.col("hb.hamming").alias("hist_ham"),
        )
    )
    # in-batch: first asset per exact fingerprint, then one-hop near
    # candidates per fp over the batch's own band self-join (self
    # included at Hamming 0) — groupBy+join-back, hot-fp safe
    firsts = good.groupBy("fp").agg(F.min("asset_id").alias("first_id"))
    self_pairs = (
        batch_bands.join(
            batch_bands.select(
                F.col("fp").alias("o_fp"), "band_idx", "band_val"
            ),
            ["band_idx", "band_val"],
        )
        .select("fp", "o_fp")
        .distinct()
        .withColumn(
            "hamming",
            F.bit_count(F.col("fp").bitwiseXOR(F.col("o_fp"))).cast("int"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .join(
            firsts.select(F.col("fp").alias("o_fp"), "first_id"), "o_fp"
        )
        .select("fp", "first_id", "hamming")
    )
    verdict = (
        good.join(hist_hits, "fp", "left")
        .join(
            self_pairs.withColumnRenamed("first_id", "cand_id"), "fp", "left"
        )
        # an in-batch candidate claims this asset only if it is EARLIER
        .withColumn(
            "cand_ok",
            F.col("cand_id").isNotNull()
            & (F.col("cand_id") < F.col("asset_id")),
        )
        .groupBy("asset_id", "fp", "hist_id", "hist_ham")
        .agg(
            F.min(
                F.when(
                    F.col("cand_ok"), F.struct("hamming", "cand_id")
                )
            ).alias("bb")
        )
        .select(
            "asset_id",
            "fp",
            F.when(F.col("hist_id").isNotNull(), F.lit("media_dup"))
            .when(F.col("bb").isNotNull(), F.lit("media_dup"))
            .otherwise(F.lit("kept"))
            .alias("status"),
            F.coalesce(F.col("hist_id"), F.col("bb.cand_id")).alias(
                "matched_id"
            ),
            F.coalesce(F.col("hist_ham"), F.col("bb.hamming"))
            .cast("int")
            .alias("hamming"),
        )
    )
    errors = hashes.filter(F.col("fp").isNull()).select(
        "asset_id",
        F.lit(None).cast("long").alias("fp"),
        F.lit("error").alias("status"),
        F.lit(None).cast("long").alias("matched_id"),
        F.lit(None).cast("int").alias("hamming"),
    )
    return verdict.unionByName(errors)


def ingest_media_batch(
    spark: SparkSession,
    hashes: DataFrame,
    index_path: str,
    max_hamming: int = PHASH_MAX_HAMMING,
    unit: str | None = None,
) -> DataFrame:
    """The day-2 cycle for one media batch: classify, then append the
    KEPT assets' fingerprints as one committed unit (marker LAST).
    Replay-idempotent: the same ``unit`` label overwrites its own
    directory and re-commits; an ever-published label skips the writes
    and classifies with its own unit excluded (identical pre-publish
    verdicts); a compaction-superseded label RAISES (its rows live in
    the c-unit, the exclusion no longer hides them, and every asset
    would classify as a dup of itself — the ``ingest_url_batch``
    contract). Returns the classification relation."""
    label = unit or _cp.next_unit_label(index_path)
    _names0, superseded0 = _cp.marker_state(index_path)
    if label in superseded0:
        raise RuntimeError(
            f"ingest_media_batch: unit {label!r} was compacted away; a "
            "compaction ran while this batch was unacknowledged — "
            "re-classify the batch under a FRESH unit label instead of "
            "replaying."
        )
    verdicts = incremental_media_dedup(
        spark, hashes, index_path, max_hamming=max_hamming,
        exclude_unit=label,
    )
    names, _superseded = _cp.marker_state(index_path)
    if label in names:
        return verdicts  # effects already fully published
    kept = verdicts.filter(F.col("status") == "kept").select(
        "fp", F.col("asset_id").alias("canonical_id")
    )
    kept.write.mode("overwrite").parquet(
        _os.path.join(index_path, "fp", f"unit={label}")
    )
    _cp.commit_unit(index_path, label)
    return verdicts


def build_media_index(
    hashes: DataFrame, index_path: str, spark: SparkSession
) -> str:
    """Bootstrap the fingerprint index from a day-1 corpus as unit
    u000000 (overwrite semantics): the day-1 batch classifies against
    empty history, so its kept set is exactly the corpus's canonical
    fingerprints under the same one-hop first-wins rule the batch path
    applies ever after."""
    for sub in ("fp", _cp.COMMITS_DIR):
        _shutil.rmtree(_os.path.join(index_path, sub), ignore_errors=True)
    ingest_media_batch(spark, hashes, index_path, unit="u000000")
    return "u000000"


def compact_media_index(
    spark: SparkSession, index_path: str, n_files: int | None = None
) -> dict:
    """Consolidate every committed unit into ONE c-unit whose marker
    retires the source units atomically (the ``compact_url_index``
    discipline): re-aggregate min(canonical_id) per fingerprint — the
    invariant every read re-derives, materialized. NUMBERED
    repartition sized from source bytes (never coalesce(1) — VERDICT
    r10 #2); lazy, restartable cleanup. Single-maintainer assumption:
    do not compact with in-flight / unacknowledged batches."""
    from ..sources.maintenance import _dataset_bytes

    units = _cp.committed_units(index_path)
    if len(units) <= 1:
        return {
            "unit": units[0] if units else None,
            "compacted_units": 0,
            "rows": None,
        }
    label = _cp.next_unit_label(index_path, prefix="c")
    if n_files is None:
        total = sum(
            _dataset_bytes(_os.path.join(index_path, "fp", f"unit={u}"))
            for u in units
            if _os.path.isdir(_os.path.join(index_path, "fp", f"unit={u}"))
        )
        n_files = max(1, -(-total // (128 * 1024 * 1024)))
    merged = (
        _read_fp_index(spark, index_path)
        .groupBy("fp")
        .agg(F.min("canonical_id").alias("canonical_id"))
    )
    merged.repartition(n_files, "fp").write.mode("overwrite").parquet(
        _os.path.join(index_path, "fp", f"unit={label}")
    )
    _cp.commit_unit(index_path, label, supersedes=units)
    _names, all_superseded = _cp.marker_state(index_path)
    for u in sorted(all_superseded):
        _shutil.rmtree(
            _os.path.join(index_path, "fp", f"unit={u}"), ignore_errors=True
        )
        try:
            _os.remove(_os.path.join(index_path, _cp.COMMITS_DIR, u))
        except FileNotFoundError:
            pass
    return {
        "unit": label,
        "compacted_units": len(units),
        "rows": _read_fp_index(spark, index_path).count(),
    }
