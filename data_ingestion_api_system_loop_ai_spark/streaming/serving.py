"""Serving table: the reference's ``ingestionStore`` dict as a table.

The reference keeps request/batch state in a process-global JS object
(``ingestController.js:5``) — lost on restart, readable only in-process.
The engine's equivalent is a KEYED SERVING TABLE maintained by the
streaming layer and read by the status surface:

- ``ServingTable`` is a versioned, KEY-HASH-BUCKETED parquet table.
  Rows live in ``v=<n>/bucket=<b>/`` directories, where ``b =
  pmod(hash(key), num_buckets)``. Every commit writes new directories
  ONLY for the buckets the micro-batch touched, records a manifest
  (bucket -> version of its current directory) inside the new version
  directory, and atomically swaps a pointer file (``os.replace``) —
  readers always see a complete version, never a half-written
  directory; a crash mid-commit leaves the previous version live.
  (The same commit protocol, scaled up, is what lakehouse table
  formats provide; on object storage the pointer swap maps to a
  conditional PUT, and the manifest is the moral equivalent of a
  MERGE's copy-on-write file rewrite scoped to touched files.)
- ``upsert`` merges a micro-batch by key, keeping the row with the
  highest sequence per key. Micro-batch REPLAY (foreachBatch re-delivers
  after restart) is therefore idempotent: replayed rows lose the max-seq
  tie-break against themselves and nothing changes.
- ``delete`` is a TOMBSTONE upsert (same max-seq merge, marker row):
  replay-idempotent, revivable by a later higher-seq write, filtered
  by the read surface, emitted as a liveness transition by the change
  feed, and preserved across rebucketing.
- ``attach_serving_sink`` wires a drain stream into the table via
  ``foreachBatch``.

Scale notes: a micro-batch of k keys reads and rewrites only the
buckets those keys hash to — O(touched buckets), NOT O(table), per
trigger (the round-2 full-table rewrite was the classic copy-on-write
failure mode at 100 TB of request state). The merge shuffles only the
touched buckets' rows plus the micro-batch, keyed (AQE broadcasts the
micro-batch side when small); a full-key point lookup reads exactly
one bucket directory. ``num_buckets`` sizes the rewrite granularity:
at production scale pick buckets so one bucket ~ a few hundred MB
(e.g. 2^14 buckets for 10 TB of state). Old versions are vacuumed
once no retained manifest references them.
"""

from __future__ import annotations

import json
import os
import shutil
import time

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..sources.commit_protocol import atomic_write_text

_POINTER = "_LATEST"
_MANIFEST = "_MANIFEST.json"
_CONFIG = "_TABLE_CONFIG.json"
# partition-directory column; NOT underscore-prefixed because Spark's
# file listing treats `_*` directories as hidden and would skip them
BUCKET_COL = "bucket"
# row-level delete marker: deletes are TOMBSTONE upserts (a row whose
# marker is true wins the max-seq merge like any other row, making
# deletes replay-idempotent and revivable by a later higher-seq
# upsert); the read surface (current/lookup) filters them, the raw
# surface (time travel with include_tombstones, change_feed) sees them
TOMBSTONE_COL = "ss_deleted"
# lookup_rows re-reads the pointer this many times when a vacuum
# removes the files of the version it resolved
_READ_ATTEMPTS = 3


_M32 = 0xFFFFFFFF


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (32 - r))) & _M32


def _mix_k1(k1: int) -> int:
    return (_rotl((k1 * 0xCC9E2D51) & _M32, 15) * 0x1B873593) & _M32


def _mix_h1(h1: int, k1: int) -> int:
    return (_rotl(h1 ^ k1, 13) * 5 + 0xE6546B64) & _M32


def _fmix(h1: int, length: int) -> int:
    h1 ^= length
    h1 = ((h1 ^ (h1 >> 16)) * 0x85EBCA6B) & _M32
    h1 = ((h1 ^ (h1 >> 13)) * 0xC2B2AE35) & _M32
    return h1 ^ (h1 >> 16)


def _murmur3_bytes(data: bytes, seed: int) -> int:
    # Spark's hashUnsafeBytes: little-endian 4-byte words, then each
    # trailing SIGNED byte mixed as a whole int (not the standard tail)
    n = len(data)
    aligned = n - n % 4
    h1 = seed
    for i in range(0, aligned, 4):
        h1 = _mix_h1(h1, _mix_k1(int.from_bytes(data[i : i + 4], "little")))
    for b in data[aligned:]:
        h1 = _mix_h1(h1, _mix_k1((b - 256 if b > 127 else b) & _M32))
    return _fmix(h1, n)


def _murmur3_long(v: int, seed: int) -> int:
    h1 = _mix_h1(seed, _mix_k1(v & _M32))
    return _fmix(_mix_h1(h1, _mix_k1((v >> 32) & _M32)), 8)


def spark_hash(values, types) -> int | None:
    """Spark's ``hash(c1, c2, ...)`` computed on the driver:
    Murmur3_x86_32, seed 42, each column's hash seeding the next. The
    TYPE decides the hash, as in Spark: int8/16/32 columns hash as an
    INT (4 bytes), int64 as a BIGINT (8 bytes) — so ``hash(7012 AS
    INT) != hash(7012 AS BIGINT)`` — and strings as their UTF-8 bytes.
    ``types`` are the stored columns' pyarrow types. Returns the signed
    32-bit hash, or None for a type or value this port does not cover
    (callers then read without bucket pruning)."""
    h = 42
    for v, t in zip(values, types):
        if isinstance(v, str) and (
            pa.types.is_string(t) or pa.types.is_large_string(t)
        ):
            h = _murmur3_bytes(v.encode("utf-8"), h)
        elif not isinstance(v, int) or isinstance(v, bool):
            return None
        elif pa.types.is_int64(t) and -(2**63) <= v < 2**63:
            h = _murmur3_long(v, h)
        elif pa.types.is_signed_integer(t) and -(2**31) <= v < 2**31:
            h = _fmix(_mix_h1(h, _mix_k1(v & _M32)), 4)
        else:
            return None
    return h - 2**32 if h >= 2**31 else h


def _stamp(path: str | int) -> tuple[int, int]:
    """A file's or directory's identity, by path or open descriptor:
    ``(st_ino, st_mtime_ns)``."""
    st = os.stat(path)
    return st.st_ino, st.st_mtime_ns


class _BucketDir:
    """One committed ``bucket=<b>`` directory as the read side caches
    it: its identity stamp, its stored column types (from one file
    footer) and, once a ``lookup_rows`` wanted them, its live rows,
    tombstones removed, indexed by the bucket-column values."""

    __slots__ = ("stamp", "types", "rows")

    def __init__(self, stamp: tuple[int, int]) -> None:
        self.stamp = stamp
        self.types: dict | None = None
        self.rows: dict[tuple, list[dict]] | None = None


class ConcurrentWriteConflict(RuntimeError):
    """Another writer claimed the version this writer was about to
    commit; re-read the table state and retry the operation."""


class ServingTable:
    """Keyed, versioned, hash-bucketed parquet serving table with
    atomic manifest commits and bucket-scoped upserts."""

    def __init__(
        self,
        path: str,
        key_cols: list[str],
        seq_col: str,
        keep_versions: int = 3,
        num_buckets: int = 16,
        bucket_cols: list[str] | None = None,
    ) -> None:
        """``key_cols`` identify a row for the max-seq merge;
        ``bucket_cols`` (default: the key) choose the PLACEMENT hash.
        Bucketing by an access-pattern prefix of the key — e.g. rows
        keyed by batch_id but bucketed by request_id — co-locates every
        row a read will want in ONE bucket directory, so the read is
        O(bucket) without a secondary index. ``bucket_cols`` must be a
        function of the row (present in every upserted batch)."""
        self.path = path
        self.key_cols = list(key_cols)
        self.seq_col = seq_col
        self.keep_versions = keep_versions
        self.num_buckets = num_buckets
        self.bucket_cols = list(bucket_cols) if bucket_cols else self.key_cols
        os.makedirs(path, exist_ok=True)
        # placement parameters are PINNED on first commit: a reader (or
        # a restarted writer) opening an existing table inherits the
        # on-disk key/bucket/seq configuration — a mismatched guess
        # would prune lookups to the wrong bucket or split merge keys
        try:
            with open(os.path.join(path, _CONFIG)) as f:
                cfg = json.load(f)
            self.key_cols = cfg["key_cols"]
            self.seq_col = cfg["seq_col"]
            self.num_buckets = cfg["num_buckets"]
            self.bucket_cols = cfg["bucket_cols"]
        except FileNotFoundError:
            pass
        # read-side caches. Committed files never change, so an entry
        # is keyed by path and valid while the path's (st_ino,
        # st_mtime_ns) holds: a table removed and re-written at the same
        # path is never served from them. _snap is the latest version's
        # (version, manifest stamp, manifest, num_buckets); _dirs maps
        # each bucket directory of that manifest to its _BucketDir
        self._snap: tuple | None = None
        self._dirs: dict[str, _BucketDir] = {}

    def _save_config(self) -> None:
        """Pin the placement parameters on disk, rewriting the file only
        when they changed (first commit, or a rebucket)."""
        cfg_path = os.path.join(self.path, _CONFIG)
        text = json.dumps(
            {
                "key_cols": self.key_cols,
                "seq_col": self.seq_col,
                "num_buckets": self.num_buckets,
                "bucket_cols": self.bucket_cols,
            }
        )
        try:
            with open(cfg_path) as f:
                if f.read() == text:
                    return
        except FileNotFoundError:
            pass
        atomic_write_text(cfg_path, text)

    # -- commit protocol ---------------------------------------------------

    def _pointer_file(self) -> str:
        return os.path.join(self.path, _POINTER)

    def latest_version(self) -> int:
        try:
            with open(self._pointer_file()) as f:
                return int(f.read().strip())
        except FileNotFoundError:
            return -1

    def _commit(self, version: int) -> None:
        # atomic pointer swap — the shared rename primitive
        atomic_write_text(self._pointer_file(), str(version))

    def _claim_version(self, version: int) -> None:
        """Optimistic concurrency: atomically claim a version number
        (O_CREAT|O_EXCL claim file) BEFORE doing any merge work. Two
        writers racing on the same store — two drains, or a drain and a
        maintenance pass — both read latest v and would both write
        v+1, the second silently clobbering the first's directories
        and manifest; with the claim, exactly one wins and the loser
        raises ``ConcurrentWriteConflict`` to retry against the
        winner's commit. On object storage the same role is played by
        a conditional PUT on the pointer; claim files are removed by
        vacuum along with their version directory."""
        try:
            fd = os.open(
                os.path.join(self.path, f"v={version}.claim"),
                os.O_CREAT | os.O_EXCL | os.O_WRONLY,
            )
            os.close(fd)
        except FileExistsError:
            raise ConcurrentWriteConflict(
                f"version {version} already claimed by another writer; "
                "re-read the table and retry"
            ) from None

    def _manifest_file(self, version: int) -> str:
        return os.path.join(self.path, f"v={version}", _MANIFEST)

    def _manifest(self, version: int) -> dict[int, int] | None:
        """bucket -> version whose ``v=<version>/bucket=<b>`` directory
        holds that bucket's current rows, from the
        {"buckets": ..., "num_buckets": N} envelope (the envelope makes
        the bucket COUNT part of the atomically-committed version, so
        ``rebucket`` can change it under the same pointer-swap
        guarantee as any data commit)."""
        try:
            with open(self._manifest_file(version)) as f:
                raw = json.load(f)
        except FileNotFoundError:
            return None
        return {int(k): int(v) for k, v in raw["buckets"].items()}

    def _snapshot(self, version: int) -> dict[int, int] | None:
        """``_manifest(version)``, adopting the bucket count the version
        was committed with. Called before any operation that hashes
        keys to buckets, so a reader or writer that opened the table
        before a rebucket still routes correctly after it. The parsed
        manifest is kept while its file's identity holds, and a new
        one drops the cached bucket directories it no longer
        references."""
        try:
            with open(self._manifest_file(version)) as f:
                stamp = _stamp(f.fileno())
                snap = self._snap
                if snap is None or snap[:2] != (version, stamp):
                    raw = json.load(f)
                    manifest = {int(k): int(v) for k, v in raw["buckets"].items()}
                    snap = (version, stamp, manifest, int(raw["num_buckets"]))
                    self._snap = snap
                    live = {self._bucket_dir(b, vb) for b, vb in manifest.items()}
                    self._dirs = {d: e for d, e in self._dirs.items() if d in live}
        except FileNotFoundError:
            return None
        self.num_buckets = snap[3]
        return snap[2]

    def _write_manifest(self, version: int, manifest: dict[int, int]) -> None:
        os.makedirs(os.path.join(self.path, f"v={version}"), exist_ok=True)
        with open(self._manifest_file(version), "w") as f:
            json.dump(
                {
                    "buckets": {str(k): v for k, v in sorted(manifest.items())},
                    "num_buckets": self.num_buckets,
                },
                f,
            )

    def _bucket_dir(self, bucket: int, version: int) -> str:
        return os.path.join(self.path, f"v={version}", f"{BUCKET_COL}={bucket}")

    def _bucket_expr(self):
        return F.pmod(
            F.hash(*[F.col(c) for c in self.bucket_cols]), F.lit(self.num_buckets)
        )

    def _vacuum(self, current: int) -> None:
        """Remove version directories older than the retention window
        UNLESS a retained manifest still references their bucket
        directories (a bucket untouched for many commits keeps its old
        version directory alive)."""
        floor = current - self.keep_versions
        referenced: set[int] = set()
        for v in range(max(floor, 0), current + 1):
            m = self._manifest(v)
            if m:
                referenced.update(m.values())
        for name in os.listdir(self.path):
            if not name.startswith("v=") or name.endswith(".claim"):
                continue
            v = int(name[2:])
            if v < floor and v not in referenced:
                shutil.rmtree(os.path.join(self.path, name), ignore_errors=True)
        for name in os.listdir(self.path):
            if name.startswith("v=") and name.endswith(".claim"):
                v = int(name[2 : -len(".claim")])
                if v <= current and not os.path.isdir(
                    os.path.join(self.path, f"v={v}")
                ):
                    # committed-or-vacuumed epoch with no directory left
                    os.remove(os.path.join(self.path, name))

    def break_claim(self, version: int) -> None:
        """Manual recovery: release the claim of a writer that CRASHED
        after claiming ``version`` but before committing (its claim
        would otherwise block that version number forever, since no
        commit ever supersedes it). Operator action by design — the
        table cannot distinguish a crashed writer from a slow one;
        call only when the claiming process is known dead. The next
        writer then retries and wins the version."""
        try:
            os.remove(os.path.join(self.path, f"v={version}.claim"))
        except FileNotFoundError:
            pass

    # -- reads -------------------------------------------------------------

    def current(
        self,
        spark: SparkSession,
        version: int | None = None,
        include_tombstones: bool = False,
    ) -> DataFrame | None:
        """The table at its latest commit — or, with ``version``, a
        TIME-TRAVEL read of any still-retained older commit: each
        version directory keeps the full bucket->directory manifest it
        was committed with, so reading "as of v" is just resolving
        that manifest (the lakehouse snapshot-read idiom; retention =
        ``keep_versions`` + manifest references, enforced by vacuum).
        Deleted keys (tombstones) are filtered unless
        ``include_tombstones`` — raw reads keep the marker column."""
        v = self.latest_version() if version is None else version
        if v < 0:
            return None
        manifest = self._manifest(v) or {}
        paths = [self._bucket_dir(b, vb) for b, vb in sorted(manifest.items())]
        if not paths:
            return None
        df = spark.read.option("mergeSchema", "true").parquet(*paths)
        if include_tombstones:
            return df
        return df.filter(~F.col(TOMBSTONE_COL)).drop(TOMBSTONE_COL)

    def _bucket_entry(self, path: str, rows: bool = False) -> _BucketDir:
        """The cached ``_BucketDir`` of the committed bucket directory
        ``path``, started afresh when the directory's identity changed.
        Fills in the column types from one file footer, and with
        ``rows`` the live rows from one pyarrow read. pyarrow skips the
        ``_SUCCESS`` and ``.crc`` files Spark leaves beside the data."""
        stamp = _stamp(path)
        e = self._dirs.get(path)
        if e is None or e.stamp != stamp:
            e = self._dirs[path] = _BucketDir(stamp)
        if rows and e.rows is None:
            t = pq.read_table(path)
            live = t.filter(pc.equal(t[TOMBSTONE_COL], False))
            index: dict[tuple, list[dict]] = {}
            for r in live.drop_columns([TOMBSTONE_COL]).to_pylist():
                key = tuple(r.get(c) for c in self.bucket_cols)
                index.setdefault(key, []).append(r)
            e.types = {f.name: f.type for f in t.schema}
            e.rows = index
        elif e.types is None:
            name = next(n for n in sorted(os.listdir(path)) if n.endswith(".parquet"))
            schema = pq.read_schema(os.path.join(path, name))
            e.types = {f.name: f.type for f in schema}
        return e

    def _bucket_of(self, manifest: dict, key_values: dict) -> int | None:
        """The one bucket a lookup on ``key_values`` reads, hashed on
        the driver by ``spark_hash``; None when a bucket column is not
        given or has a type the port does not cover. The stored column
        types decide the hash; they are those of the manifest's first
        bucket directory (a new commit could evolve the schema), read
        once per directory."""
        if not set(self.bucket_cols) <= set(key_values):
            return None
        b = next(iter(manifest))
        types = self._bucket_entry(self._bucket_dir(b, manifest[b])).types
        if not set(self.bucket_cols) <= set(types):
            return None
        h = spark_hash(
            [key_values[c] for c in self.bucket_cols],
            [types[c] for c in self.bucket_cols],
        )
        return None if h is None else h % self.num_buckets

    def lookup(self, spark: SparkSession, **key_values) -> DataFrame | None:
        """Point lookup by arbitrary column equalities. When every
        BUCKET column is given (with a type ``spark_hash`` covers),
        only the ONE bucket directory those values hash to is read —
        O(bucket), not O(table); any other lookup reads the table."""
        v = self.latest_version()
        if v < 0:
            return None
        manifest = self._snapshot(v)
        if not manifest:
            return None
        b = self._bucket_of(manifest, key_values)
        if b is None:
            cur = self.current(spark)
        elif b in manifest:
            cur = (
                spark.read.parquet(self._bucket_dir(b, manifest[b]))
                .filter(~F.col(TOMBSTONE_COL))
                .drop(TOMBSTONE_COL)
            )
        else:
            # key's bucket has no data yet: empty result, right schema
            cur = self.current(spark).limit(0)
        for k, val in key_values.items():
            cur = cur.filter(F.col(k) == F.lit(val))
        return cur

    def lookup_rows(self, **key_values) -> list[dict]:
        """``lookup`` as plain rows, served from memory on the driver:
        no Spark job. Same manifest, placement, bucket and tombstone
        rules: one bucket directory when ``_bucket_of`` resolves one,
        every bucket of the version otherwise.

        A committed bucket directory never changes, and an upsert
        rewrites only the buckets it touches, so each directory the
        latest manifest references is read with pyarrow once and kept
        (``_bucket_entry``): its live rows indexed by the bucket-column
        values, valid while the directory's ``(st_ino, st_mtime_ns)``
        holds. A read of a cached bucket is the pointer read, the
        manifest's ``fstat``, a ``stat`` per bucket directory and a dict
        hit. The rows returned are copies.
        A vacuum that removes a directory between the pointer read and
        the file read is retried against a fresh pointer."""
        attempts = _READ_ATTEMPTS
        while True:
            v = self.latest_version()
            if v < 0:
                return []
            try:
                manifest = self._snapshot(v)
                if manifest is None:  # vacuumed after the pointer read
                    raise FileNotFoundError(self._manifest_file(v))
                if not manifest:
                    return []
                b = self._bucket_of(manifest, key_values)
                if b is None:
                    dirs = [self._bucket_dir(bk, manifest[bk]) for bk in sorted(manifest)]
                    groups = [
                        g
                        for d in dirs
                        for g in self._bucket_entry(d, rows=True).rows.values()
                    ]
                elif b in manifest:
                    rows = self._bucket_entry(
                        self._bucket_dir(b, manifest[b]), rows=True
                    ).rows
                    key = tuple(key_values[c] for c in self.bucket_cols)
                    groups = [rows.get(key, [])]
                else:
                    return []
                return [
                    dict(r)
                    for g in groups
                    for r in g
                    if all(r.get(k) == val for k, val in key_values.items())
                ]
            except FileNotFoundError:
                attempts -= 1
                if not attempts:
                    raise

    def change_feed(
        self, spark: SparkSession, v_from: int, v_to: int | None = None
    ) -> DataFrame | None:
        """CDC between two retained commits: one row per key whose state
        differs between version ``v_from`` and ``v_to`` (default:
        latest), with ``change_type`` in insert/update/delete and the
        old/new sequence numbers. The lakehouse change-data-feed read,
        built from what the commit protocol already records.

        Cost is O(CHANGED buckets), not O(table): a bucket untouched
        between the two versions has the SAME directory in both
        manifests — provably identical bytes — so only buckets whose
        manifest entry moved are read and diffed (at production bucket
        counts this is the micro-batch footprint, a tiny fraction of
        state). Within changed buckets, per-key change detection is the
        ``seq_col`` contract: the merge keeps the max-seq row per key,
        so a key changed iff its surviving seq changed — no column-wise
        struct compare, and replayed (idempotent) upserts produce no
        feed rows. Returns None when neither version has data."""
        if v_to is None:
            v_to = self.latest_version()
        # v_from == -1 means "before the table existed" (everything in
        # v_to is an insert). A NON-negative v_from whose manifest is
        # gone is a different situation entirely — the version existed
        # but was vacuumed past keep_versions — and defaulting it to {}
        # would silently report the whole v_to state as inserts: wrong
        # CDC output with no error (ADVICE r03). Raise instead.
        if v_from >= 0:
            m_from = self._manifest(v_from)
            if m_from is None:
                raise ValueError(
                    f"change_feed: version {v_from} is outside retention "
                    f"(manifest vacuumed); cannot compute changes from it"
                )
        else:
            m_from = {}
        if v_to >= 0:
            m_to = self._manifest(v_to)
            if m_to is None:
                raise ValueError(
                    f"change_feed: version {v_to} has no manifest "
                    f"(outside retention or never committed)"
                )
        else:
            m_to = {}
        changed = sorted(
            b for b in set(m_from) | set(m_to) if m_from.get(b) != m_to.get(b)
        )
        old_paths = [self._bucket_dir(b, m_from[b]) for b in changed if b in m_from]
        new_paths = [self._bucket_dir(b, m_to[b]) for b in changed if b in m_to]
        if not old_paths and not new_paths:
            return None
        sides = []
        for paths, alias, ts_alias in (
            (old_paths, "old_seq", "_old_ts"),
            (new_paths, "new_seq", "_new_ts"),
        ):
            if paths:
                side = spark.read.option("mergeSchema", "true").parquet(*paths).select(
                    *self.key_cols,
                    F.col(self.seq_col).alias(alias),
                    F.coalesce(F.col(TOMBSTONE_COL), F.lit(False)).alias(ts_alias),
                )
            else:
                template = old_paths or new_paths
                side = (
                    spark.read.parquet(*template)
                    .select(
                        *self.key_cols,
                        F.col(self.seq_col).alias(alias),
                        F.lit(False).alias(ts_alias),
                    )
                    .limit(0)
                )
            sides.append(side)
        old, new = sides
        # tombstone-aware classification: a key's LIVENESS transition
        # decides insert/delete (absent-or-tombstoned -> live = insert,
        # live -> tombstoned-or-absent = delete); a seq change between
        # two live states is an update; dead -> dead (re-deleted or
        # replayed tombstone) is no event.
        old_live = F.col("old_seq").isNotNull() & ~F.col("_old_ts")
        new_live = F.col("new_seq").isNotNull() & ~F.col("_new_ts")
        return (
            old.join(new, self.key_cols, "full_outer")
            .withColumn(
                "change_type",
                F.when(~old_live & new_live, F.lit("insert"))
                .when(old_live & ~new_live, F.lit("delete"))
                .when(
                    old_live & new_live
                    & (F.col("new_seq") != F.col("old_seq")),
                    F.lit("update"),
                ),
            )
            .filter(F.col("change_type").isNotNull())
            .select(*self.key_cols, "change_type", "old_seq", "new_seq")
        )

    # -- writes ------------------------------------------------------------

    def _publish(
        self, df: DataFrame, base_version: int, base_manifest: dict, touched
    ) -> int:
        """The one commit routine: claim version ``base_version + 1``,
        write ``df`` (carrying ``BUCKET_COL``) as its ``bucket=<b>``
        directories, then manifest -> config -> pointer swap -> vacuum.
        The new manifest is ``base_manifest`` minus ``touched`` plus the
        buckets the write actually produced, so a touched bucket left
        empty drops out. ``base_version`` is the version the caller's
        merge read — never re-read here: a writer that raced in since
        then makes the claim fail instead of being silently dropped."""
        next_v = base_version + 1
        self._claim_version(next_v)
        vdir = os.path.join(self.path, f"v={next_v}")
        (
            df.repartition(max(len(touched), 1), F.col(BUCKET_COL))
            .write.partitionBy(BUCKET_COL)
            .mode("overwrite")
            .parquet(vdir)
        )
        manifest = {b: v for b, v in base_manifest.items() if b not in touched}
        for name in os.listdir(vdir):
            if name.startswith(f"{BUCKET_COL}="):
                manifest[int(name.split("=", 1)[1])] = next_v
        self._write_manifest(next_v, manifest)
        self._save_config()
        self._commit(next_v)
        self._vacuum(next_v)
        return next_v

    def upsert(self, batch_df: DataFrame) -> int:
        """Merge a micro-batch: per key keep the highest-``seq_col`` row
        (new beats old; replayed rows tie with themselves — idempotent).
        Reads and rewrites ONLY the buckets the micro-batch touches;
        untouched buckets keep their existing directories via the
        manifest. Writes version N+1, swaps the pointer, vacuums
        unreferenced versions. Returns the committed version number.

        The touched-bucket list is a ``distinct().collect()`` — bounded
        by ``num_buckets`` integers, never by table or batch size."""
        if BUCKET_COL in batch_df.columns:
            raise ValueError(
                f"column name {BUCKET_COL!r} is reserved by ServingTable"
            )
        spark = batch_df.sparkSession
        cur_v = self.latest_version()
        manifest = self._snapshot(cur_v) or {}
        if TOMBSTONE_COL not in batch_df.columns:
            batch_df = batch_df.withColumn(TOMBSTONE_COL, F.lit(False))
        batch = batch_df.withColumn(BUCKET_COL, self._bucket_expr())
        touched = {
            r[BUCKET_COL] for r in batch.select(BUCKET_COL).distinct().collect()
        }
        cur_paths = [
            self._bucket_dir(b, manifest[b]) for b in sorted(touched) if b in manifest
        ]
        if cur_paths:
            # bucket is a partition dir, dropped on leaf-dir read;
            # recompute it (deterministic hash of the key).
            # allowMissingColumns: a delete batch carries only key+seq —
            # its absent value columns null-fill (nobody reads values of
            # a tombstoned row)
            merged = (
                spark.read.option("mergeSchema", "true")
                .parquet(*cur_paths)
                .withColumn(BUCKET_COL, self._bucket_expr())
                .unionByName(batch, allowMissingColumns=True)
            )
        else:
            merged = batch
        w = W.partitionBy(*self.key_cols).orderBy(F.col(self.seq_col).desc())
        latest = (
            merged.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
        return self._publish(latest, cur_v, manifest, touched)

    def delete(self, keys_df: DataFrame) -> int:
        """Row-level delete as a TOMBSTONE upsert: ``keys_df`` carries
        the key columns (bucket columns too, if different) and a
        ``seq_col`` value that must beat the row's current seq — the
        same max-seq merge as any write, so replayed deletes are
        idempotent and a later higher-seq upsert revives the key.
        Absent value columns null-fill (nobody reads values of a
        tombstoned row). The read surface (current/lookup) stops
        serving the key; the change feed emits a ``delete`` row for
        the liveness transition; time travel with
        ``include_tombstones`` still shows the marker. Tombstones cost
        one key-sized row per deleted key until a compaction pass
        drops those older than every retained version — the lakehouse
        MERGE ... WHEN MATCHED THEN DELETE, at this table's scale."""
        return self.upsert(keys_df.withColumn(TOMBSTONE_COL, F.lit(True)))

    def purge_tombstones(self, spark: SparkSession, min_seq) -> int:
        """Physically drop tombstones with ``seq < min_seq`` — the
        reclamation pass that keeps delete markers from accumulating
        forever. The floor is the CALLER'S replay guarantee: purge
        only below the sequence no replay can ever carry again (for a
        checkpointed drain, the committed offset's seq; in lakehouse
        terms, the retention window). Purging above that line would
        let a stale replayed upsert resurrect the key the tombstone
        was holding down.

        Rewrites ONLY buckets that actually hold purgeable tombstones
        (same touched-bucket discipline as upsert); a bucket left
        empty by the purge drops out of the manifest entirely.
        Returns the committed version (unchanged if nothing purged)."""
        cur_v = self.latest_version()
        manifest = self._snapshot(cur_v) or {}
        if not manifest:
            return cur_v
        raw = (
            spark.read.option("mergeSchema", "true")
            .parquet(*[self._bucket_dir(b, vb) for b, vb in sorted(manifest.items())])
            .withColumn(BUCKET_COL, self._bucket_expr())
        )
        dead = F.coalesce(F.col(TOMBSTONE_COL), F.lit(False)) & (
            F.col(self.seq_col) < F.lit(min_seq)
        )
        touched = {
            r[BUCKET_COL]
            for r in raw.filter(dead).select(BUCKET_COL).distinct().collect()
        }
        if not touched:
            return cur_v
        keep = raw.filter(F.col(BUCKET_COL).isin(sorted(touched)) & ~dead)
        return self._publish(keep, cur_v, manifest, touched)

    def rebucket(self, spark: SparkSession, new_num_buckets: int) -> int:
        """Change the table's bucket count — the maintenance escape
        hatch when state outgrows the original layout (a bucket should
        stay ~hundreds of MB; state that grew 100x needs 100x the
        buckets for upserts and point lookups to stay O(bucket)).

        One deliberate O(table) rewrite: every row re-hashes into the
        new bucket space under version N+1, whose manifest records the
        NEW count — the bucket count rides the same atomic pointer swap
        as the data, so a crash anywhere mid-rebucket leaves the old
        count and old directories live, and a reader that opened the
        table before the rebucket re-adopts the committed count on its
        next operation (``_snapshot``). The pinned config file
        is rewritten with the new count as the cold-open default;
        correctness never depends on it, since every operation adopts
        the count of the version it reads."""
        if new_num_buckets < 1:
            raise ValueError("new_num_buckets must be >= 1")
        cur_v = self.latest_version()
        # raw read: tombstones MUST survive a rebucket (dropping one
        # would let a replayed lower-seq upsert revive the deleted key)
        cur = self.current(spark, include_tombstones=True)
        self.num_buckets = new_num_buckets
        if cur is None:
            return cur_v
        # fresh manifest: every live bucket lives in the new version;
        # nothing references older directories
        return self._publish(
            cur.withColumn(BUCKET_COL, self._bucket_expr()),
            cur_v,
            {},
            range(new_num_buckets),
        )


def attach_serving_sink(
    drain: DataFrame,
    table: ServingTable,
    checkpoint: str,
    processing_time: str | None = None,
):
    """Run a drain stream into the serving table: one idempotent upsert
    per micro-batch, checkpointed so a restart resumes from the last
    committed batch. Empty micro-batches (triggers that drained
    nothing) commit no new version. Default trigger is ``availableNow``
    (finite drain — the deterministic test form); pass
    ``processing_time`` for the long-running clock-paced form (the HTTP
    listener's live drain, where the interval IS the rate limit)."""

    def _sink(batch_df: DataFrame, _bid: int) -> None:
        # the emptiness check, the upsert's touched-bucket collect and
        # its write each evaluate the batch; persisted, the drain's
        # stateful Python step runs once per trigger, not three times
        batch_df.persist()
        try:
            if batch_df.isEmpty():
                return
            # optimistic-concurrency retry: another writer (e.g. a
            # maintenance rebucket) may win the version race; the
            # upsert's max-seq merge is idempotent, so re-running it
            # against the new state is always safe
            while True:
                try:
                    table.upsert(batch_df)
                    return
                except ConcurrentWriteConflict:
                    time.sleep(0.05)
        finally:
            batch_df.unpersist()

    w = (
        drain.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint)
        .foreachBatch(_sink)
    )
    if processing_time is None:
        w = w.trigger(availableNow=True)
    else:
        w = w.trigger(processingTime=processing_time)
    return w.start()
