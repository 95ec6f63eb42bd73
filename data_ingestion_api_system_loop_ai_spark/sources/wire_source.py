"""Custom Python data source for the reference's ingest wire format.

The reference's input is JSON request bodies over HTTP
(``ingestRoutes.js:6``: ``POST /ingest`` with ``{ids, priority}``).
Batch and streaming readers elsewhere parse captured JSONL with
``from_json``/``read.json``; this module exposes the same wire format
as a FIRST-CLASS Spark connector via the Spark 4 Python Data Source
API (``pyspark.sql.datasource``):

    spark.dataSource.register(IngestWireDataSource)
    spark.read.format("ingestwire").load("capture_dir/")

Why a custom source at all, when ``read.json`` exists: the connector
is where format-specific policy lives — the fixed wire schema (no
inference pass over the data), per-file input partitions (each capture
file reads in parallel on its own executor task, the natural unit for
an HTTP-capture directory), and strict per-line decoding that
attributes errors to file and line. The Python Data Source API is the
slow path relative to the JVM JSON reader (rows cross Arrow per
batch) — the right tool for bespoke formats and side systems, which is
exactly what it demonstrates here; the hot ingest path keeps the
native reader (``requests_json_stream``/``kafka_requests_stream``,
``streaming/live.py``).
"""

from __future__ import annotations

import json
import os

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceWriter,
    InputPartition,
    SimpleDataSourceStreamReader,
    WriterCommitMessage,
)

# the POST /ingest body plus capture metadata; matches the field names
# of streaming/live.py REQUEST_WIRE_SCHEMA
WIRE_SCHEMA = (
    "request_id string, priority string, created_at_ms long, ids array<int>"
)


def _iter_wire_rows(path: str):
    """Strict per-line wire decode shared by the batch and streaming
    readers; a malformed line fails with file:line attribution."""
    with open(path) as f:
        for lineno, line in enumerate(f, 1):
            line = line.strip()
            if not line:
                continue
            try:
                r = json.loads(line)
            except json.JSONDecodeError as exc:
                raise ValueError(
                    f"{path}:{lineno}: malformed wire line"
                ) from exc
            yield (
                str(r["request_id"]) if "request_id" in r else None,
                r.get("priority"),
                r.get("created_at_ms"),
                list(r["ids"]) if r.get("ids") is not None else None,
            )


class _WireFilePartition(InputPartition):
    def __init__(self, path: str) -> None:
        self.path = path


class IngestWireReader(DataSourceReader):
    def __init__(self, options) -> None:
        self.path = options.get("path")
        if not self.path:
            raise ValueError("ingestwire requires a path")

    def partitions(self):
        """One input partition per capture file — files are the wire
        format's natural parallelism unit (one HTTP capture shard
        each); a directory of N files fans out to N executor tasks.
        A ``_SUCCESS`` manifest (written by ``IngestWireWriter``)
        takes precedence over the raw listing, so part files from a
        torn job (crash before commit) are never read; raw capture
        directories without a manifest list as-is."""
        if os.path.isdir(self.path):
            manifest = os.path.join(self.path, "_SUCCESS")
            names = None
            if os.path.exists(manifest):
                try:
                    with open(manifest) as f:
                        names = json.load(f).get("files")
                except (json.JSONDecodeError, OSError):
                    names = None
            if names is None:
                names = sorted(
                    f
                    for f in os.listdir(self.path)
                    if not f.startswith(("_", "."))
                )
            files = [os.path.join(self.path, f) for f in sorted(names)]
        else:
            files = [self.path]
        return [_WireFilePartition(f) for f in files]

    def read(self, partition):
        """Executor-side: strict per-line JSON decode; a malformed line
        fails the task with the file and line number (the reference
        400s a malformed body — a batch capture replay wants the
        position, not a silent null row)."""
        yield from _iter_wire_rows(partition.path)


class IngestWireStreamReader(SimpleDataSourceStreamReader):
    """Streaming form of the wire reader — the live half of the
    connector (``spark.readStream.format("ingestwire")``). The OFFSET
    is the set of fully-consumed capture file names: a file is wholly
    before or wholly after any offset, so the unit of progress is the
    unit of capture and semantics are file-granularity exactly-once —
    Spark checkpoints the offset, ``read`` returns only files not yet
    in it, and crash recovery replays ``readBetweenOffsets`` over the
    same (immutable) files to reproduce a batch bit-for-bit.

    The offset grows with the file count; a production deployment
    rotates capture directories (hour=.../) or switches to a
    (mtime, name) high-water mark once directories stop being
    bounded — the protocol is unchanged."""

    def __init__(self, options) -> None:
        self.path = options.get("path")
        if not self.path:
            raise ValueError("ingestwire requires a path")
        # same throttle the built-in file source offers: at most N new
        # capture files per micro-batch (0 = unlimited). One file per
        # trigger reproduces the reference's one-dequeue-per-tick drain
        # cadence when this source feeds live_priority_drain. Nuance:
        # under Trigger.AvailableNow the engine's simple-reader wrapper
        # prefetches ONE read() to define "available now", so the
        # throttle bounds each RUN rather than each trigger there —
        # per-trigger pacing needs a processingTime trigger (the
        # production mode) or one availableNow run per tick (the
        # deterministic test mode).
        self.max_files = int(options.get("maxfilespertrigger", 0) or 0)

    def _list(self) -> list[str]:
        if not os.path.isdir(self.path):
            return [os.path.basename(self.path)]
        return sorted(
            f for f in os.listdir(self.path) if not f.startswith(("_", "."))
        )

    def _resolve(self, f: str) -> str:
        # single-file path: the offset entry IS the file (its basename);
        # joining the basename back onto the file path would produce
        # <file>/<file> (ADVICE r03) — mirror IngestWireReader.partitions
        if not os.path.isdir(self.path):
            return self.path
        return os.path.join(self.path, f)

    def initialOffset(self) -> dict:
        return {"files": []}

    def read(self, start: dict):
        # NOTE on capture-file publication: the offset is the file-NAME
        # set, and a file's rows are consumed at first listing — a
        # capture file still being appended when listed would be read
        # partially yet marked fully-consumed, silently losing the
        # late-appended rows. Producers must therefore publish capture
        # files ATOMICALLY: write to a dotfile/underscore temp name in
        # the same directory (which _list already filters out) and
        # rename into place only when complete.
        seen = set(start.get("files", []))
        new = [f for f in self._list() if f not in seen]
        if self.max_files:
            new = new[: self.max_files]
        end = {"files": sorted(seen | set(new))}
        rows = [row for f in new for row in _iter_wire_rows(self._resolve(f))]
        return iter(rows), end

    def readBetweenOffsets(self, start: dict, end: dict):
        replay = sorted(
            set(end.get("files", [])) - set(start.get("files", []))
        )
        for f in replay:
            yield from _iter_wire_rows(self._resolve(f))


class _WireCommit(WriterCommitMessage):
    def __init__(self, path: str, rows: int) -> None:
        self.path = path
        self.rows = rows


class IngestWireWriter(DataSourceWriter):
    """Task-side JSONL writer with a two-phase commit: every task lands
    a uniquely-named part file (no cross-task coordination), and the
    driver's ``commit`` publishes the job atomically-enough for the
    format — a ``_SUCCESS`` manifest naming exactly the committed part
    files and, in overwrite mode, removing the files of prior jobs
    only after all tasks succeeded. ``abort`` deletes this job's
    files; a reader that honors the manifest never sees a torn job."""

    def __init__(self, options, overwrite: bool) -> None:
        self.path = options.get("path")
        if not self.path:
            raise ValueError("ingestwire requires a path")
        self.overwrite = overwrite
        self.preexisting = (
            sorted(
                f
                for f in os.listdir(self.path)
                if f.endswith(".jsonl") and not f.startswith(("_", "."))
            )
            if os.path.isdir(self.path)
            else []
        )

    def write(self, iterator) -> _WireCommit:
        import uuid

        os.makedirs(self.path, exist_ok=True)
        fname = f"part-{uuid.uuid4().hex}.jsonl"
        full = os.path.join(self.path, fname)
        n = 0
        with open(full, "w") as f:
            for row in iterator:
                d = row.asDict()
                if d.get("ids") is not None:
                    d["ids"] = list(d["ids"])
                f.write(json.dumps(d, separators=(",", ":")) + "\n")
                n += 1
        return _WireCommit(fname, n)

    def commit(self, messages) -> None:
        files = sorted(m.path for m in messages)
        rows = sum(m.rows for m in messages)
        success = os.path.join(self.path, "_SUCCESS")
        if self.overwrite:
            for f in self.preexisting:
                try:
                    os.remove(os.path.join(self.path, f))
                except FileNotFoundError:
                    pass
        else:
            # append: fold the prior jobs' manifest in (or the raw
            # listing of an unmanifested capture dir) — a manifest
            # naming only the LAST job would hide earlier appends from
            # manifest-honoring readers
            prev_files, prev_rows = [], 0
            if os.path.exists(success):
                try:
                    with open(success) as f:
                        prev = json.load(f)
                    prev_files = prev.get("files", [])
                    prev_rows = prev.get("rows", 0)
                except (json.JSONDecodeError, OSError):
                    pass
            else:
                prev_files = self.preexisting  # rows unknown; best effort
            files = sorted(set(files) | set(prev_files))
            rows += prev_rows
        manifest = {"files": files, "rows": rows}
        from .commit_protocol import atomic_write_text

        atomic_write_text(success, json.dumps(manifest))

    def abort(self, messages) -> None:
        for m in messages:
            try:
                os.remove(os.path.join(self.path, m.path))
            except FileNotFoundError:
                pass


class IngestWireDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "ingestwire"

    def schema(self) -> str:
        return WIRE_SCHEMA

    def reader(self, schema) -> IngestWireReader:
        return IngestWireReader(self.options)

    def writer(self, schema, overwrite: bool) -> IngestWireWriter:
        return IngestWireWriter(self.options, overwrite)

    def simpleStreamReader(self, schema) -> IngestWireStreamReader:
        return IngestWireStreamReader(self.options)
