"""Live HTTP listener — the reference's actual wire surface
(``src/app.js:10-18``, ``src/routes/ingestRoutes.js:6-9``), served by
the engine. Stdlib-only (``http.server``): no framework dependency, no
install; the HTTP layer is a THIN shell, and every body it returns is
byte-exact to the Express originals. POST bodies are assembled by the
engine's own column expressions; status bodies are read from the
serving table's committed bucket directories, cached in memory, and
rendered on the driver, with no Spark job. Every response leaves in
one write (status line, headers and body together), so no body waits
on Nagle for the client's delayed ACK.

Routes (reference parity):

- ``POST /ingest``      -> 202 ``{"ingestion_id": ...}`` or the two
  exact 400 validation bodies, via ``ingest_response_lines``
  (``operators/pipeline.py`` — the same expressions the batch path
  hash-checks), amortized by a GROUP-COMMIT request batcher (VERDICT
  r04 #3): concurrent POSTs coalesce into one engine job per batching
  window, so throughput scales with concurrency instead of tracking
  Spark job-launch latency. Accepted requests are appended to a
  JSON-lines WIRE LOG (atomic publish: dot-temp then rename, the
  capture contract the streaming source requires) and remembered in
  the listener's in-memory accepted map — the reference's
  ``ingestionStore`` write (``ingestController.js:21-27``; the
  reference, too, keeps every request in process memory for its
  lifetime). The POST path runs NO serving-table upsert: registration
  reaches the table on the drain's trigger (``registration_rows``)
  when the drain is attached.
- ``GET /ingest/status/<id>`` -> byte-exact 200/404 bodies from the
  serving table (``status_response_from_store``: the request's rows
  from its one bucket directory, which ``ServingTable.lookup_rows``
  reads with pyarrow once per committed directory and then serves from
  memory; rendered by ``render_status``) — the reference's store read,
  one in-memory map read (``ingestController.js:35-55``). Routes match
  the URL's pathname and the id is percent-decoded, as Express's
  ``req.params`` is, so a query string does not change the route.
  Batches the drain has not yet registered are merged in as
  ``yet_to_start`` from the accepted map under the store's
  max-drain_seq rule, so the document is complete at every instant
  (the reference's own eventual semantics, without ever returning a
  partial batch list).
- ``GET /``             -> ``Data Ingestion API is running!``
  (``src/app.js:11-13``).
- anything else         -> Express's default ``Cannot <METHOD> <pathname>``
  404; handler exceptions -> the error middleware's 500
  ``Something broke!`` (``src/app.js:15-18``).

Processing (``drain=True``): the listener calls ``start_status_drain``,
which starts ONE query over its own wire log, the table's only writer —
``requests_json_stream`` -> ``registration_rows`` union
``live_priority_drain`` -> ``attach_serving_sink(processing_time=...)`` —
so each trigger registers new requests and dequeues one batch, and
statuses progress ``yet_to_start -> triggered -> completed`` on the
trigger clock, whose interval IS the reference's ``RATE_LIMIT_MS``. The
HTTP thread never computes status transitions; it only reads the table
the query maintains. This is the reference's ``ingestionStore`` write and
``processQueue`` ``setTimeout`` loop as one Structured Streaming query.
The query has one key, the single queue, and runs on ONE state
partition, so each trigger runs one stateful task and one state-store
commit. A daemon thread waits on the query: if it dies with an
exception, the exception is logged once to stderr, POST answers the
error middleware's 500 (no accepted request could complete), and GET
keeps serving the last committed statuses.

Scale shape: the listener is per-process glue for wire parity — at
fleet scale the POST path is a load balancer in front of N stateless
listeners appending to a shared log (or Kafka via
``kafka_requests_stream``), the drain is ONE streaming job keyed by
``queue_col``, and status reads hit the serving table's O(bucket)
driver-side reads. Nothing here holds state outside the log + table.
"""

from __future__ import annotations

import json
import os
import sys
import threading
import time
import uuid
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import unquote, urlsplit

from pyspark.sql import SparkSession

ROOT_BODY = "Data Ingestion API is running!"
ERROR_BODY = "Something broke!"


class _PostBatcher:
    """Group-commit batcher for POST validation: concurrent handler
    threads enqueue their bodies; one thread at a time becomes LEADER,
    sleeps one batching window to let followers pile in, runs ONE
    engine job over the whole batch (``ingest_response_lines``), and
    distributes results. Followers whose items arrive after the
    leader's snapshot promote themselves when the leader retires —
    the classic WAL group-commit protocol, applied to job launch."""

    def __init__(self, fn, window_s: float = 0.02) -> None:
        self._fn = fn  # list[str] -> list[(status, body)]
        self._window = window_s
        self._cond = threading.Condition()
        self._queue: list[list] = []  # [line, result|None, error|None]
        self._leader = False

    def submit(self, line: str) -> tuple[int, str]:
        item: list = [line, None, None]
        with self._cond:
            self._queue.append(item)
            while item[1] is None and item[2] is None:
                if not self._leader:
                    self._leader = True
                    break
                # timeout guards lost wakeups; result checked each loop
                self._cond.wait(0.05)
            else:
                if item[2] is not None:
                    raise item[2]
                return item[1]
        # leader path (lock released): collect one window, run the job
        try:
            time.sleep(self._window)
            with self._cond:
                batch = self._queue
                self._queue = []
            try:
                results = self._fn([it[0] for it in batch])
                with self._cond:
                    for it, res in zip(batch, results):
                        it[1] = res
            except Exception as exc:  # engine failure -> every waiter 500s
                with self._cond:
                    for it in batch:
                        it[2] = exc
                raise
        finally:
            with self._cond:
                self._leader = False
                self._cond.notify_all()
        if item[2] is not None:
            raise item[2]
        return item[1]


class IngestApiServer:
    """One listener instance: wire log + serving table + (optionally)
    the live drain query, behind a ``ThreadingHTTPServer``."""

    def __init__(
        self,
        spark: SparkSession,
        root_dir: str,
        port: int = 5000,
        host: str = "127.0.0.1",
        drain: bool = False,
        drain_interval: str = "5 seconds",
    ) -> None:
        from .streaming.live import start_status_drain, status_store

        self.spark = spark
        self.root_dir = root_dir
        self.wire_dir = os.path.join(root_dir, "requests")
        os.makedirs(self.wire_dir, exist_ok=True)
        self.table = status_store(os.path.join(root_dir, "store"))
        # serialize POST side effects (wire-log append + accepted-map
        # insert — both local; the POST path runs no Spark job beyond
        # the shared validation batch) — like the reference's
        # single-threaded event loop, but only for the commit order
        self._post_lock = threading.Lock()
        self._seq = 0
        # accepted-but-possibly-unregistered requests, keyed by
        # ingestion_id — the reference's in-memory ingestionStore
        # (which also retains every request for the process lifetime);
        # at fleet scale this map is replaced by reading the store with
        # registration landed, the wire log staying the source of truth
        self._accepted: dict[str, dict] = {}
        from .operators.pipeline import ingest_response_lines

        self._batcher = _PostBatcher(
            lambda lines: ingest_response_lines(self.spark, lines)
        )
        self.drain_query = None
        self.registration_query = None  # registration rides the drain
        # the exception the drain query died with, set by _watch_drain;
        # the request path reads only this attribute, never the JVM
        self.drain_error: BaseException | None = None
        if drain:
            self.drain_query = start_status_drain(
                spark,
                self.wire_dir,
                self.table,
                os.path.join(root_dir, "ckpt"),
                drain_interval,
            )
            threading.Thread(target=self._watch_drain, daemon=True).start()
        handler = _make_handler(self)
        self.httpd = ThreadingHTTPServer((host, port), handler)
        self.port = self.httpd.server_address[1]

    def _watch_drain(self) -> None:
        """Block until the drain query ends. One that ends with an
        exception can complete no request accepted from then on: keep
        the exception, so ``post_ingest`` answers the error
        middleware's 500, and log it once to stderr. GET keeps serving
        the statuses the query committed. A stop by ``shutdown`` is
        not an error."""
        try:
            self.drain_query.awaitTermination()
        except Exception as exc:
            self.drain_error = exc
            print(
                f"ingest listener: the drain query failed, POST /ingest "
                f"now answers 500: {exc}",
                file=sys.stderr,
                flush=True,
            )

    # -- request-path engine calls ------------------------------------

    def post_ingest(self, body: bytes) -> tuple[int, bytes]:
        if self.drain_error is not None:
            raise RuntimeError("the drain query failed") from self.drain_error
        line = body.decode("utf-8", errors="replace").replace("\n", " ")
        # one engine job per batching window, shared across concurrent
        # POSTs (group commit) — never one job per request
        status, resp = self._batcher.submit(line)
        if status == 202:
            with self._post_lock:
                self._accept(line, json.loads(resp)["ingestion_id"])
        return status, resp.encode()

    def _accept(self, line: str, ingestion_id: str) -> None:
        """Append the accepted request to the wire log (atomic publish)
        and remember it in the accepted map. LOCAL work only — the
        drain query carries the rows into the serving table."""
        req = json.loads(line)
        wire = {
            "request_id": ingestion_id,
            "priority": str(req["priority"]).upper(),
            "created_at_ms": int(time.time() * 1000),
            "ids": req["ids"],
        }
        self._seq += 1
        final = os.path.join(
            self.wire_dir, f"r{self._seq:08d}-{uuid.uuid4().hex[:8]}.json"
        )
        tmp = os.path.join(self.wire_dir, "." + os.path.basename(final))
        with open(tmp, "w") as fh:
            fh.write(json.dumps(wire) + "\n")
        os.rename(tmp, final)  # the wire source's atomic-publish contract
        self._accepted[ingestion_id] = wire

    def get_status(self, request_id: str) -> tuple[int, bytes]:
        from .streaming.live import status_response_from_store

        body = status_response_from_store(
            self.spark,
            self.table,
            request_id,
            pending=self._accepted.get(request_id),
        )
        status = 404 if "Ingestion ID not found" in body else 200
        return status, body.encode()

    # -- lifecycle -----------------------------------------------------

    def serve_forever(self) -> None:
        self.httpd.serve_forever()

    def start_background(self) -> threading.Thread:
        t = threading.Thread(target=self.serve_forever, daemon=True)
        t.start()
        return t

    def shutdown(self) -> None:
        self.httpd.shutdown()
        self.httpd.server_close()
        if self.drain_query is not None:
            self.drain_query.stop()


def _make_handler(api: IngestApiServer):
    class Handler(BaseHTTPRequestHandler):
        protocol_version = "HTTP/1.1"

        def log_message(self, *_a) -> None:  # quiet; telemetry is the
            pass  # streaming listener's job, not stderr's

        def _send(self, status: int, body: bytes, ctype: str) -> None:
            self.send_response(status)
            self.send_header("Content-Type", ctype)
            self.send_header("Content-Length", str(len(body)))
            # end_headers() then write(body) would send two segments, and
            # Nagle holds the small second one until the client's
            # delayed ACK of the first: the status line, headers and
            # body leave in ONE write (end_headers' work, done inline)
            if self.request_version != "HTTP/0.9":
                self._headers_buffer.append(b"\r\n")
            head = b"".join(getattr(self, "_headers_buffer", []))
            self._headers_buffer = []
            self.wfile.write(head + body)

        def _json(self, status: int, body: bytes) -> None:
            self._send(status, body, "application/json; charset=utf-8")

        def _express_404(self, path: str) -> None:
            # Express's default catch-all body shape (finalhandler names
            # the pathname, without the query string)
            self._send(
                404,
                f"Cannot {self.command} {path}".encode(),
                "text/html; charset=utf-8",
            )

        def do_GET(self) -> None:  # noqa: N802 (http.server API)
            try:
                # Express routes on the pathname and decodes req.params
                path = urlsplit(self.path).path
                if path == "/":
                    self._send(200, ROOT_BODY.encode(), "text/html; charset=utf-8")
                elif path.startswith("/ingest/status/"):
                    rid = unquote(path[len("/ingest/status/") :])
                    self._json(*api.get_status(rid))
                else:
                    self._express_404(path)
            except Exception:
                # the reference's error middleware (src/app.js:15-18)
                self._send(500, ERROR_BODY.encode(), "text/html; charset=utf-8")

        def do_POST(self) -> None:  # noqa: N802
            try:
                path = urlsplit(self.path).path
                if path != "/ingest":
                    self._express_404(path)
                    return
                n = int(self.headers.get("Content-Length", "0"))
                self._json(*api.post_ingest(self.rfile.read(n)))
            except Exception:
                self._send(500, ERROR_BODY.encode(), "text/html; charset=utf-8")

    return Handler
