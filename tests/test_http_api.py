"""Live HTTP listener tests — `curl`-level parity with the reference's
Express surface (`src/app.js`, `src/routes/ingestRoutes.js`,
`src/controllers/ingestController.js`): exact bodies for 202/400/
200/404, the root liveness message, Express-style catch-all 404, and
(with the drain attached) statuses that progress on the trigger clock
while the HTTP thread only reads the serving table."""

from __future__ import annotations

import json
import time
import urllib.error
import urllib.request

import pytest

from data_ingestion_api_system_loop_ai_spark.http_api import (
    ERROR_BODY,
    ROOT_BODY,
    IngestApiServer,
)


def _req(port: int, method: str, path: str, body: dict | str | None = None):
    data = None
    if body is not None:
        data = (body if isinstance(body, str) else json.dumps(body)).encode()
    r = urllib.request.Request(
        f"http://127.0.0.1:{port}{path}", data=data, method=method
    )
    try:
        with urllib.request.urlopen(r, timeout=120) as resp:
            return resp.status, resp.read().decode()
    except urllib.error.HTTPError as e:
        return e.code, e.read().decode()


@pytest.fixture(scope="module")
def server(spark, tmp_path_factory):
    srv = IngestApiServer(
        spark, root_dir=str(tmp_path_factory.mktemp("http_root")), port=0
    )
    srv.start_background()
    yield srv
    srv.shutdown()


def test_root_liveness_and_catchall_404(server):
    assert _req(server.port, "GET", "/") == (200, ROOT_BODY)
    code, body = _req(server.port, "GET", "/nope")
    assert (code, body) == (404, "Cannot GET /nope")
    code, body = _req(server.port, "POST", "/other", {})
    assert (code, body) == (404, "Cannot POST /other")
    # Express routes on the pathname: a query string changes nothing,
    # and the catch-all names the pathname alone
    assert _req(server.port, "GET", "/?x=1") == (200, ROOT_BODY)
    assert _req(server.port, "GET", "/nope?x=1") == (404, "Cannot GET /nope")


def test_post_validation_bodies_byte_exact(server):
    # ids missing / empty -> the first 400 body, verbatim
    for bad in ({"priority": "HIGH"}, {"ids": [], "priority": "HIGH"}, "not json"):
        code, body = _req(server.port, "POST", "/ingest", bad)
        assert code == 400
        assert body == json.dumps(
            {"error": "Invalid input: ids array is required and cannot be empty."},
            separators=(",", ":"),
        )
    # bad priority -> the second 400 body (validation order: ids first)
    code, body = _req(server.port, "POST", "/ingest", {"ids": [1], "priority": "x"})
    assert code == 400
    assert body == json.dumps(
        {
            "error": "Invalid input: priority is required and must be HIGH, MEDIUM, or LOW."
        },
        separators=(",", ":"),
    )


def test_post_then_status_roundtrip_byte_exact(server):
    code, body = _req(
        server.port, "POST", "/ingest", {"ids": [1, 2, 3, 4, 5], "priority": "HIGH"}
    )
    assert code == 202
    rid = json.loads(body)["ingestion_id"]
    assert body == json.dumps({"ingestion_id": rid}, separators=(",", ":"))

    code, body = _req(server.port, "GET", f"/ingest/status/{rid}")
    assert code == 200
    # the exact reference 200 document: key order, chunking of 5 ids
    # into [1,2,3]+[4,5], batch ids "<rid>-<index>", all yet_to_start
    assert body == json.dumps(
        {
            "ingestion_id": rid,
            "status": "yet_to_start",
            "batches": [
                {"batch_id": f"{rid}-0", "ids": [1, 2, 3], "status": "yet_to_start"},
                {"batch_id": f"{rid}-1", "ids": [4, 5], "status": "yet_to_start"},
            ],
        },
        separators=(",", ":"),
    )

    # same document with a query string, and with the id percent-encoded
    # (Express decodes req.params.id)
    assert _req(server.port, "GET", f"/ingest/status/{rid}?x=1") == (200, body)
    encoded = rid.replace("-", "%2D")
    assert _req(server.port, "GET", f"/ingest/status/{encoded}") == (200, body)

    code, body = _req(server.port, "GET", "/ingest/status/does-not-exist")
    assert (code, body) == (
        404,
        json.dumps({"error": "Ingestion ID not found."}, separators=(",", ":")),
    )


def test_wire_log_published_atomically(server):
    """Accepted requests land as visible (non-dot) capture files — the
    streaming source's atomic-publish contract."""
    import os

    before = {f for f in os.listdir(server.wire_dir) if not f.startswith(".")}
    code, _ = _req(server.port, "POST", "/ingest", {"ids": [9], "priority": "LOW"})
    assert code == 202
    after = {f for f in os.listdir(server.wire_dir) if not f.startswith(".")}
    assert len(after - before) == 1
    new = (after - before).pop()
    rec = json.loads(open(os.path.join(server.wire_dir, new)).read())
    assert rec["ids"] == [9] and rec["priority"] == "LOW"


def test_error_middleware_500(server, monkeypatch):
    """A handler exception surfaces as the reference error middleware's
    exact 500 body, and the listener keeps serving afterwards."""
    monkeypatch.setattr(
        type(server),
        "get_status",
        lambda self, rid: (_ for _ in ()).throw(RuntimeError("boom")),
    )
    code, body = _req(server.port, "GET", "/ingest/status/x")
    assert (code, body) == (500, ERROR_BODY)
    monkeypatch.undo()
    assert _req(server.port, "GET", "/")[0] == 200


class _CountingWriter:
    """A handler's ``wfile`` that records every write."""

    def __init__(self, raw, log: list) -> None:
        self._raw, self._log = raw, log

    def write(self, b):
        self._log.append(bytes(b))
        return self._raw.write(b)

    def __getattr__(self, name):
        return getattr(self._raw, name)


def test_each_response_is_one_write(server, monkeypatch):
    """The status line, headers and body of every response leave in ONE
    write on a keep-alive connection (a second small body write waits
    on Nagle for the client's delayed ACK), with the bodies unchanged:
    200, 202, 400, 404 and the error middleware's 500."""
    import http.client

    writes: list[bytes] = []
    handler = server.httpd.RequestHandlerClass
    setup = handler.setup

    def counting_setup(self):
        setup(self)
        self.wfile = _CountingWriter(self.wfile, writes)

    monkeypatch.setattr(handler, "setup", counting_setup)
    conn = http.client.HTTPConnection("127.0.0.1", server.port, timeout=120)

    def call(method, path, body=None):
        writes.clear()
        conn.request(method, path, body=body)
        resp = conn.getresponse()
        data = resp.read()
        assert len(writes) == 1, (method, path, writes)
        head, sent = writes[0].split(b"\r\n\r\n", 1)
        assert sent == data
        assert head.startswith(f"HTTP/1.1 {resp.status} ".encode())
        return resp.status, data.decode()

    try:
        assert call("GET", "/") == (200, ROOT_BODY)
        code, body = call("POST", "/ingest", '{"ids": [1, 2], "priority": "LOW"}')
        rid = json.loads(body)["ingestion_id"]
        assert (code, body) == (202, json.dumps({"ingestion_id": rid}, separators=(",", ":")))
        code, body = call("GET", f"/ingest/status/{rid}")
        assert code == 200 and json.loads(body)["status"] == "yet_to_start"
        assert call("POST", "/ingest", '{"priority": "HIGH"}') == (
            400,
            '{"error":"Invalid input: ids array is required and cannot be empty."}',
        )
        assert call("GET", "/ingest/status/nope") == (
            404,
            '{"error":"Ingestion ID not found."}',
        )
        assert call("GET", "/nope") == (404, "Cannot GET /nope")
        monkeypatch.setattr(
            type(server),
            "get_status",
            lambda self, rid: (_ for _ in ()).throw(RuntimeError("boom")),
        )
        assert call("GET", "/ingest/status/x") == (500, ERROR_BODY)
    finally:
        conn.close()


def test_post_answers_500_once_the_drain_dies(spark, tmp_path, monkeypatch, capsys):
    """A drain query that dies with an exception can complete no
    request accepted after it: POST answers the error middleware's 500,
    the failure is logged once to stderr, and GET keeps serving the
    statuses of requests accepted before."""
    from data_ingestion_api_system_loop_ai_spark.streaming.serving import (
        ServingTable,
    )

    def broken_upsert(self, batch_df):
        raise RuntimeError("serving table write failed")

    monkeypatch.setattr(ServingTable, "upsert", broken_upsert)
    srv = IngestApiServer(
        spark,
        root_dir=str(tmp_path / "root"),
        port=0,
        drain=True,
        drain_interval="1 seconds",
    )
    srv.start_background()
    try:
        code, body = _req(srv.port, "POST", "/ingest", {"ids": [1, 2], "priority": "HIGH"})
        assert code == 202
        rid = json.loads(body)["ingestion_id"]
        deadline = time.monotonic() + 90
        while srv.drain_query.isActive and time.monotonic() < deadline:
            time.sleep(0.2)
        assert not srv.drain_query.isActive
        deadline = time.monotonic() + 10
        while True:
            code, body = _req(srv.port, "POST", "/ingest", {"ids": [3], "priority": "LOW"})
            if code != 202 or time.monotonic() > deadline:
                break
            time.sleep(0.2)
        assert (code, body) == (500, ERROR_BODY)
        code, body = _req(srv.port, "GET", f"/ingest/status/{rid}")
        assert code == 200 and json.loads(body)["ingestion_id"] == rid
        assert _req(srv.port, "POST", "/ingest", {"ids": [4], "priority": "LOW"}) == (
            500,
            ERROR_BODY,
        )
        assert capsys.readouterr().err.count("the drain query failed") == 1
    finally:
        srv.shutdown()


def test_drain_progresses_statuses_on_the_trigger_clock(spark, tmp_path):
    """With the clock-paced drain attached, a POSTed request's batches
    leave yet_to_start and reach completed — observed purely over HTTP.
    The HTTP thread never computes transitions; the streaming query
    maintains the store (reference processQueue parity). Registration
    and the drain are ONE query, the store's only writer, and
    registration still reaches the store for readers without the
    listener's accepted map (CLI ``status --store``)."""
    from data_ingestion_api_system_loop_ai_spark.streaming.live import (
        status_response_from_store,
    )
    from data_ingestion_api_system_loop_ai_spark.streaming.serving import (
        ServingTable,
    )

    root = tmp_path / "root"
    active = len(spark.streams.active)
    srv = IngestApiServer(
        spark,
        root_dir=str(root),
        port=0,
        drain=True,
        drain_interval="1 seconds",
    )
    srv.start_background()
    try:
        assert len(spark.streams.active) == active + 1
        assert srv.registration_query is None
        assert not (root / "ckpt_reg").exists()
        # null id elements pass validation, as in the reference (only
        # Array.isArray and non-empty are checked), and must not kill
        # the drain; this request drains before the next one
        code, body = _req(
            srv.port, "POST", "/ingest", {"ids": [1, None, 3], "priority": "HIGH"}
        )
        assert code == 202
        null_rid = json.loads(body)["ingestion_id"]
        code, body = _req(
            srv.port, "POST", "/ingest", {"ids": [1, 2, 3, 4], "priority": "HIGH"}
        )
        assert code == 202
        rid = json.loads(body)["ingestion_id"]
        seen = set()
        deadline = time.monotonic() + 90
        while time.monotonic() < deadline:
            # a dead drain never progresses: fail now, with its cause
            if not srv.drain_query.isActive:
                pytest.fail(f"drain query stopped: {srv.drain_query.exception()}")
            _code, sbody = _req(srv.port, "GET", f"/ingest/status/{rid}")
            doc = json.loads(sbody)
            seen.add(doc["status"])
            if doc["status"] == "completed":
                assert [b["status"] for b in doc["batches"]] == [
                    "completed",
                    "completed",
                ]
                break
            time.sleep(0.5)
        assert "completed" in seen, f"statuses observed: {seen}"
        # both non-terminal rollups were servable along the way or the
        # drain outpaced polling — either way the terminal doc is exact
        assert seen <= {"yet_to_start", "triggered", "completed"}
        _code, nbody = _req(srv.port, "GET", f"/ingest/status/{null_rid}")
        assert nbody == (
            f'{{"ingestion_id":"{null_rid}","status":"completed","batches":'
            f'[{{"batch_id":"{null_rid}-0","ids":[1,null,3],"status":"completed"}}]}}'
        )
        # a cold reader of the store alone sees the same document:
        # every batch, in order, with the same ids
        cold = json.loads(
            status_response_from_store(
                spark,
                ServingTable(
                    str(root / "store"),
                    key_cols=["batch_id"],
                    seq_col="drain_seq",
                    bucket_cols=["request_id"],
                ),
                rid,
            )
        )
        assert cold == doc
    finally:
        srv.shutdown()
