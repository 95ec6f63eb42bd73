"""Serving table: the streaming drain's statuses must land in a keyed,
atomically-versioned table (the reference's ingestionStore as a table),
with idempotent micro-batch replay and point lookups."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from data_ingestion_api_system_loop_ai_spark.streaming.live import (
    live_priority_drain,
    requests_json_stream,
)
from data_ingestion_api_system_loop_ai_spark.streaming.serving import (
    ServingTable,
    attach_serving_sink,
)


def _write_requests(path, rows, mtime):
    with open(path, "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")
    os.utime(path, (mtime, mtime))


def _assert_manifest_matches_disk(table):
    """The latest manifest names exactly the ``bucket=`` directories on
    disk: every entry's directory exists, and the buckets it points at
    the latest version are the ones that version's write produced."""
    v = table.latest_version()
    m = table._manifest(v)
    assert all(os.path.isdir(table._bucket_dir(b, vb)) for b, vb in m.items())
    written = {
        int(d.split("=", 1)[1])
        for d in os.listdir(os.path.join(table.path, f"v={v}"))
        if d.startswith("bucket=")
    }
    assert {b for b, vb in m.items() if vb == v} == written


def _drain_to_serving(spark, tmp_path, suffix=""):
    req_dir = tmp_path / f"reqs{suffix}"
    req_dir.mkdir()
    low = {"request_id": "7", "priority": "LOW", "created_at_ms": 1000,
           "ids": [1, 2, 3, 4, 5, 6]}  # 2 batches
    high = {"request_id": "8", "priority": "HIGH", "created_at_ms": 2000,
            "ids": [10, 11]}  # 1 batch
    t0 = 1_700_000_000
    # one file per trigger (maxFilesPerTrigger=1): each trigger drains one
    # job; the third file re-delivers request 7 (skipped as duplicate) so a
    # third trigger exists to drain the last pending batch
    _write_requests(str(req_dir / "f1.json"), [low], t0)
    _write_requests(str(req_dir / "f2.json"), [high], t0 + 10)
    _write_requests(str(req_dir / "f3.json"), [low], t0 + 20)
    table = ServingTable(
        str(tmp_path / f"serving{suffix}"),
        key_cols=["batch_id"],
        seq_col="drain_seq",
    )
    schema = requests_json_stream(spark, str(req_dir)).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .json(str(req_dir))
    )
    q = attach_serving_sink(
        live_priority_drain(stream),
        table,
        checkpoint=str(tmp_path / f"ckpt{suffix}"),
    )
    q.awaitTermination()
    return table


def test_serving_table_holds_final_statuses(spark, tmp_path, monkeypatch):
    # the sink persists each micro-batch, so the emptiness check, the
    # touched-bucket collect and the write evaluate the drain once
    cached = []
    upsert = ServingTable.upsert

    def spy(self, batch_df):
        cached.append(batch_df.is_cached)
        return upsert(self, batch_df)

    monkeypatch.setattr(ServingTable, "upsert", spy)
    table = _drain_to_serving(spark, tmp_path)
    assert cached and all(cached), cached
    cur = table.current(spark)
    assert cur is not None
    rows = {r["batch_id"]: r for r in cur.collect()}
    # 6 LOW ids -> 2 batches, 2 HIGH ids -> 1 batch; all drained/completed
    assert set(rows) == {"7-0", "7-1", "8-0"}
    assert all(r["status"] == "completed" for r in rows.values())
    # HIGH preempts: its batch drains before the LOW request's second
    assert rows["8-0"]["drain_seq"] < rows["7-1"]["drain_seq"]


def test_serving_upsert_replay_is_idempotent(spark, tmp_path):
    table = _drain_to_serving(spark, tmp_path, suffix="r")
    v_before = table.latest_version()
    cur_before = sorted(map(str, table.current(spark).collect()))
    # replay the full current table as if foreachBatch re-delivered it
    table.upsert(table.current(spark))
    assert table.latest_version() == v_before + 1
    assert sorted(map(str, table.current(spark).collect())) == cur_before


def test_serving_point_lookup_and_atomic_pointer(spark, tmp_path):
    table = _drain_to_serving(spark, tmp_path, suffix="l")
    got = table.lookup(spark, batch_id="8-0").collect()
    assert len(got) == 1 and got[0]["request_id"] == "8"
    # the pointer names a complete committed version with a manifest,
    # and every bucket directory the manifest references exists
    v = table.latest_version()
    manifest = table._manifest(v)
    assert manifest, "committed version must carry a manifest"
    for b, vb in manifest.items():
        bdir = table._bucket_dir(b, vb)
        assert os.path.isdir(bdir)
        assert any(f.endswith(".parquet") for f in os.listdir(bdir))
    # vacuum removes versions that are old AND unreferenced; whatever
    # remains is either inside the retention window or still referenced
    # by a retained manifest
    floor = v - table.keep_versions
    retained_refs = set()
    for rv in range(max(floor, 0), v + 1):
        m = table._manifest(rv)
        if m:
            retained_refs.update(m.values())
    for name in os.listdir(table.path):
        if name.startswith("v=") and not name.endswith(".claim"):
            ver = int(name[2:])
            assert ver >= floor or ver in retained_refs


def test_upsert_rewrites_only_touched_buckets(spark, tmp_path):
    """VERDICT r02 #1: an upsert touching one key must rewrite <= 1
    bucket directory, with untouched buckets served from their prior
    version directories via the manifest."""
    table = ServingTable(
        str(tmp_path / "bucketed"),
        key_cols=["k"],
        seq_col="seq",
        num_buckets=8,
    )
    base = spark.createDataFrame(
        [(f"k{i}", 1, f"v{i}") for i in range(40)], "k string, seq int, val string"
    )
    table.upsert(base)
    _assert_manifest_matches_disk(table)
    v1 = table.latest_version()
    m1 = table._manifest(v1)
    one = spark.createDataFrame(
        [("k3", 2, "updated")], "k string, seq int, val string"
    )
    table.upsert(one)
    _assert_manifest_matches_disk(table)
    v2 = table.latest_version()
    # the new version directory holds exactly one rewritten bucket
    vdir = os.path.join(table.path, f"v={v2}")
    new_buckets = [d for d in os.listdir(vdir) if d.startswith("bucket=")]
    assert len(new_buckets) == 1
    # the manifest repoints only that bucket; all others still at v1
    m2 = table._manifest(v2)
    changed = {b for b in m2 if m2[b] != m1.get(b)}
    assert len(changed) == 1
    assert all(m2[b] == m1[b] for b in m1 if b not in changed)
    # merged state is correct: the updated key won, nothing lost
    rows = {r["k"]: (r["seq"], r["val"]) for r in table.current(spark).collect()}
    assert len(rows) == 40
    assert rows["k3"] == (2, "updated")
    assert rows["k7"] == (1, "v7")
    # full-key lookup reads one bucket and finds the updated row
    got = table.lookup(spark, k="k3").collect()
    assert len(got) == 1 and got[0]["val"] == "updated"
    # lookup for a key hashing to a possibly-absent bucket still works
    assert table.lookup(spark, k="nope").count() == 0


def test_crash_mid_commit_leaves_previous_version_live(spark, tmp_path):
    """The atomicity claim, exercised: a version directory written but
    never pointer-committed (a crash between the parquet write and the
    os.replace) must be invisible to readers, and the next successful
    upsert must supersede it cleanly."""
    import shutil

    table = ServingTable(
        str(tmp_path / "crash"), key_cols=["k"], seq_col="seq", num_buckets=4
    )
    base = spark.createDataFrame(
        [("a", 1, "v1"), ("b", 1, "v1")], "k string, seq int, val string"
    )
    table.upsert(base)
    v_ok = table.latest_version()
    rows_ok = sorted(map(str, table.current(spark).collect()))

    # simulate the crash: write v_ok+1 (directory + manifest) but no
    # pointer swap — copy the good version dir as a stand-in payload
    orphan = os.path.join(table.path, f"v={v_ok + 1}")
    shutil.copytree(os.path.join(table.path, f"v={v_ok}"), orphan)

    # readers still see the committed version only
    assert table.latest_version() == v_ok
    assert sorted(map(str, table.current(spark).collect())) == rows_ok

    # the next upsert claims the orphaned version number and commits over it
    table.upsert(
        spark.createDataFrame([("a", 2, "v2")], "k string, seq int, val string")
    )
    assert table.latest_version() == v_ok + 1
    rows = {r["k"]: r["val"] for r in table.current(spark).collect()}
    assert rows == {"a": "v2", "b": "v1"}


def test_status_served_from_store_matches_reference_body(spark, tmp_path):
    """GET /ingest/status/:id against the serving table: registration
    writes every batch as yet_to_start (seq 0), drain upserts win, and
    the body is the reference's exact shape — batches in index order,
    overall status by the reference rollup, exact 404 for unknown ids."""
    from data_ingestion_api_system_loop_ai_spark.streaming.live import (
        registration_rows,
        status_response_from_store,
    )

    req_dir = tmp_path / "reqs_store"
    req_dir.mkdir()
    low = {"request_id": "7", "priority": "LOW", "created_at_ms": 1000,
           "ids": [1, 2, 3, 4, 5, 6, 7]}  # 3 batches
    high = {"request_id": "8", "priority": "HIGH", "created_at_ms": 2000,
            "ids": [10, 11]}  # 1 batch
    t0 = 1_700_000_000
    _write_requests(str(req_dir / "f1.json"), [low], t0)
    _write_requests(str(req_dir / "f2.json"), [high], t0 + 10)
    table = ServingTable(
        str(tmp_path / "store"),
        key_cols=["batch_id"],
        seq_col="drain_seq",
        bucket_cols=["request_id"],  # status-store convention: O(bucket) reads
    )
    schema = requests_json_stream(spark, str(req_dir)).schema
    # registration pass: all 4 batches land as yet_to_start
    attach_serving_sink(
        registration_rows(requests_json_stream(spark, str(req_dir))),
        table,
        checkpoint=str(tmp_path / "ckpt_reg"),
    ).awaitTermination()
    # drain pass: two triggers -> low-0 then high-0 completed
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .json(str(req_dir))
    )
    attach_serving_sink(
        live_priority_drain(stream),
        table,
        checkpoint=str(tmp_path / "ckpt_drain"),
    ).awaitTermination()

    body = json.loads(status_response_from_store(spark, table, "7"))
    assert list(body) == ["ingestion_id", "status", "batches"]
    assert body["ingestion_id"] == "7"
    assert body["status"] == "triggered"  # mixed completed/yet_to_start
    assert [b["status"] for b in body["batches"]] == [
        "completed", "yet_to_start", "yet_to_start",
    ]
    assert [b["ids"] for b in body["batches"]] == [[1, 2, 3], [4, 5, 6], [7]]
    assert [list(b) for b in body["batches"]] == [["batch_id", "ids", "status"]] * 3

    done = json.loads(status_response_from_store(spark, table, "8"))
    assert done["status"] == "completed"
    assert done["batches"] == [
        {"batch_id": "8-0", "ids": [10, 11], "status": "completed"}
    ]
    # exact reference 404 body
    assert (
        status_response_from_store(spark, table, "nope")
        == '{"error":"Ingestion ID not found."}'
    )
    # bucketing by request_id co-located all of request 7's batches:
    # its three rows share one bucket value in the on-disk layout
    from pyspark.sql import functions as F2

    n_buckets_req7 = (
        table.current(spark)
        .filter(F2.col("request_id") == "7")
        .select(F2.pmod(F2.hash("request_id"), F2.lit(table.num_buckets)))
        .distinct()
        .count()
    )
    assert n_buckets_req7 == 1
    # the placement config is pinned on disk: a reader opening the
    # table with only key/seq still prunes by request_id
    reopened = ServingTable(
        table.path, key_cols=["batch_id"], seq_col="drain_seq"
    )
    assert reopened.bucket_cols == ["request_id"]
    assert len(reopened.lookup(spark, request_id="8").collect()) == 1

    # one renderer: the driver-side render_status is byte-identical to
    # the to_json expression of pipeline.status_response, for the
    # store's own rows (read through Spark) and for ids that need
    # escaping, over all three rollups
    from data_ingestion_api_system_loop_ai_spark.operators.pipeline import (
        status_documents,
    )
    from data_ingestion_api_system_loop_ai_spark.streaming.live import (
        render_status,
    )

    cols = ["request_id", "batch_index", "batch_id", "batch_ids", "status"]
    store = (
        table.lookup(spark, request_id=rid).select(
            "request_id", "batch_index", "batch_id",
            F2.col("ids").alias("batch_ids"), "status",
        )
        for rid in ("7", "8")
    )
    weird = ['q"uote', "back\\slash", "new\nline", "tab\tx", "unit\x1fsep",
             "nul\x00", "sl/ash", "é日", " "]
    mixes = [["completed"], ["yet_to_start", "yet_to_start"],
             ["completed", "triggered", "yet_to_start"]]
    rows = [
        (rid, i, f"{rid}-{i}", [10 * i, None] if i == 1 else [10 * i], st)
        for n, rid in enumerate(weird)
        for i, st in reversed(list(enumerate(mixes[n % 3])))
    ]
    sched = spark.createDataFrame(
        rows, "request_id string, batch_index int, batch_id string, "
        "batch_ids array<bigint>, status string",
    )
    for part in store:
        sched = sched.unionByName(part)
    spark_docs = {
        r["request_id"]: r["response"]
        for r in status_documents(sched)
        .select(F2.get_json_object("response", "$.ingestion_id")
                .alias("request_id"), "response")
        .collect()
    }
    by_rid: dict = {}
    for r in sched.collect():
        d = dict(zip(cols, r))
        d["ids"] = d.pop("batch_ids")
        by_rid.setdefault(d["request_id"], []).append(d)
    assert set(spark_docs) == set(weird) | {"7", "8"}
    for rid, batch_rows in by_rid.items():
        assert render_status(rid, batch_rows) == spark_docs[rid], rid
    assert "\\u001F" in spark_docs["unit\x1fsep"]
    for rid in ("7", "8"):
        assert status_response_from_store(spark, table, rid) == spark_docs[rid]


def test_time_travel_read_of_retained_versions(spark, tmp_path):
    """current(version=v) resolves v's own manifest: after a second
    upsert overwrites a key, the old version still serves the old value
    while within the retention window."""
    t = ServingTable(
        str(tmp_path / "tt"), key_cols=["k"], seq_col="seq", num_buckets=4
    )
    v1 = t.upsert(spark.createDataFrame([(1, 10, "a")], "k long, seq long, val string"))
    v2 = t.upsert(spark.createDataFrame([(1, 20, "b")], "k long, seq long, val string"))
    assert [r["val"] for r in t.current(spark).collect()] == ["b"]
    assert [r["val"] for r in t.current(spark, version=v1).collect()] == ["a"]
    assert t.current(spark, version=v2).collect() == t.current(spark).collect()


def test_change_feed_between_versions(spark, tmp_path):
    """CDC read: per-key insert/update classification from the seq
    contract, unchanged keys absent (even when their bucket was
    rewritten), idempotent replay produces an empty feed, and a feed
    from before the first commit is all inserts."""
    schema = "k string, seq long, val string"
    t = ServingTable(
        str(tmp_path / "cf"), key_cols=["k"], seq_col="seq", num_buckets=8
    )
    v1 = t.upsert(spark.createDataFrame([("a", 1, "x"), ("b", 1, "y")], schema))
    v2 = t.upsert(spark.createDataFrame([("a", 2, "x2"), ("c", 1, "z")], schema))
    feed = {r["k"]: r for r in t.change_feed(spark, v1, v2).collect()}
    assert feed["a"]["change_type"] == "update"
    assert (feed["a"]["old_seq"], feed["a"]["new_seq"]) == (1, 2)
    assert feed["c"]["change_type"] == "insert" and feed["c"]["old_seq"] is None
    assert "b" not in feed
    # identical replay (same seq): no feed rows at all
    v3 = t.upsert(spark.createDataFrame([("a", 2, "x2")], schema))
    assert t.change_feed(spark, v2, v3).count() == 0
    # feed from "before the table existed" is the full state as inserts
    full = {r["k"]: r["change_type"] for r in t.change_feed(spark, -1, v3).collect()}
    assert full == {"a": "insert", "b": "insert", "c": "insert"}


def test_change_feed_raises_on_vacuumed_version(spark, tmp_path):
    """ADVICE r03: a NON-negative v_from whose manifest was vacuumed
    past retention must raise, not silently degrade to 'before the
    table existed' (which would report the entire v_to state as
    inserts — wrong CDC output with no error)."""
    schema = "k string, seq long, val string"
    t = ServingTable(
        str(tmp_path / "cfv"),
        key_cols=["k"],
        seq_col="seq",
        num_buckets=2,
        keep_versions=1,
    )
    v1 = t.upsert(spark.createDataFrame([("a", 1, "x")], schema))
    # upserts vacuum as they commit; enough of them push v1 (whose only
    # bucket is rewritten every version, so nothing keeps it referenced)
    # past the retention floor
    for i in range(2, 6):
        t.upsert(spark.createDataFrame([("a", i, f"x{i}")], schema))
    with pytest.raises(ValueError, match="outside retention"):
        t.change_feed(spark, v1)
    # the sentinel "before the table existed" still works
    assert t.change_feed(spark, -1).count() == 1


def test_rebucket_scales_layout_and_keeps_serving(spark, tmp_path):
    """Rebucketing rewrites the table under a new bucket count committed
    WITH the version (manifest envelope): point lookups and upserts
    route by the new hash space afterwards — including from a handle
    opened before the rebucket — and the change feed across the
    rebucket version is empty (same keys, same seqs, relocated)."""
    schema = "k string, seq long, val string"
    t = ServingTable(
        str(tmp_path / "rb"), key_cols=["k"], seq_col="seq", num_buckets=2
    )
    rows = [(f"k{i}", 1, f"v{i}") for i in range(20)]
    t.upsert(spark.createDataFrame(rows, schema))
    stale = ServingTable(str(tmp_path / "rb"), key_cols=["k"], seq_col="seq")
    v_before = t.latest_version()
    v_re = t.rebucket(spark, 8)
    assert v_re == v_before + 1 and t.num_buckets == 8
    _assert_manifest_matches_disk(t)
    # data intact, relocated: CDC across the rebucket sees no key change
    assert t.change_feed(spark, v_before, v_re).count() == 0
    # lookups route through the NEW hash space
    for key in ("k3", "k17"):
        got = t.lookup(spark, k=key).collect()
        assert len(got) == 1 and got[0]["val"] == "v" + key[1:]
    # a pre-rebucket handle adopts the committed count on its next op
    stale.upsert(spark.createDataFrame([("k3", 2, "v3b")], schema))
    assert stale.num_buckets == 8
    _assert_manifest_matches_disk(stale)
    assert t.lookup(spark, k="k3").collect()[0]["val"] == "v3b"
    # a cold open reads the refreshed config default
    cold = ServingTable(str(tmp_path / "rb"), key_cols=["k"], seq_col="seq")
    assert cold.num_buckets == 8
    assert cold.lookup(spark, k="k17").collect()[0]["val"] == "v17"


def test_delete_tombstones_full_lifecycle(spark, tmp_path):
    """Row-level deletes as tombstone upserts: the key stops being
    served (current + point lookup), the change feed emits the
    liveness transition (delete, then insert on revival), replayed
    deletes are idempotent, a delete batch may omit value columns, and
    a tombstone survives a rebucket so a replayed lower-seq upsert
    cannot revive the key."""
    schema = "k string, seq long, val string"
    t = ServingTable(
        str(tmp_path / "del"), key_cols=["k"], seq_col="seq", num_buckets=4
    )
    v1 = t.upsert(
        spark.createDataFrame(
            [("a", 1, "x"), ("b", 1, "y"), ("c", 1, "z")], schema
        )
    )
    # delete b with only key+seq (value columns omitted)
    v2 = t.delete(spark.createDataFrame([("b", 2)], "k string, seq long"))
    assert sorted(
        r["k"] for r in t.current(spark).collect()
    ) == ["a", "c"]
    assert t.lookup(spark, k="b").count() == 0
    feed = {r["k"]: r["change_type"] for r in t.change_feed(spark, v1, v2).collect()}
    assert feed == {"b": "delete"}
    # raw time travel still shows the marker
    raw = t.current(spark, include_tombstones=True)
    assert raw.filter("k = 'b'").collect()[0]["ss_deleted"] is True
    # replayed delete: no change events at all
    v3 = t.delete(spark.createDataFrame([("b", 2)], "k string, seq long"))
    assert t.change_feed(spark, v2, v3).count() == 0
    # revival by a higher-seq upsert
    v4 = t.upsert(spark.createDataFrame([("b", 3, "y2")], schema))
    assert t.lookup(spark, k="b").collect()[0]["val"] == "y2"
    assert {r["k"]: r["change_type"] for r in t.change_feed(spark, v3, v4).collect()} == {
        "b": "insert"
    }
    # tombstone survives a rebucket: re-delete, rebucket, replay OLD upsert
    t.delete(spark.createDataFrame([("b", 4)], "k string, seq long"))
    t.rebucket(spark, 8)
    assert t.lookup(spark, k="b").count() == 0
    t.upsert(spark.createDataFrame([("b", 3, "y2")], schema))  # stale replay
    assert t.lookup(spark, k="b").count() == 0  # tombstone seq 4 still wins


def test_purge_tombstones_reclaims_below_replay_floor(spark, tmp_path):
    """Tombstones below the caller's replay floor are physically
    dropped (raw read no longer shows them; a fully-emptied bucket
    leaves the manifest); tombstones at/above the floor survive and
    keep holding their keys down."""
    schema = "k string, seq long, val string"
    t = ServingTable(
        str(tmp_path / "purge"), key_cols=["k"], seq_col="seq", num_buckets=4
    )
    t.upsert(spark.createDataFrame([("a", 1, "x"), ("b", 1, "y")], schema))
    t.delete(spark.createDataFrame([("a", 2), ("b", 5)], "k string, seq long"))
    v_before = t.latest_version()
    v = t.purge_tombstones(spark, min_seq=3)
    assert v == v_before + 1
    _assert_manifest_matches_disk(t)
    raw = t.current(spark, include_tombstones=True)
    marks = {r["k"]: r["ss_deleted"] for r in raw.collect()}
    assert "a" not in marks          # purged (seq 2 < floor 3)
    assert marks.get("b") is True    # survives (seq 5 >= floor)
    assert t.lookup(spark, k="b").count() == 0  # still held down
    # idempotent: nothing left below the floor -> no new version
    assert t.purge_tombstones(spark, min_seq=3) == v


def test_concurrent_write_claim_single_winner(spark, tmp_path):
    """Two writers racing on the same version: exactly one wins; the
    loser raises ConcurrentWriteConflict instead of silently clobbering
    the winner's directories, and retrying after a re-read succeeds.
    A crashed claimant is released by the manual break_claim."""
    import pytest as _pytest

    from data_ingestion_api_system_loop_ai_spark.streaming.serving import (
        ConcurrentWriteConflict,
    )

    schema = "k string, seq long, val string"
    store = str(tmp_path / "occ")
    a = ServingTable(store, key_cols=["k"], seq_col="seq", num_buckets=4)
    b = ServingTable(store, key_cols=["k"], seq_col="seq", num_buckets=4)
    a.upsert(spark.createDataFrame([("x", 1, "v1")], schema))
    # writer B claims the next version first (simulating the race)
    b._claim_version(a.latest_version() + 1)
    with _pytest.raises(ConcurrentWriteConflict):
        a.upsert(spark.createDataFrame([("x", 2, "v2")], schema))
    # winner's state is untouched by the failed writer
    assert a.lookup(spark, k="x").collect()[0]["val"] == "v1"
    # crashed claimant: operator releases the claim, retry wins
    a.break_claim(a.latest_version() + 1)
    a.upsert(spark.createDataFrame([("x", 2, "v2")], schema))
    assert a.lookup(spark, k="x").collect()[0]["val"] == "v2"


def test_wire_connector_drain_store_end_to_end(spark, tmp_path):
    """Capstone integration on engine components only: wire capture
    files -> ingestwire STREAM source -> registration + live priority
    drain -> bucketed serving store -> byte-exact reference status
    bodies. The throttled connector processes one capture file per
    availableNow run (the engine prefetches a single read() to define
    "available now"), so repeated runs against one checkpoint are the
    deterministic stand-in for processing-time ticks — and double as a
    resumption proof: every run picks up exactly where the last
    committed offset left off."""
    from data_ingestion_api_system_loop_ai_spark.sources.wire_source import (
        IngestWireDataSource,
    )
    from data_ingestion_api_system_loop_ai_spark.streaming.live import (
        registration_rows,
        status_response_from_store,
    )

    spark.dataSource.register(IngestWireDataSource)
    cap = tmp_path / "wire_cap_e2e"
    cap.mkdir()
    low = {"request_id": "7", "priority": "LOW", "created_at_ms": 1000,
           "ids": [1, 2, 3, 4, 5, 6, 7]}  # 3 batches
    high = {"request_id": "8", "priority": "HIGH", "created_at_ms": 2000,
            "ids": [10, 11]}  # 1 batch
    _write_requests(str(cap / "c1.jsonl"), [low], 1_700_000_000)
    _write_requests(str(cap / "c2.jsonl"), [high], 1_700_000_010)

    table = ServingTable(
        str(tmp_path / "wire_store"),
        key_cols=["batch_id"],
        seq_col="drain_seq",
        bucket_cols=["request_id"],
    )
    # registration: unthrottled, both capture files in one batch
    attach_serving_sink(
        registration_rows(spark.readStream.format("ingestwire").load(str(cap))),
        table,
        checkpoint=str(tmp_path / "wire_ckpt_reg"),
    ).awaitTermination()
    assert sorted(
        r["batch_id"] for r in table.current(spark).collect()
    ) == ["7-0", "7-1", "7-2", "8-0"]

    def drain_tick():
        q = attach_serving_sink(
            live_priority_drain(
                spark.readStream.format("ingestwire")
                .option("maxFilesPerTrigger", "1")
                .load(str(cap))
            ),
            table,
            checkpoint=str(tmp_path / "wire_ckpt_drain"),
        )
        q.awaitTermination()

    drain_tick()  # tick 1: only LOW has arrived -> 7-0 drains
    body = json.loads(status_response_from_store(spark, table, "7"))
    assert list(body) == ["ingestion_id", "status", "batches"]
    assert body["status"] == "triggered"
    assert [b["status"] for b in body["batches"]] == [
        "completed", "yet_to_start", "yet_to_start"
    ]
    drain_tick()  # tick 2: HIGH arrives and preempts -> 8-0 drains
    done = json.loads(status_response_from_store(spark, table, "8"))
    assert done["status"] == "completed"
    assert [b["status"] for b in done["batches"]] == ["completed"]
    assert status_response_from_store(spark, table, "nope") == (
        '{"error":"Ingestion ID not found."}'
    )


def test_spark_hash_port_matches_spark_hash(spark):
    """The driver-side bucket hash is Spark's hash() (Murmur3_x86_32,
    seed 42, chained across columns) and its pmod(..., 16) bucket:
    every UTF-8 tail length 0-3, non-ASCII text, UUIDs, bigint edge
    values, the INT-vs-BIGINT trap and a two-column chain, pinned
    against F.hash in one collect."""
    import random
    import uuid

    import pyarrow as pa

    from data_ingestion_api_system_loop_ai_spark.streaming.serving import (
        spark_hash,
    )

    rnd = random.Random(6)
    strings = ["", "a", "ab", "abc", "abcd", "abcdefg", "é", "xé", "日本語",
               "a😀", "naïve-日本"]
    strings += [str(uuid.UUID(int=rnd.getrandbits(128))) for _ in range(50)]
    cases = [([s], [pa.string()], [F.lit(s)]) for s in strings]
    cases += [
        ([v], [pa.int64()], [F.lit(v).cast("bigint")])
        for v in (0, -1, 2**40, -(2**62), 2**63 - 1, 7012)
    ]
    cases += [
        ([7012], [pa.int32()], [F.lit(7012).cast("int")]),
        (["req-1", 7012], [pa.string(), pa.int64()],
         [F.lit("req-1"), F.lit(7012).cast("bigint")]),
    ]
    row = spark.range(1).select(
        *[F.hash(*c).alias(f"h{i}") for i, (_v, _t, c) in enumerate(cases)],
        *[F.pmod(F.hash(*c), F.lit(16)).alias(f"b{i}")
          for i, (_v, _t, c) in enumerate(cases)],
    ).first()
    for i, (values, types, _c) in enumerate(cases):
        h = spark_hash(values, types)
        assert h == row[f"h{i}"], values
        assert h % 16 == row[f"b{i}"], values
    # the trap the type rule exists for: 7012 hashes differently as INT
    assert spark_hash([7012], [pa.int32()]) != spark_hash([7012], [pa.int64()])
    # a type the port does not cover leaves bucketing to Spark
    assert spark_hash([1.5], [pa.float64()]) is None


def test_lookup_long_key_with_python_int_hits_right_bucket(spark, tmp_path):
    """Regression (round 9): Spark's hash() is type-sensitive —
    hash(INT 7012) != hash(BIGINT 7012) — so a pruned lookup passing a
    bare python int against a BIGINT key used to hash to the wrong
    bucket and silently return empty. The literal must be cast to the
    stored column type before bucketing."""
    from data_ingestion_api_system_loop_ai_spark.streaming.serving import (
        ServingTable,
    )

    t = ServingTable(
        str(tmp_path / "t"), key_cols=["k"], seq_col="seq", num_buckets=8
    )
    t.upsert(
        spark.createDataFrame(
            [(i, i * 10, 1) for i in range(50)], "k long, v long, seq long"
        )
    )
    for k in (0, 7, 13, 49):
        rows = t.lookup(spark, k=k).collect()
        assert len(rows) == 1 and rows[0]["v"] == k * 10, k


def test_lookup_rows_serves_cached_buckets_exactly(spark, tmp_path, monkeypatch):
    """lookup_rows serves each committed bucket directory from memory:
    a second read of an untouched bucket reads no parquet, the served
    rows equal ``lookup(spark, ...).collect()`` after an upsert, a
    delete, a tombstone purge and a rebucket, and a table removed and
    re-written at the same path by another handle is never served from
    the stale cache."""
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    from data_ingestion_api_system_loop_ai_spark.streaming.serving import (
        spark_hash,
    )

    reads = []
    for name in ("read_table", "read_schema"):
        real = getattr(pq, name)
        monkeypatch.setattr(
            pq,
            name,
            lambda *a, _real=real, **kw: reads.append(a[0]) or _real(*a, **kw),
        )

    schema = "k string, seq long, val string"
    path = str(tmp_path / "cache")
    t = ServingTable(path, key_cols=["k"], seq_col="seq", num_buckets=4)
    t.upsert(spark.createDataFrame([(f"k{i}", 1, f"v{i}") for i in range(12)], schema))
    assert t.lookup_rows(k="k3") == [{"k": "k3", "seq": 1, "val": "v3"}]
    assert reads, "a cold bucket is read from parquet"
    reads.clear()
    assert t.lookup_rows(k="k3") == [{"k": "k3", "seq": 1, "val": "v3"}]
    assert reads == []
    # an upsert into another bucket leaves k3's directory, and its
    # cached rows, in place
    b3 = spark_hash(["k3"], [pa.string()]) % 4
    other = next(
        f"n{i}" for i in range(100) if spark_hash([f"n{i}"], [pa.string()]) % 4 != b3
    )
    t.upsert(spark.createDataFrame([(other, 1, "o")], schema))
    reads.clear()
    assert t.lookup_rows(k="k3") == [{"k": "k3", "seq": 1, "val": "v3"}]
    assert reads == []

    def rows(seq):
        return sorted(seq, key=lambda r: r["k"])

    def assert_exact():
        keys = [f"k{i}" for i in range(12)] + [other, "absent"]
        for key in keys:
            want = [r.asDict() for r in t.lookup(spark, k=key).collect()]
            assert t.lookup_rows(k=key) == want, key
        # no bucket column given: every bucket of the version
        assert rows(t.lookup_rows()) == rows(
            r.asDict() for r in t.lookup(spark).collect()
        )
        assert rows(t.lookup_rows(val="v5")) == rows(
            r.asDict() for r in t.lookup(spark, val="v5").collect()
        )

    t.upsert(spark.createDataFrame([("k1", 2, "v1b"), ("k20", 1, "v20")], schema))
    assert_exact()
    t.delete(spark.createDataFrame([("k2", 3), ("k7", 3)], "k string, seq long"))
    assert t.lookup_rows(k="k2") == []
    assert_exact()
    t.purge_tombstones(spark, min_seq=4)
    assert_exact()
    t.rebucket(spark, 8)
    assert_exact()

    # removed and re-written at the same path: the same version number
    # and bucket directory paths, different rows
    small = str(tmp_path / "again")
    a = ServingTable(small, key_cols=["k"], seq_col="seq", num_buckets=4)
    a.upsert(spark.createDataFrame([("x", 1, "old")], schema))
    assert a.lookup_rows(k="x") == [{"k": "x", "seq": 1, "val": "old"}]
    shutil.rmtree(small)
    b = ServingTable(small, key_cols=["k"], seq_col="seq", num_buckets=4)
    assert b.upsert(spark.createDataFrame([("x", 1, "new")], schema)) == 0
    assert a.lookup_rows(k="x") == [{"k": "x", "seq": 1, "val": "new"}]


def test_lookup_rows_cache_under_concurrent_reads_and_commits(spark, tmp_path):
    """Reader threads (more than cores) share one handle's cache while
    the same handle commits: no read fails, every read of a key finds
    exactly one row, and each thread sees that row's seq never go back
    (a reader's pointer only moves forward, so a cache entry of an older
    version served after a newer one would show as a lost update)."""
    import sys
    import threading

    schema = "k string, seq long, val string"
    t = ServingTable(str(tmp_path / "stress"), key_cols=["k"], seq_col="seq", num_buckets=4)
    keys = [f"k{i}" for i in range(8)]
    t.upsert(spark.createDataFrame([(k, 1, "v") for k in keys], schema))
    stop = threading.Event()
    errors: list = []

    def reader(n: int) -> None:
        last = 0
        try:
            while not stop.is_set():
                rows = t.lookup_rows(k=keys[n % len(keys)])
                assert len(rows) == 1, rows
                assert rows[0]["seq"] >= last, (rows, last)
                last = rows[0]["seq"]
        except Exception as exc:  # reported by the main thread
            errors.append(exc)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    threads = [threading.Thread(target=reader, args=(n,)) for n in range(16)]
    try:
        for th in threads:
            th.start()
        for seq in range(2, 6):
            t.upsert(spark.createDataFrame([(k, seq, "v") for k in keys[seq % 2 :: 2]], schema))
    finally:
        stop.set()
        for th in threads:
            th.join(timeout=60)
        sys.setswitchinterval(interval)
    assert not any(th.is_alive() for th in threads)
    assert errors == []
    assert sorted(r["seq"] for r in t.lookup_rows()) == [4, 4, 4, 4, 5, 5, 5, 5]
