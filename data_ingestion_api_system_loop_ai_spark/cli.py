"""Command-line surface for the engine.

The reference exposes its pipeline over REST (``POST /ingest``,
``GET /ingest/status/:id``); this engine's equivalent product surface is
the query registry plus this CLI:

    python -m data_ingestion_api_system_loop_ai_spark list
    python -m data_ingestion_api_system_loop_ai_spark run q_hash_agg --limit 5
    python -m data_ingestion_api_system_loop_ai_spark explain q_join_broadcast
    python -m data_ingestion_api_system_loop_ai_spark status 12345
    python -m data_ingestion_api_system_loop_ai_spark ingest requests.jsonl
    python -m data_ingestion_api_system_loop_ai_spark compact in/ out/ --zorder a,b

``status`` is the ``GET /ingest/status/:id`` read path: per-batch and
overall status for one request id (byte-exact reference 200/404
bodies). ``ingest`` is the ``POST /ingest`` write path over a
JSON-lines file: per-request validation and byte-exact reference
202/400 response bodies, assembled engine-side.
"""

from __future__ import annotations

import argparse
import json
import sys

from .registry import ORACLES, QUERIES, unregistered_queries

DEFAULT_SF_DIR = "/root/testdata/sf0.01"


def _all_queries() -> dict:
    """Registered slots + the direct-tested unregistered surface —
    every (spark, sf_dir) query in the repo is runnable from here."""
    return {**unregistered_queries(), **QUERIES}


def _spark(app: str):
    from .session import get_spark

    return get_spark(app)


def cmd_list(_args) -> int:
    qs = _all_queries()
    for name in sorted(qs):
        if name not in QUERIES:
            marker = "direct-test"
        elif name in ORACLES:
            marker = "sql-oracle "
        else:
            marker = "rows-only  "
        print(f"{marker}  {name}")
    return 0


def cmd_run(args) -> int:
    qs = _all_queries()
    if args.query not in qs:
        print(f"unknown query: {args.query}", file=sys.stderr)
        return 2
    spark = _spark(f"cli-run-{args.query}")
    df = qs[args.query](spark, args.sf_dir)
    rows = df.limit(args.limit).collect() if args.limit else df.collect()
    for r in rows:
        print(json.dumps(r.asDict(), default=str))
    return 0


def cmd_explain(args) -> int:
    qs = _all_queries()
    if args.query not in qs:
        print(f"unknown query: {args.query}", file=sys.stderr)
        return 2
    spark = _spark(f"cli-explain-{args.query}")
    df = qs[args.query](spark, args.sf_dir)
    print(
        df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                args.mode
            )
        )
    )
    return 0


def cmd_status(args) -> int:
    from .operators.pipeline import status_response

    spark = _spark("cli-status")
    if getattr(args, "store", None):
        # live read path: serve from the streaming-maintained store
        # (the reference reads ingestionStore per request); the batch
        # closed-form below is the deterministic twin
        from .streaming.live import status_response_from_store, status_store

        body = status_response_from_store(
            spark, status_store(args.store), args.request_id
        )
        print(body)
        return 0 if "Ingestion ID not found" not in body else 1
    rows = status_response(spark, args.sf_dir, args.request_id).collect()
    if not rows:
        # exact reference 404 body: trailing period, compact separators
        # (ingestController.js:39-41; Express res.json = JSON.stringify)
        print(json.dumps({"error": "Ingestion ID not found."}, separators=(",", ":")))
        return 1
    # the row IS the reference 200 body, assembled engine-side
    print(rows[0]["response"])
    return 0


def cmd_compact(args) -> int:
    from .sources.maintenance import compact_parquet, parquet_files, rewrite_zorder

    spark = _spark("cli-compact")
    target = args.target_mb * 1024 * 1024
    if args.index:
        # `compact SRC --index [--out OUT]`: SRC is a dedup fingerprint
        # index; consolidate its per-trigger units (and the kept-corpus
        # units alongside, when --out names them) into one unit under
        # the marker-supersession commit.
        from .operators.incremental_dedup import compact_dedup_index

        summary = compact_dedup_index(
            spark, args.src, out_path=args.dst, target_file_bytes=target
        )
        print(json.dumps(summary))
        return 0
    if args.ann_index:
        # `compact SRC --ann-index`: SRC is a persisted ANN index;
        # fold its append units into one c-unit (marker supersession,
        # probe results pinned identical — VERDICT r04 #6).
        from .operators.ann_index import compact_ann_index

        print(json.dumps(compact_ann_index(spark, args.src)))
        return 0
    if args.dst is None:
        print("error: DST is required unless --index is given", file=sys.stderr)
        return 2
    if args.zorder:
        n = rewrite_zorder(
            spark, args.src, args.dst, args.zorder.split(","), target_file_bytes=target
        )
    else:
        n = compact_parquet(
            spark,
            args.src,
            args.dst,
            target_file_bytes=target,
            partition_by=args.partition_by,
        )
    print(
        json.dumps(
            {"target_files": n, "written_files": len(parquet_files(args.dst))}
        )
    )
    return 0


def cmd_analyze(args) -> int:
    """Build or incrementally refresh a dataset's stats table (one row
    per data file with per-column min/max) — footers are read only for
    newly-landed files; ``read_pruned_stats`` then plans range scans
    with zero footer opens. The ANALYZE of this engine."""
    from .sources.maintenance import update_stats_table

    summary = update_stats_table(args.path, args.cols.split(","))
    print(json.dumps(summary))
    return 0


def cmd_build_corpus(args) -> int:
    """Run the end-to-end training-corpus funnel (exact + near dedup,
    quality filter, decontamination, temperature resample, shuffle
    order, sequence packing) and write loader shards; prints the
    reconciliation report (`operators/corpus_pipeline.py`).

    `--curated` adds the trained gates (LM surprisal band, classifier
    keep, SemDeDup) fitted inline; `--models ROOT` runs the curated
    funnel FROM the frozen artifacts of `build-artifacts` — the
    production path with zero training work in the run
    (`operators/curated_corpus.py`)."""
    spark = _spark("cli-build-corpus")
    with_report = not args.no_report
    if args.models is not None or args.curated:
        from .operators.curated_corpus import build_curated_corpus

        report = build_curated_corpus(
            spark, args.sf_dir, args.out, models=args.models,
            records_per_file=args.records_per_file,
            with_report=with_report,
        )
    else:
        from .operators.corpus_pipeline import build_training_corpus

        report = build_training_corpus(
            spark, args.sf_dir, args.out,
            records_per_file=args.records_per_file,
            with_report=with_report,
        )
    print(json.dumps(report))
    return 0


def cmd_build_artifacts(args) -> int:
    """Build every persisted model artifact (text models, classifier,
    k-means, ANN index, dedup fingerprint index) in dependency order
    under ROOT and print the manifest with per-artifact build seconds
    (`operators/curated_corpus.py build_corpus_artifacts`)."""
    from .operators.curated_corpus import build_corpus_artifacts

    spark = _spark("cli-build-artifacts")
    skip = tuple(s for s in (args.skip or "").split(",") if s)
    manifest = build_corpus_artifacts(spark, args.sf_dir, args.root, skip=skip)
    print(json.dumps(manifest))
    return 0


def cmd_explain_funnel(args) -> int:
    """Per-stage drop attribution for the corpus funnel: prints the
    stage histogram (counts reconcile exactly with build-corpus's
    report) and, with --docs, the first N dropped doc ids per stage
    (`operators/corpus_pipeline.py q_funnel_explain`). `--curated` /
    `--models ROOT` explain the CURATED funnel instead — the chain
    extends through the lm_filtered / classifier_rejected /
    semantic_dup gates (`operators/curated_corpus.py
    curated_explain`), matching build-corpus's curated forms."""
    from pyspark.sql import functions as F

    spark = _spark("cli-explain-funnel")
    if args.models is not None or args.curated:
        from .operators.curated_corpus import curated_explain

        rel = curated_explain(spark, args.sf_dir, models=args.models)
    else:
        from .operators.corpus_pipeline import q_funnel_explain

        rel = q_funnel_explain(spark, args.sf_dir)
    hist = {
        r["stage"]: r["n"]
        for r in rel.groupBy("stage").agg(F.count("*").alias("n")).collect()
    }
    print(json.dumps({"stages": hist}))
    if args.docs:
        for stage in sorted(hist):
            if stage == "kept":
                continue
            ids = [
                r["doc_id"]
                for r in rel.filter(F.col("stage") == stage)
                .orderBy("doc_id")
                .limit(args.docs)
                .collect()
            ]
            print(json.dumps({"stage": stage, "first_doc_ids": ids}))
    return 0


def cmd_train_classifier(args) -> int:
    """Train the prose classifier (IRLS over hashed bag-of-words) and
    persist the frozen weight relation under the commit marker
    (`operators/classifier.py build_classifier_model`)."""
    from .operators.classifier import build_classifier_model

    spark = _spark("cli-train-classifier")
    build_classifier_model(spark, args.sf_dir, args.model, n_iters=args.iters)
    print(json.dumps({"model": args.model, "iters": args.iters}))
    return 0


def cmd_classify(args) -> int:
    """Score documents against a persisted frozen classifier; prints
    the first N (doc_id, p, predicted) rows and the predicted-positive
    count (`operators/classifier.py q_classifier_from_model`)."""
    from .operators.classifier import q_classifier_from_model

    spark = _spark("cli-classify")
    scored = q_classifier_from_model(spark, args.sf_dir, args.model)
    rows = scored.orderBy("doc_id").limit(args.limit).collect()
    n_pos = scored.filter("predicted").count()
    for r in rows:
        print(json.dumps({"doc_id": r["doc_id"], "p": r["p"],
                          "predicted": bool(r["predicted"])}))
    print(json.dumps({"n_predicted_positive": n_pos}))
    return 0


def cmd_overlap(args) -> int:
    """Cross-segment distinct-overlap readout via KMV/theta sketches;
    with --sketches the per-segment sketches are persisted (built on
    first use) and the probe reads ONLY the KB-sized sketch files
    (`operators/sketches.py q_kmv_overlap`)."""
    spark = _spark("cli-overlap")
    from .operators.sketches import (
        build_kmv_sketches,
        q_kmv_overlap,
        q_kmv_overlap_from_sketches,
    )

    if args.sketches:
        import os

        from .sources.commit_protocol import BUILD_MARKER

        if not os.path.exists(os.path.join(args.sketches, BUILD_MARKER)):
            build_kmv_sketches(spark, args.sf_dir, args.sketches)
        df = q_kmv_overlap_from_sketches(spark, args.sf_dir, args.sketches)
    else:
        df = q_kmv_overlap(spark, args.sf_dir)
    print(json.dumps(df.collect()[0].asDict()))
    return 0


def cmd_rollup(args) -> int:
    """Maintain an incremental aggregate rollup table
    (``sources/rollup.py``): ``--refresh`` partial-aggregates only
    newly-landed files into a new committed unit; ``--compact`` folds
    units; default prints the finalized aggregate (``--current``
    additionally scans the uncovered tail)."""
    from .sources.rollup import (
        compact_rollup,
        read_rollup,
        read_rollup_current,
        update_rollup,
        vacuum_rollup,
    )

    if args.vacuum:
        print(json.dumps(vacuum_rollup(args.path, args.name)))
        return 0
    spark = _spark("cli-rollup")
    if args.refresh:
        if not (args.group_cols and args.measure):
            raise SystemExit("--refresh requires --group-cols and --measure")
        summary = update_rollup(
            spark, args.path, args.name, args.group_cols.split(","), args.measure
        )
        print(json.dumps(summary))
        return 0
    if args.compact:
        print(json.dumps(compact_rollup(spark, args.path, args.name)))
        return 0
    from .sources.rollup import load_rollup_manifest

    # read paths take the group columns from the committed manifest
    manifest = load_rollup_manifest(args.path, args.name)
    if manifest is None:
        raise SystemExit(f"rollup {args.name!r} at {args.path} was never built")
    order_cols = manifest["group_cols"]
    reader = read_rollup_current if args.current else read_rollup
    for r in reader(spark, args.path, args.name).orderBy(*order_cols).collect():
        d = r.asDict()
        d["sum_m"] = str(d["sum_m"])
        print(json.dumps(d))
    return 0


def cmd_index(args) -> int:
    """Build (or append to) a dedup fingerprint index from a parquet
    dataset of (doc_id, text) rows."""
    from .operators.incremental_dedup import build_dedup_index

    spark = _spark("cli-index")
    docs = spark.read.parquet(args.docs).select("doc_id", "text")
    build_dedup_index(docs, args.index, mode="append" if args.append else "overwrite")
    print(json.dumps({"indexed_docs": docs.count(), "index": args.index}))
    return 0


def cmd_dedup(args) -> int:
    """Classify a new batch of (doc_id, text) parquet rows against a
    fingerprint index; one JSON report line per doc."""
    from .operators.incremental_dedup import incremental_dedup

    spark = _spark("cli-dedup")
    batch = spark.read.parquet(args.batch).select("doc_id", "text")
    for r in incremental_dedup(spark, batch, args.index).orderBy("doc_id").collect():
        print(json.dumps(r.asDict()))
    return 0


def cmd_health(args) -> int:
    """The reference's liveness surface (``src/app.js:11-13``: GET /
    -> "Data Ingestion API is running!"; error middleware
    ``src/app.js:15-18`` -> 500 "Something broke!"). Health here means
    the engine can actually serve: the registry is intact and a Spark
    session answers a trivial query."""
    try:
        if len(QUERIES) != 50:
            raise RuntimeError(f"registry degraded: {len(QUERIES)} slots")
        spark = _spark("cli-health")
        assert spark.range(1).count() == 1
        print("Data Ingestion API is running!")
        return 0
    except Exception as exc:  # the reference's 500 arm
        print(f"error: {exc}", file=sys.stderr)
        print("Something broke!")
        return 1


def cmd_ingest(args) -> int:
    from .operators.pipeline import ingest_responses

    spark = _spark("cli-ingest")
    rows = ingest_responses(spark, args.path).orderBy("seq").collect()
    for r in rows:
        # each line is the exact reference response body (202 or 400)
        print(r["body"])
    return 0


def cmd_changes(args) -> int:
    """CDC read over a serving-table directory: what changed between
    two committed versions (default: the previous one and the latest),
    one JSON line per changed key. The CLI face of
    ``ServingTable.change_feed`` — O(changed buckets), not O(table)."""
    from .streaming.live import status_store

    spark = _spark("cli-changes")
    table = status_store(args.store)
    latest = table.latest_version()
    if latest < 0:
        print("no commits in store", file=sys.stderr)
        return 1
    v_to = latest if args.to_version is None else args.to_version
    v_from = (v_to - 1) if args.from_version is None else args.from_version
    feed = table.change_feed(spark, v_from, v_to)
    if feed is None:
        return 0
    for r in feed.orderBy(*table.key_cols).collect():
        print(json.dumps(r.asDict(), default=str))
    return 0


def cmd_rebucket(args) -> int:
    """Scale a serving store's bucket count (one deliberate O(table)
    rewrite; see ``ServingTable.rebucket``)."""
    from .streaming.live import status_store

    spark = _spark("cli-rebucket")
    table = status_store(args.store)
    if table.latest_version() < 0:
        print("no commits in store", file=sys.stderr)
        return 1
    v = table.rebucket(spark, args.num_buckets)
    print(json.dumps({"version": v, "num_buckets": table.num_buckets}))
    return 0


def cmd_serve(args) -> int:
    """The live HTTP listener (``http_api.py``): ``curl`` against the
    reference's routes, bodies assembled by the engine. Blocks until
    interrupted."""
    from .http_api import IngestApiServer

    spark = _spark("cli-serve")
    srv = IngestApiServer(
        spark,
        root_dir=args.root,
        port=args.port,
        drain=args.drain,
        drain_interval=args.drain_interval,
    )
    print(f"listening on http://127.0.0.1:{srv.port} (root={args.root})")
    try:
        srv.serve_forever()
    except KeyboardInterrupt:
        srv.shutdown()
    return 0


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="data_ingestion_api_system_loop_ai_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    pv = sub.add_parser("serve")
    pv.add_argument("--root", required=True, help="wire log + store directory")
    pv.add_argument("--port", type=int, default=5000)
    pv.add_argument("--drain", action="store_true")
    pv.add_argument("--drain-interval", default="5 seconds")
    pv.set_defaults(fn=cmd_serve)

    sub.add_parser("list").set_defaults(fn=cmd_list)

    pr = sub.add_parser("run")
    pr.add_argument("query")
    pr.add_argument("--sf-dir", default=DEFAULT_SF_DIR)
    pr.add_argument("--limit", type=int, default=20)
    pr.set_defaults(fn=cmd_run)

    pe = sub.add_parser("explain")
    pe.add_argument("query")
    pe.add_argument("--sf-dir", default=DEFAULT_SF_DIR)
    pe.add_argument("--mode", default="formatted")
    pe.set_defaults(fn=cmd_explain)

    ps = sub.add_parser("status")
    ps.add_argument("request_id")
    ps.add_argument("--sf-dir", default=DEFAULT_SF_DIR)
    ps.add_argument(
        "--store",
        help="serve from a streaming-maintained serving table directory "
        "instead of the deterministic batch pipeline",
    )
    ps.set_defaults(fn=cmd_status)

    pi = sub.add_parser("ingest")
    pi.add_argument("path", help="JSON-lines file of {ids, priority} requests")
    pi.set_defaults(fn=cmd_ingest)

    sub.add_parser("health").set_defaults(fn=cmd_health)

    pg = sub.add_parser("changes")
    pg.add_argument("store", help="serving table directory")
    pg.add_argument("--from-version", type=int, default=None)
    pg.add_argument("--to-version", type=int, default=None)
    pg.set_defaults(fn=cmd_changes)

    pb = sub.add_parser("rebucket")
    pb.add_argument("store", help="serving table directory")
    pb.add_argument("num_buckets", type=int)
    pb.set_defaults(fn=cmd_rebucket)

    px = sub.add_parser("index")
    px.add_argument("docs")
    px.add_argument("index")
    px.add_argument("--append", action="store_true")
    px.set_defaults(fn=cmd_index)

    pd = sub.add_parser("dedup")
    pd.add_argument("batch")
    pd.add_argument("index")
    pd.set_defaults(fn=cmd_dedup)

    pbc = sub.add_parser("build-corpus")
    pbc.add_argument("sf_dir")
    pbc.add_argument("out")
    pbc.add_argument("--records-per-file", type=int, default=10000)
    pbc.add_argument(
        "--models", default=None,
        help="frozen artifact root from build-artifacts: run the "
        "curated funnel from persisted models (no training in the run)",
    )
    pbc.add_argument(
        "--curated", action="store_true",
        help="add the trained gates (LM band, classifier, SemDeDup) "
        "fitted inline",
    )
    pbc.add_argument(
        "--no-report", action="store_true",
        help="skip the per-stage reconciliation counts (each is an "
        "extra corpus pass) — the production setting RUNBOOK_100TB.md "
        "prescribes",
    )
    pbc.set_defaults(fn=cmd_build_corpus)

    pba = sub.add_parser("build-artifacts")
    pba.add_argument("sf_dir")
    pba.add_argument("root")
    pba.add_argument(
        "--skip", default=None,
        help="comma-separated artifact families to omit "
        "(text_models,classifier,kmeans,ann,dedup_index)",
    )
    pba.set_defaults(fn=cmd_build_artifacts)

    pu = sub.add_parser("rollup")
    pu.add_argument("path")
    pu.add_argument("name")
    # required for --refresh and the read paths; --vacuum needs neither
    pu.add_argument("--group-cols", dest="group_cols")
    pu.add_argument("--measure")
    pu.add_argument("--refresh", action="store_true")
    pu.add_argument("--compact", action="store_true")
    pu.add_argument("--current", action="store_true")
    pu.add_argument("--vacuum", action="store_true")
    pu.set_defaults(fn=cmd_rollup)

    pef = sub.add_parser("explain-funnel")
    pef.add_argument("sf_dir")
    pef.add_argument("--docs", type=int, default=0,
                     help="also print the first N dropped doc ids per stage")
    pef.add_argument(
        "--models", default=None,
        help="frozen artifact root: explain the curated funnel from "
        "persisted models (adds the three model-gate stages)",
    )
    pef.add_argument(
        "--curated", action="store_true",
        help="explain the curated funnel with inline-fitted models",
    )
    pef.set_defaults(fn=cmd_explain_funnel)

    ptc = sub.add_parser("train-classifier")
    ptc.add_argument("sf_dir")
    ptc.add_argument("model")
    ptc.add_argument("--iters", type=int, default=6)
    ptc.set_defaults(fn=cmd_train_classifier)

    pcl = sub.add_parser("classify")
    pcl.add_argument("sf_dir")
    pcl.add_argument("model")
    pcl.add_argument("--limit", type=int, default=10)
    pcl.set_defaults(fn=cmd_classify)

    pov = sub.add_parser("overlap")
    pov.add_argument("sf_dir")
    pov.add_argument("--sketches", default=None,
                     help="persisted sketch dir (built on first use)")
    pov.set_defaults(fn=cmd_overlap)

    pa = sub.add_parser("analyze")
    pa.add_argument("path")
    pa.add_argument("--cols", required=True, help="comma-separated stat columns")
    pa.set_defaults(fn=cmd_analyze)

    pc = sub.add_parser("compact")
    pc.add_argument("src")
    pc.add_argument("dst", nargs="?", default=None)
    pc.add_argument(
        "--index",
        action="store_true",
        help="SRC is a dedup fingerprint index: consolidate its "
        "committed units (DST, if given, is the kept-corpus out_path "
        "compacted alongside)",
    )
    pc.add_argument(
        "--ann-index",
        action="store_true",
        help="SRC is a persisted ANN index: consolidate its committed "
        "append units into one unit (probe results unchanged)",
    )
    pc.add_argument("--target-mb", type=int, default=128)
    pc.add_argument("--partition-by", default=None)
    pc.add_argument("--zorder", default=None, help="comma-separated cluster columns")
    pc.set_defaults(fn=cmd_compact)
    return p


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    raise SystemExit(main())
