"""URL canonicalization + URL-level dedup — B123.

Web-scale corpora are keyed by URL before any content hashing runs
(the CommonCrawl / C4 / RefinedWeb recipes all dedup on a CANONICAL
url first — it is ~free and removes the bulk of re-crawl duplicates
that byte hashing would pay full price for). The canonicalization is
the RFC 3986 §6 normalization ladder plus the crawl-pipeline extras:

1. scheme and host lowercased (RFC 3986 §6.2.2.1);
2. leading ``www.`` stripped from the host (crawl-dedup convention —
   the same origin serves both);
3. default ports dropped (``:80`` for http, ``:443`` for https;
   RFC 3986 §6.2.3), non-default ports KEPT;
4. duplicate path slashes collapsed, trailing slash stripped (except
   the root path), empty path -> ``/``;
5. tracking parameters removed (``utm_*``, ``fbclid``, ``gclid``,
   ``msclkid`` — the Google/Meta/Microsoft click-id families);
6. surviving query parameters sorted by byte order (a stable
   canonical order so ``?a=1&b=2`` and ``?b=2&a=1`` collide);
7. fragment dropped (never sent to the server).

Out of scope (documented, not silently wrong): percent-encoding case
normalization and IDN/punycode — the synthesized fixtures contain
neither, and both are per-byte rewrites that would need a lambda
uppercase unavailable in the shared SQL subset.

Spark shape, and why it holds at 100 TB: parsing and normalization
are pure JVM string/array expressions inside whole-stage codegen
(regexp_extract / regexp_replace / filter / array_sort / array_join)
— zero Python, zero UDFs; the dup rollup is ONE groupBy on the
canonical key with a join-back (the repo's hot-key idiom from
``q_dedup_substrings``: a viral URL with 10^6 re-crawls becomes one
aggregate row, never a window partition that lands on one task).

Fixtures: URLs are synthesized IN SQL from the documents table (messy
case / default ports / duplicate slashes / trailing slashes /
shuffled query params / tracking params / fragments, all driven by
doc_id arithmetic; the page identity rides ``doc_id % 17`` so every
SF yields real collision groups while the mess rides other residues),
with the synthesis string shared VERBATIM by the Spark plan
and the DuckDB oracle — the whole operator, synthesis included,
carries driver-grade parity, plus hand-built golden URLs for every
normalization rule in the direct tests.

Reference parity: none (no URL handling in the 412-LoC reference);
BASELINE.json north-star tier ("deduplication" at 100 TB).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.loader import load_table

# URL synthesis — ONE SQL expression string shared verbatim by the
# Spark plan (F.expr) and the DuckDB oracle. {doc_id} is a column
# reference. Design: the PAGE IDENTITY (everything the canonical form
# keeps — scheme, site, non-default port, item id, section param) is
# driven by g = doc_id % 17, so every SF's documents table yields real
# collision groups (>= 2 docs per g from 34 docs up); the MESS (case,
# www., shown default ports, duplicate/trailing slashes, param order,
# tracking params, fragments) is driven by doc_id's other residues, so
# group members differ in raw form. Every rule the canonicalizer
# implements is planted.
URL_SQL = (
    "concat("
    # scheme: identity by g%2, case mess by doc_id%2
    "CASE WHEN ({doc_id} % 17) % 2 = 0 THEN "
    "(CASE {doc_id} % 2 WHEN 0 THEN 'HTTP' ELSE 'http' END) ELSE "
    "(CASE {doc_id} % 2 WHEN 0 THEN 'HTTPS' ELSE 'https' END) END,"
    "'://',"
    # host: www-prefix mess by doc_id%3, case mess by doc_id%2,
    # site identity by g%5
    "CASE {doc_id} % 3 WHEN 0 THEN 'WWW.' WHEN 1 THEN 'www.' ELSE '' END,"
    "CASE {doc_id} % 2 WHEN 0 THEN 'Site' ELSE 'site' END,"
    "cast(({doc_id} % 17) % 5 as string),"
    "CASE {doc_id} % 2 WHEN 0 THEN '.Example.COM' ELSE '.example.com' END,"
    # port: canonical-affecting :8080 tied to identity (g%7=0); else a
    # canonical-neutral default port is SHOWN for doc_id%5=0
    "CASE WHEN ({doc_id} % 17) % 7 = 0 THEN ':8080' "
    "WHEN {doc_id} % 5 = 0 THEN "
    "(CASE WHEN ({doc_id} % 17) % 2 = 0 THEN ':80' ELSE ':443' END) "
    "ELSE '' END,"
    # path: duplicate-slash mess by doc_id%2, item identity g,
    # trailing-slash mess by doc_id%3
    "CASE {doc_id} % 2 WHEN 0 THEN '/news//item-' ELSE '/news/item-' END,"
    "cast({doc_id} % 17 as string),"
    "CASE {doc_id} % 3 WHEN 1 THEN '/' ELSE '' END,"
    # query: id + section are identity (g, g%3); order and tracking
    # params are mess by doc_id%3
    "CASE {doc_id} % 3 "
    "WHEN 0 THEN concat('?utm_source=feed&id=', cast({doc_id} % 17 as string),"
    " '&section=', cast(({doc_id} % 17) % 3 as string)) "
    "WHEN 1 THEN concat('?section=', cast(({doc_id} % 17) % 3 as string),"
    " '&id=', cast({doc_id} % 17 as string),"
    " '&utm_campaign=x&fbclid=abc123') "
    "ELSE concat('?id=', cast({doc_id} % 17 as string),"
    " '&section=', cast(({doc_id} % 17) % 3 as string)) END,"
    "CASE {doc_id} % 4 WHEN 0 THEN '#comments' ELSE '' END"
    ")"
)

# component extraction — one regex, shared verbatim (char classes
# only: Java and RE2 agree). Groups: 1 scheme, 2 authority, 3 path,
# 4 query (with '?'), 5 fragment (with '#').
URL_RE = "^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#]*)([^?#]*)([?][^#]*)?([#].*)?$"

# the parameter-keep predicate, shared verbatim inside both engines'
# list lambdas ({p} is the lambda variable): tracking parameters drop
# before canonical comparison, the utm_ family by prefix (substr, NOT
# LIKE — '_' is a LIKE wildcard and the escape syntax differs across
# engines)
_KEEP_PRED = (
    "NOT (substr({p}, 1, 4) = 'utm_' OR "
    "regexp_extract({p}, '^([^=]*)', 1) IN ('fbclid','gclid','msclkid'))"
)


def synthesize_urls(docs: DataFrame) -> DataFrame:
    """(doc_id, url): deterministic messy fixture URLs from the
    documents table."""
    return docs.select(
        "doc_id",
        F.expr(URL_SQL.format(doc_id="doc_id")).alias("url"),
    )


def canonicalize_urls(urls: DataFrame) -> DataFrame:
    """(doc_id, url, canonical_url): the normalization ladder in pure
    codegen expressions — no shuffle, no Python."""
    parts = urls.select(
        "doc_id",
        "url",
        F.lower(F.expr(f"regexp_extract(url, '{URL_RE}', 1)")).alias("scheme"),
        F.expr(f"regexp_extract(url, '{URL_RE}', 2)").alias("authority"),
        F.expr(f"regexp_extract(url, '{URL_RE}', 3)").alias("path"),
        F.expr(f"regexp_extract(url, '{URL_RE}', 4)").alias("query"),
    )
    host = F.expr(
        "regexp_replace(lower(regexp_extract(authority, '^([^:]*)', 1)),"
        " '^www[.]', '')"
    )
    port = F.expr("regexp_extract(authority, ':([0-9]+)$', 1)")
    canon_port = (
        F.when(port == "", F.lit(""))
        .when((F.col("scheme") == "http") & (port == "80"), F.lit(""))
        .when((F.col("scheme") == "https") & (port == "443"), F.lit(""))
        .otherwise(F.concat(F.lit(":"), port))
    )
    # the duplicate-slash collapse exists ONCE (ADVICE r10): the
    # otherwise branch strips the trailing slash off the same Column
    squashed = F.expr("regexp_replace(path, '/+', '/')")
    canon_path = (
        F.when(squashed == "", F.lit("/"))
        .when(squashed == "/", F.lit("/"))
        .otherwise(F.regexp_replace(squashed, "/$", ""))
    )
    kept = F.expr(
        "array_join(array_sort(filter(split(substr(query, 2), '&'),"
        f" p -> {_KEEP_PRED.format(p='p')})), '&')"
    )
    canon_query = F.when(
        (F.col("query") == "") | (kept == ""), F.lit("")
    ).otherwise(F.concat(F.lit("?"), kept))
    return parts.select(
        "doc_id",
        "url",
        F.concat(
            F.col("scheme"), F.lit("://"), host, canon_port, canon_path,
            canon_query,
        ).alias("canonical_url"),
    )


def url_dedup(canon: DataFrame) -> DataFrame:
    """(doc_id, url, canonical_url, n_dups, keep): group rollup on the
    canonical key, joined back — keep = the smallest doc_id of each
    canonical group (the crawl-pipeline "first fetch wins" rule).

    groupBy+join-back, NOT a window over the canonical key: a viral
    URL's group becomes one aggregate row instead of one window
    partition pinned to one task (the q_dedup_substrings hot-key
    lesson, measured linear under a planted 30% hot key)."""
    groups = canon.groupBy("canonical_url").agg(
        F.count("*").cast("long").alias("n_dups"),
        F.min("doc_id").alias("_keep_id"),
    )
    return (
        canon.join(groups, "canonical_url")
        .select(
            "doc_id",
            "url",
            "canonical_url",
            "n_dups",
            (F.col("doc_id") == F.col("_keep_id")).alias("keep"),
        )
    )


def q_url_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-canonicalization dedup over synthesized messy URLs keyed by
    the documents table. (Unregistered — 50-slot cap; driver-grade
    DuckDB parity over the WHOLE pipeline, synthesis included, plus
    per-rule golden URLs in tests/test_urls.py.)"""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    return url_dedup(canonicalize_urls(synthesize_urls(docs)))


# DuckDB twin — same URL_SQL synthesis string, same URL_RE, same keep
# predicate; list_filter/list_sort/array_to_string are the engine-local
# spellings of the identical lambda pipeline. URL_CANON_CTE ends at the
# `canon(doc_id, url, canonical_url)` relation so B124's robots oracle
# can reuse the whole synthesis+canonicalization chain verbatim.
URL_CANON_CTE = f"""
WITH urls AS (
  SELECT doc_id,
         {URL_SQL.format(doc_id="doc_id")} AS url
  FROM documents
),
parts AS (
  SELECT doc_id, url,
         lower(regexp_extract(url, '{URL_RE}', 1)) AS scheme,
         regexp_extract(url, '{URL_RE}', 2) AS authority,
         regexp_extract(url, '{URL_RE}', 3) AS path,
         regexp_extract(url, '{URL_RE}', 4) AS query
  FROM urls
),
canon AS (
  SELECT doc_id, url,
         scheme || '://' ||
         regexp_replace(lower(regexp_extract(authority, '^([^:]*)', 1)),
                        '^www[.]', '') ||
         CASE WHEN regexp_extract(authority, ':([0-9]+)$', 1) = '' THEN ''
              WHEN scheme = 'http'
                   AND regexp_extract(authority, ':([0-9]+)$', 1) = '80'
                THEN ''
              WHEN scheme = 'https'
                   AND regexp_extract(authority, ':([0-9]+)$', 1) = '443'
                THEN ''
              ELSE ':' || regexp_extract(authority, ':([0-9]+)$', 1) END ||
         CASE WHEN regexp_replace(path, '/+', '/', 'g') IN ('', '/')
                THEN '/'
              ELSE regexp_replace(
                     regexp_replace(path, '/+', '/', 'g'), '/$', '') END ||
         CASE WHEN query = '' OR array_to_string(list_sort(list_filter(
                     string_split(substr(query, 2), '&'),
                     p -> {_KEEP_PRED.format(p="p")})), '&') = ''
                THEN ''
              ELSE '?' || array_to_string(list_sort(list_filter(
                     string_split(substr(query, 2), '&'),
                     p -> {_KEEP_PRED.format(p="p")})), '&') END
           AS canonical_url
  FROM parts
)
"""

URL_DEDUP_ORACLE = URL_CANON_CTE + """,
groups AS (
  SELECT canonical_url,
         CAST(count(*) AS BIGINT) AS n_dups,
         min(doc_id) AS _keep_id
  FROM canon GROUP BY canonical_url
)
SELECT c.doc_id, c.url, c.canonical_url, g.n_dups,
       c.doc_id = g._keep_id AS keep
FROM canon c JOIN groups g USING (canonical_url)
"""


UNREGISTERED_URL_QUERIES = {"q_url_dedup": q_url_dedup}
UNREGISTERED_URL_ORACLES = {"q_url_dedup": URL_DEDUP_ORACLE}


# --------------------------------------------------------------------
# Day-2 operation: incremental URL dedup against a PERSISTED canonical
# index (the crawl-side twin of operators/incremental_dedup.py — a new
# fetch batch arrives every trigger; which URLs has the 100 TB of
# history already fetched, WITHOUT rescanning history?). Same unit
# transaction discipline: every ingest lands its canonical rows under
# ``canon/unit=<label>/`` and becomes visible only when its marker
# commits (``sources/commit_protocol.py``); replaying a batch re-derives
# the same label and overwrites its own directory before re-committing,
# so a crash anywhere in the window leaves an invisible torn unit, and
# the probe re-aggregates min(canonical_id) per canonical across units,
# so even a double-committed canonical can never multiply probe rows.

import os as _os
import shutil as _shutil

from ..sources import commit_protocol as _cp

_URL_INDEX_SCHEMA = "canonical_url string, canonical_id long"


def _read_url_index(
    spark: SparkSession, index_path: str, exclude_unit: str | None = None
) -> DataFrame:
    """(canonical_url, canonical_id) over COMMITTED units only; a
    missing index is EMPTY HISTORY (the first batch seeds it).
    ``exclude_unit`` drops one unit from the view — the replay path's
    own already-published rows (see ``ingest_url_batch``)."""
    units = [
        u for u in _cp.committed_units(index_path) if u != exclude_unit
    ]
    if not units:
        return spark.createDataFrame([], _URL_INDEX_SCHEMA)
    return spark.read.schema(_URL_INDEX_SCHEMA).parquet(
        *[_os.path.join(index_path, "canon", f"unit={u}") for u in units]
    )


def incremental_url_dedup(
    spark: SparkSession,
    new_urls: DataFrame,
    index_path: str,
    exclude_unit: str | None = None,
) -> DataFrame:
    """Classify each (doc_id, url) of the batch against the index AND
    the rest of its own batch: ``url_dup`` (canonical URL present in
    history — matched_id is history's first fetch — or claimed by an
    earlier doc_id in this batch), else ``kept``. Returns (doc_id,
    canonical_url, status, matched_id). One canonicalization
    projection + one broadcast-sized probe join + one in-batch
    groupBy: O(|batch|), never O(history)."""
    canon = canonicalize_urls(new_urls).select("doc_id", "canonical_url")
    # the probe slice: history rows for THIS batch's canonicals only,
    # re-aggregated to one canonical_id per URL (duplicate units can
    # never multiply probe rows)
    keys = canon.select("canonical_url").distinct()
    hist = (
        _read_url_index(spark, index_path, exclude_unit=exclude_unit)
        .join(F.broadcast(keys), "canonical_url", "left_semi")
        .groupBy("canonical_url")
        .agg(F.min("canonical_id").alias("hist_id"))
    )
    # in-batch first-fetch-wins via groupBy+join-back (hot-key safe,
    # same idiom as url_dedup)
    firsts = canon.groupBy("canonical_url").agg(
        F.min("doc_id").alias("first_id")
    )
    joined = canon.join(hist, "canonical_url", "left").join(
        firsts, "canonical_url"
    )
    is_dup = F.col("hist_id").isNotNull() | (
        F.col("doc_id") > F.col("first_id")
    )
    return joined.select(
        "doc_id",
        "canonical_url",
        F.when(is_dup, F.lit("url_dup")).otherwise(F.lit("kept"))
        .alias("status"),
        F.when(
            is_dup, F.coalesce(F.col("hist_id"), F.col("first_id"))
        ).alias("matched_id"),
    )


def ingest_url_batch(
    spark: SparkSession,
    new_urls: DataFrame,
    index_path: str,
    unit: str | None = None,
) -> DataFrame:
    """The day-2 cycle for one batch: classify, then append the KEPT
    docs' canonicals as one committed unit. Replay-idempotent: the
    same ``unit`` label overwrites its own directory and re-commits
    the marker (marker LAST — a crash between the parquet write and
    the commit leaves the unit invisible and the replay converges).
    Returns the classification relation.

    The OTHER crash window (the r9 dedup_stream_writer lesson): a
    crash after this unit's marker committed but before the caller
    recorded the batch means the replay probes an index that already
    contains the batch's own canonicals — every doc would classify as
    a dup of itself. An ever-published unit label therefore skips the
    writes and classifies with ITS OWN unit excluded from the view,
    returning the identical pre-publish verdicts.

    Single-maintainer caveat (ADVICE r10): that replay guarantee holds
    only while the unit is still ITS OWN unit. If ``compact_url_index``
    ran between the publish and the replay, the batch's rows were
    folded into the c-unit, ``exclude_unit=label`` no longer hides
    them, and every doc in the replayed batch would classify as a dup
    of itself — so a replay of a SUPERSEDED label raises instead of
    returning silently-wrong verdicts. Do not compact with in-flight /
    unacknowledged batches (the ``compact_dedup_index`` contract)."""
    label = unit or _cp.next_unit_label(index_path)
    _names0, superseded0 = _cp.marker_state(index_path)
    if label in superseded0:
        raise RuntimeError(
            f"ingest_url_batch: unit {label!r} was compacted away; a "
            "compaction ran while this batch was unacknowledged — its "
            "rows now live in the c-unit and the replay verdicts would "
            "be wrong (every doc a dup of itself). Re-classify the "
            "batch under a FRESH unit label instead of replaying."
        )
    # ALWAYS classify with this batch's own unit excluded from the
    # view: before publish the exclusion is a no-op, after publish it
    # hides exactly the batch's own rows — so the returned relation is
    # stable under lazy re-evaluation at ANY point of the cycle (no
    # checkpoint needed, nothing leaks per batch)
    verdicts = incremental_url_dedup(
        spark, new_urls, index_path, exclude_unit=label
    )
    names, _superseded = _cp.marker_state(index_path)
    if label in names:
        return verdicts  # effects already fully published
    kept = verdicts.filter(F.col("status") == "kept").select(
        "canonical_url", F.col("doc_id").alias("canonical_id")
    )
    kept.write.mode("overwrite").parquet(
        _os.path.join(index_path, "canon", f"unit={label}")
    )
    _cp.commit_unit(index_path, label)
    return verdicts


def compact_url_index(
    spark: SparkSession,
    index_path: str,
    out_path: str | None = None,
    n_files: int | None = None,
) -> dict:
    """Consolidate every committed unit into ONE (the
    ``compact_dedup_index`` discipline): re-aggregate min(canonical_id)
    per canonical URL — the invariant the probe re-derives on every
    read, now materialized — into a single ``c``-unit whose marker
    retires the source units in the same atomic rename. Cleanup of
    superseded directories is lazy and restartable. Single-maintainer
    assumption, like the dedup compactor.

    ``out_path`` MUST be passed when the index's units also back a
    kept-pages corpus (``crawl_stream_writer``): the corpus reader
    (``crawl_funnel.read_crawled``) resolves out units through THIS
    index's markers, so an index-only compaction would supersede the
    b-unit markers and silently empty the corpus view while its
    parquet files still sit on disk. With ``out_path`` the kept rows
    are consolidated into the same ``c``-unit the marker publishes.

    The consolidated writes are NUMBERED repartitions sized from the
    source bytes (``n_files`` overrides — VERDICT r10 #2: the r10 form
    funnelled the whole merged index through ``coalesce(1)``, one task
    materializing billions of canonical rows at crawl scale; the
    sibling dedup compactor's ``repartition(n)`` idiom is the
    contract, ``sources/maintenance.py``). The index unit hashes on
    ``canonical_url`` so equal keys stay file-clustered; the corpus
    unit is a plain round-robin repartition.
    Returns {"unit", "compacted_units", "rows"}."""
    from ..sources.maintenance import _dataset_bytes

    units = _cp.committed_units(index_path)
    if len(units) <= 1:
        return {
            "unit": units[0] if units else None,
            "compacted_units": 0,
            "rows": None,
        }
    label = _cp.next_unit_label(index_path, prefix="c")

    def _target_files(root: str, target: int = 128 * 1024 * 1024) -> int:
        if n_files is not None:
            return n_files
        total = sum(
            _dataset_bytes(_os.path.join(root, f"unit={u}"))
            for u in units
            if _os.path.isdir(_os.path.join(root, f"unit={u}"))
        )
        return max(1, -(-total // target))

    merged = (
        _read_url_index(spark, index_path)
        .groupBy("canonical_url")
        .agg(F.min("canonical_id").alias("canonical_id"))
    )
    merged.repartition(
        _target_files(_os.path.join(index_path, "canon")), "canonical_url"
    ).write.mode("overwrite").parquet(
        _os.path.join(index_path, "canon", f"unit={label}")
    )
    if out_path is not None:
        out_units = [
            u
            for u in units
            if _os.path.isdir(_os.path.join(out_path, f"unit={u}"))
        ]
        if out_units:
            spark.read.parquet(
                *[_os.path.join(out_path, f"unit={u}") for u in out_units]
            ).repartition(_target_files(out_path)).write.mode(
                "overwrite"
            ).parquet(
                _os.path.join(out_path, f"unit={label}")
            )
    _cp.commit_unit(index_path, label, supersedes=units)
    _names, all_superseded = _cp.marker_state(index_path)
    for u in sorted(all_superseded):
        _shutil.rmtree(
            _os.path.join(index_path, "canon", f"unit={u}"),
            ignore_errors=True,
        )
        if out_path is not None:
            _shutil.rmtree(
                _os.path.join(out_path, f"unit={u}"), ignore_errors=True
            )
        try:
            _os.remove(_os.path.join(index_path, _cp.COMMITS_DIR, u))
        except FileNotFoundError:
            pass
    return {
        "unit": label,
        "compacted_units": len(units),
        "rows": _read_url_index(spark, index_path).count(),
    }


def build_url_index(
    urls: DataFrame, index_path: str, spark: SparkSession
) -> str:
    """Bootstrap the canonical index from a day-1 corpus as unit
    u000000 (overwrite semantics)."""
    for sub in ("canon", _cp.COMMITS_DIR):
        _shutil.rmtree(_os.path.join(index_path, sub), ignore_errors=True)
    canon = canonicalize_urls(urls)
    groups = canon.groupBy("canonical_url").agg(
        F.min("doc_id").alias("canonical_id")
    )
    groups.write.mode("overwrite").parquet(
        _os.path.join(index_path, "canon", "unit=u000000")
    )
    _cp.commit_unit(index_path, "u000000")
    return "u000000"
