"""PII redaction for training corpora.

Corpus hygiene includes scrubbing personally identifiable information
before training: emails, phone-like digit runs, IPv4 addresses, and
long numeric identifiers. This module does it with JVM-side
``regexp_replace`` chains — no Python in the data path — and emits
per-document match counts alongside the scrubbed text so the pipeline
can audit redaction volume per source.

The patterns stay within the regex subset Java (Spark) and DuckDB's
RE2-style engine interpret identically: character classes, bounded
quantifiers, alternation — no backreferences, no lookaround. Order
matters: emails are scrubbed before digit runs so the local-part of
``a1234567@x.com`` is not half-eaten by the number rule.

Scale: a pure per-row projection — no shuffle, no state; predicate
pushdown and column pruning are unaffected. The synthetic corpus
contains no PII (no digits at all), so the registered-query path would
be a no-op; the operator is therefore API surface with a
constructed-data DuckDB parity test (`tests/test_unregistered_ops.py`)
instead of a registry slot — the same contract, same comparator, on
data that actually exercises every pattern.

The reference (an ingestion API) has no redaction surface; this module
belongs to the mandated LLM-pipeline extension tier.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# (name, pattern, replacement) — applied in order.
PII_RULES: list[tuple[str, str, str]] = [
    ("email", r"[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}", "<EMAIL>"),
    ("ipv4", r"([0-9]{1,3}\.){3}[0-9]{1,3}", "<IP>"),
    ("phone", r"\+?[0-9][0-9()\-. ]{7,}[0-9]", "<PHONE>"),
    ("number", r"[0-9]{6,}", "<NUM>"),
]


def redact_text(col: Column) -> Column:
    """The scrubbed text: every rule applied in order."""
    out = col
    for _, pat, repl in PII_RULES:
        out = F.regexp_replace(out, pat, repl)
    return out


def redaction_counts(col: Column) -> list[Column]:
    """Per-rule match counts, measured on the text AS THAT RULE SEES IT
    (after the earlier rules ran — the count a later auditor could
    reproduce from the scrub order)."""
    cols = []
    seen = col
    for name, pat, repl in PII_RULES:
        # idx=0 (full match): Spark defaults to group 1 and rejects
        # group-less patterns; DuckDB's default is already the full match
        cols.append(
            F.size(F.regexp_extract_all(seen, F.lit(pat), 0)).alias(f"n_{name}")
        )
        seen = F.regexp_replace(seen, pat, repl)
    return cols


def redact_pii(
    df: DataFrame, key_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Scrub + audit any (key, text) relation: returns key, redacted
    text, and one match-count column per rule."""
    c = F.col(text_col)
    return df.select(
        F.col(key_col).alias("doc_id"),
        redact_text(c).alias("text_redacted"),
        *redaction_counts(c),
    )


def sql_redact_pii(table: str, key_col: str = "doc_id", text_col: str = "text") -> str:
    """DuckDB twin of ``redact_pii`` over ``table`` (same rule order,
    same count-on-intermediate semantics), for parity tests."""
    nested = text_col
    count_exprs = []
    seen = text_col
    for name, pat, repl in PII_RULES:
        count_exprs.append(
            f"CAST(len(regexp_extract_all({seen}, '{pat}')) AS INTEGER)"
            f" AS n_{name}"
        )
        seen = f"regexp_replace({seen}, '{pat}', '{repl}', 'g')"
        nested = f"regexp_replace({nested}, '{pat}', '{repl}', 'g')"
    counts = ",\n       ".join(count_exprs)
    return f"""
SELECT {key_col} AS doc_id,
       {nested} AS text_redacted,
       {counts}
FROM {table}
"""


# ---------------------------------------------------------------------------
# Secret / credential scanning (Carlini et al. 2019, "The Secret
# Sharer: Evaluating and Testing Unintended Memorization in Neural
# Networks", USENIX Security) — the memorization-risk complement to the
# pattern-based PII rules above: API keys, tokens and passwords are
# exactly the strings an LM can regurgitate verbatim, and they look
# like LONG, HIGH-ENTROPY, MIXED-CLASS character runs that are (near-)
# UNIQUE in the corpus (a high-df run is a shared config template or
# boilerplate hash, not a leak).
#
# Per document: extract unbroken [A-Za-z0-9_\-/+=]{MIN_LEN,} runs, and
# for each compute the per-character Shannon entropy (bits) IN-ROW —
# chars -> sorted distinct chars -> count/L -> pinned sorted fold, the
# lm_scores idiom; candidates are tens of characters, so the O(L *
# distinct) in-row work is constant-bounded. A candidate is
# secret-shaped when it clears the entropy floor and mixes >= 2
# character classes. Corpus doc-frequency comes from ONE
# vocabulary-bounded shuffle over the distinct (doc, candidate) pairs;
# df == 1 elevates a secret-shaped run to a unique leak. Pure per-row
# projection + one slim shuffle: scan-friendly at 100 TB.
#
# The synthetic corpus contains no such runs (lowercase prose), so like
# redact_pii this is API surface with a constructed-data DuckDB parity
# test + independent pure-python entropy replay, not a registry slot.
# ---------------------------------------------------------------------------

SECRET_ENTROPY_MIN = 3.5  # bits/char; random base62 of len 16+ is ~3.9+
# dash LAST in the class (literal on both engines with no backslash —
# Spark's string-literal escape processing drops unknown backslash
# escapes, which would turn an escaped dash into a reversed range)
SECRET_RUN_RE = "[A-Za-z0-9_/+=-]{16,}"
_SYM_CLASS_RE = "[_/+=-]"


def _char_entropy_bits(s: Column) -> Column:
    """Shannon entropy (bits/char) of a string, computed in-row with a
    sorted fold so both engines sum in the same order."""
    chars = F.transform(
        F.sequence(F.lit(1), F.length(s)),
        lambda i: F.substr(s, i, F.lit(1)),
    )
    terms = F.transform(
        F.array_sort(F.array_distinct(chars)),
        lambda c: -(F.size(F.filter(chars, lambda x: x == c)) / F.length(s))
        * F.log(F.size(F.filter(chars, lambda x: x == c)) / F.length(s)),
    )
    nats = F.aggregate(terms, F.lit(0.0), lambda acc, x: acc + x)
    return nats / F.log(F.lit(2.0))


def secret_scan(df: DataFrame, key_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(doc_id, n_candidates, n_secret_like, n_unique_secrets,
    max_entropy) for every document with at least one candidate run.

    ``n_candidates`` counts every matched run (with repeats);
    ``n_secret_like`` those clearing length/entropy/class-mix;
    ``n_unique_secrets`` the DISTINCT secret-shaped strings this doc
    shares with no other document (corpus df = 1); ``max_entropy`` the
    6-dp max candidate entropy in bits."""
    runs = F.expr(
        f"regexp_extract_all({text_col}, '{SECRET_RUN_RE}', 0)"
    )
    cand = (
        df.select(F.col(key_col).alias("doc_id"), runs.alias("_runs"))
        .filter(F.size("_runs") > 0)
        .select("doc_id", F.explode("_runs").alias("s"))
    )
    classes = (
        F.when(F.expr("s rlike '[a-z]'"), 1).otherwise(0)
        + F.when(F.expr("s rlike '[A-Z]'"), 1).otherwise(0)
        + F.when(F.expr("s rlike '[0-9]'"), 1).otherwise(0)
        + F.when(F.expr(f"s rlike '{_SYM_CLASS_RE}'"), 1).otherwise(0)
    )
    scored = cand.select(
        "doc_id",
        "s",
        F.round(_char_entropy_bits(F.col("s")), 6).alias("h"),
        classes.alias("n_classes"),
    ).withColumn(
        "secret_like",
        (F.col("h") >= F.lit(SECRET_ENTROPY_MIN)) & (F.col("n_classes") >= 2),
    )
    # corpus doc-frequency of each secret-shaped string: one
    # vocabulary-bounded shuffle over distinct (doc, s) pairs
    dfreq = (
        scored.filter("secret_like")
        .select("doc_id", "s")
        .distinct()
        .groupBy("s")
        .agg(F.count("*").alias("df"))
    )
    per_doc = (
        scored.join(F.broadcast(dfreq), "s", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_candidates"),
            F.sum(F.when(F.col("secret_like"), 1).otherwise(0))
            .cast("long")
            .alias("n_secret_like"),
            F.size(
                F.array_distinct(
                    F.collect_list(
                        F.when(
                            F.col("secret_like") & (F.col("df") == 1),
                            F.col("s"),
                        )
                    )
                )
            )
            .cast("long")
            .alias("n_unique_secrets"),
            F.max("h").alias("max_entropy"),
        )
    )
    return per_doc


def sql_secret_scan(table: str, key_col: str = "doc_id", text_col: str = "text") -> str:
    """DuckDB twin of ``secret_scan`` (exploded-rows entropy with the
    same sorted summation order), for parity tests."""
    return f"""
WITH cand AS (
  SELECT {key_col} AS doc_id, u.s AS s
  FROM {table},
       UNNEST(regexp_extract_all({text_col}, '{SECRET_RUN_RE}')) AS u(s)
),
chars AS (
  SELECT doc_id, s,
         list_transform(range(1, len(s) + 1), i -> s[i]) AS cs
  FROM cand
),
ch AS (
  SELECT doc_id, s, u.c AS c
  FROM chars, UNNEST(cs) AS u(c)
),
cc AS (
  SELECT doc_id, s, c, count(*) AS k FROM ch GROUP BY doc_id, s, c
),
ent AS (
  SELECT doc_id, s,
         round(list_sum(
           list(-(CAST(k AS DOUBLE) / len(s))
                * ln(CAST(k AS DOUBLE) / len(s)) ORDER BY c)
         ) / ln(2.0), 6) AS h
  FROM cc GROUP BY doc_id, s, len(s)
),
scored AS (
  SELECT c.doc_id, c.s, e.h,
         (CASE WHEN regexp_matches(c.s, '[a-z]') THEN 1 ELSE 0 END
          + CASE WHEN regexp_matches(c.s, '[A-Z]') THEN 1 ELSE 0 END
          + CASE WHEN regexp_matches(c.s, '[0-9]') THEN 1 ELSE 0 END
          + CASE WHEN regexp_matches(c.s, '{_SYM_CLASS_RE}') THEN 1 ELSE 0 END)
           AS n_classes
  FROM cand c JOIN ent e ON c.doc_id = e.doc_id AND c.s = e.s
),
flagged AS (
  SELECT *, h >= {SECRET_ENTROPY_MIN} AND n_classes >= 2 AS secret_like
  FROM scored
),
dfreq AS (
  SELECT s, count(*) AS df
  FROM (SELECT DISTINCT doc_id, s FROM flagged WHERE secret_like)
  GROUP BY s
)
SELECT f.doc_id,
       CAST(count(*) AS BIGINT) AS n_candidates,
       CAST(sum(CASE WHEN f.secret_like THEN 1 ELSE 0 END) AS BIGINT)
         AS n_secret_like,
       CAST(count(DISTINCT CASE WHEN f.secret_like AND d.df = 1
                                THEN f.s END) AS BIGINT)
         AS n_unique_secrets,
       max(f.h) AS max_entropy
FROM flagged f LEFT JOIN dfreq d ON f.s = d.s
GROUP BY f.doc_id
"""


def secret_scan_stream_writer(out_path: str):
    """A ``foreachBatch`` callable running the secret/credential scan
    on every arriving micro-batch of (doc_id, text) rows — the
    runbook's ingest-time hygiene gate. Uniqueness (the ``df == 1``
    leak elevation) is BATCH-LOCAL by design: the batch is the
    blast-radius a reviewer quarantines, and a corpus-global df would
    need the persisted-fingerprint probe (the incremental_dedup index
    shape) — documented, not silently approximated. Append-idempotence
    rides the deterministic batch id (the classifier/drift stream
    writer shape): a replayed batch overwrites its own ``batch=<id>``
    directory."""
    import os

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        secret_scan(batch_df.select("doc_id", "text")).write.mode(
            "overwrite"
        ).parquet(os.path.join(out_path, f"batch={batch_id}"))

    return write_batch
