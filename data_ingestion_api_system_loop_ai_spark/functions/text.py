"""Text expression builders shared by the dedup / text-analysis operators.

Everything here is a pure JVM-side column expression (no Python UDFs) and
has an exact DuckDB twin so operators built from these are oracle-checkable:

- tokenize:      split on [^a-z0-9]+ after lowercasing, drop empties
- shingles_k:    word k-grams, distinct set
- shingle_set:   shingles_k over tokenize, tokenized once per row
- token_hash:    leading md5 hex chars -> unsigned int (engine-portable
                 stand-in for xxhash64 etc., which differ across engines);
                 default 15 hex chars = 60 bits, the widest that stays
                 positive in a signed 64-bit long on BOTH engines
- sql_simhash_cte: DuckDB twin of the 60-bit SimHash (integer shift/mask
                 bit ops — power(2,b) double math loses exactness past 2^53)
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

TOKEN_SEP = "[^a-z0-9]+"

# Tiny per-language stopword lists for the lang-id heuristic.
STOPWORDS = {
    "en": ("the", "a", "and", "of", "to", "in", "is"),
    "fr": ("le", "la", "et", "les", "des", "un", "une"),
    "es": ("el", "la", "y", "los", "de", "que", "un"),
    "de": ("der", "die", "und", "das", "ein", "zu", "ist"),
}


def tokenize(col) -> Column:
    """Lowercase word tokens; identical to DuckDB
    ``list_filter(regexp_split_to_array(lower(x),'[^a-z0-9]+'), t -> t <> '')``."""
    return F.filter(
        F.split(F.lower(col), TOKEN_SEP), lambda t: t != F.lit("")
    )


def shingles_k(tokens: Column, k: int) -> Column:
    """Distinct word k-grams joined by single spaces (order-exact)."""
    joined = lambda i: F.concat_ws(  # noqa: E731
        " ", *[F.element_at(tokens, i + off) for off in range(k)]
    )
    return F.when(
        F.size(tokens) >= k,
        F.array_distinct(
            F.transform(F.sequence(F.lit(1), F.size(tokens) - k + 1), joined)
        ),
    ).otherwise(F.array().cast("array<string>"))


def shingle_set(text: Column, k: int) -> Column:
    """The distinct word k-gram array of a text column, tokenized ONCE
    per row: the tokens are LET-BOUND as a lambda variable
    (``element_at(transform(array(tokenize(text)), ts -> shingles_k(ts,
    k)), 1)``). Passing ``tokenize(text)`` straight into ``shingles_k``
    lets CollapseProject inline it into every element reference inside
    the shingle lambda, re-tokenizing once per position — HOF lambdas
    sit outside codegen's subexpression elimination."""
    return F.element_at(
        F.transform(F.array(tokenize(text)), lambda ts: shingles_k(ts, k)), 1
    )


# SimHash width: 15 md5 hex chars = 60 bits. Wide enough that pigeonhole
# bands stay selective at corpus scale (4 bands x 15 bits = 32768 keys
# per band vs 256 at 32-bit), while the value still fits a signed BIGINT
# in both Spark and DuckDB (16 chars could flip the sign bit).
SIMHASH_BITS = 60
_SIMHASH_HEX = SIMHASH_BITS // 4


def token_hash(col, hex_chars: int = _SIMHASH_HEX) -> Column:
    """Unsigned hash from the leading md5 hex chars — portable across
    engines (DuckDB: ``('0x' || substr(md5(t),1,N))::BIGINT``)."""
    return F.conv(F.substring(F.md5(col), 1, hex_chars), 16, 10).cast("long")


def stopword_hits(tokens: Column, words: tuple[str, ...]) -> Column:
    """Count of tokens in a fixed stopword list (with multiplicity)."""
    return F.size(F.filter(tokens, lambda t: t.isin(*words)))


# DuckDB twin of tokenize(), as a SQL fragment parameterized by column name.
def sql_tokens(col: str) -> str:
    return (
        f"list_filter(regexp_split_to_array(lower({col}), '[^a-z0-9]+'),"
        " t -> t <> '')"
    )


def sql_simhash_cte() -> str:
    """DuckDB CTE chain recomputing the 60-bit SimHash of ``documents``
    from scratch (shared by the fingerprint and simhash-dedup oracles):
    ends in ``sh(doc_id, simhash)``. All bit extraction/reconstruction is
    integer ``>> & <<`` — double ``power(2,b)`` math is exact only to
    2^53 and would corrupt the top bits of a 60-bit hash."""
    return f"""
WITH toks AS (
  SELECT doc_id, {sql_tokens('text')} AS tokens FROM documents
),
tok AS (SELECT doc_id, unnest(tokens) AS token FROM toks),
th AS (
  SELECT doc_id, token, count(*) AS cnt,
         ('0x' || substr(md5(token), 1, {_SIMHASH_HEX}))::BIGINT AS h
  FROM tok GROUP BY doc_id, token
),
bits AS (SELECT doc_id, cnt, h, unnest(range(0, {SIMHASH_BITS})) AS b FROM th),
votes AS (
  SELECT doc_id, b,
         sum(CASE WHEN ((h >> b) & 1) = 1 THEN cnt ELSE -cnt END) AS v
  FROM bits GROUP BY doc_id, b
),
sh AS (
  SELECT doc_id,
         CAST(sum(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << b) ELSE 0 END) AS BIGINT) AS simhash
  FROM votes GROUP BY doc_id
)
"""
