"""Benchmark decontamination for training corpora.

Before training, every serious pipeline checks the corpus for
verbatim n-gram overlap with its evaluation benchmarks (the GPT-3 /
PaLM "13-gram decontamination" step): a training document sharing even
one long n-gram with an eval document leaks the benchmark into the
weights. This module computes that overlap as a DataFrame join:

- shingle both sides into distinct word ``NGRAM_K``-grams (the shared
  ``shingle_set`` builder used by the dedup family);
- inverted-index equi-join training shingles against eval shingles;
- per training doc: how many distinct n-grams collide, how many eval
  docs are hit, the collision fraction, and the drop verdict.

Scale design: the eval side is a benchmark suite — thousands of
documents against a 100 TB corpus — so its exploded shingle relation
is BROADCAST and the probe over the training corpus is a map-side
hash join: no shuffle of the big side at all. (The alternative — a
shuffle equi-join on the shingle — is the fallback when a giant eval
suite outgrows broadcast.) The left join back onto the full training
set is a broadcast of the tiny hit relation for the same reason.
``NGRAM_K`` is 4 here because the synthetic corpus draws ~40 words;
production decontamination uses 13-grams over natural text — the plan
is identical, only the shingle width changes.

The reference (an ingestion API) has no training surface; this module
belongs to the mandated LLM-pipeline extension tier, next to
``operators/dedup.py``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text import shingle_set, sql_tokens, tokenize
from ..sources.loader import load_table

NGRAM_K = 4  # production: 13 (natural-text n-gram entropy is far higher)
# deterministic stand-in for "the benchmark suite": every 20th document
EVAL_MOD, EVAL_REM = 20, 7

# Ubiquity guard, part of the operator's SEMANTICS (mirrored exactly in
# the oracle, like the dedup family's DF cutoff): an n-gram present in
# more than max(MIN, FRAC * n_eval_docs) eval documents is boilerplate,
# not benchmark leakage — and it is also precisely the shingle whose
# eval posting list would blow up the probe join (the unguarded form
# benched 37 s at sf0.1 on the tiny-vocab synthetic corpus).
EVAL_DF_CUTOFF_MIN = 20
EVAL_DF_CUTOFF_FRAC = 0.02


def contamination_report(
    train: DataFrame,
    eval_docs: DataFrame,
    key_col: str = "doc_id",
    text_col: str = "text",
    k: int = NGRAM_K,
) -> DataFrame:
    """Per-training-document contamination report against an eval set.

    Returns one row per training doc: ``n_shingles`` (its distinct
    k-grams), ``n_collisions`` (how many of them appear in the eval
    set's discriminative shingle space — ubiquity cutoff above),
    ``n_eval_docs`` (distinct eval docs sharing at least one),
    ``overlap_frac``, and ``contaminated`` (any collision at all — the
    conservative production rule: one shared 13-gram is disqualifying).

    Join shape: the eval side collapses to ONE posting row per distinct
    surviving shingle (shingle -> sorted eval-doc array), so the probe
    is a broadcast equi-join with AT MOST ONE match per training
    (doc, shingle) — output cardinality is bounded by the training
    shingle relation, never by |train| x |eval| on a hot n-gram.
    """
    t_sh = train.select(
        F.col(key_col).alias("doc_id"),
        F.explode(shingle_set(F.col(text_col), k)).alias("s"),
    )
    e_sh = eval_docs.select(
        F.col(key_col).alias("eval_id"),
        F.explode(shingle_set(F.col(text_col), k)).alias("s"),
    )
    ev_stats = e_sh.agg(F.countDistinct("eval_id").alias("n_eval"))
    cutoff = F.greatest(
        F.lit(EVAL_DF_CUTOFF_MIN),
        F.ceil(F.lit(EVAL_DF_CUTOFF_FRAC) * F.col("n_eval")),
    )
    ev_post = (
        e_sh.groupBy("s")
        .agg(F.array_sort(F.collect_set("eval_id")).alias("eids"))
        .crossJoin(F.broadcast(ev_stats))
        .filter(F.size("eids") <= cutoff)
        .select("s", "eids")
    )
    hits = (
        t_sh.join(F.broadcast(ev_post), "s")
        # t_sh is distinct per doc (shingles_k is a set) and ev_post has
        # one row per shingle, so count(*) IS the distinct collision count
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_collisions"),
            F.size(F.array_distinct(F.flatten(F.collect_list("eids"))))
            .cast("long")
            .alias("n_eval_docs"),
        )
    )
    sizes = train.select(
        F.col(key_col).alias("doc_id"),
        F.size(shingle_set(F.col(text_col), k)).cast("long").alias("n_shingles"),
    )
    return sizes.join(F.broadcast(hits), "doc_id", "left").select(
        "doc_id",
        "n_shingles",
        F.coalesce("n_collisions", F.lit(0)).cast("long").alias("n_collisions"),
        F.coalesce("n_eval_docs", F.lit(0)).cast("long").alias("n_eval_docs"),
        F.round(
            F.coalesce("n_collisions", F.lit(0))
            / F.greatest(F.col("n_shingles"), F.lit(1)),
            6,
        ).alias("overlap_frac"),
        (F.coalesce("n_collisions", F.lit(0)) > 0).alias("contaminated"),
    )


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontaminate ``documents``: docs with ``doc_id % 20 == 7`` play
    the benchmark suite; every other doc is training corpus. Output is
    the per-training-doc contamination report."""
    docs = load_table(spark, sf_dir, "documents")
    is_eval = F.col("doc_id") % EVAL_MOD == EVAL_REM
    return contamination_report(docs.filter(~is_eval), docs.filter(is_eval))


_GRAM = " || ' ' || ".join(f"tokens[i+{j}]" for j in range(NGRAM_K))

CONTAMINATION_ORACLES = {
    "q_decontaminate": f"""
WITH toks AS (
  SELECT doc_id, {sql_tokens('text')} AS tokens FROM documents
),
sh AS (
  SELECT doc_id, unnest(list_distinct(list_transform(
           range(1, greatest(len(tokens) - {NGRAM_K - 1}, 0) + 1),
           i -> {_GRAM}))) AS s
  FROM toks
),
tr AS (SELECT doc_id, s FROM sh WHERE doc_id % {EVAL_MOD} <> {EVAL_REM}),
ev AS (SELECT doc_id AS eval_id, s FROM sh WHERE doc_id % {EVAL_MOD} = {EVAL_REM}),
ev_stats AS (SELECT count(DISTINCT eval_id) AS n_eval FROM ev),
ev_post AS (
  SELECT s, list(DISTINCT eval_id) AS eids
  FROM ev, ev_stats
  GROUP BY s, n_eval
  HAVING count(DISTINCT eval_id)
         <= greatest({EVAL_DF_CUTOFF_MIN},
                     CAST(ceil({EVAL_DF_CUTOFF_FRAC} * n_eval) AS BIGINT))
),
hits AS (
  SELECT tr.doc_id,
         count(*) AS n_collisions,
         CAST(len(list_distinct(flatten(list(eids)))) AS BIGINT) AS n_eval_docs
  FROM tr JOIN ev_post USING (s) GROUP BY tr.doc_id
),
sizes AS (
  SELECT doc_id,
         CAST(len(list_distinct(list_transform(
           range(1, greatest(len(tokens) - {NGRAM_K - 1}, 0) + 1),
           i -> {_GRAM}))) AS BIGINT) AS n_shingles
  FROM toks WHERE doc_id % {EVAL_MOD} <> {EVAL_REM}
)
SELECT sizes.doc_id, n_shingles,
       CAST(coalesce(n_collisions, 0) AS BIGINT) AS n_collisions,
       CAST(coalesce(n_eval_docs, 0) AS BIGINT) AS n_eval_docs,
       round(coalesce(n_collisions, 0) * 1.0 / greatest(n_shingles, 1), 6)
         AS overlap_frac,
       coalesce(n_collisions, 0) > 0 AS contaminated
FROM sizes LEFT JOIN hits ON sizes.doc_id = hits.doc_id
""",
}

CONTAMINATION_QUERIES = {
    "q_decontaminate": q_decontaminate,
}


# ---------------------------------------------------------------------------
# FUZZY benchmark decontamination — the MinHash complement to the exact
# n-gram overlap above (the Llama-3-report-style fuzzy dedup applied
# across the train/eval boundary; same family as GPT-3's appendix-C
# dedup-based decontamination): an eval document paraphrased or
# partially rewritten into the training set shares few exact K-grams
# but a high shingle-Jaccard. Bipartite MinHash-LSH:
#
# - both sides band with the SAME deterministic 16-hash/8-band scheme
#   as q_dedup_minhash_banded (so the oracle replicates the candidate
#   set exactly);
# - the eval side is a benchmark suite — small against a 100 TB corpus
#   — so its band relation AND its shingle sets are BROADCAST: the
#   training corpus is never shuffled, candidates come from a map-side
#   band join and verification is an in-row array_intersect against
#   the broadcast eval shingle sets (no per-pair shuffle at all, unlike
#   the self-join dedup which must co-locate both sides);
# - exact Jaccard >= the dedup family's threshold confirms; per
#   training doc: how many eval docs it fuzzily matches and the worst
#   (max) Jaccard.
#
# No bucket cap is needed: every candidate row pairs one training doc
# with one eval doc, so a degenerate boilerplate band costs at most
# n_eval pairings per training doc — linear, not quadratic.
# ---------------------------------------------------------------------------


def q_decontaminate_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, n_eval_matches, max_jaccard) for every TRAINING doc
    whose shingle-Jaccard against some eval doc clears the dedup
    threshold. (Unregistered — 50-slot cap; driver-grade DuckDB parity
    + planted-paraphrase fixture in tests/test_unregistered_ops.py.)"""
    from .dedup import (
        JACCARD_THRESHOLD,
        _banded_keys,
        _shingle_sets,
    )

    ss = _shingle_sets(spark, sf_dir)
    is_eval = (F.col("doc_id") % EVAL_MOD) == EVAL_REM
    sst = ss.filter(~is_eval)
    sse = ss.filter(is_eval).select(
        F.col("doc_id").alias("eval_id"), F.col("ss").alias("ess")
    )
    bt = _banded_keys(sst)
    be = _banded_keys(
        sse.select(F.col("eval_id").alias("doc_id"), F.col("ess").alias("ss"))
    ).select(F.col("doc_id").alias("eval_id"), "band", "key")
    cand = (
        bt.join(F.broadcast(be), ["band", "key"])
        .select("doc_id", "eval_id")
        .distinct()
    )
    pairs = cand.join(sst, "doc_id").join(F.broadcast(sse), "eval_id")
    common = F.size(F.array_intersect(F.col("ss"), F.col("ess")))
    union = F.size("ss") + F.size("ess") - common
    jac = F.round(common * F.lit(1.0) / union, 6)
    flagged = pairs.select(
        "doc_id", "eval_id", jac.alias("jaccard")
    ).filter(F.col("jaccard") >= F.lit(JACCARD_THRESHOLD))
    return flagged.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_eval_matches"),
        F.max("jaccard").alias("max_jaccard"),
    )


def _fuzzy_oracle() -> str:
    from .dedup import (
        JACCARD_THRESHOLD,
        _MINHASH_BANDS_SQL,
        _MINHASH_MINS,
        _SHINGLE_CTE,
    )

    return (
        _SHINGLE_CTE
        + f"""
, mh AS (
  SELECT doc_id,
         {_MINHASH_MINS}
  FROM sh GROUP BY doc_id
),
banded AS (
  {_MINHASH_BANDS_SQL}
),
bt AS (SELECT * FROM banded WHERE doc_id % {EVAL_MOD} <> {EVAL_REM}),
be AS (SELECT doc_id AS eval_id, band, key FROM banded
       WHERE doc_id % {EVAL_MOD} = {EVAL_REM}),
cand AS (
  SELECT DISTINCT bt.doc_id, be.eval_id
  FROM bt JOIN be USING (band, key)
),
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
common AS (
  SELECT c.doc_id, c.eval_id, count(*) AS common
  FROM cand c
  JOIN sh a ON a.doc_id = c.doc_id
  JOIN sh b ON b.doc_id = c.eval_id AND b.s = a.s
  GROUP BY 1, 2
),
flagged AS (
  SELECT c.doc_id, c.eval_id,
         round(c.common * 1.0 / (st.n + se.n - c.common), 6) AS jaccard
  FROM common c
  JOIN sizes st ON c.doc_id = st.doc_id
  JOIN sizes se ON c.eval_id = se.doc_id
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_eval_matches,
       max(jaccard) AS max_jaccard
FROM flagged
WHERE jaccard >= {JACCARD_THRESHOLD}
GROUP BY doc_id
"""
    )


DECONTAMINATE_FUZZY_ORACLE = _fuzzy_oracle()

UNREGISTERED_CONTAMINATION_QUERIES = {
    "q_decontaminate_fuzzy": q_decontaminate_fuzzy,
}
UNREGISTERED_CONTAMINATION_ORACLES = {
    "q_decontaminate_fuzzy": DECONTAMINATE_FUZZY_ORACLE,
}


# ---------------------------------------------------------------------------
# Min-K% Prob membership signal (Shi et al. 2024, "Detecting
# Pretraining Data from Large Language Models", ICLR): score a probe
# document by the mean surprisal of its K% LEAST-PROBABLE tokens under
# the reference LM — members (documents the model trained on) score low
# even on their rarest tokens; non-members spike. The production use is
# the post-hoc side of decontamination: given a trained corpus LM and a
# benchmark, rank eval docs by membership likelihood. The reference LM
# here is the corpus-trained add-one unigram of q_lm_score (the paper's
# statistic is model-agnostic — only the per-token log-prob source
# changes).
#
# Per eval doc (the EVAL_MOD/EVAL_REM holdout slice): per-token-type
# surprisal from ONE broadcast join against the corpus LM (trained on
# the FULL corpus in one checkpointed pass), then an IN-ROW walk over
# the (surprisal DESC, token) sorted type array taking occurrences
# until k = ceil(MINK_FRAC * n_tokens) — a scalar-accumulator fold
# (sum, remaining), O(distinct) with no array growth. Mean is a
# decimal-exact sum / k.
# ---------------------------------------------------------------------------

MINK_FRAC = 0.2  # the paper's default k = 20%


def q_mink_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, n_tokens, k_used, mink_surprisal) for every eval-slice
    document with >= 1 token. (Unregistered — 50-slot cap; driver-grade
    DuckDB parity + membership-ordering fixture in
    tests/test_unregistered_ops.py.)"""
    from .lm_score import unigram_counts, unigram_totals

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    freq = unigram_counts(docs).localCheckpoint(eager=False)
    totals = unigram_totals(freq)

    is_eval = (F.col("doc_id") % EVAL_MOD) == EVAL_REM
    packed = F.transform(
        F.array(tokenize(F.col("text"))),
        lambda ts: F.struct(
            F.size(ts).alias("n_tokens"),
            F.transform(
                F.array_sort(F.array_distinct(ts)),
                lambda t: F.struct(
                    t.alias("token"),
                    F.size(F.filter(ts, lambda x: x == t)).alias("tf"),
                ),
            ).alias("tfs"),
        ),
    )
    base = docs.filter(is_eval).select("doc_id", F.inline(packed))
    per_tok = base.select(
        "doc_id", "n_tokens", F.explode("tfs").alias("e")
    ).select("doc_id", "n_tokens", "e.token", "e.tf")
    scored = (
        per_tok.join(F.broadcast(freq), "token")
        .crossJoin(F.broadcast(totals))
        .select(
            "doc_id",
            "n_tokens",
            "token",
            "tf",
            (
                -F.log((F.col("cnt") + F.lit(1)) / (F.col("T") + F.col("V")))
            ).alias("c"),
        )
    )
    k = F.ceil(F.lit(MINK_FRAC) * F.col("n_tokens")).cast("long")
    # in-row walk: types sorted by (surprisal DESC, token); take tf
    # occurrences per type until k — scalar accumulator, no array growth
    walk = F.aggregate(
        F.reverse(
            F.array_sort(F.collect_list(F.struct("c", "token", "tf")))
        ),
        F.struct(
            F.lit(0).cast("decimal(25,12)").alias("s"),
            k.alias("rem"),
        ),
        lambda acc, x: F.struct(
            # decimal(c) FIRST, then the exact decimal*integer product —
            # identical to the oracle's per-occurrence decimal sum
            # (n_i * dec(c_i) == sum of n_i copies of dec(c_i), exactly)
            # the count operand is decimal(12,0), NOT long: long promotes
            # to decimal(20,0) and 25+20+1 > 38 digits, which silently
            # TRUNCATES the product scale to 6 under precision loss
            # the (25,12)*(12,0) product is decimal(38,12); adding it to
            # the (25,12) accumulator directly would promote to
            # decimal(38,11) — i.e. ROUND the running sum to 11 dp while
            # the oracle sums at scale 12. Cast the product down to
            # (25,12) first (exact: the value is bounded by
            # max-surprisal * k, far under 13 integer digits, and the
            # scale is already 12); (25,12)+(25,12) then stays lossless
            # at decimal(26,12).
            (
                acc["s"]
                + (
                    x["c"].cast("decimal(25,12)")
                    * F.least(x["tf"].cast("long"), acc["rem"]).cast(
                        "decimal(12,0)"
                    )
                ).cast("decimal(25,12)")
            ).cast("decimal(25,12)").alias("s"),
            F.greatest(
                acc["rem"] - x["tf"].cast("long"), F.lit(0).cast("long")
            ).alias("rem"),
        ),
    )
    per_doc = scored.groupBy("doc_id", "n_tokens").agg(walk.alias("w"))
    return per_doc.select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        k.alias("k_used"),
        F.round(
            F.col("w.s").cast("double") / k, 6
        ).alias("mink_surprisal"),
    )


def _mink_oracle() -> str:
    from ..functions.text import sql_tokens

    toks = sql_tokens("text")
    return f"""
WITH toks AS (
  SELECT doc_id, {toks} AS ts FROM documents
),
ex AS (SELECT doc_id, unnest(ts) AS token FROM toks),
freq AS (SELECT token, count(*) AS cnt FROM ex GROUP BY token),
tot AS (SELECT sum(cnt) AS T, count(*) AS V FROM freq),
ev AS (
  SELECT doc_id, len(ts) AS n_tokens,
         CAST(ceil({MINK_FRAC} * len(ts)) AS BIGINT) AS k
  FROM toks
  WHERE doc_id % {EVAL_MOD} = {EVAL_REM} AND len(ts) >= 1
),
occ AS (
  SELECT e.doc_id, v.n_tokens, v.k, e.token,
         -ln((f.cnt + 1) / (t.T + t.V)) AS c
  FROM ex e
  JOIN ev v ON e.doc_id = v.doc_id
  JOIN freq f USING (token)
  CROSS JOIN tot t
),
ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY doc_id ORDER BY c DESC, token
  ) AS rn
  FROM occ
)
SELECT doc_id,
       CAST(n_tokens AS BIGINT) AS n_tokens,
       k AS k_used,
       round(CAST(sum(CAST(c AS DECIMAL(25,12))) AS DOUBLE) / k, 6)
         AS mink_surprisal
FROM ranked
WHERE rn <= k
GROUP BY doc_id, n_tokens, k
"""


MINK_CONTAMINATION_ORACLE = _mink_oracle()

UNREGISTERED_CONTAMINATION_QUERIES["q_mink_contamination"] = (
    q_mink_contamination
)
UNREGISTERED_CONTAMINATION_ORACLES["q_mink_contamination"] = (
    MINK_CONTAMINATION_ORACLE
)
