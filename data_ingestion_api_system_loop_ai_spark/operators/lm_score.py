"""Unigram language-model surprisal scoring over ``documents`` — the
CCNet / Gopher "perplexity filter" stage of a training-data pipeline,
with the LM trained on the corpus itself in the same job.

A pretraining pipeline scores every candidate document by how probable
a reference language model finds it; documents with extreme mean
surprisal (gibberish at the high end, degenerate repetition at the low
end) are dropped or re-bucketed (CCNet trains a 5-gram KenLM per
language; the unigram form here keeps the statistics exactly
SQL-expressible while exercising the identical distributed shape:
train = corpus aggregation, score = per-token probability lookup).

Model: add-one-smoothed unigram LM over the corpus token counts —
``p(t) = (count(t) + 1) / (T + V)`` with T total tokens, V vocabulary
size. Per document: ``mean_surprisal = Σ tf(t)·(−ln p(t)) / n_tokens``
(nats/token; the unigram cross-entropy of the doc against the corpus).

Plan shape at 100 TB:

- TRAIN is one map-side-combinable aggregation: explode → count by
  token. Vocabulary is Zipf-bounded (a few million rows even at
  web-corpus scale — OSCAR's is ~10 M) so the trained model is a
  BROADCAST relation, exactly the FastText/KenLM "model file shipped
  to every worker" deployment, expressed relationally.
- SCORE is shuffle-free on the corpus side: per-doc term frequencies
  are computed IN-ROW (``transform`` over the distinct-token array —
  no (doc, token) explode-shuffle), the broadcast join attaches
  counts, and the per-doc sum folds over the token-SORTED contribution
  array so the floating-point order is pinned — the same in-order
  ``list_sum`` contract the similarity family relies on. The only
  corpus shuffle is the final groupBy(doc_id) re-assembly of the
  exploded distinct tokens, whose width is n_distinct ≤ n_tokens.
- The 1-row (T, V) total is a broadcast nested-loop of one row — the
  stats-broadcast idiom shared with q_bm25_rank.

Determinism: ``(count+1)/(T+V)`` is the same long→double division on
both engines, ``-ln`` agrees to the last ulp (absorbed by the 9-digit
compare), the fold order is pinned by ``array_sort``/``ORDER BY tok``,
and the final value rounds to 6 places (house convention).

Reference parity note: the reference (412 LoC Express pipeline) has no
text analytics; this operator belongs to the BASELINE.json north-star
tier (text analysis / quality scoring at 100 TB).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..functions.text import sql_tokens, tokenize
from ..sources.loader import load_table

# Keep verdict band in nats/token: sub-1.5 means near-degenerate
# repetition of the most common tokens; the high side is gibberish
# (vs this corpus's LM). Both bounds are literals so the oracle
# reproduces the verdict exactly.
LM_LOW = 1.5
LM_HIGH = 6.0


def unigram_counts(docs: DataFrame) -> DataFrame:
    """(token, cnt) corpus counts — the trained model relation."""
    return (
        docs.select(F.explode(tokenize(F.col("text"))).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("cnt"))
    )


def unigram_totals(freq: DataFrame) -> DataFrame:
    """1-row (T, V) smoothing denominator of the trained LM."""
    return freq.agg(F.sum("cnt").alias("T"), F.count("*").alias("V"))


def lm_scores(
    docs: DataFrame,
    freq: DataFrame | None = None,
    totals: DataFrame | None = None,
) -> DataFrame:
    """Score ``docs(doc_id, text)``: (doc_id, n_tokens, n_distinct,
    mean_surprisal, keep).

    ``freq``/``totals`` default to training on ``docs`` itself (the
    oracle-checked inline form); a persisted model passes its stored
    relations instead (``operators/text_models.py``) and the scoring
    plan below is UNCHANGED — counts are longs and every downstream
    expression is the same tree, so from-model results are bit-identical
    to train-inside results (pinned by test)."""
    if freq is None:
        # lazy checkpoint: trained-inline freq has two consumers (the
        # scoring broadcast join and the (T, V) totals) whose column
        # pruning differs below any shared exchange — materialize the
        # Zipf-bounded relation once instead of two corpus explodes
        freq = unigram_counts(docs).localCheckpoint(eager=False)
    if totals is None:
        totals = unigram_totals(freq)

    # in-row distinct-token tfs: (doc_id, token, tf, n_tokens) with NO
    # (doc, token) shuffle — the explode below feeds a broadcast join.
    # LET BINDING via F.inline (the bm25_scores idiom): projecting
    # size(_toks) NEXT TO the explode of _tfs lets CollapseProject
    # inline both aliases into the Generate, re-evaluating the whole
    # tokenize + O(distinct*len) tf tree per consumer (the exact
    # double-evaluation that cost q_lm2_score 8.6->2.5 s in r4; here
    # measured 2.1 s -> 0.2 s at sf0.1). Routing the pair through one
    # inline-Generate makes n_tokens/tfs real attributes evaluated
    # exactly once per document.
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
    base = docs.select("doc_id", F.inline(packed))
    per_tok = base.select(
        "doc_id", "n_tokens", F.explode("tfs").alias("e")
    ).select("doc_id", "n_tokens", "e.token", "e.tf")

    contrib = (
        per_tok.join(F.broadcast(freq), "token")
        .crossJoin(F.broadcast(totals))
        .select(
            "doc_id",
            "n_tokens",
            "token",
            (
                F.col("tf")
                * -F.log((F.col("cnt") + F.lit(1)) / (F.col("T") + F.col("V")))
            ).alias("c"),
        )
    )
    per_doc = contrib.groupBy("doc_id", "n_tokens").agg(
        F.count("*").alias("n_distinct"),
        # token-sorted fold: identical summation order on both engines
        F.aggregate(
            F.transform(
                F.array_sort(F.collect_list(F.struct("token", "c"))),
                lambda s: s["c"],
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias("s"),
    )
    mean = F.round(F.col("s") / F.col("n_tokens"), 6)
    return per_doc.select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("n_distinct").cast("long").alias("n_distinct"),
        mean.alias("mean_surprisal"),
        ((mean >= F.lit(LM_LOW)) & (mean <= F.lit(LM_HIGH))).alias("keep"),
    )


def q_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train-and-score unigram LM pass over ``documents``.
    (Unregistered — the registry is at the driver's 50-slot cap;
    driver-grade DuckDB parity + plan test in
    tests/test_unregistered_ops.py.)"""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return lm_scores(docs)


_TOKS = sql_tokens("text")

LM_SCORE_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, {_TOKS} AS ts FROM documents
),
ex AS (SELECT doc_id, unnest(ts) AS token FROM toks),
freq AS (SELECT token, count(*) AS cnt FROM ex GROUP BY token),
tot AS (SELECT sum(cnt) AS T, count(*) AS V FROM freq),
dt AS (SELECT doc_id, token, count(*) AS tf FROM ex GROUP BY doc_id, token),
contrib AS (
  SELECT doc_id, token,
         tf * -ln((cnt + 1) / (T + V)) AS c
  FROM dt JOIN freq USING (token) CROSS JOIN tot
),
per_doc AS (
  SELECT c.doc_id,
         len(t.ts) AS n_tokens,
         count(*) AS n_distinct,
         list_sum(list(c.c ORDER BY c.token)) AS s
  FROM contrib c JOIN toks t ON c.doc_id = t.doc_id
  GROUP BY c.doc_id, len(t.ts)
)
SELECT doc_id,
       CAST(n_tokens AS BIGINT) AS n_tokens,
       CAST(n_distinct AS BIGINT) AS n_distinct,
       round(s / n_tokens, 6) AS mean_surprisal,
       round(s / n_tokens, 6) BETWEEN {LM_LOW} AND {LM_HIGH} AS keep
FROM per_doc
"""


# ---------------------------------------------------------------------------
# Bigram LM — conditional surprisal (one order up from the unigram
# stage, one step toward the CCNet/KenLM n-gram filter): score each
# document by the mean add-one-smoothed -ln P(y|x) over its adjacent
# token pairs, P(y|x) = (c_xy + 1) / (c_x + V). The scale difference
# from the unigram stage is honest and documented: the trained bigram
# relation is CORPUS-BIGRAM-bounded, not Zipf-vocabulary-bounded, so
# the scoring join runs as a plain shuffle join on the (x, y) key (the
# sharded-model deployment) rather than a broadcast — AQE still
# broadcasts it while it fits.
# ---------------------------------------------------------------------------


def bigram_marginals(bg: DataFrame) -> DataFrame:
    """(x, c_x) left-marginal counts of the trained bigram relation."""
    return bg.groupBy("x").agg(F.sum("c_xy").alias("c_x"))


def bigram_vocab(bg: DataFrame) -> DataFrame:
    """1-row (V) right-vocabulary size — the add-one denominator."""
    return bg.agg(F.countDistinct("y").alias("V"))


def q_lm2_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, n_bigrams, n_distinct_bigrams, mean_surprisal2) over
    ``documents`` — docs with fewer than two tokens drop (no bigrams).
    Per-doc summation casts each contribution to decimal(25,12) so the
    sum is order-independent exactly on both engines. (Unregistered — 50-slot cap; driver-grade DuckDB
    parity + ordering fixture in tests/test_unregistered_ops.py.)"""
    from .collocations import bigram_counts

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    # LAZY CHECKPOINT BARRIER (the dsir _bucketed_tfs idiom, which
    # REPLACED the repartition-only barrier here in round 8): the
    # trained bigram relation has three consumers (the scoring join,
    # the c_x marginals, the vocabulary count). A bare repartition
    # never actually collapses them — ColumnPruning pushes a DIFFERENT
    # Project below each consumer's exchange (the join keeps (x,y,c_xy),
    # the marginals keep (x,c_xy), the vocab keeps (y)), so the
    # canonicalized subtrees differ and ReuseExchange/AQE stage reuse
    # both decline: measured 3 separate corpus pair-aggregations (zero
    # reused query stages). The lazy localCheckpoint materializes the
    # vocabulary-bounded relation ONCE and every consumer reads the
    # cached blocks — at 100 TB that is one corpus pass instead of
    # three, for a bigram-bounded materialization.
    bg = (
        bigram_counts(docs.select("text"))
        .repartition(F.col("x"))
        .localCheckpoint(eager=False)
    )
    return lm2_scores(docs, bg, bigram_marginals(bg), bigram_vocab(bg))


def lm2_scores(
    docs: DataFrame, bg: DataFrame, cx: DataFrame, v: DataFrame
) -> DataFrame:
    """The bigram scoring plan against a given trained model
    (``bg``/``cx``/``v`` — trained inline by ``q_lm2_score`` or read
    from a persisted model by ``text_models.q_lm2_score_from_model``;
    counts are longs, so both sources score bit-identically)."""
    pairs_arr = F.element_at(
        F.transform(
            F.array(tokenize(F.col("text"))),
            lambda ts: F.when(
                F.size(ts) >= 2,
                F.transform(
                    F.slice(ts, 1, F.size(ts) - 1),
                    lambda x, i: F.struct(
                        x.alias("x"), F.element_at(ts, i + 2).alias("y")
                    ),
                ),
            ).otherwise(F.array().cast("array<struct<x:string,y:string>>")),
        ),
        1,
    )
    # exploded (doc, x, y) tf aggregation — NOT the unigram stage's
    # in-row tf trick: bigrams are nearly all DISTINCT within a doc, so
    # the in-row filter degenerates to O(n_bigrams^2) struct compares
    # per document (measured 17 s at sf0.1; the in-row form wins only
    # when per-doc term diversity is far below length, as with
    # unigrams). The pairs array is evaluated EXACTLY ONCE per row:
    # n_bigrams is recovered later as sum(tf) instead of a second
    # size(pairs_arr) reference, which CollapseProject would inline as
    # a full re-tokenize+re-pair per row (measured 8.6 s -> 2.5 s).
    per_pair = (
        docs.select("doc_id", F.explode(pairs_arr).alias("p"))
        .groupBy(
            "doc_id", F.col("p.x").alias("x"), F.col("p.y").alias("y")
        )
        .agg(F.count("*").alias("tf"))
    )

    contrib = (
        per_pair.join(bg, ["x", "y"])
        .join(cx, "x")
        .crossJoin(F.broadcast(v))
        .select(
            "doc_id",
            "tf",
            (
                F.col("tf")
                * -F.log((F.col("c_xy") + 1) / (F.col("c_x") + F.col("V")))
            ).alias("c"),
        )
    )
    # decimal sum instead of the unigram stage's sorted fold: collecting
    # ~n_bigrams (x, y, c) STRING structs per doc for ordering is the
    # dominant cost at scale; casting each contribution to
    # decimal(25,12) makes the sum order-independent exactly (the
    # ivf_centroids precedent), so a plain HashAggregate suffices.
    # n_bigrams = sum(tf) — recovered here rather than carried from a
    # second pairs-array evaluation.
    per_doc = contrib.groupBy("doc_id").agg(
        F.sum("tf").alias("n_bigrams"),
        F.count("*").alias("n_distinct_bigrams"),
        F.sum(F.col("c").cast("decimal(25,12)")).cast("double").alias("s"),
    )
    return per_doc.select(
        "doc_id",
        F.col("n_bigrams").cast("long").alias("n_bigrams"),
        F.col("n_distinct_bigrams").cast("long").alias("n_distinct_bigrams"),
        F.round(F.col("s") / F.col("n_bigrams"), 6).alias("mean_surprisal2"),
    )


# ---------------------------------------------------------------------------
# Interpolated Kneser-Ney bigram LM — the smoothing KenLM actually
# ships (Kneser & Ney 1995; Chen & Goodman 1998 empirical study), i.e.
# the CCNet perplexity filter's real arithmetic, one step past the
# add-one form above:
#
#   P_KN(y|x) = max(c_xy - D, 0)/c_x  +  (D * N1+(x.)/c_x) * P_cont(y)
#   P_cont(y) = N1+(.y) / N1+(..)
#   D         = n1 / (n1 + 2*n2)          (the Ney/Essen/Kneser estimate)
#
# with c_xy the bigram count, c_x its left marginal, N1+(x.) the count
# of distinct successors of x, N1+(.y) the count of distinct
# predecessors of y (the "novel continuation" count that replaces raw
# unigram frequency — the idea the paper is named for), N1+(..) the
# number of distinct bigram types, and n1/n2 the counts of bigram
# types seen exactly once/twice.
#
# Every statistic is a map-side-combinable aggregate over the SAME
# trained bigram relation: cx (groupBy x), cont (groupBy y — both
# Zipf-vocabulary-bounded, broadcastable), and a 1-row (n1, n2, Nbb)
# discount relation. The scoring join keeps q_lm2_score's shape: an
# exploded per-doc (x, y, tf) aggregation joined to bg on the pair key
# (shuffle equi-join; AQE broadcasts while it fits), then broadcast
# cont + 1-row discount. Per-doc sums cast each contribution to
# decimal(25,12) so the fold is order-independent exactly on both
# engines; D is one long->double division identical on both.
# ---------------------------------------------------------------------------


def kn_statistics(bg: DataFrame) -> tuple[DataFrame, DataFrame, DataFrame]:
    """(cx, cont, disc) smoothing relations of the trained bigram model.

    cx:   (x, c_x, n1p_x)  — left marginal + distinct-successor count
    cont: (y, n1p_y)       — distinct-predecessor (continuation) count
    disc: 1-row (D, Nbb)   — Ney discount + distinct-bigram-type total
    """
    cx = bg.groupBy("x").agg(
        F.sum("c_xy").alias("c_x"), F.count("*").alias("n1p_x")
    )
    cont = bg.groupBy("y").agg(F.count("*").alias("n1p_y"))
    disc = bg.agg(
        F.count("*").alias("Nbb"),
        F.sum(F.when(F.col("c_xy") == 1, 1).otherwise(0)).alias("n1"),
        F.sum(F.when(F.col("c_xy") == 2, 1).otherwise(0)).alias("n2"),
    ).select(
        "Nbb",
        # degenerate corpora (no singleton/doubleton bigrams) pin D at
        # the midpoint rather than 0/0 — same literal guard in the oracle
        F.when(
            F.col("n1") + 2 * F.col("n2") == 0, F.lit(0.5)
        ).otherwise(
            F.col("n1") / (F.col("n1") + 2 * F.col("n2"))
        ).alias("D"),
    )
    return cx, cont, disc


def kn_scores(
    docs: DataFrame,
    bg: DataFrame,
    cx: DataFrame,
    cont: DataFrame,
    disc: DataFrame,
) -> DataFrame:
    """Interpolated-KN scoring plan against a trained bigram model —
    (doc_id, n_bigrams, n_distinct_bigrams, mean_surprisal_kn). Docs
    with fewer than two tokens drop (no bigrams), matching
    ``lm2_scores``."""
    pairs_arr = F.element_at(
        F.transform(
            F.array(tokenize(F.col("text"))),
            lambda ts: F.when(
                F.size(ts) >= 2,
                F.transform(
                    F.slice(ts, 1, F.size(ts) - 1),
                    lambda x, i: F.struct(
                        x.alias("x"), F.element_at(ts, i + 2).alias("y")
                    ),
                ),
            ).otherwise(F.array().cast("array<struct<x:string,y:string>>")),
        ),
        1,
    )
    per_pair = (
        docs.select("doc_id", F.explode(pairs_arr).alias("p"))
        .groupBy(
            "doc_id", F.col("p.x").alias("x"), F.col("p.y").alias("y")
        )
        .agg(F.count("*").alias("tf"))
    )
    p_kn = (
        F.greatest(F.col("c_xy") - F.col("D"), F.lit(0.0)) / F.col("c_x")
        + (F.col("D") * F.col("n1p_x") / F.col("c_x"))
        * (F.col("n1p_y") / F.col("Nbb"))
    )
    contrib = (
        per_pair.join(bg, ["x", "y"])
        .join(cx, "x")
        .join(F.broadcast(cont), "y")
        .crossJoin(F.broadcast(disc))
        .select("doc_id", "tf", (F.col("tf") * -F.log(p_kn)).alias("c"))
    )
    per_doc = contrib.groupBy("doc_id").agg(
        F.sum("tf").alias("n_bigrams"),
        F.count("*").alias("n_distinct_bigrams"),
        F.sum(F.col("c").cast("decimal(25,12)")).cast("double").alias("s"),
    )
    return per_doc.select(
        "doc_id",
        F.col("n_bigrams").cast("long").alias("n_bigrams"),
        F.col("n_distinct_bigrams").cast("long").alias("n_distinct_bigrams"),
        F.round(F.col("s") / F.col("n_bigrams"), 6).alias(
            "mean_surprisal_kn"
        ),
    )


def q_kn_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train-and-score interpolated Kneser-Ney bigram LM over
    ``documents``. (REGISTERED in the round-8 second rotation, funded
    by q_text_analysis; DuckDB parity + independent-replay golden +
    fluency fixture in tests/test_unregistered_ops.py.)"""
    from .collocations import bigram_counts

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    # lazy checkpoint barrier (see q_lm2_score): FOUR consumers — the
    # scoring join, cx, cont, the 1-row discount — each with different
    # column pruning below the exchange, so only a materialization
    # actually runs the corpus tokenize+pair aggregation once.
    bg = (
        bigram_counts(docs.select("text"))
        .repartition(F.col("x"))
        .localCheckpoint(eager=False)
    )
    cx, cont, disc = kn_statistics(bg)
    return kn_scores(docs, bg, cx, cont, disc)


KN_SCORE_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, {_TOKS} AS ts FROM documents
),
bg_doc AS (
  SELECT doc_id, u.pair['x'] AS x, u.pair['y'] AS y, count(*) AS tf
  FROM toks,
       UNNEST(CASE WHEN len(ts) >= 2 THEN
         list_transform(range(1, len(ts)),
                        i -> {{'x': ts[i], 'y': ts[i+1]}})
         ELSE [] END) AS u(pair)
  GROUP BY 1, 2, 3
),
bg AS (SELECT x, y, sum(tf) AS c_xy FROM bg_doc GROUP BY x, y),
cx AS (SELECT x, sum(c_xy) AS c_x, count(*) AS n1p_x FROM bg GROUP BY x),
cont AS (SELECT y, count(*) AS n1p_y FROM bg GROUP BY y),
disc AS (
  SELECT Nbb,
         CASE WHEN n1 + 2*n2 = 0 THEN 0.5
              ELSE CAST(n1 AS DOUBLE) / (n1 + 2*n2) END AS D
  FROM (SELECT count(*) AS Nbb,
               sum(CASE WHEN c_xy = 1 THEN 1 ELSE 0 END) AS n1,
               sum(CASE WHEN c_xy = 2 THEN 1 ELSE 0 END) AS n2
        FROM bg)
),
contrib AS (
  SELECT d.doc_id, d.tf,
         d.tf * -ln(
           greatest(b.c_xy - disc.D, 0.0) / c.c_x
           + (disc.D * c.n1p_x / c.c_x) * (CAST(k.n1p_y AS DOUBLE) / disc.Nbb)
         ) AS c
  FROM bg_doc d
  JOIN bg b USING (x, y)
  JOIN cx c USING (x)
  JOIN cont k USING (y)
  CROSS JOIN disc
),
per_doc AS (
  SELECT doc_id,
         sum(tf) AS n_bigrams,
         count(*) AS n_distinct_bigrams,
         CAST(sum(CAST(c AS DECIMAL(25,12))) AS DOUBLE) AS s
  FROM contrib
  GROUP BY doc_id
)
SELECT doc_id,
       CAST(n_bigrams AS BIGINT) AS n_bigrams,
       CAST(n_distinct_bigrams AS BIGINT) AS n_distinct_bigrams,
       round(s / n_bigrams, 6) AS mean_surprisal_kn
FROM per_doc
"""


LM2_SCORE_ORACLE = f"""
WITH toks AS (
  SELECT doc_id, {_TOKS} AS ts FROM documents
),
bg_doc AS (
  SELECT doc_id, u.pair['x'] AS x, u.pair['y'] AS y, count(*) AS tf
  FROM toks,
       UNNEST(CASE WHEN len(ts) >= 2 THEN
         list_transform(range(1, len(ts)),
                        i -> {{'x': ts[i], 'y': ts[i+1]}})
         ELSE [] END) AS u(pair)
  GROUP BY 1, 2, 3
),
bg AS (SELECT x, y, sum(tf) AS c_xy FROM bg_doc GROUP BY x, y),
cx AS (SELECT x, sum(c_xy) AS c_x FROM bg GROUP BY x),
v AS (SELECT count(DISTINCT y) AS V FROM bg),
nb AS (
  SELECT doc_id, greatest(len(ts) - 1, 0) AS n_bigrams FROM toks
),
contrib AS (
  SELECT d.doc_id, d.x, d.y,
         d.tf * -ln((b.c_xy + 1) / (c.c_x + v.V)) AS c
  FROM bg_doc d JOIN bg b USING (x, y) JOIN cx c USING (x) CROSS JOIN v
),
per_doc AS (
  SELECT c.doc_id, n.n_bigrams,
         count(*) AS n_distinct_bigrams,
         CAST(sum(CAST(c.c AS DECIMAL(25,12))) AS DOUBLE) AS s
  FROM contrib c JOIN nb n USING (doc_id)
  GROUP BY c.doc_id, n.n_bigrams
)
SELECT doc_id,
       CAST(n_bigrams AS BIGINT) AS n_bigrams,
       CAST(n_distinct_bigrams AS BIGINT) AS n_distinct_bigrams,
       round(s / n_bigrams, 6) AS mean_surprisal2
FROM per_doc
"""


# ---------------------------------------------------------------------------
# CCNet perplexity bucketing (Wenzek et al. 2020, "CCNet: Extracting
# High Quality Monolingual Datasets from Web Crawl Data",
# arXiv:1911.00359) — the step the LM scores above exist to feed: per
# LANGUAGE, order documents by LM score and cut the distribution into
# HEAD / MIDDLE / TAIL terciles; CCNet keeps head+middle and drops (or
# re-reviews) the tail. The published pipeline uses a KenLM 5-gram; the
# scoring model here is the same corpus-trained unigram LM as
# q_lm_score (the bucketing layer is identical — only the score column
# changes).
#
# Scale shape: the per-language ordering NEVER runs through a single
# window partition (a language is arbitrarily large at corpus scale) —
# ``grouped_row_number`` ranks over (lang, coarse-score-bucket)
# partitions with per-bucket offsets, the coarse bucket being
# round(score, 1): a MONOTONE function of the score, so ordering by
# (bucket, score, doc_id) equals ordering by (score, doc_id). Tercile
# assignment is pure integer arithmetic against the broadcast per-lang
# count: tile = ((rank-1)*3) div n + 1 — the ntile(3) distribution,
# exact on both engines with no float division.
# ---------------------------------------------------------------------------

CCNET_TILES = 3


def ccnet_buckets(docs: DataFrame) -> DataFrame:
    """(doc_id, lang, mean_surprisal, pp_rank, bucket, keep_ccnet) over
    ``docs(doc_id, lang, text)`` — per-lang perplexity terciles of the
    corpus-trained unigram LM score. Zero-token docs carry no score and
    drop (consistent with lm_scores)."""
    from ..plans.ranking import grouped_row_number

    scored = lm_scores(docs.select("doc_id", "text")).select(
        "doc_id", "mean_surprisal"
    )
    by_lang = scored.join(docs.select("doc_id", "lang"), "doc_id")
    ranked = grouped_row_number(
        by_lang.withColumn("_cb", F.round(F.col("mean_surprisal"), 1)),
        ["lang"],
        ["_cb"],
        ["mean_surprisal", "doc_id"],
        rn_col="pp_rank",
    ).drop("_cb")
    n_lang = by_lang.groupBy("lang").agg(F.count("*").alias("n"))
    tile = F.expr(f"((pp_rank - 1) * {CCNET_TILES}) div n") + F.lit(1)
    label = F.when(tile == 1, "head").when(tile == 2, "middle").otherwise(
        "tail"
    )
    return (
        ranked.join(F.broadcast(n_lang), "lang")
        .select(
            "doc_id",
            "lang",
            "mean_surprisal",
            F.col("pp_rank").cast("long").alias("pp_rank"),
            label.alias("bucket"),
            (tile <= F.lit(CCNET_TILES - 1)).alias("keep_ccnet"),
        )
    )


def q_ccnet_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language head/middle/tail perplexity buckets over
    ``documents`` (CCNet). (REGISTERED in the round-9 rotation — slot
    funded by the permanently-no-oracle q_assign_ids; ntile-equivalence
    + semantics fixtures stay in tests/test_unregistered_ops.py.)"""
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "text"
    )
    return ccnet_buckets(docs)


CCNET_BUCKETS_ORACLE = f"""
WITH scored AS (
  SELECT s.doc_id, d.lang, s.mean_surprisal
  FROM ({LM_SCORE_ORACLE}) s JOIN documents d USING (doc_id)
),
n_lang AS (SELECT lang, count(*) AS n FROM scored GROUP BY lang),
r AS (
  SELECT *,
         row_number() OVER (
           PARTITION BY lang ORDER BY mean_surprisal, doc_id
         ) AS pp_rank
  FROM scored
)
SELECT r.doc_id, r.lang, r.mean_surprisal,
       CAST(r.pp_rank AS BIGINT) AS pp_rank,
       CASE ((r.pp_rank - 1) * {CCNET_TILES}) // n.n + 1
            WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail'
       END AS bucket,
       ((r.pp_rank - 1) * {CCNET_TILES}) // n.n + 1 <= {CCNET_TILES - 1}
         AS keep_ccnet
FROM r JOIN n_lang n USING (lang)
"""


# Registry wiring: q_kn_score REGISTERED in the round-8 second rotation
# (slot funded by q_text_analysis — the LM family's first registered
# slot). q_ccnet_buckets REGISTERED in the round-9 rotation (slot
# funded by q_assign_ids, which is permanently no_oracle — uuid/now —
# and so could never produce hash signal; its semantics stay pinned in
# tests/test_pipeline_semantics.py). The unigram/bigram forms stay
# unregistered API surface with driver-grade parity tests
# (tests/test_unregistered_ops.py).
LM_QUERIES = {
    "q_kn_score": q_kn_score,
    "q_ccnet_buckets": q_ccnet_buckets,
}
LM_ORACLES = {
    "q_kn_score": KN_SCORE_ORACLE,
    "q_ccnet_buckets": CCNET_BUCKETS_ORACLE,
}
UNREGISTERED_LM_QUERIES = {
    "q_lm_score": q_lm_score,
    "q_lm2_score": q_lm2_score,
}
UNREGISTERED_LM_ORACLES = {
    "q_lm_score": LM_SCORE_ORACLE,
    "q_lm2_score": LM2_SCORE_ORACLE,
}


# ---------------------------------------------------------------------------
# Simple Good-Turing smoothing (Good 1953; Gale & Sampson 1995, "Good-
# Turing frequency estimation without tears" — the SGT recipe): the
# third classic smoothing next to add-one (B59/B86) and Kneser-Ney
# (B102), and the one that also answers "how much probability mass do
# UNSEEN tokens deserve?" (P0 = n_1/N — the missing-species estimate).
#
# Per count r: n_r = number of token types seen exactly r times. The
# Turing estimate r* = (r+1)·n_{r+1}/n_r is unusable where n_{r+1}=0,
# so SGT smooths: Z_r = 2·n_r/(t-q) (q/t the neighboring represented
# counts; Gale's end conventions q=0 and t=2r-q), fit log Z ~ a +
# b·log r by least squares, giving the LGT estimate r·(1+1/r)^(b+1);
# use Turing until the first r where it is unavailable (n_{r+1}=0) or
# statistically indistinguishable from LGT (|diff| <= 1.96·sd), then
# LGT FOREVER (the paper's switch-once rule). Renormalize so the seen
# mass is 1-P0.
#
# Scale note: the frequency-of-frequencies relation has one row per
# DISTINCT COUNT VALUE — O(max term frequency) rows (hundreds) from a
# one-pass map-side-combinable aggregate over the vocabulary, so the
# single-partition windows below operate on a driver-sized relation by
# construction (the global_row_number offsets argument), never on the
# corpus or the vocabulary. The LGT fit reuses the zipf-fit moment
# discipline: 12-dp-rounded terms, exact decimal sums.
# ---------------------------------------------------------------------------


def good_turing(freq: DataFrame) -> DataFrame:
    """(r, n_r, z_r, r_star, p_gt, used_lgt) from a (token, cnt)
    relation, plus the r=0 row carrying P0 = n_1/N (n_r = unseen-type
    count is unknowable, emitted as 0)."""
    nr = freq.groupBy(F.col("cnt").alias("r")).agg(
        F.count("*").alias("n_r")
    )
    w = W.orderBy("r")
    dec12 = lambda c: F.round(c, 12).cast("decimal(25,12)")  # noqa: E731
    zed = nr.select(
        "r",
        "n_r",
        F.lag("r").over(w).alias("q"),
        F.lead("r").over(w).alias("t"),
        F.lead("n_r").over(w).alias("n_next"),
    ).select(
        "r",
        "n_r",
        "t",
        "n_next",
        (
            F.lit(2.0)
            * F.col("n_r")
            / (
                F.coalesce(F.col("t"), 2 * F.col("r") - F.coalesce("q", F.lit(0)))
                - F.coalesce("q", F.lit(0))
            )
        ).alias("z_r"),
    )
    x = F.log(F.col("r").cast("double"))
    y = F.log(F.col("z_r"))
    fit = zed.agg(
        F.count("*").cast("double").alias("k"),
        F.sum(dec12(x)).cast("double").alias("sx"),
        F.sum(dec12(y)).cast("double").alias("sy"),
        F.sum(dec12(x * y)).cast("double").alias("sxy"),
        F.sum(dec12(x * x)).cast("double").alias("sxx"),
        F.sum(F.col("n_r") * F.col("r")).cast("long").alias("N"),
    )
    b = (F.col("k") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("k") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    scored = zed.crossJoin(F.broadcast(fit.select(b.alias("b"), "N")))
    turing = F.when(
        F.col("t") == F.col("r") + 1,
        (F.col("r") + 1) * F.col("n_next") / F.col("n_r"),
    )
    lgt = F.col("r") * F.pow(
        (F.col("r") + F.lit(1.0)) / F.col("r"), F.col("b") + F.lit(1.0)
    )
    sd = F.sqrt(
        F.pow(F.col("r") + F.lit(1.0), 2)
        * F.col("n_next")
        / (F.col("n_r").cast("double") * F.col("n_r"))
        * (F.lit(1.0) + F.col("n_next") / F.col("n_r"))
    )
    # the switch-once rule: LGT from the FIRST r where Turing is
    # unavailable or indistinguishable — a running min over r order
    switch_here = F.when(
        turing.isNull() | (F.abs(turing - lgt) <= F.lit(1.96) * sd),
        F.col("r"),
    )
    scored = scored.select(
        "*", F.min(switch_here).over(
            w.rowsBetween(W.unboundedPreceding, W.currentRow)
        ).alias("_sw")
    )
    r_star = F.when(
        F.col("_sw").isNotNull() & (F.col("r") >= F.col("_sw")), lgt
    ).otherwise(turing)
    est = scored.select(
        "r",
        "n_r",
        F.round("z_r", 6).alias("z_r"),
        r_star.alias("_rs"),
        (F.col("_sw").isNotNull() & (F.col("r") >= F.col("_sw"))).alias(
            "used_lgt"
        ),
        "N",
    )
    # renormalize: seen mass = (1 - P0), P0 = n_1/N
    norm = est.agg(
        F.sum(dec12(F.col("n_r") * F.col("_rs"))).cast("double").alias("Nstar")
    )
    # always 1 row, P0 = 0 when the corpus has no singleton types
    p0 = est.agg(
        (
            F.coalesce(
                F.sum(F.when(F.col("r") == 1, F.col("n_r"))), F.lit(0)
            )
            / F.max("N")
        ).alias("p0"),
        F.max("N").alias("N"),
    )
    out = (
        est.crossJoin(F.broadcast(norm))
        .crossJoin(F.broadcast(p0.select("p0")))
        .select(
            F.col("r").cast("long").alias("r"),
            F.col("n_r").cast("long").alias("n_r"),
            "z_r",
            F.round("_rs", 6).alias("r_star"),
            F.round(
                (F.lit(1.0) - F.col("p0")) * F.col("_rs") / F.col("Nstar"), 9
            ).alias("p_gt"),
            "used_lgt",
        )
    )
    zero = p0.select(
        F.lit(0).cast("long").alias("r"),
        F.lit(0).cast("long").alias("n_r"),
        F.lit(None).cast("double").alias("z_r"),
        F.lit(None).cast("double").alias("r_star"),
        F.round(F.col("p0"), 9).alias("p_gt"),
        F.lit(False).alias("used_lgt"),
    )
    return zero.unionByName(out)


def q_good_turing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SGT count re-estimates over the corpus unigram counts.
    (Unregistered — 50-slot cap; driver-grade DuckDB parity +
    independent SGT replay + mass-conservation invariants in
    tests/test_unregistered_ops.py.)"""
    docs = load_table(spark, sf_dir, "documents").select("text")
    freq = unigram_counts(docs).localCheckpoint(eager=False)
    return good_turing(freq)


GOOD_TURING_ORACLE = f"""
WITH toks AS (
  SELECT {_TOKS} AS ts FROM documents
),
ex AS (SELECT unnest(ts) AS token FROM toks),
freq AS (SELECT token, count(*) AS cnt FROM ex GROUP BY token),
nr AS (SELECT cnt AS r, count(*) AS n_r FROM freq GROUP BY cnt),
zed AS (
  SELECT r, n_r,
         lead(r) OVER (ORDER BY r) AS t,
         lead(n_r) OVER (ORDER BY r) AS n_next,
         2.0 * n_r / (coalesce(lead(r) OVER (ORDER BY r),
                               2 * r - coalesce(lag(r) OVER (ORDER BY r), 0))
                      - coalesce(lag(r) OVER (ORDER BY r), 0)) AS z_r
  FROM nr
),
fit AS (
  SELECT CAST(count(*) AS DOUBLE) AS k,
         CAST(sum(CAST(round(ln(CAST(r AS DOUBLE)), 12) AS DECIMAL(25,12))) AS DOUBLE) AS sx,
         CAST(sum(CAST(round(ln(z_r), 12) AS DECIMAL(25,12))) AS DOUBLE) AS sy,
         CAST(sum(CAST(round(ln(CAST(r AS DOUBLE)) * ln(z_r), 12) AS DECIMAL(25,12))) AS DOUBLE) AS sxy,
         CAST(sum(CAST(round(ln(CAST(r AS DOUBLE)) * ln(CAST(r AS DOUBLE)), 12) AS DECIMAL(25,12))) AS DOUBLE) AS sxx,
         CAST(sum(n_r * r) AS BIGINT) AS N
  FROM zed
),
scored AS (
  SELECT z.*, (fit.k * fit.sxy - fit.sx * fit.sy)
              / (fit.k * fit.sxx - fit.sx * fit.sx) AS b,
         fit.N
  FROM zed z CROSS JOIN fit
),
est0 AS (
  SELECT *,
         CASE WHEN t = r + 1
              THEN (r + 1) * CAST(n_next AS DOUBLE) / n_r END AS turing,
         r * pow((r + 1.0) / r, b + 1.0) AS lgt,
         sqrt(pow(r + 1.0, 2) * n_next
              / (CAST(n_r AS DOUBLE) * n_r) * (1.0 + CAST(n_next AS DOUBLE) / n_r)) AS sd
  FROM scored
),
est1 AS (
  SELECT *,
         min(CASE WHEN turing IS NULL OR abs(turing - lgt) <= 1.96 * sd
                  THEN r END)
           OVER (ORDER BY r ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS sw
  FROM est0
),
est AS (
  SELECT r, n_r, z_r, N,
         CASE WHEN sw IS NOT NULL AND r >= sw THEN lgt ELSE turing END AS rs,
         (sw IS NOT NULL AND r >= sw) AS used_lgt
  FROM est1
),
norm AS (
  SELECT CAST(sum(CAST(round(n_r * rs, 12) AS DECIMAL(25,12))) AS DOUBLE)
           AS Nstar
  FROM est
),
p0 AS (
  SELECT CAST(coalesce(sum(CASE WHEN r = 1 THEN n_r END), 0) AS DOUBLE)
           / max(N) AS p0
  FROM est
)
SELECT CAST(0 AS BIGINT) AS r, CAST(0 AS BIGINT) AS n_r,
       CAST(NULL AS DOUBLE) AS z_r, CAST(NULL AS DOUBLE) AS r_star,
       round(p0, 9) AS p_gt, FALSE AS used_lgt
FROM p0
UNION ALL
SELECT CAST(e.r AS BIGINT) AS r, CAST(e.n_r AS BIGINT) AS n_r,
       round(e.z_r, 6) AS z_r, round(e.rs, 6) AS r_star,
       round((1.0 - p0.p0) * e.rs / norm.Nstar, 9) AS p_gt,
       e.used_lgt
FROM est e CROSS JOIN norm CROSS JOIN p0
"""

UNREGISTERED_LM_QUERIES["q_good_turing"] = q_good_turing
UNREGISTERED_LM_ORACLES["q_good_turing"] = GOOD_TURING_ORACLE
