"""Corpus-curation scoring: embedding-centroid outliers and per-source
TF-IDF characteristic terms — two standard "look at your data" passes a
training-data pipeline runs before mixing/pruning decisions.

- ``q_embedding_outliers`` — the SemDeDup / SSL-prototypes pruning
  signal (Sorscher et al. 2022; Abbas et al. 2023): score every vector
  by cosine to its group's centroid and surface the k least-typical
  members per group (candidates for pruning as noise, or for UP-weighting
  as rare coverage — the decision layer is downstream; the signal is
  this query). Groups here are the ``label`` column of the synthetic
  ``embeddings`` table; in production they are k-means cells
  (``ivf_assign`` produces exactly that relation).
- ``q_tfidf_source`` — per-source characteristic vocabulary (the
  "what is IN this domain" audit behind mixture decisions): classic
  tf-idf with idf over sources, top-10 terms per source.

Plan shapes at 100 TB:

- Outliers: centroids are one posexplode + (label, dim) hash aggregate
  — map-side combinable down to |labels|·dim rows (the
  ``ivf_centroids`` idiom, decimal(25,12) element sums so both engines
  produce identical doubles) — then a BROADCAST of the tiny centroid
  relation back over the corpus; cosines are in-row folds; the only
  corpus-width shuffle is the per-label top-k window, whose input is
  (label, cos, vec_id) triples, never the vectors.
- TF-IDF: one explode → (source, token) map-side-combinable count;
  everything after is vocabulary-bounded (Zipf), so df, idf, and the
  per-source top-10 window all run on relations of at most |V|·|S|
  rows — the corpus is scanned once.

Determinism: decimal element sums (order-independent), double
divisions and ``ln`` identical per-row on both engines, fold order
pinned by element order, ranks tiebroken on (vec_id | token), final
scores rounded to 6 (house convention).

Reference parity: the reference has no analytics surface (SURVEY.md
§2.2); both operators belong to the BASELINE.json north-star tier.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..functions.text import sql_tokens, tokenize
from ..sources.loader import load_table
from .similarity import RP_DIM, dot_expr, exact_mean, norm_expr

OUTLIER_K = 10
TFIDF_K = 10


def label_centroids(e: DataFrame) -> DataFrame:
    """(label, centroid) — exact decimal element sums / double division
    (the ivf_centroids idiom, keyed by label)."""
    return exact_mean(e, ["label"], "embedding", "centroid")


def q_embedding_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label least-typical vectors: cosine to the label centroid,
    ascending rank, k=10 surfaced per label. (Unregistered — 50-slot
    cap; driver-grade DuckDB parity + broadcast-plan assert in
    tests/test_unregistered_ops.py.)"""
    e = load_table(spark, sf_dir, "embeddings")
    cent = label_centroids(e)
    cos = (
        e.join(F.broadcast(cent), "label")
        .select(
            "label",
            "vec_id",
            (
                dot_expr("embedding", "centroid")
                / (norm_expr("embedding") * norm_expr("centroid"))
            ).alias("_c"),
        )
    )
    w = W.partitionBy("label").orderBy(F.col("_c").asc(), F.col("vec_id"))
    return (
        cos.withColumn("outlier_rank", F.row_number().over(w))
        .filter(F.col("outlier_rank") <= OUTLIER_K)
        .select(
            "label",
            "vec_id",
            F.round("_c", 6).alias("cos_centroid"),
            "outlier_rank",
        )
    )


EMBEDDING_OUTLIERS_ORACLE = f"""
WITH dims AS (
  SELECT label, i,
         CAST(SUM(CAST(CAST(embedding[i] AS DOUBLE) AS DECIMAL(25,12))) AS DOUBLE)
           / count(*) AS cv
  FROM embeddings, UNNEST(range(1, {RP_DIM} + 1)) AS g(i)
  GROUP BY label, i
),
cent AS (SELECT label, list(cv ORDER BY i) AS centroid FROM dims GROUP BY label),
cos AS (
  SELECT e.label, e.vec_id,
         list_sum(list_transform(range(1, {RP_DIM} + 1),
             i -> CAST(e.embedding[i] AS DOUBLE) * c.centroid[i]))
         / (sqrt(list_sum(list_transform(range(1, {RP_DIM} + 1),
               i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE))))
            * sqrt(list_sum(list_transform(range(1, {RP_DIM} + 1),
               i -> c.centroid[i] * c.centroid[i])))) AS c
  FROM embeddings e JOIN cent c USING (label)
)
SELECT label, vec_id, round(c, 6) AS cos_centroid,
       CAST(rnk AS INTEGER) AS outlier_rank
FROM (
  SELECT *, row_number() OVER (PARTITION BY label ORDER BY c ASC, vec_id) AS rnk
  FROM cos
) WHERE rnk <= {OUTLIER_K}
"""


def q_tfidf_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 characteristic terms per source by tf-idf
    (idf = ln(S / df) over sources; smooth-free Salton form — every
    term here occurs in ≥1 source so the log argument is ≥ 1).
    (Unregistered — 50-slot cap; driver-grade DuckDB parity test.)"""
    d = load_table(spark, sf_dir, "documents").select("source", "text")
    tf = (
        d.select("source", F.explode(tokenize(F.col("text"))).alias("token"))
        .groupBy("source", "token")
        .agg(F.count("*").alias("tf"))
    )
    df_ = tf.groupBy("token").agg(F.count("*").alias("df"))
    n_sources = d.select("source").distinct().agg(
        F.count("*").alias("S")
    )
    scored = (
        tf.join(F.broadcast(df_), "token")
        .crossJoin(F.broadcast(n_sources))
        .select(
            "source",
            "token",
            "tf",
            "df",
            (F.col("tf") * F.log(F.col("S") / F.col("df"))).alias("_s"),
        )
    )
    w = W.partitionBy("source").orderBy(F.col("_s").desc(), F.col("token"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= TFIDF_K)
        .select(
            "source",
            "token",
            F.col("tf").cast("long").alias("tf"),
            F.col("df").cast("long").alias("df"),
            F.round("_s", 6).alias("tfidf"),
            F.col("rnk").cast("int").alias("rnk"),
        )
    )


_TOKS = sql_tokens("text")

TFIDF_SOURCE_ORACLE = f"""
WITH ex AS (
  SELECT source, unnest({_TOKS}) AS token FROM documents
),
tf AS (SELECT source, token, count(*) AS tf FROM ex GROUP BY source, token),
dfr AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
tot AS (SELECT count(DISTINCT source) AS S FROM documents)
SELECT source, token, tf, df, round(s, 6) AS tfidf, CAST(rnk AS INTEGER) AS rnk
FROM (
  SELECT source, token, tf, df, tf * ln(CAST(S AS DOUBLE) / df) AS s,
         row_number() OVER (PARTITION BY source ORDER BY tf * ln(CAST(S AS DOUBLE) / df) DESC, token) AS rnk
  FROM tf JOIN dfr USING (token) CROSS JOIN tot
) WHERE rnk <= {TFIDF_K}
"""


# ---------------------------------------------------------------------------
# Per-dimension int8 embedding quantization — the storage decision a
# 100 TB embedding corpus forces (4x smaller vectors; the standard
# scalar-quantization baseline under PQ): per-dim (min, max) from ONE
# map-side-combinable stats pass, codes = round((v - min)/scale) in
# [0, 255] with scale = (max - min)/255, reconstruction v̂ = min +
# code·scale. The query scores the DAMAGE: per-vector reconstruction
# MSE, max absolute error, and the cosine between original and
# reconstructed vector (what retrieval actually feels). Everything is
# in-row double arithmetic off a 1-row broadcast stats relation —
# deterministic fold order, identical on any engine.
# ---------------------------------------------------------------------------

QUANT_LEVELS = 255


def dim_stats(e: DataFrame) -> DataFrame:
    """1-row (mins, maxs): per-dimension min/max as sorted arrays —
    the quantizer parameters (exact: min/max have no summation
    order)."""
    return (
        e.select(F.posexplode("embedding").alias("i", "v"))
        .groupBy("i")
        .agg(
            F.min(F.col("v").cast("double")).alias("mn"),
            F.max(F.col("v").cast("double")).alias("mx"),
        )
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("i", "mn"))),
                lambda s: s["mn"],
            ).alias("mins"),
            F.transform(
                F.array_sort(F.collect_list(F.struct("i", "mx"))),
                lambda s: s["mx"],
            ).alias("maxs"),
        )
    )


def q_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, mse, max_abs_err, cos_recon): int8 per-dim scalar
    quantization damage report over ``embeddings``. (Unregistered —
    50-slot cap; driver-grade DuckDB parity + fidelity invariants in
    tests/test_unregistered_ops.py.)"""
    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    stats = dim_stats(e)
    # NOTE: Spark SQL's arr[i] is 0-BASED (element_at is the 1-based
    # accessor) and transform's i is 0-based, so the index lines up
    recon = F.expr(
        f"""transform(embedding, (v, i) ->
          CASE WHEN maxs[i] = mins[i] THEN mins[i]
               ELSE mins[i]
                    + least(CAST({QUANT_LEVELS} AS DOUBLE),
                            round((CAST(v AS DOUBLE) - mins[i])
                                  / ((maxs[i] - mins[i])
                                     / {QUANT_LEVELS})))
                      * ((maxs[i] - mins[i]) / {QUANT_LEVELS})
          END)"""
    )
    q = e.crossJoin(F.broadcast(stats)).withColumn("recon", recon)
    errs = F.zip_with(
        "embedding", "recon", lambda v, r: r - v.cast("double")
    )
    mse = F.aggregate(
        errs, F.lit(0.0), lambda acc, x: acc + x * x
    ) / F.size("embedding")
    dot = F.aggregate(
        F.zip_with(
            "embedding", "recon", lambda v, r: v.cast("double") * r
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    n1 = F.sqrt(dot_expr("embedding", "embedding"))
    n2 = F.sqrt(
        F.aggregate(
            F.zip_with("recon", "recon", lambda a, b: a * b),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    return q.select(
        "vec_id",
        F.round(mse, 9).alias("mse"),
        F.round(
            F.array_max(F.transform(errs, lambda x: F.abs(x))), 6
        ).alias("max_abs_err"),
        F.round(dot / (n1 * n2), 6).alias("cos_recon"),
    )


_EQ_RECON = f"""list_transform(range(1, len(embedding) + 1), i ->
  CASE WHEN maxs[i] = mins[i] THEN mins[i]
       ELSE mins[i]
            + least(CAST({QUANT_LEVELS} AS DOUBLE),
                    round((CAST(embedding[i] AS DOUBLE) - mins[i])
                          / ((maxs[i] - mins[i]) / {QUANT_LEVELS})))
              * ((maxs[i] - mins[i]) / {QUANT_LEVELS})
  END)"""

EMBEDDING_QUANTIZE_ORACLE = f"""
WITH dims AS (
  SELECT i, min(CAST(embedding[i] AS DOUBLE)) AS mn,
         max(CAST(embedding[i] AS DOUBLE)) AS mx
  FROM embeddings, LATERAL (
    SELECT unnest(range(1, len(embedding) + 1)) AS i
  )
  GROUP BY i
),
stats AS (
  SELECT list(mn ORDER BY i) AS mins, list(mx ORDER BY i) AS maxs
  FROM dims
),
r AS (
  SELECT vec_id, embedding, {_EQ_RECON} AS recon
  FROM embeddings, stats
),
scored AS (
  SELECT vec_id,
         list_sum(list_transform(range(1, len(embedding) + 1),
           i -> (recon[i] - CAST(embedding[i] AS DOUBLE))
                * (recon[i] - CAST(embedding[i] AS DOUBLE))))
           / len(embedding) AS mse,
         list_max(list_transform(range(1, len(embedding) + 1),
           i -> abs(recon[i] - CAST(embedding[i] AS DOUBLE)))) AS mae,
         list_sum(list_transform(range(1, len(embedding) + 1),
           i -> CAST(embedding[i] AS DOUBLE) * recon[i])) AS d,
         sqrt(list_sum(list_transform(range(1, len(embedding) + 1),
           i -> CAST(embedding[i] AS DOUBLE)
                * CAST(embedding[i] AS DOUBLE)))) AS n1,
         sqrt(list_sum(list_transform(range(1, len(embedding) + 1),
           i -> recon[i] * recon[i]))) AS n2
  FROM r
)
SELECT vec_id, round(mse, 9) AS mse, round(mae, 6) AS max_abs_err,
       round(d / (n1 * n2), 6) AS cos_recon
FROM scored
"""


# ---------------------------------------------------------------------------
# All-but-the-top embedding post-processing (Mu & Viswanath 2018,
# arXiv:1702.01417): embedding sets are anisotropic — a nonzero common
# mean plus a few dominating principal components carry corpus-wide
# energy that drowns the similarity signal. The fix every retrieval
# pipeline applies: mean-center, estimate the top principal component,
# project it out. Here as distributed linear algebra:
#
# - the per-dim MEAN is one decimal-exact aggregate (the centroid
#   idiom);
# - the top PC comes from POWER ITERATION: v <- normalize(Σ_d x̃_d
#   (x̃_dᵀ v) / n) — per pass ONE broadcast of the 64-float vector and
#   ONE (dim)-keyed decimal aggregate of rounded per-row contributions
#   (order-independent => bit-deterministic under any partitioning);
#   the normalize is a driver-side 64-float touchpoint, the k-means
#   centroid shape;
# - the readout is per-vector: projection coefficient on the top PC,
#   centered norm, residual norm after removal.
#
# Scale: T passes over the corpus (T ~ 25), each map-side combinable
# to |dim| rows; nothing ever materializes the covariance matrix.
# Correctness (tests): an independent numpy replay of the IDENTICAL
# algorithm (same init, same iteration count) must agree to float
# tolerance; residuals must be orthogonal to the learned direction;
# the Rayleigh quotient along v must dominate seeded random
# directions; two runs must be bit-identical.
# ---------------------------------------------------------------------------

ABTT_ITERS = 25


def embedding_mean(e: DataFrame) -> DataFrame:
    """1-row (mean): per-dimension decimal-exact mean of the corpus."""
    return (
        e.select(F.posexplode("embedding").alias("i", "v"))
        .groupBy("i")
        .agg(
            (
                F.sum(F.col("v").cast("double").cast("decimal(25,12)")).cast("double")
                / F.count("*")
            ).alias("m")
        )
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("i", "m"))),
                lambda s: s["m"],
            ).alias("mean")
        )
    )


def _centered(mean_col: str = "mean"):
    return F.expr(
        f"transform(embedding, (v, i) -> CAST(v AS DOUBLE) - {mean_col}[i])"
    )


def top_pc(spark: SparkSession, e: DataFrame, iters: int = ABTT_ITERS) -> list:
    """The corpus's top principal direction by distributed power
    iteration (deterministic all-ones/√d init). Returns a python list
    of dim floats with unit norm."""
    import math as _math

    dim = len(e.select("embedding").first()["embedding"])
    ec = e.crossJoin(F.broadcast(embedding_mean(e))).select(
        _centered().alias("c")
    ).persist()
    try:
        v = [1.0 / _math.sqrt(dim)] * dim
        for _ in range(iters):
            varr = F.array(*[F.lit(x) for x in v])
            s = F.aggregate(
                F.zip_with(F.col("c"), varr, lambda a, b: a * b),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            rows = (
                ec.select(s.alias("s"), F.posexplode("c").alias("i", "ci"))
                .groupBy("i")
                .agg(
                    F.sum(
                        F.round(F.col("s") * F.col("ci"), 12).cast(
                            "decimal(28,12)"
                        )
                    ).alias("acc")
                )
                .collect()
            )
            w = [0.0] * dim
            for r in rows:
                w[r["i"]] = float(r["acc"])
            nrm = _math.sqrt(sum(x * x for x in w))
            if nrm == 0.0:
                break
            # sign convention: first nonzero coordinate positive, so
            # the learned direction is unique (eigenvectors are ±)
            v = [x / nrm for x in w]
        lead = next((x for x in v if abs(x) > 1e-12), 1.0)
        if lead < 0:
            v = [-x for x in v]
        return v
    finally:
        ec.unpersist()


def q_embedding_abtt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, pc1_coeff, centered_norm, resid_norm): the
    all-but-the-top readout over ``embeddings`` — how much of each
    vector the dominant corpus direction explains, and what remains
    after removal. (Unregistered — 50-slot cap; independent-numpy
    parity + orthogonality/dominance/determinism invariants in
    tests/test_unregistered_ops.py.)"""
    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    v = top_pc(spark, e)
    varr = F.array(*[F.lit(x) for x in v])
    withc = e.crossJoin(F.broadcast(embedding_mean(e))).select(
        "vec_id", _centered().alias("c")
    )
    s = F.aggregate(
        F.zip_with(F.col("c"), varr, lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    cnorm = F.sqrt(
        F.aggregate(
            F.col("c"), F.lit(0.0), lambda acc, x: acc + x * x
        )
    )
    return withc.select(
        "vec_id",
        F.round(s, 6).alias("pc1_coeff"),
        F.round(cnorm, 6).alias("centered_norm"),
        # ||resid||² = ||c||² - s² exactly (v has unit norm)
        F.round(
            F.sqrt(F.greatest(cnorm * cnorm - s * s, F.lit(0.0))), 6
        ).alias("resid_norm"),
    )


# ---------------------------------------------------------------------------
# Multi-signal curation verdict — the DECISION LAYER the individual
# signals exist for: one row per document folding the Gopher quality
# battery, benchmark decontamination, the eval holdout, and embedding
# typicality (cosine to the doc's label centroid) into a keep verdict
# WITH REASONS — the relation a 100 TB curation review actually reads
# ("why did we drop it" next to "did we drop it"). Signals join on
# doc_id (tiny verdict relations / broadcast centroids); the fold is
# one when-array projection.
# ---------------------------------------------------------------------------

TYPICALITY_FLOOR = 0.0  # centroid cosine below 0 = pointing away


def q_curation_verdict(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, cos_centroid, reasons, keep): composed curation
    verdict over ``documents`` (embedding typicality joined by
    vec_id = doc_id where an embedding exists; docs without one skip
    that check). (Unregistered — 50-slot cap; composed DuckDB oracle +
    reason/verdict consistency invariants in
    tests/test_unregistered_ops.py.)"""
    from .contamination import EVAL_MOD, EVAL_REM, q_decontaminate
    from .quality import quality_profile

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    qual = quality_profile(
        load_table(spark, sf_dir, "documents")
    ).select("doc_id", F.col("keep").alias("_q"))
    contam = (
        q_decontaminate(spark, sf_dir)
        .filter("contaminated")
        .select("doc_id", F.lit(True).alias("_ct"))
    )
    e = load_table(spark, sf_dir, "embeddings")
    cos = (
        e.join(F.broadcast(label_centroids(e)), "label")
        .select(
            F.col("vec_id").alias("doc_id"),
            F.round(
                dot_expr("embedding", "centroid")
                / (norm_expr("embedding") * norm_expr("centroid")),
                6,
            ).alias("cos_centroid"),
        )
    )
    joined = (
        docs.join(qual, "doc_id", "left")
        .join(contam, "doc_id", "left")
        .join(cos, "doc_id", "left")
    )
    reasons = F.filter(
        F.array(
            F.when(
                F.col("cos_centroid") < TYPICALITY_FLOOR,
                "atypical_embedding",
            ),
            F.when(F.col("_ct").isNotNull(), "contaminated"),
            F.when(F.col("doc_id") % EVAL_MOD == EVAL_REM, "eval_holdout"),
            F.when(
                F.col("_q").isNull() | ~F.col("_q"), "low_quality"
            ),
        ),
        lambda x: x.isNotNull(),
    )
    return joined.select(
        "doc_id",
        "cos_centroid",
        reasons.alias("reasons"),
        (F.size(reasons) == 0).alias("keep"),
    )


from .contamination import CONTAMINATION_ORACLES as _CONTAM_O
from .quality import QUALITY_ORACLES as _QUAL_O

CURATION_VERDICT_ORACLE = f"""
WITH qual AS (
  SELECT doc_id, keep AS q FROM ({_QUAL_O['q_quality_filter']})
),
contam AS (
  SELECT doc_id FROM ({_CONTAM_O['q_decontaminate']}) WHERE contaminated
),
dims AS (
  SELECT label, i,
         CAST(SUM(CAST(CAST(embedding[i] AS DOUBLE) AS DECIMAL(25,12))) AS DOUBLE)
           / count(*) AS cv
  FROM embeddings, UNNEST(range(1, {RP_DIM} + 1)) AS g(i)
  GROUP BY label, i
),
cent AS (SELECT label, list(cv ORDER BY i) AS centroid FROM dims GROUP BY label),
cos AS (
  SELECT e.vec_id AS doc_id,
         round(list_sum(list_transform(range(1, {RP_DIM} + 1),
             i -> CAST(e.embedding[i] AS DOUBLE) * c.centroid[i]))
         / (sqrt(list_sum(list_transform(range(1, {RP_DIM} + 1),
               i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE))))
            * sqrt(list_sum(list_transform(range(1, {RP_DIM} + 1),
               i -> c.centroid[i] * c.centroid[i])))), 6) AS cos_centroid
  FROM embeddings e JOIN cent c USING (label)
),
folded AS (
  SELECT d.doc_id, cos.cos_centroid,
         list_filter([
           CASE WHEN cos.cos_centroid < {TYPICALITY_FLOOR}
                THEN 'atypical_embedding' END,
           CASE WHEN d.doc_id IN (SELECT doc_id FROM contam)
                THEN 'contaminated' END,
           CASE WHEN d.doc_id % 20 = 7 THEN 'eval_holdout' END,
           CASE WHEN coalesce(
             (SELECT q FROM qual WHERE qual.doc_id = d.doc_id), false
           ) = false THEN 'low_quality' END
         ], x -> x IS NOT NULL) AS reasons
  FROM documents d LEFT JOIN cos USING (doc_id)
)
SELECT doc_id, cos_centroid, reasons, len(reasons) = 0 AS keep
FROM folded
"""
