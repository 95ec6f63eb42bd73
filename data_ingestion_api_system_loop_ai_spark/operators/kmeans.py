"""Spherical k-means over the ``embeddings`` table — the production
grouping behind SemDeDup-style pruning and IVF index training, run to
convergence instead of the single Lloyd step the PQ codebooks take.

Spherical variant (Dhillon & Modha 2001): assignment by MAX COSINE,
centroid update = per-cell mean (cosine is norm-invariant, so the mean
need not be renormalized for assignment; the objective below evaluates
against normalized centroids, under which the alternation is
monotonically non-decreasing). Completes the engine's iterative trio —
PageRank (fixed-point), connected components (contraction), k-means
(alternating optimization) — all the same Spark shape:

- driver-side control flow ONLY: per round one aggregated objective
  scalar crosses to the driver, never data;
- per round ONE broadcast of the k-row centroid relation against the
  corpus, argmax by ``similarity.nearest_seeds`` (the ``ivf_assign``
  primitive), then ONE (cell, dim) hash aggregate with decimal(25,12)
  element sums for the exact centroid means;
- ``localCheckpoint`` every round keeps the plan depth O(1).

Determinism end to end: seeds are the systematic sample (every
floor(n/k)-th vector in vec_id rank order — no RNG), cosine ties break
to the smallest seed ordinal, and centroid means are decimal-exact, so
repeated runs produce identical assignments and the single-step form
is DuckDB-checkable (the multi-step loop is non-SQL-expressible —
fixed-depth SQL cannot iterate; the recursive-CTE escape hatch DuckDB
allows for CC does not extend to re-aggregation per round).

Reference parity: no analytics surface in the reference; BASELINE.json
north-star tier (similarity / dedup infrastructure at 100 TB).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.loader import load_table
from .similarity import (
    ivf_centroids,
    nearest_seeds,
    norm_expr,
    systematic_seed_ids,
)

KMEANS_K = 16
KMEANS_ITERS = 4


def kmeans_seeds(e: DataFrame, k: int = KMEANS_K) -> DataFrame:
    """(cell, centroid) initial centroids: the
    ``systematic_seed_ids(k=k)`` sample, cell = sample ordinal
    0..k-1. RNG-free (k-means++ trades determinism for faster
    convergence; at fixed iteration count determinism wins here)."""
    seed_ids = systematic_seed_ids(e.select("vec_id"), k=k).select(
        "vec_id", F.col("ordinal").cast("int").alias("cell")
    )
    return e.join(F.broadcast(seed_ids), "vec_id").select(
        "cell",
        F.transform("embedding", lambda x: x.cast("double")).alias("centroid"),
    )


def kmeans_assign(e: DataFrame, centroids: DataFrame) -> DataFrame:
    """(vec_id, cell, cos) — every vector to its max-cosine centroid,
    ties to the smallest cell ordinal: one ``nearest_seeds`` pass with
    the centroids as seeds."""
    v = e.select("vec_id", "embedding", norm_expr("embedding").alias("v_norm"))
    c = centroids.select(
        F.col("cell").alias("seed_id"),
        F.col("centroid").alias("seed_emb"),
        norm_expr("centroid").alias("seed_norm"),
    )
    return nearest_seeds(v, c)


def kmeans_fit(
    e: DataFrame,
    k: int = KMEANS_K,
    iters: int = KMEANS_ITERS,
    track_objective: bool = True,
) -> tuple[DataFrame, DataFrame, list[float]]:
    """Run ``iters`` Lloyd rounds; returns (assignment, centroids,
    per-round objective). The objective is the mean cosine of vectors
    to their assigned (normalized) centroid — non-decreasing across
    rounds up to float noise, which the tests pin.

    ``track_objective=False`` (r14) skips the per-round objective
    collect — a DIAGNOSTIC action, not part of the fit: every engine
    query path discards the list, and with it off each round is ONE
    job (the eager centroid checkpoint materializes the pending lazy
    assignment inside its own shuffle job) instead of two. The
    assignment/centroid relations are bit-identical either way; the
    objective list comes back empty."""
    from ..plans.lifecycle import local_checkpoint_handle

    # checkpoint lifecycle (round 10, plans/lifecycle.py): round r-1's
    # assignment/centroid blocks are released as soon as round r is
    # materialized; only the returned (asg, centroids) pair outlives
    # the fit
    # (r13 note: an all-lazy-checkpoint variant of this loop was tried
    # and MEASURED SLOWER — 5.1 s -> 12.0 s at sf0.1 — because the
    # pending centroid checkpoint then materializes inside the next
    # round's broadcast-exchange build instead of as a clean parallel
    # job; the eager per-round materialization stays.)
    centroids, release_cent = local_checkpoint_handle(kmeans_seeds(e, k))
    objective: list[float] = []
    asg, release_asg = None, None
    for _ in range(iters):
        # LAZY assignment checkpoint: the objective collect right below
        # is its materializing action (one job instead of two); the
        # centroid checkpoint stays EAGER so it never materializes
        # inside the next round's broadcast-exchange build (the all-lazy
        # variant above). Old assignment blocks are released only after
        # the collect — they feed the pending centroid plan's lineage.
        new_asg, release_new_asg = local_checkpoint_handle(
            kmeans_assign(e, centroids), eager=False
        )
        if track_objective:
            objective.append(new_asg.agg(F.avg("cos")).collect()[0][0])
        # the old assignment is not in the new one's lineage (the
        # assignment derives from e + the EAGER centroid checkpoint),
        # so releasing here is safe in both modes
        if release_asg is not None:
            release_asg()
        asg, release_asg = new_asg, release_new_asg
        new_cent, release_new_cent = local_checkpoint_handle(
            ivf_centroids(e.join(asg.select("vec_id", "cell"), "vec_id"))
        )
        release_cent()
        centroids, release_cent = new_cent, release_new_cent
    return asg, centroids, objective


def q_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Final spherical-k-means assignment (vec_id, cell, cos round 6)
    after KMEANS_ITERS rounds. (Unregistered, NON-SQL-EXPRESSIBLE —
    fixed-depth SQL cannot iterate Lloyd rounds; direct tests pin
    single-step DuckDB parity, determinism, and objective monotonicity
    in tests/test_unregistered_ops.py.)"""
    e = load_table(spark, sf_dir, "embeddings")
    asg, _cent, _obj = kmeans_fit(e, track_objective=False)
    return asg.select(
        "vec_id", "cell", F.round("cos", 6).alias("cos")
    )


# Single Lloyd step (seed -> assign) IS SQL-expressible; the direct
# test checks the first assignment round against this oracle, pinning
# the seeds, the cosine argmax, and the tiebreak — the loop then only
# re-applies the same two relations.
def kmeans_step_oracle(dim: int, k: int = KMEANS_K) -> str:
    return f"""
WITH ranked AS (
  SELECT vec_id, embedding,
         row_number() OVER (ORDER BY vec_id) - 1 AS rn
  FROM embeddings
),
stats AS (
  SELECT greatest(CAST(count(*) / {k} AS BIGINT), 1) AS step FROM embeddings
),
seeds AS (
  SELECT CAST(rn / step AS INTEGER) AS cell,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS centroid
  FROM ranked, stats
  WHERE rn % step = 0 AND rn < {k} * step
),
scored AS (
  SELECT e.vec_id, s.cell,
         list_sum(list_transform(range(1, {dim} + 1),
             i -> CAST(e.embedding[i] AS DOUBLE) * s.centroid[i]))
         / (sqrt(list_sum(list_transform(range(1, {dim} + 1),
               i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE))))
            * sqrt(list_sum(list_transform(range(1, {dim} + 1),
               i -> s.centroid[i] * s.centroid[i])))) AS c
  FROM embeddings e CROSS JOIN seeds s
)
SELECT vec_id, CAST(cell AS INTEGER) AS cell, round(c, 6) AS cos
FROM (
  SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY c DESC, cell ASC) AS rnk
  FROM scored
) WHERE rnk = 1
"""


# ---------------------------------------------------------------------------
# Davies-Bouldin cluster-quality audit (Davies & Bouldin 1979, IEEE
# TPAMI), adapted to the spherical/cosine geometry this k-means runs
# in: per cluster i, cohesion s_i = mean angular distance (1 - cos) of
# members to their centroid; separation d_ij = 1 - cos(c_i, c_j); the
# per-cluster index DB_i = max_{j != i} (s_i + s_j) / d_ij and the
# corpus index is mean_i DB_i — low is good (tight, well-separated
# clusters). The pipeline reads this after every ann/cluster artifact
# rebuild: a jump says the embedding space or K drifted.
#
# Shape: cohesion is one map-side-combinable per-cell mean over the
# final assignment (decimal-pinned); separation is a k x k centroid
# crossJoin — K^2 = 256 rows of in-row zip_with dot products, driver-
# trivial by construction. NON-SQL-EXPRESSIBLE end-to-end (the Lloyd
# loop); the audit math is direct-tested against a numpy replay from
# the SAME fitted model.
# ---------------------------------------------------------------------------


def davies_bouldin(asg: DataFrame, centroids: DataFrame) -> DataFrame:
    """(cell, n, cohesion, worst_other, db_i, db_index) — one row per
    cluster plus the corpus-level mean replicated on every row (the
    1-row-broadcast idiom keeps the output a single relation)."""
    dec = lambda c: c.cast("double").cast("decimal(25,12)")  # noqa: E731
    coh = asg.groupBy("cell").agg(
        F.count("*").cast("long").alias("n"),
        (
            F.sum(dec(F.lit(1.0) - F.col("cos"))).cast("double")
            / F.count("*")
        ).alias("s"),
    )
    norm = F.sqrt(
        F.aggregate(
            F.transform(F.col("centroid"), lambda v: v * v),
            F.lit(0.0),
            lambda a, x: a + x,
        )
    )
    cn = centroids.select(
        "cell",
        F.transform(F.col("centroid"), lambda v: v / norm).alias("u"),
    )
    pairs = (
        cn.select(F.col("cell").alias("ci"), F.col("u").alias("ua"))
        .crossJoin(
            F.broadcast(
                cn.select(F.col("cell").alias("cj"), F.col("u").alias("ub"))
            )
        )
        .filter(F.col("ci") != F.col("cj"))
        .select(
            "ci",
            "cj",
            (
                F.lit(1.0)
                - F.aggregate(
                    F.zip_with(
                        F.col("ua"), F.col("ub"), lambda a, b: a * b
                    ),
                    F.lit(0.0),
                    lambda a, x: a + x,
                )
            ).alias("d"),
        )
    )
    ratio = (
        pairs.join(
            F.broadcast(coh.select(F.col("cell").alias("ci"), F.col("s").alias("si"))),
            "ci",
        )
        .join(
            F.broadcast(coh.select(F.col("cell").alias("cj"), F.col("s").alias("sj"))),
            "cj",
        )
        .select(
            "ci",
            "cj",
            ((F.col("si") + F.col("sj")) / F.col("d")).alias("r"),
        )
    )
    per_cluster = ratio.groupBy(F.col("ci").alias("cell")).agg(
        F.max_by("cj", F.struct(F.col("r"), -F.col("cj"))).alias(
            "worst_other"
        ),
        F.max("r").alias("db_i"),
    )
    overall = per_cluster.agg(
        (
            F.sum(F.round(F.col("db_i"), 12).cast("decimal(25,12)"))
            .cast("double")
            / F.count("*")
        ).alias("db_index")
    )
    return (
        coh.join(per_cluster, "cell")
        .crossJoin(F.broadcast(overall))
        .select(
            "cell",
            "n",
            F.round("s", 6).alias("cohesion"),
            "worst_other",
            F.round("db_i", 6).alias("db_i"),
            F.round("db_index", 6).alias("db_index"),
        )
    )


def q_cluster_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Davies-Bouldin audit of the fitted spherical k-means.
    (Unregistered, NON-SQL-EXPRESSIBLE — rides the Lloyd loop; the
    audit arithmetic is direct-tested against an independent numpy
    replay in tests/test_unregistered_ops.py.)"""
    e = load_table(spark, sf_dir, "embeddings")
    asg, cent, _obj = kmeans_fit(e, track_objective=False)
    return davies_bouldin(asg, cent)


def q_cluster_quality_from_model(
    spark: SparkSession, sf_dir: str, model_path: str
) -> DataFrame:
    """The Davies-Bouldin audit against a FROZEN persisted cluster
    model (built by ``semdedup.build_kmeans_model``): one
    broadcast-argmax assignment pass + one post-assignment centroid
    recompute + the audit — no Lloyd loop in the query path. The
    stored centroids PRODUCE the inline fit's final assignment, and
    the recompute matches ``kmeans_fit``'s returned centroids, so the
    audit is pinned IDENTICAL to inline (direct test)."""
    import os

    from ..sources import commit_protocol

    commit_protocol.require_marker(
        model_path, what="k-means model", builder="build_kmeans_model"
    )
    e = load_table(spark, sf_dir, "embeddings")
    stored = spark.read.parquet(os.path.join(model_path, "centroids"))
    asg = kmeans_assign(e, stored).localCheckpoint()
    cent = ivf_centroids(e.join(asg.select("vec_id", "cell"), "vec_id"))
    return davies_bouldin(asg, cent)
