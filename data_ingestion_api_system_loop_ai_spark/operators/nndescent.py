"""NN-Descent kNN-graph refinement (Dong, Charikar & Li, WWW 2011) —
the standard way to IMPROVE an approximate kNN graph without touching
brute force: in each round every vector considers its neighbors'
neighbors ("a neighbor of my neighbor is probably my neighbor"), scores
the new candidates, and keeps the best k of old ∪ new. Recall climbs
toward exact in a handful of rounds at O(n·k²) candidate evaluations
per round — never O(n²).

Spark shape (the engine's iterative-loop discipline — PageRank, CC,
k-means, BPE):

- the 2-hop candidate generation is ONE self-join of the undirected
  edge relation on the shared endpoint; the REVERSE adjacency is capped
  at k edges per node first (the paper's reverse-sampling, made
  deterministic: best-cosine edges win) so every node's degree in the
  join is <= 2k and the per-node pair fan-out is <= (2k)² — a
  high-in-degree hub (every dup cluster has one) cannot go quadratic;
- scoring joins candidates to the vector relation on each side — two
  hash shuffles on vec_id;
- the keep step is an ordinary per-query top-k window over old ∪ new;
- per round ONE aggregated scalar (the k-slot padded mean cosine — the
  graph objective, truly non-decreasing: edges only improve, are only
  displaced by better ones, and a new edge fills a -1 pad) crosses to
  the driver; ``localCheckpoint`` keeps plan depth O(1).

Stopping rule (measured, round 9 — tools/nnd_curve.py records the
recall-vs-round curve at n=32k in SCALING.json "nn_descent_curve"):
stop when a round's recall gain falls below 0.01 absolute; in
production, where recall is unobservable without ground truth, the
per-round OBJECTIVE gain (returned by ``nn_descent``) is the proxy —
the curve shows both plateau together. NND_ITERS pins the measured
plateau for the shipped query form.

Deterministic end to end (cosines rounded like the base graph, ties
break by neighbor_id), so repeated runs return identical graphs —
pinned by test along with recall-vs-brute-force improvement over the
IVF-only graph (measured at sf0.001: 0.30 -> 0.46 in two rounds, +50%
relative — on RANDOM high-dim test vectors, NN-Descent's worst case,
since neighbor-of-neighbor propagation exploits intrinsic low
dimension that real text/image embeddings have and random ones lack). NON-SQL-EXPRESSIBLE (iterative); direct tests instead
of a DuckDB oracle, per the CC/k-means/BPE precedent.

Reference parity: none (no analytics in the 412-LoC reference);
BASELINE.json north-star tier — similarity infrastructure at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..plans.lifecycle import local_checkpoint_handle
from ..sources.loader import load_table
from .similarity import (
    KNN_K,
    KNN_SEED_BUDGET,
    candidate_side,
    ivf_assign,
    knn_graph_seed,
    merged_topk,
    norm_expr,
    pair_cosine,
    query_side,
    rank_neighbors,
)

NND_ITERS = 2

# Broadcast-hint bound for the vector relation inside the scoring
# joins (r14, ADVICE r13): the hint is only safe when the CALLER can
# prove the vector count — at ~540 B framed per 64-double row, 32 k
# vectors is ~17 MB (the same per-shard ceiling as
# shardknn.SHARD_TARGET, kept as a literal here because shardknn
# imports this module). Callers that refine the FULL corpus graph
# (knn_graph_sharded's within-shard and stitch rounds, budgeted builds
# over an uncounted relation) pass the true count and the hint drops
# out past the cap — an unconditional broadcast there would grow with
# the corpus straight into the 8 GB relation cap / driver OOM.
NND_BCAST_VECTORS_CAP = 32_000


def nn_descent(
    e: DataFrame,
    graph: DataFrame,
    k: int = KNN_K,
    iters: int = NND_ITERS,
    round_hook=None,
    return_release=False,
    n_vectors: int | None = None,
) -> tuple[DataFrame, list[float]]:
    """Refine ``graph`` (query_id, neighbor_id, cosine) over vectors
    ``e`` (vec_id, embedding); returns (refined graph with dense per-
    query rnk, per-round objective). With ``return_release=True`` a
    third element exposes the FINAL round's checkpoint release — for
    callers (the sharded build's within-shard phase) whose returned
    relation does NOT ride this graph and must release it once a
    downstream materialization has consumed it (plans/lifecycle.py:
    an abandoned-but-persisted checkpoint is a session-lifetime leak).

    The objective is the FIXED-SIZE padded mean: mean cosine over
    exactly ``n_queries * k`` slots, absent slots padded with -1 (the
    cosine floor). This is truly monotone (ADVICE r04): existing edges
    only ever improve under the max-merge, an edge is dropped only when
    a better one displaces it, and a NEW edge replaces a -1 pad with a
    cosine >= -1 — whereas the naive mean over present edges can
    DECREASE when an under-filled query gains a genuine but low-cosine
    neighbor.

    ``n_vectors`` is the caller's bound on ``e``'s row count; the
    scoring joins broadcast the vector relation only when it is known
    to fit (``<= NND_BCAST_VECTORS_CAP``). ``None`` means unknown —
    no hint, the planner's shuffle join (the scale-safe default)."""
    # checkpoint LIFECYCLE (round 10): every round's checkpoint is
    # released the moment the next round is materialized — a long
    # session (118-query bench, multi-size scaling probe) otherwise
    # accumulates dead blocks from finished rounds/queries until they
    # squeeze execution memory (see plans/lifecycle.py). Only the FINAL
    # round's graph stays persisted: the returned DataFrame reads it.
    v, release_v = local_checkpoint_handle(
        e.select("vec_id", "embedding", norm_expr("embedding").alias("v_norm"))
    )
    g, release_g = local_checkpoint_handle(
        graph.select("query_id", "neighbor_id", "cosine")
    )
    # fixed slot universe for the padded objective: the refinement
    # never introduces query nodes (candidates come from existing
    # edges), so the base graph's query count pins the denominator
    n_q = g.select("query_id").distinct().count()
    objective: list[float] = []
    qa = query_side(v)
    nb = candidate_side(v)
    for _ in range(iters):
        fwd = g.select(
            F.col("query_id").alias("u"), F.col("neighbor_id").alias("v"), "cosine"
        )
        rev = g.select(
            F.col("neighbor_id").alias("u"), F.col("query_id").alias("v"), "cosine"
        )
        # deterministic reverse sampling: cap in-edges per node at k,
        # best cosine first — the hub guard
        wr = W.partitionBy("u").orderBy(F.col("cosine").desc(), "v")
        revc = (
            rev.withColumn("_r", F.row_number().over(wr))
            .filter(F.col("_r") <= k)
            .select("u", "v")
        )
        b = fwd.select("u", "v").unionByName(revc).distinct()
        cand = (
            b.select("u", F.col("v").alias("query_id"))
            .join(b.select("u", F.col("v").alias("neighbor_id")), "u")
            .filter(F.col("query_id") != F.col("neighbor_id"))
            .select("query_id", "neighbor_id")
            .distinct()
        )
        # BROADCAST the vector relation into both scoring joins (guide
        # §3.1) — but only under a PROVEN bound (r14, ADVICE r13): the
        # candidate relation is ~(2k)² rows per node — two orders of
        # magnitude more rows than vectors — and the checkpoint-backed
        # vector relation has no size statistics, so the planner
        # otherwise falls back to sort-merge joins that shuffle every
        # candidate row carrying the just-attached 64-double embedding
        # (~540 B/row, the dominant shuffle of every round). The r13
        # form asserted the bound unconditionally, which was FALSE for
        # the sharded build's full-corpus refinement calls; now the
        # caller passes its count and the hint drops out past the cap.
        bcast = (
            F.broadcast
            if n_vectors is not None and n_vectors <= NND_BCAST_VECTORS_CAP
            else (lambda df: df)
        )
        scored = (
            cand.join(bcast(qa), "query_id")
            .join(bcast(nb), "neighbor_id")
            .select("query_id", "neighbor_id", pair_cosine())
        )
        g, release_new = local_checkpoint_handle(
            merged_topk(g.unionByName(scored), k), eager=False
        )
        # LAZY checkpoint + the objective aggregate as the materializing
        # action (r13): the eager form ran one full job for the
        # checkpoint and a second for the objective — same work, two
        # job launches per round. The previous round's blocks are
        # released only AFTER the collect below has materialized the
        # new round (they feed its plan; the lifecycle caveat).
        row = g.agg(
            F.sum("cosine").alias("s"), F.count("*").alias("m")
        ).collect()[0]
        release_g()
        release_g = release_new
        objective.append(
            (row["s"] + (n_q * k - row["m"]) * -1.0) / (n_q * k)
        )
        if round_hook is not None:
            # measurement hook (tools/nnd_curve.py): observe the
            # checkpointed graph after each round — no behavior change
            round_hook(len(objective), g)
    # the vector relation fed only the in-loop scoring joins; the final
    # graph checkpoint (which the returned plan reads) stays persisted
    release_v()
    out = rank_neighbors(g)
    if return_release:
        return out, objective, release_g
    return out, objective


def knn_graph_budgeted(
    e: DataFrame,
    asg: DataFrame,
    k: int = KNN_K,
    budget: int = KNN_SEED_BUDGET,
    iters: int = NND_ITERS,
    seeds: DataFrame | None = None,
    probes: int | None = None,
    n: int | None = None,
) -> DataFrame:
    """The SCALE-SAFE corpus kNN graph (VERDICT r09 #1): the O(n·budget)
    single-probe seed (``similarity.knn_graph_seed``) refined by
    ``iters`` NN-Descent rounds (O(n·k²) each) — every stage linear in
    n except the quantizer's n·√n broadcast crossJoin, which is pure
    whole-stage-codegen compute with no shuffle. Replaces
    ``knn_graph``'s measured ~n^2.0 top octave (SCALING.json r9:
    231 s at 128 k) with a measured near-linear build; recall vs the
    exact graph is measured by tools/knn_budget_probe.py into
    SCALING.json ``knn_graph_budgeted_recall``. Deterministic end to
    end (same rounding/tiebreaks as the seed and the NND rounds)."""
    # the two-probe seed needs the quantizer's seed relation
    # (its second-nearest-seed probe): inline callers derive it from the table —
    # the SAME deterministic systematic sample the assignment used —
    # while the from-index path passes the index's stored seeds
    if seeds is None:
        from .similarity import ivf_seeds

        seeds = ivf_seeds(e)
    # own the assignment checkpoint so it can be RELEASED: nn_descent's
    # first act is an eager checkpoint of the seed graph, after which
    # the assignment blocks (n rows x 64-float embeddings — the largest
    # checkpoint in the build) are dead weight for the rest of the run
    asg_ck, release_asg = local_checkpoint_handle(asg, eager=False)
    if probes is None:
        from .similarity import KNN_SEED_PROBES

        probes = KNN_SEED_PROBES
    seed = knn_graph_seed(
        asg_ck, k=k, budget=budget, checkpoint=False, seeds=seeds,
        probes=probes,
    )
    # the refinement rounds' broadcast hint needs a PROVEN vector
    # count (see nn_descent); count once when the caller didn't pass
    # one — a column-less scan, the cheapest possible corpus pass
    if n is None:
        n = e.count()
    out, _obj = nn_descent(e, seed, k=k, iters=iters, n_vectors=n)
    release_asg()
    return out


def seed_params_for(n: int) -> tuple[int, int]:
    """(budget, probes) for a RECALL-HOLDING budgeted build at corpus
    size ``n`` — the measured iso-recall-0.90 rule (VERDICT r10 #3).

    The fixed default config (budget 128, probes 2) holds recall
    0.9048 at the 32 k anchor but decays across octaves (0.644 at
    128 k): past 32 k the limiting factor is CELL COVERAGE, not
    per-cell candidates — budget alone saturates (b128/256/512 →
    0.644/0.775/0.858 at 128 k; +1 NND round → 0.874, still short).
    The measured fix is BOTH knobs: one more probed cell per 4×
    octave AND budget ∝ n (b512 p3 → **0.908 at 128 k**, 630 s — all
    in SCALING.json ``knn_graph_budgeted_recall``). On these RANDOM
    64-dim vectors (ANN's worst case: no intrinsic low-dim structure)
    the iso-recall curve costs ~n^1.7; real text/image embeddings sit
    below it. Validated over the measured range [2 k, 128 k]; past
    128 k the rule extrapolates (probes would grow again at 512 k) —
    re-measure with tools/knn_budget_probe.py before trusting it at a
    new octave, which is also the periodic-rebuild cadence.

    SUPERSEDED for builds (round 12): ``build_ann_index`` no longer
    escalates these knobs — past 32 k it runs the SHARD-PARALLEL
    build (``shardknn.knn_graph_sharded``), which holds recall at
    CONSTANT per-shard knobs and retires this rule's ~n^1.7 cost
    curve. The rule stays as the measured record of what the FLAT
    build requires (and as the comparison baseline in SCALING.json)."""
    if n <= 32_000:
        return KNN_SEED_BUDGET, 2
    return min(512, (KNN_SEED_BUDGET * n) // 32_000), 3


def q_knn_graph_budgeted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(query_id, neighbor_id, cosine, rnk): the production-scale kNN
    graph build — budgeted seed + NN-Descent recovery. (Unregistered,
    NON-SQL-EXPRESSIBLE — iterative; the SEED stage has driver-grade
    DuckDB parity via ``similarity.KNN_SEED_ORACLE``; direct tests pin
    determinism and recall >= the bare seed.)"""
    e = load_table(spark, sf_dir, "embeddings")
    return knn_graph_budgeted(e, ivf_assign(e))


def q_nn_descent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """kNN graph refined by NND_ITERS NN-Descent rounds. Re-pointed
    (VERDICT r09 #1) at the O(n·budget) budgeted SEED graph instead of
    the full multi-probe build, which makes it the SAME computation as
    ``q_knn_graph_budgeted`` — kept as the SURVEY B75 name; pinned
    identical by construction (one code path)."""
    return q_knn_graph_budgeted(spark, sf_dir)
