"""Shard-parallel budgeted kNN-graph build (VERDICT r11 #1).

The flat budgeted build (``nndescent.knn_graph_budgeted``) holds
recall 0.90 only by growing BOTH knobs past 32 k (``seed_params_for``:
budget ∝ n plus a third probe), and the measured iso-recall cost curve
is ~n^1.7 (SCALING.json ``knn_graph_budgeted_recall``: 58.9 s @32 k →
630 s @128 k) — a 100×-scale engine cannot pay that per rebuild. The
root cause is CELL COVERAGE: with ~sqrt(n) cells of ~sqrt(n) members,
a fixed per-cell budget sees a vanishing fraction of each cell, so the
budget must chase the cell size.

The shard-parallel build keeps every knob CONSTANT by keeping the
problem size constant per shard:

- split the corpus into ``S = ceil(n / SHARD_TARGET)`` hash shards
  (``shard = vec_id % S`` — deterministic, and each shard is a
  uniform random sample of the metric space, so every shard covers
  the whole space at 1/S density);
- per shard, run the EXISTING proven 32 k-config build: a shard-local
  systematic-sample quantizer (~sqrt(m) cells of ~sqrt(m) members,
  m = n/S <= SHARD_TARGET), the budget-128 capped cell pool, the
  second-nearest-seed probe, and in-shard LCG bridges — the exact
  recipe whose recall 0.9048 was measured at the 32 k anchor. All
  shards build in ONE Spark pipeline (cells are shard-local because
  assignment only considers the shard's own seeds; seed ids are
  vec_ids, so cell labels are globally unique without composite
  keys) — embarrassingly parallel across (shard, cell) groups, no
  driver loop, per-row work CONSTANT in n;
- optional within-shard NN-Descent rounds (``iters_local``) refine
  each shard's graph — the union graph's 2-hop closure stays in-shard
  (neighbors of shard-i nodes are shard-i nodes), so these rounds ARE
  the per-shard builds of the r11 verdict, run fleet-wide at once;
- STITCH: the union of shard graphs is a good coarse graph (each
  node's shard-local top-k sit at global rank ~k·S), but only ~1/S of
  true edges cross into it, and NN-Descent alone can never cross
  shards (the closure argument above). Cross-shard candidates come
  from the GLOBAL quantizer's cells — the same ``ivf_assign``
  relation every build form already computes (and the persisted ANN
  index stores) — capped per cell at the stitch budget, CROSS-SHARD
  pairs only. These are entry points, not the recall source: the
  final ``iters_stitch`` NN-Descent rounds amplify them (one good
  cross-shard neighbor v imports v's whole refined shard-local list);
- bounded NN-Descent rounds over the merged graph stitch the
  neighborhoods the hash split severed (VERDICT r11 #1's "<=2
  cross-shard bridge rounds").

Cost shape: per-shard quantizer n·sqrt(m) dots (linear, m fixed),
within-shard pairs n·budget·probes (linear), stitch pairs
n·stitch_budget (linear), NND rounds O(n·k²) each (linear). Stitch
BANDING is the one context-dependent term: per-node global cells
cost an n·sqrt(n) broadcast-crossJoin (free inside
``build_ann_index``, which stores the assignment for the IVF probes
anyway — that is its default there), while the standalone default is
``stitch_pairs_banded`` — band by the shard-cell SEED's global cell,
one argmax over S·sqrt(m) x sqrt(n) seed pairs, keeping the WHOLE
standalone build linear (measured at 256 k: same recall, 1.5x less
wall than the global banding). Measured iso-recall growth is recorded in
SCALING.json ``knn_graph_sharded_recall`` by
``tools/knn_budget_probe.py --sharded``; recall is measured against
exact brute force at the same anchors as the flat rule.

The SEED stage (everything before NN-Descent) is SQL-expressible and
carries a full DuckDB oracle (``shard_seed_oracle``), parity-pinned in
tests; the NND rounds are NON-SQL-EXPRESSIBLE (iterative), per the
q_knn_graph_budgeted / CC / k-means precedent.

Reference parity: none (no analytics in the 412-LoC reference);
BASELINE.json north-star tier — similarity infrastructure at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.lifecycle import local_checkpoint_handle
from ..sources.loader import load_table
from .similarity import (
    _BRIDGE_MULT,
    _BRIDGE_STEP,
    KNN_BRIDGE_R,
    KNN_K,
    KNN_SEED_BUDGET,
    KNN_SEED_PROBES,
    assign_cells,
    candidate_side,
    capped_pool,
    ivf_assign,
    max_merge,
    merged_topk,
    nearest_seeds,
    norm_expr,
    pair_cosine,
    query_side,
    systematic_seed_ids,
)

# per-shard size ceiling: the 32 k anchor where the fixed (128, 2)
# config holds recall 0.9048 (SCALING.json knn_graph_budgeted_recall)
SHARD_TARGET = 32_000
# NN-Descent rounds over the merged (shard graphs + stitch) graph —
# the bounded cross-shard stitching of VERDICT r11 #1
STITCH_ITERS = 2
# within-shard refinement rounds before the stitch (the per-shard
# builds; the stitch rounds keep refining locally too, so one round
# here + two stitch rounds give every shard three total passes)
LOCAL_ITERS = 1
# the graph is refined at WORK_K_MULT * k and truncated to k at the
# end — wider lists carry cross-shard stepping stones (measured: the
# difference between saturating at 0.87 and crossing 0.90 at 128 k)
WORK_K_MULT = 2


def n_shards_for(n: int, shard_target: int | None = None) -> int:
    """ceil(n / shard_target), min 1 — shard count grows with the
    corpus so per-shard size (and every per-shard knob) stays fixed.
    The default resolves to ``SHARD_TARGET`` at CALL time (module
    attribute lookup), so tests can shrink the target to force S > 1
    on small fixtures."""
    if shard_target is None:
        shard_target = SHARD_TARGET
    return max(1, -(-n // shard_target))


def _shard(col: str, S: int):
    return F.pmod(F.col(col), F.lit(S))


def shard_seeds(e: DataFrame, S: int) -> DataFrame:
    """(shard, seed_id, seed_emb, seed_norm): each shard's own
    systematic-sample quantizer — the sqrt-rule ``systematic_seed_ids``
    applied per shard, so each shard gets ~sqrt(m) seeds and expected
    cell population ~sqrt(m). The seed vectors are fetched back by a
    broadcast join of S·sqrt(m) ids."""
    ids = e.select("vec_id").withColumn("shard", _shard("vec_id", S))
    seed_ids = systematic_seed_ids(ids, per="shard").select("shard", "vec_id")
    return e.join(F.broadcast(seed_ids), "vec_id").select(
        "shard",
        F.col("vec_id").alias("seed_id"),
        F.col("embedding").alias("seed_emb"),
        norm_expr("embedding").alias("seed_norm"),
    )


def shard_assign(e: DataFrame, sseeds: DataFrame, S: int) -> DataFrame:
    """(vec_id, embedding, v_norm, cell): each vector assigned to the
    nearest seed OF ITS OWN SHARD — ``assign_cells`` with the shard as
    the join key (broadcast here — S·sqrt(m) seed rows; at cluster
    scale the same equi-join shuffles by shard instead, unlike a
    global quantizer's unshardable broadcast), so each vector scores
    ~sqrt(m) seeds: LINEAR total work however large n grows. Cell
    labels are seed vec_ids — globally unique across shards, no
    composite keys."""
    return assign_cells(
        e.withColumn("shard", _shard("vec_id", S)), sseeds, on="shard"
    )


def within_shard_pairs(
    sasg: DataFrame,
    sseeds: DataFrame,
    S: int,
    budget: int = KNN_SEED_BUDGET,
    probes: int = KNN_SEED_PROBES,
    bridges: int = KNN_BRIDGE_R,
) -> DataFrame:
    """(query_id, neighbor_id, cosine): every shard's raw seed-stage
    candidate pairs — the ``knn_graph_seed`` recipe per shard: the
    budget-capped cell pool (first ``budget`` members per shard-local
    cell by vec_id), the second-cell probe, and IN-SHARD LCG bridges
    (the flat build's bridge rule mapped onto the shard's own id
    sequence: member index ``vec_id div S`` drives the LCG modulo the
    shard's member count, and ``dst·S + shard`` lands back in the same
    shard by construction — bridges connect each shard's cell
    components so the within-shard NND rounds can propagate across
    cells, exactly the measured flat-build role)."""
    q = query_side(sasg, "cell")
    cand = capped_pool(candidate_side(sasg, "cell"), "cell", "neighbor_id", budget)
    pairs = (
        q.join(cand, "cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", pair_cosine())
    )
    if probes > 2:
        raise ValueError("within_shard_pairs supports at most 2 probes")
    if probes >= 2:
        c2 = nearest_seeds(
            sasg.withColumn("shard", _shard("vec_id", S)),
            sseeds,
            on="shard",
            exclude=("cell",),
        ).select(F.col("vec_id").alias("query_id"), F.col("cell").alias("cell2"))
        q2 = q.drop("cell").join(c2, "query_id")
        pairs = pairs.unionByName(
            q2.join(cand, q2["cell2"] == cand["cell"])
            .filter(F.col("neighbor_id") != F.col("query_id"))
            .select("query_id", "neighbor_id", pair_cosine())
        )
    # in-shard bridges: member index i = vec_id div S, shard s =
    # vec_id mod S, target index (i·MULT + j·STEP) mod m_s, target id
    # = index·S + s — same LCG constants as the flat build, same-shard
    # by construction (ids the corpus lacks simply drop in the join)
    ms = F.broadcast(
        sasg.groupBy(_shard("vec_id", S).alias("shard")).agg(
            F.count("*").alias("_m")
        )
    )
    bridge_pairs = (
        q.drop("cell")
        .withColumn("shard", _shard("query_id", S))
        .join(ms, "shard")
        .select(
            "query_id", "q_emb", "q_norm", "shard", "_m",
            F.explode(F.sequence(F.lit(1), F.lit(bridges))).alias("_j"),
        )
        .select(
            "query_id", "q_emb", "q_norm",
            (
                (
                    (
                        (F.col("query_id") - F.col("shard")) / S
                    ).cast("long") * _BRIDGE_MULT
                    + F.col("_j") * _BRIDGE_STEP
                )
                % F.col("_m") * S
                + F.col("shard")
            ).alias("neighbor_id"),
        )
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .join(candidate_side(sasg), "neighbor_id")
    )
    return pairs.unionByName(
        bridge_pairs.select("query_id", "neighbor_id", pair_cosine())
    )


def stitch_pairs(
    gasg: DataFrame,
    S: int,
    stitch_budget: int = KNN_SEED_BUDGET,
    seeds: DataFrame | None = None,
    probes: int = 2,
) -> DataFrame:
    """(query_id, neighbor_id, cosine): cross-shard candidate pairs —
    every node scores the first ``stitch_budget`` members (by vec_id)
    of its ``probes`` nearest GLOBAL quantizer cells that live in
    OTHER shards. Two probed cells by default: measured at 128 k, the
    single-cell stitch capped recall at ~0.874 however the budget or
    the NND rounds grew — the SAME cell-coverage wall the flat build
    hit (VERDICT r10 #3), fixed the same way (a second ``nearest_seeds``
    probe against the global seed relation). These are entry points the
    stitch NND rounds amplify; per-node work is capped at
    ``probes * stitch_budget`` regardless of n or S."""
    q = query_side(gasg, "cell")
    cand = capped_pool(
        candidate_side(gasg, "cell"), "cell", "neighbor_id", stitch_budget
    )
    pairs = (
        q.join(cand, "cell")
        .filter(_shard("query_id", S) != _shard("neighbor_id", S))
        .select("query_id", "neighbor_id", pair_cosine())
    )
    if probes > 2:
        raise ValueError("stitch_pairs supports at most 2 probes")
    if probes >= 2:
        if seeds is None:
            raise ValueError(
                "stitch_pairs(probes>=2) needs the global seed relation"
            )
        c2 = nearest_seeds(gasg, seeds, exclude=("cell",)).select(
            F.col("vec_id").alias("query_id"), F.col("cell").alias("cell2")
        )
        q2 = q.drop("cell").join(c2, "query_id")
        pairs = pairs.unionByName(
            q2.join(cand, q2["cell2"] == cand["cell"])
            .filter(_shard("query_id", S) != _shard("neighbor_id", S))
            .select("query_id", "neighbor_id", pair_cosine())
        )
    return pairs


def stitch_pairs_banded(
    sasg: DataFrame,
    sseeds: DataFrame,
    gseeds: DataFrame,
    S: int,
    stitch_budget: int = KNN_SEED_BUDGET,
) -> DataFrame:
    """(query_id, neighbor_id, cosine): the LINEAR-cost stitch — a
    node's band is the global cell of its SHARD-CELL'S SEED vector,
    not of the node itself. The per-node n·√n global assignment (the
    term that dominates the standalone build's growth past 128 k —
    506 seed dots/row at 256 k) collapses to ONE argmax over the
    S·√m shard seeds x √n global seeds (~n/180 x √n dots — ~180×
    cheaper), broadcast back as a (cell → band) map of S·√m rows.
    Nodes far from their shard-cell seed get a coarser band than
    their true global cell — an entry-point-quality trade the stitch
    NND rounds absorb (measured: SCALING.json
    ``knn_graph_sharded_recall`` ``*_bandseed`` keys). Pool capping
    and the cross-shard filter are identical to ``stitch_pairs``."""
    shard_cells = sseeds.select(
        F.col("seed_id").alias("vec_id"),
        F.col("seed_emb").alias("embedding"),
        F.col("seed_norm").alias("v_norm"),
    )
    bmap = nearest_seeds(shard_cells, gseeds).select(
        F.col("vec_id").alias("cell"), F.col("cell").alias("band")
    )
    nodes = sasg.join(F.broadcast(bmap), "cell").select(
        "vec_id", "embedding", "v_norm", "band"
    )
    cand = capped_pool(
        candidate_side(nodes, "band"), "band", "neighbor_id", stitch_budget
    )
    return (
        query_side(nodes, "band")
        .join(cand, "band")
        .filter(_shard("query_id", S) != _shard("neighbor_id", S))
        .select("query_id", "neighbor_id", pair_cosine())
    )


def knn_graph_sharded(
    e: DataFrame,
    gasg: DataFrame | None = None,
    k: int = KNN_K,
    budget: int = KNN_SEED_BUDGET,
    probes: int = KNN_SEED_PROBES,
    bridges: int = KNN_BRIDGE_R,
    stitch_budget: int = KNN_SEED_BUDGET,
    stitch_probes: int = 1,
    stitch_band: str | None = None,
    shard_target: int | None = None,
    iters_local: int = LOCAL_ITERS,
    iters_stitch: int = STITCH_ITERS,
    work_k: int | None = None,
    seeds: DataFrame | None = None,
    n: int | None = None,
) -> DataFrame:
    """(query_id, neighbor_id, cosine, rnk): the shard-parallel corpus
    kNN graph (module docstring). At ``n <= shard_target`` this IS the
    flat budgeted build — one shard, the inline ``knn_graph_budgeted``
    with the same defaults, so the from-index pins and the
    seed-stage DuckDB parity hold unchanged there. Past the target,
    per-shard builds + global-cell stitch + bounded NND stitch rounds
    keep every knob constant: the iso-recall cost grows linearly
    (plus the n·sqrt(n) codegen assignment), not the flat rule's
    measured ~n^1.7. Deterministic end to end (same rounding and
    tiebreaks at every stage)."""
    from .nndescent import NND_ITERS, knn_graph_budgeted, nn_descent

    if shard_target is None:
        shard_target = SHARD_TARGET  # call-time lookup: test-shrinkable
    if n is None:
        n = e.count()
    S = n_shards_for(n, shard_target)
    if S == 1:
        asg = gasg if gasg is not None else ivf_assign(e)
        return knn_graph_budgeted(
            e, asg, k=k, budget=budget, iters=NND_ITERS,
            seeds=seeds, probes=probes, n=n,
        )
    # the graph is BUILT at a working k above the query k (WORK_K_MULT
    # x k by default — the standard NN-Descent practice): wider
    # neighbor lists keep cross-shard stepping stones alive through
    # the rounds, and the final truncation hands back exactly k.
    # Measured at 128 k: the k=5 build saturated at recall ~0.87
    # however the stitch budget/probes/rounds grew; the k=10 build is
    # what crosses 0.90 (SCALING.json knn_graph_sharded_recall).
    wk = work_k if work_k is not None else WORK_K_MULT * k
    # ---- per-shard builds (one pipeline: cells are shard-local)
    sseeds = shard_seeds(e, S)
    sasg, release_sasg = local_checkpoint_handle(
        shard_assign(e, sseeds, S), eager=False
    )
    local_seed = merged_topk(
        within_shard_pairs(
            sasg, sseeds, S, budget=budget, probes=probes, bridges=bridges
        ),
        wk,
    )
    release_local = None
    if iters_local > 0:
        # within-shard refinement: the seed's edges and bridges are all
        # in-shard, so the 2-hop closure stays in-shard — these rounds
        # run all S per-shard builds at once
        # n_vectors is the FULL corpus count here (every shard refines
        # at once over the whole vector relation), so the broadcast
        # hint drops out past the cap — the r13 form's per-shard-bound
        # claim did not hold for this caller (ADVICE r13)
        refined, _obj, release_local = nn_descent(
            e, local_seed, k=wk, iters=iters_local, return_release=True,
            n_vectors=n,
        )
        local_graph = refined.select("query_id", "neighbor_id", "cosine")
    else:
        local_graph = local_seed
    # ---- cross-shard stitch entry points. Banding resolves to the
    # caller's situation (measured, SCALING.json: at 256 k both bands
    # sit at recall 0.96; global costs 400-445 s standalone because of
    # its per-node n·√n assignment, seed costs 271 s): a caller that
    # ALREADY HAS the global assignment (build_ann_index — it stores
    # it for the IVF probes regardless) bands by true global cells for
    # free; a standalone build bands by shard-cell seeds and stays
    # linear.
    if stitch_band is None:
        stitch_band = "global" if gasg is not None else "seed"
    release_gasg = None
    if stitch_band == "seed":
        # LINEAR banding: band nodes by their shard-cell seed's global
        # cell — no per-node global assignment anywhere (the scale
        # path for standalone builds; inside build_ann_index the
        # stored global assignment makes "global" banding free)
        from .similarity import ivf_seeds

        if seeds is None:
            seeds = ivf_seeds(e)
        stitch = merged_topk(
            stitch_pairs_banded(
                sasg, sseeds, seeds, S, stitch_budget=stitch_budget
            ),
            wk,
        )
    else:
        if gasg is None:
            gasg = ivf_assign(e)
        if seeds is None and stitch_probes >= 2:
            from .similarity import ivf_seeds

            seeds = ivf_seeds(e)
        gasg_ck, release_gasg = local_checkpoint_handle(gasg, eager=False)
        stitch = merged_topk(
            stitch_pairs(
                gasg_ck, S, stitch_budget=stitch_budget, seeds=seeds,
                probes=stitch_probes,
            ),
            wk,
        )
    # keep BOTH per-node lists (<= 2*wk rows/node): every node enters
    # the stitch rounds with its wk best local AND wk best cross-shard
    # candidates — guaranteed cross-shard entry points; the first
    # stitch round's top-wk collapses back to wk
    merged = max_merge(local_graph.unionByName(stitch))
    wide, _obj = nn_descent(
        e, merged, k=wk, iters=iters_stitch, n_vectors=n
    )
    # final truncation: the wide build's per-query window order IS the
    # output order, so rnk <= k is exactly the top-k graph
    out = wide.filter(F.col("rnk") <= k)
    # the stitch rounds' first eager checkpoint has materialized
    # ``merged``: phase-1's final graph checkpoint and both assignment
    # checkpoints are provably dead — release them (the returned
    # relation rides only the stitch rounds' final checkpoint)
    if release_local is not None:
        release_local()
    release_sasg()
    if release_gasg is not None:
        release_gasg()
    return out


def q_knn_graph_sharded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(query_id, neighbor_id, cosine, rnk): the shard-parallel
    production graph build. (Unregistered, NON-SQL-EXPRESSIBLE —
    iterative; the SEED stage has driver-grade DuckDB parity via
    ``shard_seed_oracle``; direct tests pin the S=1 ≡ inline identity,
    determinism, multi-shard recall, and the stitch's necessity.)"""
    e = load_table(spark, sf_dir, "embeddings")
    return knn_graph_sharded(e)


UNREGISTERED_SHARDKNN_QUERIES = {
    "q_knn_graph_sharded": q_knn_graph_sharded,
}


def shard_seed_oracle(
    n_shards: int,
    budget: int = KNN_SEED_BUDGET,
    probes: int = KNN_SEED_PROBES,
    bridges: int = KNN_BRIDGE_R,
    stitch_budget: int = KNN_SEED_BUDGET,
    k: int = KNN_K,
) -> str:
    """DuckDB twin of the sharded build's FULL seed stage (within-shard
    cell pool + second-cell probe + in-shard bridges + cross-shard
    global-cell stitch, merged top-k) — the SQL-expressible prefix of
    ``knn_graph_sharded`` before the NND rounds, parametrized by the
    shard count so tests can force S > 1 on small fixtures. Mirrors
    ``similarity.KNN_SEED_ORACLE``'s structure."""
    from .similarity import _DOT

    probe2 = """
UNION ALL
SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       round({dot} / (q.v_norm * c.v_norm), 6) AS cosine
FROM scells q
JOIN scells2 q2 ON q2.vec_id = q.vec_id
JOIN scapped c ON c.cell = q2.cell2 AND c.vec_id <> q.vec_id
""".format(dot=_DOT.format(a="q.embedding", b="c.embedding")) if probes >= 2 else ""
    return f"""
WITH sh AS (
  SELECT vec_id, embedding,
         sqrt({_DOT.format(a='embedding', b='embedding')}) AS v_norm,
         vec_id % {n_shards} AS shard
  FROM embeddings
),
sstats AS (
  SELECT shard,
         count(*) AS m,
         greatest(CAST(count(*) // CAST(ceil(sqrt(count(*))) AS BIGINT) AS BIGINT), 1) AS step
  FROM sh GROUP BY shard
),
sranked AS (
  SELECT vec_id, shard,
         row_number() OVER (PARTITION BY shard ORDER BY vec_id) AS rn
  FROM sh
),
sseeds AS (
  SELECT sh.shard, sh.vec_id AS seed_id, sh.embedding AS seed_emb,
         sh.v_norm AS seed_norm
  FROM sh
  JOIN sranked r ON r.vec_id = sh.vec_id
  JOIN sstats st ON st.shard = sh.shard
  WHERE (r.rn - 1) % st.step = 0
),
sav AS (
  SELECT sh.vec_id,
         max({{'c': {_DOT.format(a='sh.embedding', b='seed_emb')} / (sh.v_norm * seed_norm),
              'neg': -seed_id, 'cell': seed_id}}) AS b
  FROM sh JOIN sseeds s ON s.shard = sh.shard
  GROUP BY sh.vec_id
),
scells AS (
  SELECT sh.vec_id, sh.embedding, sh.v_norm, sh.shard,
         struct_extract(b, 'cell') AS cell
  FROM sh JOIN sav ON sav.vec_id = sh.vec_id
),
scapped AS (
  SELECT * FROM (
    SELECT scells.*,
           row_number() OVER (PARTITION BY cell ORDER BY vec_id) AS crn
    FROM scells
  ) WHERE crn <= {budget}
),
sav2 AS (
  SELECT sc.vec_id,
         max({{'c': {_DOT.format(a='sc.embedding', b='seed_emb')} / (sc.v_norm * seed_norm),
              'neg': -seed_id, 'cell2': seed_id}}) AS b2
  FROM scells sc JOIN sseeds s ON s.shard = sc.shard
  WHERE seed_id <> sc.cell
  GROUP BY sc.vec_id
),
scells2 AS (
  SELECT vec_id, struct_extract(b2, 'cell2') AS cell2 FROM sav2
),
gstats AS (
  SELECT greatest(CAST(count(*) // CAST(ceil(sqrt(count(*))) AS BIGINT) AS BIGINT), 1) AS step
  FROM embeddings
),
granked AS (
  SELECT vec_id, row_number() OVER (ORDER BY vec_id) AS rn FROM embeddings
),
gseeds AS (
  SELECT sh.vec_id AS seed_id, sh.embedding AS seed_emb,
         sh.v_norm AS seed_norm
  FROM sh JOIN granked r ON r.vec_id = sh.vec_id, gstats
  WHERE (r.rn - 1) % step = 0
),
gav AS (
  SELECT sh.vec_id,
         max({{'c': {_DOT.format(a='sh.embedding', b='seed_emb')} / (sh.v_norm * seed_norm),
              'neg': -seed_id, 'cell': seed_id}}) AS b
  FROM sh, gseeds
  GROUP BY sh.vec_id
),
gcells AS (
  SELECT sh.vec_id, sh.embedding, sh.v_norm, sh.shard,
         struct_extract(b, 'cell') AS cell
  FROM sh JOIN gav ON gav.vec_id = sh.vec_id
),
gcapped AS (
  SELECT * FROM (
    SELECT gcells.*,
           row_number() OVER (PARTITION BY cell ORDER BY vec_id) AS crn
    FROM gcells
  ) WHERE crn <= {stitch_budget}
),
raw AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         round({_DOT.format(a='q.embedding', b='c.embedding')}
               / (q.v_norm * c.v_norm), 6) AS cosine
  FROM scells q
  JOIN scapped c ON c.cell = q.cell AND c.vec_id <> q.vec_id
{probe2}
UNION ALL
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         round({_DOT.format(a='q.embedding', b='c.embedding')}
               / (q.v_norm * c.v_norm), 6) AS cosine
  FROM (
    SELECT sh.vec_id, sh.embedding, sh.v_norm,
           (((sh.vec_id - sh.shard) // {n_shards}) * {_BRIDGE_MULT}
            + j * {_BRIDGE_STEP}) % st.m * {n_shards} + sh.shard AS nid
    FROM sh JOIN sstats st ON st.shard = sh.shard,
         range(1, {bridges} + 1) t(j)
  ) q
  JOIN sh c ON c.vec_id = q.nid AND c.vec_id <> q.vec_id
),
local_ranked AS (
  SELECT query_id, neighbor_id, cosine FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rnk
    FROM (
      SELECT query_id, neighbor_id, max(cosine) AS cosine
      FROM raw GROUP BY query_id, neighbor_id
    )
  ) WHERE rnk <= {k}
),
gav2 AS (
  SELECT gc.vec_id,
         max({{'c': {_DOT.format(a='gc.embedding', b='seed_emb')} / (gc.v_norm * seed_norm),
              'neg': -seed_id, 'cell2': seed_id}}) AS b2
  FROM gcells gc, gseeds
  WHERE seed_id <> gc.cell
  GROUP BY gc.vec_id
),
gcells2 AS (
  SELECT vec_id, struct_extract(b2, 'cell2') AS cell2 FROM gav2
),
stitch_raw AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         round({_DOT.format(a='q.embedding', b='c.embedding')}
               / (q.v_norm * c.v_norm), 6) AS cosine
  FROM gcells q
  JOIN gcapped c ON c.cell = q.cell
   AND q.shard <> c.shard
UNION ALL
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         round({_DOT.format(a='q.embedding', b='c.embedding')}
               / (q.v_norm * c.v_norm), 6) AS cosine
  FROM gcells q
  JOIN gcells2 q2 ON q2.vec_id = q.vec_id
  JOIN gcapped c ON c.cell = q2.cell2
   AND q.shard <> c.shard
),
stitch_ranked AS (
  SELECT query_id, neighbor_id, cosine FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rnk
    FROM (
      SELECT query_id, neighbor_id, max(cosine) AS cosine
      FROM stitch_raw GROUP BY query_id, neighbor_id
    )
  ) WHERE rnk <= {k}
)
SELECT query_id, neighbor_id, max(cosine) AS cosine
FROM (SELECT * FROM local_ranked UNION ALL SELECT * FROM stitch_ranked)
GROUP BY query_id, neighbor_id
"""


def sharded_seed_merged(
    e: DataFrame,
    k: int = KNN_K,
    budget: int = KNN_SEED_BUDGET,
    probes: int = KNN_SEED_PROBES,
    bridges: int = KNN_BRIDGE_R,
    stitch_budget: int = KNN_SEED_BUDGET,
    shard_target: int | None = None,
    n: int | None = None,
) -> DataFrame:
    """The SQL-expressible merged seed (local top-k ∪ stitch top-k,
    max-dedup) — the same stage expressions ``knn_graph_sharded``
    composes (pinned here at k and the TWO-probe stitch so the oracle
    covers every stage including the optional second global probe;
    the production build runs the identical expressions at work_k and
    its own stitch knobs). ``shard_seed_oracle`` reproduces this
    relation; the parity test pins the ENTIRE pre-NND prefix against
    DuckDB at a forced shard count.

    STAGE BOUNDARIES (r14, guide §2.4): the two assignment relations
    are the expensive argmax passes and each is referenced by SEVERAL
    downstream subtrees — ``sasg`` five times inside
    ``within_shard_pairs`` (query side, capped pool, second-cell
    probe, bridge stats, bridge targets) and the global ``gasg`` three
    times inside ``stitch_pairs`` (query side, capped pool,
    second-cell probe) — and divergently-pruned subtrees never
    canonicalize equal, so without a boundary every reference re-ran
    the full n·√m / n·√n argmax (measured sf0.1: the registered
    q_shard_seed row carried a 248 KB plan with ~30 scan subtrees at
    6.4-7.5 s; the production ``knn_graph_sharded`` has checkpointed
    these same relations since r12). Lazy ``localCheckpoint`` per the
    funnel-stage precedent: the returned plan rides the blocks, so
    release belongs to the harness sweep between queries
    (plans/lifecycle.py), exactly like ``funnel_stages``."""
    from .similarity import ivf_seeds

    if n is None:
        n = e.count()
    S = n_shards_for(n, shard_target)
    sseeds = shard_seeds(e, S).localCheckpoint(eager=False)
    sasg = shard_assign(e, sseeds, S).localCheckpoint(eager=False)
    local = merged_topk(
        within_shard_pairs(
            sasg, sseeds, S, budget=budget, probes=probes, bridges=bridges
        ),
        k,
    )
    gasg = ivf_assign(e).localCheckpoint(eager=False)
    # ivf_seeds (√n rows) is NOT checkpointed: measured SLOWER —
    # the checkpoint strips the relation's size statistics and demotes
    # the seed-side broadcast joins inside stitch_pairs to sort-merge,
    # costing more than the 4 duplicate scans it saved
    stitch = merged_topk(
        stitch_pairs(
            gasg, S, stitch_budget, seeds=ivf_seeds(e), probes=2
        ),
        k,
    )
    return max_merge(local.unionByName(stitch))


# Round-13 rotation (VERDICT r12 #3): the sharded build's seed stage
# enters the driver's 50-slot registry (funded by q_range_join — see
# operators/timeseries.py for where the bucketed-interval idiom stays
# checked). The registered form forces S=4 by deriving the shard
# target from the corpus count (-(-n // 4)), so the SAME shard split —
# and therefore the SAME oracle SQL, shard_seed_oracle(4) — holds at
# every scale factor the driver or the test suite runs it at.
REGISTERED_SHARDS = 4


def q_shard_seed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(query_id, neighbor_id, cosine): the sharded build's FULL
    SQL-expressible seed prefix at a forced S=4 — per-shard systematic
    seeds, shard-local argmax assignment, budget-capped cell pools,
    second-cell probes, in-shard LCG bridges, and the cross-shard
    global-cell stitch (two probes), merged as local top-k ∪ stitch
    top-k with max-dedup. Exactly the relation the production
    ``knn_graph_sharded`` hands to its NND stitch rounds (at work_k
    and measured stitch knobs there; pinned here at k so every stage
    expression is oracle-checked). Registered r13."""
    e = load_table(spark, sf_dir, "embeddings")
    n = e.count()
    # n threads through so the merged seed does not re-count (one job)
    return sharded_seed_merged(
        e, shard_target=-(-n // REGISTERED_SHARDS), n=n
    )


SHARDKNN_QUERIES = {"q_shard_seed": q_shard_seed}
SHARDKNN_ORACLES = {"q_shard_seed": shard_seed_oracle(REGISTERED_SHARDS)}
