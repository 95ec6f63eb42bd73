"""Per-stage wall-time breakdown of the sharded kNN build (VERDICT r12 #1).

The driver's 512 k probe read 1344.7 s — a 4.96x step from 256 k
(271.3 s) where every documented cost term of
``shardknn.knn_graph_sharded`` is linear in n. This tool separates the
three candidate culprits the verdict names:

(a) local[32] saturation at S concurrent shard builds — shows as a
    blow-up at FIXED n when S is forced up (``--shard-target``);
(b) memory/spill on the merged work_k edge relation — shows as the
    stitch-NND rounds' share exploding between 256 k and 512 k at the
    same S-per-n rule;
(c) stitch-band argmax degeneration — shows in the ``stitch_band``
    stage time.

It composes the SAME public stage functions ``knn_graph_sharded``
composes, with an eager localCheckpoint barrier between stages so each
wall time is attributable (the production build overlaps stages; the
barriers make this a diagnostic upper bound, not a bench number), and
reports sampled recall against the exact numpy ground truth so
recall-vs-S and recall-vs-n separate the same way.

Writes ``shard_stage_profile`` rows into SCALING.json (merge
semantics), keyed ``{n}_S{S}``.

Usage: python tools/shard_stage_probe.py --n 128000
       [--shard-target 8000] [--stitch-budget N] [--iters-stitch N]
       [--work-k N] [--out SCALING.json]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

import numpy as np
import pyarrow.parquet as pq

_TOOLS = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(_TOOLS))
sys.path.insert(0, _TOOLS)

from scaling_probe import synth_dir  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--n", type=int, default=128000)
    ap.add_argument("--shard-target", type=int, default=None)
    ap.add_argument("--stitch-budget", type=int, default=None)
    ap.add_argument("--stitch-probes", type=int, default=1)
    ap.add_argument("--iters-stitch", type=int, default=None)
    ap.add_argument("--work-k", type=int, default=None)
    ap.add_argument("--sample", type=int, default=500)
    ap.add_argument("--out", default="SCALING.json")
    ap.add_argument("--key-suffix", default="")
    args = ap.parse_args()

    from data_ingestion_api_system_loop_ai_spark.operators import shardknn as sk
    from data_ingestion_api_system_loop_ai_spark.operators.nndescent import (
        nn_descent,
    )
    from data_ingestion_api_system_loop_ai_spark.operators.similarity import (
        KNN_K,
        KNN_SEED_BUDGET,
        ivf_seeds,
        max_merge,
        merged_topk,
    )
    from data_ingestion_api_system_loop_ai_spark.plans.lifecycle import (
        local_checkpoint_handle,
    )
    from data_ingestion_api_system_loop_ai_spark.session import get_spark
    from data_ingestion_api_system_loop_ai_spark.sources.loader import load_table
    from pyspark.sql import functions as F

    d = synth_dir(args.n)

    tbl = pq.read_table(os.path.join(d, "embeddings.parquet"))
    emb = np.array(tbl.column("embedding").to_pylist(), dtype=np.float64)
    n = emb.shape[0]
    unit = emb / np.linalg.norm(emb, axis=1, keepdims=True)
    stride = max(1, n // args.sample)
    qids = np.arange(0, n, stride)[: args.sample]
    truth: dict[int, set[int]] = {}
    for q in qids:
        cos = unit @ unit[q]
        cos[q] = -2.0
        order = np.lexsort((np.arange(n), -np.round(cos, 6)))
        truth[int(q)] = set(int(i) for i in order[:KNN_K])
    qset = {int(q) for q in qids}

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark("shard-stage-probe", cpus=cpus, shuffle_partitions=cpus)
    spark.sparkContext.setLogLevel("ERROR")

    def sampled_recall(g) -> float:
        rows = g.filter(g.query_id.isin(list(qset))).collect()
        got: dict[int, set[int]] = {}
        for r in rows:
            got.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        hits = sum(len(got.get(q, set()) & truth[q]) for q in truth)
        return round(hits / (len(truth) * KNN_K), 4)

    st = args.shard_target if args.shard_target is not None else sk.SHARD_TARGET
    S = sk.n_shards_for(n, st)
    sb = args.stitch_budget if args.stitch_budget is not None else KNN_SEED_BUDGET
    ist = args.iters_stitch if args.iters_stitch is not None else sk.STITCH_ITERS
    wk = args.work_k if args.work_k is not None else sk.WORK_K_MULT * KNN_K

    e = load_table(spark, d, "embeddings")
    stages: dict[str, float] = {}
    t_all = time.monotonic()

    # ---- stage 1: shard seeds + assignment (eager barrier)
    t0 = time.monotonic()
    sseeds, rel_ss = local_checkpoint_handle(sk.shard_seeds(e, S))
    sasg, rel_sasg = local_checkpoint_handle(sk.shard_assign(e, sseeds, S))
    stages["seeds_assign"] = round(time.monotonic() - t0, 1)

    # ---- stage 2: within-shard seed pairs -> top-wk (eager barrier)
    t0 = time.monotonic()
    local_seed, rel_lseed = local_checkpoint_handle(
        merged_topk(sk.within_shard_pairs(sasg, sseeds, S), wk)
    )
    stages["local_seed"] = round(time.monotonic() - t0, 1)

    # ---- stage 3: within-shard NND round(s)
    t0 = time.monotonic()
    refined, _obj, rel_local = nn_descent(
        e, local_seed, k=wk, iters=sk.LOCAL_ITERS, return_release=True
    )
    local_graph, rel_lg = local_checkpoint_handle(
        refined.select("query_id", "neighbor_id", "cosine")
    )
    rel_local()
    rel_lseed()
    stages["local_nnd"] = round(time.monotonic() - t0, 1)

    # ---- stage 4: seed-banded stitch entry pairs (eager barrier)
    t0 = time.monotonic()
    gseeds, rel_gs = local_checkpoint_handle(ivf_seeds(e))
    stitch, rel_stitch = local_checkpoint_handle(
        merged_topk(
            sk.stitch_pairs_banded(sasg, sseeds, gseeds, S, stitch_budget=sb),
            wk,
        )
    )
    stages["stitch_band"] = round(time.monotonic() - t0, 1)

    # ---- stage 5: merge (eager barrier)
    t0 = time.monotonic()
    merged, rel_merged = local_checkpoint_handle(
        max_merge(local_graph.unionByName(stitch))
    )
    stages["merge"] = round(time.monotonic() - t0, 1)
    rel_lg()
    rel_stitch()

    # ---- stage 6: stitch NND rounds (per-round via hook)
    round_times: list[float] = []
    t_round = [time.monotonic()]

    def hook(i, g):
        round_times.append(round(time.monotonic() - t_round[0], 1))
        t_round[0] = time.monotonic()

    wide, _obj = nn_descent(e, merged, k=wk, iters=ist, round_hook=hook)
    out = wide.filter(F.col("rnk") <= KNN_K).localCheckpoint()
    for i, rt in enumerate(round_times):
        stages[f"stitch_nnd_{i + 1}"] = rt
    stages["truncate"] = round(time.monotonic() - t_round[0], 1)
    rel_merged()
    rel_sasg()
    rel_ss()
    rel_gs()

    total = round(time.monotonic() - t_all, 1)
    rec = sampled_recall(out)
    entry = {
        "n": n, "S": S, "shard_target": st, "work_k": wk,
        "stitch_budget": sb, "iters_stitch": ist, "stages": stages,
        "total_seconds": total, "recall": rec, "sample": len(truth),
    }
    print(json.dumps(entry), flush=True)

    result = {}
    if os.path.exists(args.out):
        with open(args.out) as f:
            result = json.load(f)
    key = f"{n}_S{S}" + args.key_suffix
    result.setdefault("shard_stage_profile", {})[key] = entry
    with open(args.out, "w") as f:
        json.dump(result, f, indent=1)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
