"""Single-configuration benchmark worker for the non-PageRank north
programs: WCC (frontier), WCC (large/small-star), label propagation,
triangle counting — plus the V4 delta/frontier PageRank convergence run
(``--program delta``: to-fixpoint at θ=1e-6, whole-run unit like wcc —
the frontier collapses, so per-superstep estimators are meaningless).

Same contract as jobs/bench_pagerank.py — run under a fixed parallelism,
print ONE JSON line with per-iteration (or per-run, for the non-iterative
triangle job) seconds and the three steady-state estimators the scaling
harness gates on. Launched by jobs/bench_cluster.py as
``spark-submit --master local-cluster[n,c,m] --py-files linkgraph.zip
jobs/bench_program.py --program wcc ...`` so the N -> 4N executor
protocol covers every program BASELINE.json's north rule names, not just
PageRank (VERDICT r4 "Next round" #2).

Usage: SPARK_GRAFT_CPUS=8 python jobs/bench_program.py --program wcc \
           --vertices 1000000 --edges 50000000 --partitions 64
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--program",
                    choices=["wcc", "wcc_star", "lp", "tc", "delta"],
                    required=True)
    ap.add_argument("--vertices", type=int, default=1_000_000)
    ap.add_argument("--edges", type=int, default=50_000_000)
    # lp only: fixed superstep count
    ap.add_argument("--iters", type=int, default=8)
    # wcc/wcc_star/tc: timed whole-run repeats in one session (first run
    # carries JIT/codegen/persist warm-up; estimators drop it)
    ap.add_argument("--runs", type=int, default=3)
    # FIXED partitions, decoupled from core count — same rationale as
    # bench_pagerank.py: the scaling protocol must run the SAME job shape
    # at both levels.
    ap.add_argument("--partitions", type=int, default=64)
    args = ap.parse_args()

    from linkgraph.algos import (
        label_propagation,
        pagerank_delta,
        triangle_counts,
        wcc,
        wcc_star,
    )
    from linkgraph.benchgen import gen_bench_edges
    from linkgraph.session import get_spark

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark(
        app_name=f"bench-{args.program}-{cpus}",
        shuffle_partitions=args.partitions,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")

    edges = gen_bench_edges(spark, args.vertices, args.edges).persist()
    n_edges = edges.count()  # materialize before timing

    # LP does identical full-edge-scatter work every superstep, so its
    # unit is sec/superstep (like PageRank). WCC's frontier COLLAPSES
    # across rounds (measured 59.5 -> 0.5s over 4 rounds at 8 cores) and
    # the star kernel contracts its own edge list, so per-superstep
    # estimators are meaningless there — for wcc/wcc_star/tc the unit is
    # the WHOLE run to fixpoint, repeated ``--runs`` times in-session.
    t0 = time.monotonic()
    if args.program == "lp":
        res = label_propagation(spark, edges, iters=args.iters,
                                partitions=args.partitions)
        per_iter = [m["seconds"] for m in res.metrics]
        n_rounds = res.iterations
    else:
        per_iter = []
        n_rounds = 0
        for _ in range(args.runs):
            r0 = time.monotonic()
            if args.program == "wcc":
                n_rounds = wcc(spark, edges, partitions=args.partitions).iterations
            elif args.program == "delta":
                n_rounds = pagerank_delta(
                    spark, edges, threshold=1e-6, max_iters=500,
                    partitions=args.partitions,
                ).iterations
            elif args.program == "wcc_star":
                n_rounds = wcc_star(spark, edges).iterations
            else:  # tc — one DataFrame job; collapse to a scalar
                triangle_counts(spark, edges).agg({"tri": "sum"}).collect()
                n_rounds = 1
            per_iter.append(time.monotonic() - r0)
    total = time.monotonic() - t0

    # Same estimators as bench_pagerank.py (shared rationale: bursty
    # hypervisor CPU-steal on this sandbox): drop warm-up samples, then
    #   min          — noise floor, the per-superstep (or per-run) cost
    #   median       — typical superstep/run
    #   trimmed mean — drop one min + one max; the GATING estimator
    warm = 2 if args.program == "lp" else 1
    steady = sorted(per_iter[warm:]) if len(per_iter) > warm + 1 else sorted(per_iter)
    mn = steady[0]
    median = steady[len(steady) // 2]
    core = steady[1:-1] if len(steady) > 2 else steady
    trimmed = sum(core) / len(core)
    print(
        json.dumps(
            {
                "cpus": cpus,
                "kernel": args.program,
                "n_vertices": args.vertices,
                "n_edges": n_edges,
                "iters": n_rounds,
                "partitions": args.partitions,
                "total_sec": round(total, 3),
                "per_iter_sec": [round(s, 3) for s in per_iter],
                "steady_sec_per_iter": round(mn, 3),
                "median_sec_per_iter": round(median, 3),
                "trimmed_mean_sec_per_iter": round(trimmed, 3),
                "edges_per_sec": round(n_edges / mn, 1),
                "iters_per_hour": round(3600.0 / mn, 1),
            }
        )
    )


if __name__ == "__main__":
    main()
