"""Skew stress benchmark: hub-heavy graph, mitigation ON vs OFF.

Two fixtures:

1. power-law: both endpoints power-law-skewed (src AND dst hubs), so both
   skew paths matter: the reduce-side dst hot key (hybrid salted
   aggregation) and the giant src edge list (vertex-cut splitting in the
   semi-external kernel, kernel="sem").
2. extreme-hub: one dst vertex receives a fixed fraction of ALL edges —
   the regime where the plain agg's single hot reducer degrades and
   salting must win (hybrid: only the hub is salted, tail stays direct).

Appends a section to BENCH/BASELINE.md.

Usage: python jobs/bench_skew.py [--vertices 1000000] [--edges 20000000]
"""

from __future__ import annotations

import argparse
import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def steady(res):
    # min of post-warmup supersteps (noise floor under bursty
    # hypervisor CPU-steal — see BENCH/BASELINE.md protocol note)
    per = [m["seconds"] for m in res.metrics]
    tail = per[2:] if len(per) > 3 else per
    return min(tail)


def run_variants(spark, edges, variants, iters):
    from linkgraph.algos import pagerank

    results = {}
    for name, kwargs in variants:
        res = pagerank(spark, edges, max_iters=iters, eps=0.0, partitions=64, **kwargs)
        results[name] = {
            "steady_sec_per_iter": round(steady(res), 3),
            "per_iter": [round(m["seconds"], 2) for m in res.metrics],
        }
        print(f"{name}: {results[name]}", flush=True)
    return results


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--vertices", type=int, default=1_000_000)
    ap.add_argument("--edges", type=int, default=20_000_000)
    ap.add_argument("--iters", type=int, default=6)
    ap.add_argument("--skew", type=float, default=4.0)
    ap.add_argument("--hub-frac", type=float, default=0.25)
    ap.add_argument("--out", default=os.path.join(REPO, "BENCH", "BASELINE.md"))
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from linkgraph.benchgen import _uniform
    from linkgraph.session import get_spark

    spark = get_spark(
        app_name="bench-skew",
        shuffle_partitions=64,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")

    n_v, n_e, s = args.vertices, args.edges, args.skew

    # ---- fixture 1: power-law on both endpoints
    base = spark.range(0, n_e, numPartitions=64)
    edges = (
        base.select(
            F.floor(F.pow(_uniform(F.col("id"), 11), F.lit(s)) * n_v).cast("long").alias("src_id"),
            F.floor(F.pow(_uniform(F.col("id"), 12), F.lit(s)) * n_v).cast("long").alias("dst_id"),
        )
        .filter(F.col("src_id") != F.col("dst_id"))
        .distinct()
        .persist()
    )
    n_edges = edges.count()
    top = edges.groupBy("src_id").count().orderBy(F.desc("count")).limit(1).first()
    print(f"power-law: edges={n_edges}, max out-degree={top['count']} (src {top['src_id']})",
          flush=True)

    results = run_variants(
        spark,
        edges,
        [
            ("sql_plain", {"kernel": "sql", "salted": False}),
            # hybrid: only dsts with in-degree > hub_threshold get salted
            ("sql_salted_hybrid", {"kernel": "sql", "salted": True}),
            ("sem_no_cut", {"kernel": "sem", "hub_threshold": 1 << 60}),
            ("sem_vertex_cut", {"kernel": "sem", "hub_threshold": 10_000}),
        ],
        args.iters,
    )
    edges.unpersist()

    # ---- fixture 2: one dst hub receives hub_frac of all edges
    hub_e = (
        base.select(
            F.floor(_uniform(F.col("id"), 21) * n_v).cast("long").alias("src_id"),
            F.when(_uniform(F.col("id"), 22) < args.hub_frac, F.lit(0))
            .otherwise(F.floor(_uniform(F.col("id"), 23) * n_v))
            .cast("long")
            .alias("dst_id"),
        )
        .filter(F.col("src_id") != F.col("dst_id"))
        .distinct()
        .persist()
    )
    n_hub_edges = hub_e.count()
    hub_in = hub_e.filter(F.col("dst_id") == 0).count()
    print(f"extreme-hub: edges={n_hub_edges}, hub in-degree={hub_in}", flush=True)

    hub_results = run_variants(
        spark,
        hub_e,
        [
            ("hub_sql_plain", {"kernel": "sql", "salted": False}),
            ("hub_sql_salted_hybrid", {"kernel": "sql", "salted": True}),
        ],
        args.iters,
    )
    hub_e.unpersist()

    section = [
        "",
        "## Skew stress (hub-heavy graphs, mitigation ON vs OFF)",
        "",
        f"Fixture 1 (power-law): |V|={n_v:,}, |E|={n_edges:,}, src+dst skew "
        f"exponent {s} (max out-degree {top['count']:,}). Fixture 2 "
        f"(extreme-hub): |E|={n_hub_edges:,}, one dst receives "
        f"{hub_in:,} edges ({100 * args.hub_frac:.0f}% target fraction). "
        f"PageRank {args.iters} supersteps, local[32]. Salting is HYBRID: "
        "only reduce keys above the in-degree hub threshold are salted; the "
        "tail keeps the direct map-side-combined path.",
        "",
        "| variant | steady sec/superstep | per-iteration sec |",
        "| --- | --- | --- |",
    ]
    for name, r in {**results, **hub_results}.items():
        section.append(
            f"| {name} | {r['steady_sec_per_iter']} | {r['per_iter']} |"
        )
    section += [
        "",
        "```json",
        json.dumps({"skew_bench": {"vertices": n_v, "edges": n_edges,
                                   "hub_edges": n_hub_edges, "hub_in_degree": hub_in,
                                   **results, **hub_results}}),
        "```",
        "",
    ]
    with open(args.out, "a") as f:
        f.write("\n".join(section))
    print(f"appended skew section to {args.out}")


if __name__ == "__main__":
    main()
