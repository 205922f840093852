"""Cluster job: PageRank over an edge table (spark-submit entry point).

    spark-submit --py-files linkgraph.zip jobs/run_pagerank.py \
        --edges /data/edges --out /data/ranks --ckpt /data/ckpt \
        --iters 50 --eps 1e-8 --kernel sem --layout-dir /data/sem_image [--resume]

Build linkgraph.zip with:  python tools/package.py
On a cluster, omit local master settings — spark-submit supplies them.
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument(
        "--edges",
        required=True,
        help="parquet path, or a bucketed edge-image table as table:NAME "
        "(build.load_edge_image — skips the cold-start edge shuffle)",
    )
    ap.add_argument("--vertices", default=None)
    ap.add_argument("--out", required=True)
    ap.add_argument("--ckpt", default=None)
    ap.add_argument("--iters", type=int, default=None)
    ap.add_argument("--eps", type=float, default=None)
    ap.add_argument("--kernel", choices=["sql", "sem", "delta", "delta_sem"],
                    default="sql",
                    help="delta/delta_sem = V4 frontier kernel (push-the-"
                    "change; --eps becomes the activation threshold theta; "
                    "theta=0 reproduces power iteration exactly)")
    ap.add_argument("--partitions", type=int, default=None)
    ap.add_argument("--resume", action="store_true")
    # sem: a shared-storage el2fg image dir (built on first run, reused
    # after; activates the host-local compiled-block store)
    ap.add_argument("--layout-dir", default=None)
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from linkgraph.algos import pagerank
    from linkgraph.conventions import PR_EPS, PR_MAX_ITERS
    from linkgraph.engine import SuperstepEngine
    from linkgraph.session import get_spark

    spark = get_spark(app_name="linkgraph-pagerank")
    if args.edges.startswith("table:"):
        from linkgraph.build import load_edge_image

        edges = load_edge_image(spark, args.edges[len("table:"):])
    else:
        edges = spark.read.parquet(args.edges)
    vertices = spark.read.parquet(args.vertices) if args.vertices else None
    engine = SuperstepEngine(spark, ckpt_dir=args.ckpt) if args.ckpt else None

    if args.kernel in ("delta", "delta_sem"):
        from linkgraph.algos import pagerank_delta

        res = pagerank_delta(
            spark,
            edges,
            vertices=vertices,
            max_iters=args.iters or PR_MAX_ITERS,
            threshold=args.eps if args.eps is not None else PR_EPS,
            kernel="sem" if args.kernel == "delta_sem" else "sql",
            partitions=args.partitions,
            engine=engine,
            resume=args.resume,
            **(
                {"layout_dir": args.layout_dir, "reuse_layout": True}
                if args.kernel == "delta_sem" and args.layout_dir is not None
                else {}
            ),
        )
    else:
        res = pagerank(
            spark,
            edges,
            vertices=vertices,
            max_iters=args.iters or PR_MAX_ITERS,
            eps=args.eps if args.eps is not None else PR_EPS,
            kernel=args.kernel,
            partitions=args.partitions,
            engine=engine,
            resume=args.resume,
            layout_dir=args.layout_dir,
            reuse_layout=args.layout_dir is not None,
        )
    res.state.select("id", "rank").write.mode("overwrite").parquet(args.out)
    print(f"pagerank: {res.iterations} supersteps -> {args.out}")


if __name__ == "__main__":
    main()
