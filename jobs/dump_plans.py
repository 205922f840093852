"""Dump .explain("formatted") for the plan-relevant queries of an
optimization round, into a target directory.

For one-shot queries the top-level plan is captured; for the iterative
kernels the meaningful plan is the PER-SUPERSTEP plan (the top level is a
driver loop), so a representative mid-run superstep plan is captured by
building one step over a checkpoint-shaped state, inside the same conf
the engine loop runs (AQE off, SMJ preferred, loop shuffle partitions).

``triangles`` as a third argument dumps only the triangle_counts plan,
executed on the wiki fixture graph so AQE's final plan is the one shown.

Usage: python jobs/dump_plans.py <out_dir> <suffix> [triangles]
e.g.   python jobs/dump_plans.py plans/r06 after
       python jobs/dump_plans.py plans/r08 after triangles
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _fmt(df) -> str:
    return df._jdf.queryExecution().explainString(
        df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )


def main() -> None:
    out_dir, suffix = sys.argv[1], sys.argv[2]
    os.makedirs(out_dir, exist_ok=True)

    from pyspark.sql import functions as F

    from linkgraph.session import get_spark

    spark = get_spark(
        app_name="dump-plans",
        shuffle_partitions=2 * int(os.environ.get("SPARK_GRAFT_CPUS", "32")),
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")

    def dump(name: str, df) -> None:
        with open(os.path.join(out_dir, f"{name}_{suffix}.txt"), "w") as f:
            f.write(_fmt(df))
        print("dumped", name)

    if sys.argv[3:] == ["triangles"]:
        from linkgraph.algos import triangle_counts
        from linkgraph.synth import WIKI_VOTE_N, edges_df, wiki_vote_like_edges

        edges = edges_df(spark, wiki_vote_like_edges()).persist()
        tri = triangle_counts(spark, edges, vertices=spark.range(WIKI_VOTE_N))
        tri.collect()  # AQE finalizes the plan only at execution
        dump("triangle_counts", tri)
        edges.unpersist()
        return

    # ---- one-shot queries (top-level plan IS the executed plan)
    from linkgraph.driver_queries import QUERIES

    for name in (
        "host_pagerank",
        "doc_simhash",
        "doc_simhash_near_dups",
        "doc_minhash_lsh",
        "doc_jaccard_pairs",
        "knn_ann",
    ):
        try:
            dump(name, QUERIES[name](spark, SF_DIR))
        except Exception as e:  # a plan dump must never abort the batch
            print(f"SKIP {name}: {e}")

    # ---- iterative kernels: representative superstep plans under the
    # engine-loop conf (AQE off, SMJ on, loop shuffle partitions)
    import importlib

    # the algos package re-exports same-named FUNCTIONS (algos.wcc is the
    # function); go through importlib for the modules
    lp_mod = importlib.import_module("linkgraph.algos.labelprop")
    wcc_mod = importlib.import_module("linkgraph.algos.wcc")
    from linkgraph.algos.pagerank import _make_sql_step
    from linkgraph.build import (
        gather_layout,
        resolve_partitions,
        symmetrized_gather_layout,
        vertex_ids_from_edges,
    )
    # kernel plans on the BENCH graph (500k/5M), not the tiny sf fixture:
    # a fixture-sized state goes broadcast and hides the real join shapes
    from linkgraph.benchgen import gen_bench_edges

    edges = gen_bench_edges(spark, 500_000, 5_000_000).persist()
    edges.count()
    partitions = resolve_partitions(spark, edges, None)

    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    smj = spark.conf.get("spark.sql.join.preferSortMergeJoin")
    sp = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.join.preferSortMergeJoin", "true")
    spark.conf.set("spark.sql.shuffle.partitions", str(partitions))
    try:
        # checkpoint-shaped state: hash-partitioned + sorted on id, lineage cut
        def ckpt(df):
            return df.localCheckpoint(eager=True)

        # pagerank sql superstep
        e_pr = gather_layout(edges, partitions)
        ids = vertex_ids_from_edges(e_pr)
        out_deg = e_pr.groupBy(F.col("src_id").alias("id")).agg(
            F.count(F.lit(1)).alias("out_deg")
        )
        state = ckpt(
            ids.join(out_deg, "id", "left").select(
                "id",
                F.lit(0.15).alias("rank"),
                F.coalesce("out_deg", F.lit(0)).cast("long").alias("out_deg"),
                F.lit(0.0).alias("prev_rank"),
            )
            .repartition(partitions, "id")
            .sortWithinPartitions("id")
        )
        step = _make_sql_step(e_pr, 0.85, False)
        dump("pagerank_sql_superstep", step(state, 2))

        # delta superstep
        dstate = ckpt(
            state.select("id", "rank", "out_deg", F.col("rank").alias("delta"))
        )
        frontier = dstate.filter(
            (F.abs(F.col("delta")) > 1e-4) & (F.col("out_deg") > 0)
        ).select(F.col("id").alias("src_id"), (F.col("delta") / F.col("out_deg")).alias("push"))
        gathered = e_pr.join(frontier, "src_id").select("dst_id", "push")
        msgs = gathered.groupBy("dst_id").agg(F.sum("push").alias("sum_push"))
        joined = dstate.join(msgs, dstate["id"] == msgs["dst_id"], "left")
        nd = F.lit(0.85) * F.coalesce(F.col("sum_push"), F.lit(0.0))
        dump(
            "pagerank_delta_superstep",
            joined.select(
                dstate["id"], (dstate["rank"] + nd).alias("rank"),
                dstate["out_deg"], nd.alias("delta"),
            ),
        )

        # wcc superstep
        sym = symmetrized_gather_layout(edges, partitions)
        wstate = ckpt(
            ids.select("id", F.col("id").alias("comp"), F.lit(True).alias("changed"))
            .repartition(partitions, "id")
            .sortWithinPartitions("id")
        )
        fr = wstate.filter(F.col("changed")).select(
            F.col("id").alias("src_id"), F.col("comp").alias("src_comp")
        )
        g = sym.join(fr, "src_id").select("dst_id", "src_comp")
        msgs = g.groupBy("dst_id").agg(F.min("src_comp").alias("cand"))
        dump(
            "wcc_superstep",
            wstate.join(msgs, wstate["id"] == msgs["dst_id"], "left").select(
                wstate["id"],
                F.least(wstate["comp"], F.coalesce(F.col("cand"), wstate["comp"])).alias("comp"),
                (F.coalesce(F.col("cand"), wstate["comp"]) < wstate["comp"]).alias("changed"),
            ),
        )

        # wcc_star round (large ∘ small)
        e0 = ckpt(
            edges.select("src_id", "dst_id")
            .filter(F.col("src_id") != F.col("dst_id"))
            .distinct()
        )
        dump("wcc_star_round", wcc_mod._small_star(wcc_mod._large_star(e0), partitions))

        # lp superstep (repart kernel, unrestricted round)
        lstate = ckpt(
            ids.select("id", F.col("id").alias("label"), F.lit(False).alias("changed"))
            .repartition(partitions, "id")
            .sortWithinPartitions("id")
        )
        nb = sym.join(
            lstate.select(F.col("id").alias("src_id"), "label"), "src_id"
        ).select("dst_id", "label")
        winners = lp_mod.repart_winners(nb, partitions)
        dump(
            "lp_superstep",
            lstate.join(winners, lstate["id"] == winners["dst_id"], "left").select(
                lstate["id"],
                F.coalesce(F.col("new_label"), lstate["label"]).alias("label"),
                (F.col("new_label").isNotNull() & (F.col("new_label") != lstate["label"])).alias("changed"),
            ),
        )

        # lp frontier-round winners
        changed_srcs = lstate.filter(F.col("changed")).select(
            F.col("id").alias("src_id")
        )
        hot = (
            sym.join(changed_srcs, "src_id", "left_semi")
            .select("dst_id").distinct()
        )
        nb_f = nb.join(F.broadcast(hot), "dst_id", "left_semi")
        dump("lp_frontier_winners", lp_mod.repart_winners(nb_f, partitions))
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
        spark.conf.set("spark.sql.join.preferSortMergeJoin", smj)
        spark.conf.set("spark.sql.shuffle.partitions", sp)


if __name__ == "__main__":
    main()
