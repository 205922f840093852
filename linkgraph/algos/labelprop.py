"""Synchronous label propagation (SURVEY.md §2.1 A3).

Convention: label0(v) = v; per superstep every vertex takes the most
frequent label among its in+out neighbors' labels from the PREVIOUS
superstep (synchronous update), ties broken by the smallest label;
isolated vertices keep their label; fixed iteration count (default 10 —
synchronous LP can oscillate, so a pinned count makes results
exact-matchable). Exact-match acceptance.

Spark mapping (SURVEY.md G4): one aggregation kernel per superstep.
The gathered (dst, label) stream is repartitioned on dst once, then
groupBy(dst, label).count() and the groupBy(dst) struct-min argmax (the
smallest-label tie-break without a window shuffle) both run
partition-local: HashPartitioning(dst) satisfies the clustered
distribution of both groupings and co-partitions the winners with the
apply join, so the superstep carries ONE ~|E|-row exchange downstream of
the gather (the state side of the apply join still pays its own ~|V|-row
exchange off the localCheckpoint) and every operator stays
whole-stage-codegen. It won the interleaved A/B in BENCH/BASELINE.md
("LP aggregation kernel A/B"): 0.64x of the map-side-combining two-level
form at 3 supersteps and 0.52x at 8 on the 5M-edge bench graph, because
on a src-partitioned gather layout a dst's edges are scattered and the
(dst, label) combine rarely fires, while the exchange it saves is ~|E|
rows early.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from linkgraph.build import (
    resolve_partitions,
    symmetrized_gather_layout,
    vertex_ids_from_edges,
)
from linkgraph.conventions import LP_ITERS
from linkgraph.engine import ObservedStop, RunResult, SuperstepEngine

# Frontier gather (A6 applied to LP, r5 verdict item #1): engage the
# changed-neighborhood restriction only when the previous round changed
# at most this fraction of vertices — early rounds (labels still mostly
# unique) would pay the hot-dst build for no exchange shrink. The
# changed/vertex counts come FREE from the telemetry observation.
LP_FRONTIER_MAX_CHANGED_FRAC = 0.2
# ... and only while the hot-dst set is broadcastable: the filtered
# gather broadcasts the distinct changed-neighborhood dsts to every
# executor. 20M longs ~ 160 MB built — within a normal executor budget;
# above it the round falls back to the unrestricted exchange (correct
# either way; the cap exists for the 10^9-vertex regime).
LP_FRONTIER_MAX_HOT_DSTS = 20_000_000


def _make_telemetry(holder: dict) -> ObservedStop:
    """Never stops (fixed iterations are the pinned convention); emits the
    per-round changed-label count — synchronous LP's oscillation failure
    mode is only visible through this at crawl scale. Observed on the
    round's own materialization (engine.ObservedStop) after an interleaved
    A/B measured the round-3 separate-action form at ~12% of lp_3iter
    (min 9.8s vs 8.8s on the 5M-edge bench graph) — telemetry is free.
    The observed scalars are also recorded into ``holder`` so the next
    round's step can gate the frontier gather on them driver-side."""

    def decide(m: dict, iteration: int) -> bool:
        holder["changed"] = int(m["changed_labels"] or 0)
        holder["vertices"] = int(m["vertices"] or 0)
        return False

    return ObservedStop(
        metrics=lambda: {
            "changed_labels": F.sum(F.col("changed").cast("long")),
            "vertices": F.count(F.lit(1)),
        },
        decide=decide,
    )


def repart_winners(nb_labels: DataFrame, partitions: int) -> DataFrame:
    """(dst_id, new_label): per-dst argmax label with the pinned
    smallest-label tie-break. One explicit hash repartition on dst_id,
    then count and struct-min run partition-local — exactly ONE exchange
    downstream of the gathered labels (plan-pinned by
    test_lp_repart_superstep_single_exchange, which calls THIS function)."""
    counts = (
        nb_labels.repartition(partitions, "dst_id")
        .groupBy("dst_id", "label")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    return counts.groupBy("dst_id").agg(
        F.min(F.struct((-F.col("cnt")).alias("neg_cnt"), F.col("label").alias("label"))).alias("w")
    ).select("dst_id", F.col("w.label").alias("new_label"))


def label_propagation(
    spark: SparkSession,
    edges: DataFrame,
    vertices: DataFrame | None = None,
    iters: int = LP_ITERS,
    engine: SuperstepEngine | None = None,
    resume: bool = False,
    partitions: int | None = None,
    telemetry: bool = True,
    frontier: float | None = LP_FRONTIER_MAX_CHANGED_FRAC,
) -> RunResult:
    """Run LP for a fixed number of supersteps; result state =
    (id, label, changed).

    ``telemetry`` (default on) logs the changed-label count per round into
    the engine metrics, observed on the superstep's own materialization —
    zero extra Spark jobs (engine.ObservedStop).

    ``frontier``: changed-fraction gate for the frontier-restricted
    gather (None/0 disables). Sound because synchronous LP's update is a
    pure function of the neighborhood label multiset: if no in/out-
    neighbor of v changed its label in round t-1, v's multiset is the one
    it argmax'd last round, so label_t(v) = label_{t-1}(v) — the update
    only needs computing for dsts with >= 1 changed neighbor. When the
    previous round's changed count (free telemetry) is <= frontier * |V|,
    the gathered (dst, label) stream is semi-join-filtered to those hot
    dsts BEFORE the per-superstep exchange, so tail rounds exchange
    O(edges into changed neighborhoods) rows instead of |E|. Results are
    IDENTICAL with the gate on or off (equivalence pytest-pinned);
    requires ``telemetry`` (without it the counts are unknown and every
    round takes the unrestricted path).
    """
    engine = engine or SuperstepEngine(spark)
    partitions = resolve_partitions(spark, edges, partitions)
    # loop-invariant; pre-partitioned + pre-sorted on the gather key so
    # per-superstep joins reuse the layout with no Sort (build.gather_layout)
    sym = symmetrized_gather_layout(edges, partitions)  # ONE shuffle
    ids = vertices.select("id") if vertices is not None else vertex_ids_from_edges(edges)
    state0 = ids.select("id", F.col("id").alias("label"), F.lit(False).alias("changed"))

    holder: dict = {}

    def step(state: DataFrame, iteration: int) -> DataFrame:
        nb_labels = sym.join(
            state.select(F.col("id").alias("src_id"), "label"), "src_id"
        ).select("dst_id", "label")
        # frontier gather: restrict the winners computation to dsts with a
        # changed neighbor, provided last round's telemetry proves the
        # frontier small AND the hot-dst set fits the broadcast budget.
        # The hot-dst derivation rides the src-partitioned layout (semi
        # join on src_id — partition-local), so its only exchange is the
        # small distinct; the broadcast filter then shrinks the big
        # (dst, label) exchange to the hot dsts' in-edges.
        use_frontier = (
            frontier
            and iteration > 1
            and holder.get("changed") is not None
            and holder["changed"] <= frontier * max(holder.get("vertices", 0), 1)
        )
        if use_frontier:
            changed_srcs = state.filter(F.col("changed")).select(
                F.col("id").alias("src_id")
            )
            # lazy localCheckpoint, not persist: the count below
            # materializes it once, the broadcast build reuses the
            # checkpointed blocks, and the ContextCleaner reclaims them
            # when the superstep's plan is dropped (a persist() here
            # would leak one cache entry per frontier round)
            hot = (
                sym.join(changed_srcs, "src_id", "left_semi")
                .select("dst_id")
                .distinct()
                .localCheckpoint(eager=False)
            )
            if hot.count() <= LP_FRONTIER_MAX_HOT_DSTS:
                nb_labels = nb_labels.join(F.broadcast(hot), "dst_id", "left_semi")
        winners = repart_winners(nb_labels, partitions)
        return (
            state.join(winners, state["id"] == winners["dst_id"], "left")
            .select(
                state["id"],
                F.coalesce(F.col("new_label"), state["label"]).alias("label"),
                (
                    F.col("new_label").isNotNull()
                    & (F.col("new_label") != state["label"])
                ).alias("changed"),
            )
        )

    try:
        return engine.run(
            state0,
            step,
            max_iters=iters,
            should_stop=_make_telemetry(holder) if telemetry else None,
            resume=resume,
            shuffle_partitions=partitions,
        )
    finally:
        # unconditional: an exception mid-run must not leak the O(E) cache
        sym.unpersist()
