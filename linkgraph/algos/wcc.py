"""Weakly connected components (SURVEY.md §2.1 A2).

Convention: digraph treated as undirected; comp0(v) = v; iterate
comp(v) = min(comp(v), min over neighbors' comp) to fixpoint; output =
min vertex id per component. Exact-match acceptance.

Spark mapping: symmetrize once (loop-invariant, persisted); per superstep a
**frontier-restricted** gather — only vertices whose comp changed last
round send messages (SURVEY.md A6: FlashGraph's ``activate_vertices``),
which collapses the tail iterations' work; terminate when the changed
count hits 0 (one scalar action per superstep).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from linkgraph.build import (
    resolve_partitions,
    symmetrized_gather_layout,
    vertex_ids_from_edges,
)
from linkgraph.engine import RunResult, SuperstepEngine, make_changed_stop

_should_stop = make_changed_stop("changed")


def wcc(
    spark: SparkSession,
    edges: DataFrame,
    vertices: DataFrame | None = None,
    max_iters: int = 200,
    engine: SuperstepEngine | None = None,
    resume: bool = False,
    partitions: int | None = None,
    salted: bool = False,
    hub_threshold: int | None = None,
    init_comps: DataFrame | None = None,
    init_frontier: DataFrame | None = None,
) -> RunResult:
    """Run WCC to fixpoint; result state = (id, comp, changed).

    ``salted`` enables the hybrid two-phase MIN combine for hot reduce
    keys (undirected degree > ``hub_threshold``, default
    conventions.HUB_OUTDEG_THRESHOLD) — the same insurance as PageRank's
    salted sum for the 1000-executor regime where a hub dst receives one
    partial per task; the tail keeps the direct map-combined path.

    ``init_comps``: optional (id, comp) seed labels from a previous WCC
    run on a SUBGRAPH of ``edges`` (the grow-only incremental-crawl case:
    the new poll only ADDED pages/links). Sound because min-propagation
    converges to the minimum INITIAL label reachable in each component,
    and every seed label is itself the id of a vertex inside the seeded
    vertex's (old ⊆ new) component and ≥ that component's min id — so the
    fixpoint is still exactly the component-min vertex id. The win is
    ROUNDS, not messages: distances to the old component minima are
    already collapsed to 0, so only newly-added bridges propagate.
    UNSOUND after edge/page REMOVAL (components can split; a stale small
    label would survive) — callers must cold-start then; the incremental
    poll (``incremental.link_store_components_poll``) gates on the
    store's replaced-src count. Vertices absent from the seeds start at
    their own id; duplicate seed rows take the min, which is still a
    valid label. Initial frontier = ALL vertices by default (every label
    must be offered to neighbors once — a warm label is only correct to
    keep if the neighborhood has seen it).

    ``init_frontier``: optional (id) set restricting the FIRST
    superstep's senders. Sound ONLY when ``init_comps`` is the CONVERGED
    labeling of a subgraph of ``edges`` AND the frontier covers every
    endpoint of the added edges plus every new vertex: converged old
    labels are uniform within each old component, so no old-edge
    neighborhood holds unseen information — only the new bridges do, and
    label changes they trigger re-activate normally from there. With a
    non-fixpoint seed or an under-covering frontier, labels come out
    WRONG (a minimum that was never offered). The incremental poll
    passes the touched-bucket url set, a cheap superset of both
    requirements; the first gather then costs O(frontier edges), not
    O(E).
    """
    from linkgraph.conventions import HUB_OUTDEG_THRESHOLD
    from linkgraph.skew import salted_agg

    engine = engine or SuperstepEngine(spark)
    partitions = resolve_partitions(spark, edges, partitions)
    # loop-invariant; pre-partitioned + pre-sorted on the gather key so
    # per-superstep joins reuse the layout with no Sort (build.gather_layout)
    sym = symmetrized_gather_layout(edges, partitions)  # ONE shuffle
    ids = vertices.select("id") if vertices is not None else vertex_ids_from_edges(edges)
    state0 = ids.select(
        "id", F.col("id").alias("comp"), F.lit(True).alias("changed")
    )
    if init_comps is not None:
        # min-deduped on id: min of valid labels is a valid label; a raw
        # duplicate row would duplicate the whole state row (same hazard
        # class as pagerank's init_ranks dedup)
        seed = init_comps.groupBy("id").agg(F.min("comp").alias("__seed"))
        state0 = state0.join(seed, "id", "left").select(
            "id",
            F.least(F.col("id"), F.coalesce("__seed", F.col("id"))).alias("comp"),
            F.lit(True).alias("changed"),
        )
        if init_frontier is not None:
            front = init_frontier.select("id").distinct().withColumn(
                "__f", F.lit(True)
            )
            state0 = state0.join(front, "id", "left").select(
                "id", "comp", F.coalesce("__f", F.lit(False)).alias("changed")
            )
    elif init_frontier is not None:
        raise ValueError("init_frontier requires init_comps (a converged seed)")
    hot = None
    if salted:
        hot = (
            sym.groupBy("dst_id")
            .agg(F.count(F.lit(1)).alias("d"))
            .filter(
                # explicit 0 means "salt every key" — `or` would discard it
                F.col("d")
                > (HUB_OUTDEG_THRESHOLD if hub_threshold is None else hub_threshold)
            )
            .select("dst_id")
            .persist()
        )
        hot.count()

    def step(state: DataFrame, iteration: int) -> DataFrame:
        frontier = state.filter(F.col("changed")).select(
            F.col("id").alias("src_id"), F.col("comp").alias("src_comp")
        )
        # salted runs keep src_id: the salt must come from it, not from
        # the comp VALUE (salted_agg's default) — comp labels COLLAPSE as
        # components converge, so a hub dst's messages would all hash into
        # one salt bucket by the late supersteps, reproducing exactly the
        # straggler salting exists to split (same fix as the PageRank sql
        # kernel; src_id is unique per row within a dst group)
        keep = ("src_id",) if salted else ()
        gathered = sym.join(frontier, "src_id").select(*keep, "dst_id", "src_comp")
        if salted:
            msgs = salted_agg(
                gathered, key="dst_id", value="src_comp", agg="min", hot_keys=hot,
                salt_from="src_id",
            ).withColumnRenamed("src_comp", "cand")
        else:
            msgs = gathered.groupBy("dst_id").agg(F.min("src_comp").alias("cand"))
        return (
            state.join(msgs, state["id"] == msgs["dst_id"], "left")
            .select(
                state["id"],
                F.least(state["comp"], F.coalesce(F.col("cand"), state["comp"])).alias("comp"),
                (F.coalesce(F.col("cand"), state["comp"]) < state["comp"]).alias("changed"),
            )
        )

    try:
        return engine.run(
            state0, step, max_iters=max_iters, should_stop=_should_stop, resume=resume,
            shuffle_partitions=partitions,
        )
    finally:
        # unconditional: an exception mid-run must not leak the O(E) cache
        sym.unpersist()
        if hot is not None:
            hot.unpersist()


# ------------------------------------------------------- star-contraction WCC

def _neighborhoods(e: DataFrame) -> DataFrame:
    """Both directions of an edge list: one row per (center u, neighbor v)."""
    return e.unionByName(
        e.select(F.col("dst_id").alias("src_id"), F.col("src_id").alias("dst_id"))
    )


def _large_star(e: DataFrame) -> DataFrame:
    """For each center u with m = min(N(u) ∪ {u}): link every neighbor
    v > u to m (Kiveris et al., "Connected Components in MapReduce and
    Beyond", alternating algorithm).

    No distinct on this INTERMEDIATE output (small-star's output distinct
    is the round's contract — the fixpoint checksum runs on a deduped
    multiset). The intermediate is bounded at one row per
    (center, >-neighbor) pair — <= 2|E| with or without dedup, and each
    round's deduped OUTPUT resets the bound, so skipping it cannot
    compound across rounds; duplicates pass harmlessly through
    small-star's min-agg and are removed by its output distinct.
    Interleaved A/B on the 5M-edge bench graph (checksum-equal arms):
    skipping the shuffle is 27% faster per fixpoint (18.7s vs 25.4s
    min-of-2); BENCH/BASELINE.md "wcc_star intermediate distinct".

    Plan note (r6): a shared explicit repartition of the neighborhoods
    feeding both the min-agg and the join was tried and REFUTED by the
    plan — predicate pushdown moves the join side's dst>src filter below
    the repartition, so the two consumers' exchange subtrees diverge and
    nothing is reused, while the raw repartition also forfeits the
    groupBy exchange's map-side min combine. The two-exchange shape with
    the partial-agg combine stays; its exchange counts come from the
    session/loop shuffle-partition conf."""
    nb = _neighborhoods(e)
    m = nb.groupBy("src_id").agg(F.min("dst_id").alias("__mn"))
    m = m.select("src_id", F.least("__mn", "src_id").alias("__m"))
    return (
        nb.filter(F.col("dst_id") > F.col("src_id"))
        .join(m, "src_id")
        .select(F.col("dst_id").alias("src_id"), F.col("__m").alias("dst_id"))
        .filter(F.col("src_id") != F.col("dst_id"))
    )


def _small_star(e: DataFrame, partitions: int) -> DataFrame:
    """For each center u over its strictly-smaller neighbors N⁻(u), with
    m = min(N⁻(u) ∪ {u}): link every v ∈ N⁻(u) and u itself to m.

    ``e`` is a large-star OUTPUT, so every row already satisfies
    dst < src (each emitted edge links v to m = min(N(u) ∪ {u}) ≤ u < v)
    and the <-direction neighborhoods ARE ``e`` verbatim — no union of
    both edge directions, which would re-execute the whole large-star
    join subtree a second time per round just to filter its reversed
    copy down to zero rows. ``e`` is repartitioned ONCE on the center
    key and both the min-agg and the join consume the identical exchange
    subtree (deduped to one ReusedExchange at execution; no filter sits
    between them to break the match, unlike large-star's shape). The
    output distinct is the one remaining exchange — its key (the
    rewritten src) is not the center key, so it cannot ride the same
    exchange."""
    nb = e.repartition(partitions, "src_id")
    m = nb.groupBy("src_id").agg(F.min("dst_id").alias("__m"))
    linked = nb.join(m, "src_id").select(
        F.col("dst_id").alias("src_id"), F.col("__m").alias("dst_id")
    )
    centers = m.select("src_id", F.col("__m").alias("dst_id"))
    return (
        linked.unionByName(centers)
        .filter(F.col("src_id") != F.col("dst_id"))
        .distinct()
    )


def wcc_star(
    spark: SparkSession,
    edges: DataFrame,
    vertices: DataFrame | None = None,
    max_iters: int = 50,
    engine: SuperstepEngine | None = None,
    resume: bool = False,
) -> RunResult:
    """WCC by alternating large-star/small-star contraction — O(log n)
    rounds instead of O(diameter), the right kernel for web-scale graphs
    whose diameter (tens) exceeds their contraction depth (handfuls).

    Unlike the frontier kernel the mutable state IS the edge list: each
    superstep rewrites it (large-star ∘ small-star, dedup'd) and the loop
    stops when a round leaves the edge set unchanged (count + order-
    insensitive checksum — one scalar action, compared driver-side).
    At fixpoint the edge list is a star per component rooted at its min
    vertex; result state = (id, comp) exactly matching ``wcc``.
    """
    engine = engine or SuperstepEngine(spark)
    partitions = resolve_partitions(spark, edges, None)
    e0 = (
        edges.select("src_id", "dst_id")
        .filter(F.col("src_id") != F.col("dst_id"))
        .distinct()
    )
    ids = vertices.select("id") if vertices is not None else vertex_ids_from_edges(edges)

    def step(e: DataFrame, iteration: int) -> DataFrame:
        return _small_star(_large_star(e), partitions)

    prev: dict[str, tuple] = {}
    converged = {"ok": False}

    def _decide(m: dict, iteration: int) -> bool:
        sig = (m["edges"], m["checksum"])
        stop = prev.get("sig") == sig
        prev["sig"] = sig
        if stop:
            converged["ok"] = True
        return stop

    # count + order-insensitive checksum observed on the round's own
    # materialization (engine.ObservedStop) — no extra job per round
    from linkgraph.engine import ObservedStop

    should_stop = ObservedStop(
        metrics=lambda: {
            "edges": F.count(F.lit(1)),
            "checksum": F.sum(
                F.xxhash64("src_id", "dst_id").cast("decimal(38,0)")
            ).cast("string"),
        },
        decide=_decide,
    )

    result = engine.run(
        e0, step, max_iters=max_iters, should_stop=should_stop, resume=resume,
        shuffle_partitions=partitions,
    )
    if not converged["ok"]:
        # Before the contraction fixpoint the edge list is NOT a star
        # forest: a vertex can still be the src of several edges, and the
        # ids-left-join below would silently emit duplicate id rows with
        # conflicting comp values. Refuse to project a wrong answer.
        raise RuntimeError(
            f"wcc_star did not reach the contraction fixpoint within "
            f"max_iters={max_iters}; raise max_iters (the state is "
            f"checkpoint-resumable) instead of consuming a partial result"
        )
    stars = result.state  # (src_id=member, dst_id=root)
    comp = (
        ids.join(stars, ids["id"] == stars["src_id"], "left")
        .select("id", F.coalesce("dst_id", F.col("id")).alias("comp"))
    )
    return RunResult(
        state=comp,
        iterations=result.iterations,
        metrics=result.metrics,
        resumed_from=result.resumed_from,
    )
