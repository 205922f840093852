"""PageRank (SURVEY.md §2.1 A1) — three superstep kernels.

Convention (pinned in linkgraph/conventions.py; oracle-matched):
pull-based, d=0.85, r0 = 1-d, r(v) = (1-d) + d * Σ_{u→v} r(u)/outdeg(u),
dangling vertices contribute nothing; converge on max |Δr| < eps.
Personalized variant: teleport term (1-d)·1{v ∈ S} (same kernels).

Kernel V1 "sql": gather = edges ⋈ state on src_id, combine =
groupBy(dst_id).sum (Spark's partial aggregation IS the message combiner),
apply = left join back + coalesce default. Fully Catalyst/AQE-optimized.

Kernel V3 "sem" (semi-external, the FlashGraph split, FAST'15 §2): the
edge image is written once as parquet blocks routed by a ``part`` column
and compiled into per-partition CSR index arrays cached in the Python
workers; per superstep only vertex state crosses Arrow into a grouped
``applyInPandas`` SpMV emitting partial (dst_id, contrib) sums, followed
by a shuffle-reduce. High-degree hubs are vertex-cut: their edge lists
are split across partitions by hash(dst) and their state rows replicated
to every partition (linkgraph/skew.py). V3 ≡ V1 within 1e-12 on fixtures.

Kernel V4 ``pagerank_delta``: push only the change from vertices whose
|Δr| exceeded θ last superstep, on either the sql or the sem gather, so
the convergence tail costs O(frontier edges).
"""

from __future__ import annotations

import itertools
import json
from typing import Any

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from linkgraph.build import gather_layout, resolve_partitions, vertex_ids_from_edges
from linkgraph.conventions import (
    HUB_OUTDEG_THRESHOLD,
    PR_DAMPING,
    PR_EPS,
    PR_MAX_ITERS,
    SALT_BUCKETS,
)
from linkgraph.engine import RunResult, SuperstepEngine
from linkgraph.skew import salted_agg


def _base_expr(damping: float, personalized: list[int] | None):
    """The teleport term: uniform (1-d) for classic PageRank, or
    (1-d)·1{v ∈ S} for personalized PageRank (random walk restarts only at
    the source set S — same superstep kernel, different apply constant)."""
    if personalized is None:
        return F.lit(1.0 - damping)
    return F.when(
        F.col("id").isin([int(s) for s in personalized]), F.lit(1.0 - damping)
    ).otherwise(F.lit(0.0))


def _initial_state(
    edges: DataFrame,
    vertices: DataFrame | None,
    damping: float,
    personalized: list[int] | None = None,
    weight_col: str | None = None,
) -> DataFrame:
    """``out_deg`` is the contribution normalizer: outgoing edge count for
    classic PageRank, total outgoing weight for the weighted variant."""
    ids = vertices.select("id") if vertices is not None else vertex_ids_from_edges(edges)
    if weight_col is not None:
        out_deg = edges.groupBy(F.col("src_id").alias("id")).agg(
            F.sum(weight_col).cast("double").alias("out_deg")
        )
        norm = F.coalesce("out_deg", F.lit(0.0)).cast("double")
    else:
        out_deg = edges.groupBy(F.col("src_id").alias("id")).agg(
            F.count(F.lit(1)).alias("out_deg")
        )
        norm = F.coalesce("out_deg", F.lit(0)).cast("long")
    return ids.join(out_deg, "id", "left").select(
        "id",
        _base_expr(damping, personalized).alias("rank"),
        norm.alias("out_deg"),
    )


def _apply(
    state: DataFrame,
    msgs: DataFrame,
    damping: float,
    personalized: list[int] | None = None,
) -> DataFrame:
    """apply step: new rank + old rank kept for the convergence action."""
    joined = state.join(msgs, state["id"] == msgs["dst_id"], "left")
    return joined.select(
        state["id"],
        (
            _base_expr(damping, personalized)
            + F.lit(damping) * F.coalesce(F.col("sum_contrib"), F.lit(0.0))
        ).alias("rank"),
        state["out_deg"],
        state["rank"].alias("prev_rank"),
    )


def _stop_fn(eps: float):
    """Convergence check observed on the superstep's own materialization
    (engine.ObservedStop) — no extra per-superstep aggregation job."""
    from linkgraph.engine import ObservedStop

    return ObservedStop(
        metrics=lambda: {"max_delta": F.max(F.abs(F.col("rank") - F.col("prev_rank")))},
        decide=lambda m, it: m["max_delta"] is not None and m["max_delta"] < eps,
    )


def pagerank(
    spark: SparkSession,
    edges: DataFrame,
    vertices: DataFrame | None = None,
    damping: float = PR_DAMPING,
    eps: float = PR_EPS,
    max_iters: int = PR_MAX_ITERS,
    kernel: str = "sql",
    partitions: int | None = None,
    salted: bool = False,
    hub_threshold: int = HUB_OUTDEG_THRESHOLD,
    engine: SuperstepEngine | None = None,
    resume: bool = False,
    layout_dir: str | None = None,
    reuse_layout: bool = False,
    personalized: list[int] | None = None,
    weight_col: str | None = None,
    init_ranks: DataFrame | None = None,
) -> RunResult:
    """Run PageRank to convergence; result state = (id, rank, out_deg, prev_rank).

    kernel: "sql" (join+agg, Catalyst-planned) or "sem" (semi-external:
    adjacency blocks live as parquet on storage, cached in Python workers;
    only vertex state crosses Arrow per superstep — the FlashGraph SEM
    architecture, FAST'15 §2). Any other value raises ValueError.

    personalized: optional source-vertex set S; the teleport term becomes
    (1-d)·1{v ∈ S} (personalized PageRank / random walk with restart).

    weight_col: optional edge-weight column (e.g. anchor/link multiplicity
    on a web graph); the gather becomes r(v) = (1-d) + d·Σ w(u,v)/W(u)·r(u)
    with W(u) the total outgoing weight. Dangling (W=0) contribute nothing.
    Supported on the sql kernel.

    reuse_layout (sem kernel): if ``layout_dir`` already holds a sem edge
    image, skip rewriting it — the FlashGraph pattern of building the
    graph image once (el2fg) and running many algorithms against it.
    Valid only when edges, ``partitions`` and ``hub_threshold`` are
    identical to the run that wrote the layout (routing is a pure
    function of those three); each image carries a fingerprint manifest
    and a mismatched reuse raises instead of mis-routing state.

    init_ranks: optional (id, rank) DataFrame to warm-start from — e.g.
    the previous run's result after the streaming ingest updated the edge
    table (the standard incremental-crawl win: the fixpoint is unique for
    fixed (graph, d), so a warm start changes iterations-to-converge,
    never the converged answer). Ids absent from ``init_ranks`` (newly
    crawled pages) fall back to the cold-start teleport value.
    """
    if kernel not in ("sql", "sem"):
        raise ValueError(f"unknown kernel {kernel!r}")
    if weight_col is not None and kernel != "sql":
        raise ValueError("weight_col is supported on the sql kernel")
    if salted and kernel != "sql":
        # the sem kernel carries its own skew mitigation (hub vertex-cut);
        # silently ignoring the flag would make a salted-vs-plain
        # comparison on it measure two identical runs
        raise ValueError("salted is supported on the sql kernel")
    engine = engine or SuperstepEngine(spark)
    partitions = resolve_partitions(spark, edges, partitions)
    # Loop-invariant edge table: hash-partition by the gather key ONCE,
    # sorted within partitions, and persist (build.gather_layout). Every
    # superstep's gather join then reuses the layout with no edge-side
    # Exchange and no per-superstep Sort — the SMJ streams the cached
    # sorted edges against the (already id-sorted) vertex state. This is
    # the Spark analogue of FlashGraph keeping the graph image partitioned
    # across SSDs while vertex state moves (FAST'15 §3.6).
    cols = ("src_id", "dst_id") if weight_col is None else ("src_id", "dst_id", weight_col)
    edges = gather_layout(edges, partitions, cols=cols)
    state0 = _initial_state(edges, vertices, damping, personalized, weight_col)
    if init_ranks is not None:
        # MAX-deduped on id: a duplicated seed row would otherwise duplicate
        # the vertex's whole state row, double-counting its contribution in
        # every gather (silently wrong, the same class of bug as repeated
        # betweenness pivots). Any single seed value per id is safe — the
        # fixpoint is unique; the seed only moves the start point.
        seed = init_ranks.groupBy("id").agg(F.max("rank").alias("__seed"))
        state0 = state0.join(seed, "id", "left").select(
            "id", F.coalesce("__seed", "rank").alias("rank"), "out_deg"
        )
    state0 = state0.withColumn("prev_rank", F.lit(0.0))

    tmp_layout = None
    hot = None
    # loop-invariant frames persisted by the kernel factories (the sem
    # kernel's hub set) — released in the finally so repeated ranks
    # in one long-lived app (poll loops, bench sweeps) don't accumulate
    # one orphaned cache per call
    pins: list[DataFrame] = []
    try:
        if kernel == "sql":
            if salted:
                # hybrid salting: only keys above hub_threshold are salted —
                # salting every key defeats map-side combining for the whole
                # table (measured 4x slower than plain, BENCH/BASELINE.md)
                hot = _hot_dsts(edges, hub_threshold).persist()
                hot.count()
            step = _make_sql_step(edges, damping, salted, personalized, hot, weight_col)
        else:
            layout_dir, tmp_layout = _resolve_sem_layout_dir(spark, layout_dir)
            step = _make_sem_step(
                spark, edges, damping, partitions, hub_threshold, layout_dir,
                personalized, reuse_layout=reuse_layout,
                # a run-private temp layout can never be reused — skip the
                # O(E) fingerprint action + manifest for it
                manifest=tmp_layout is None, pins=pins,
            )
            # the gather-layout edge cache only feeds setup here (routing,
            # layout write/fingerprint, state0) — sem supersteps read the
            # on-disk image. Holding an O(E) cache through the whole loop
            # is pure storage squatting; cut state0's lineage from it (one
            # O(V) job over the still-warm cache) and release it now. The
            # finally's unpersist is then a no-op.
            state0 = state0.localCheckpoint(eager=True)
            edges.unpersist()

        # eps <= 0 means "run exactly max_iters": skip the per-superstep
        # convergence action entirely — one fewer Spark job per superstep,
        # which is pure fixed overhead on fixed-iteration runs
        return engine.run(
            state0,
            step,
            max_iters=max_iters,
            should_stop=_stop_fn(eps) if eps > 0 else None,
            resume=resume,
            shuffle_partitions=partitions,
        )
    finally:
        edges.unpersist()
        if hot is not None:
            hot.unpersist()
        for df in pins:
            df.unpersist()
        if tmp_layout is not None:
            import shutil

            shutil.rmtree(tmp_layout, ignore_errors=True)


# ------------------------------------------------------------------ kernel V1

def _hot_dsts(edges: DataFrame, hub_threshold: int) -> DataFrame:
    """Hot reduce keys for hybrid salting: high IN-degree vertices (the
    gather groupBy key is dst). Loop-invariant — persist once, broadcast
    into every superstep's salt expression."""
    return (
        edges.groupBy("dst_id")
        .agg(F.count(F.lit(1)).alias("in_deg"))
        .filter(F.col("in_deg") > hub_threshold)
        .select("dst_id")
    )


def _make_sql_step(edges: DataFrame, damping: float, salted: bool,
                   personalized: list[int] | None = None,
                   hot_dsts: DataFrame | None = None,
                   weight_col: str | None = None):
    def step(state: DataFrame, iteration: int) -> DataFrame:
        contribs = state.filter(F.col("out_deg") > 0).select(
            F.col("id").alias("src_id"),
            (F.col("rank") / F.col("out_deg")).alias("contrib"),
        )
        joined = edges.join(contribs, "src_id")
        # salted runs keep src_id through the gather: the salt must come
        # from it, not from the contrib VALUE (salted_agg's default) —
        # values collide whenever in-neighbors share an out-degree class,
        # guaranteed on superstep 1 (uniform init ranks), where a hub fed
        # by outdeg-1 pages would land its whole in-edge set in ONE salt
        # bucket, reproducing exactly the straggler salting exists to
        # split. src_id is unique per row within a dst group, so buckets
        # spread uniformly in every superstep.
        keep = ("src_id",) if salted else ()
        if weight_col is not None:
            # weighted gather: r(u)/W(u) scaled by the edge weight w(u,v)
            gathered = joined.select(
                *keep, "dst_id", (F.col("contrib") * F.col(weight_col)).alias("contrib")
            )
        else:
            gathered = joined.select(*keep, "dst_id", "contrib")
        if salted:
            msgs = salted_agg(
                gathered, key="dst_id", value="contrib", agg="sum",
                buckets=SALT_BUCKETS, hot_keys=hot_dsts, salt_from="src_id",
            ).withColumnRenamed("contrib", "sum_contrib")
        else:
            msgs = gathered.groupBy("dst_id").agg(F.sum("contrib").alias("sum_contrib"))
        return _apply(state, msgs, damping, personalized)

    return step


# ------------------------------------------------------------------ kernel V3

# Per-run cache token (driver-side monotonic counter, serialized into the
# kernel closure) so worker-side blocks cached by a previous run can never
# be read by this one.
_RUN_COUNTER = itertools.count(1)


def _routed_edges(
    edges: DataFrame, partitions: int, hub_threshold: int,
    pins: list | None = None,
) -> tuple[DataFrame, DataFrame, int]:
    """(edges_parts, hubs, n_hubs): loop-invariant edge routing — normal
    src -> part by id hash, hub src -> vertex-cut across partitions by
    hash(dst_id). Persisted frames are appended to ``pins`` so the
    caller's finally can release them — a poll loop / bench sweep that
    runs many ranks in one app must not leak a cache per call."""
    out_deg = edges.groupBy(F.col("src_id").alias("id")).agg(
        F.count(F.lit(1)).alias("deg")
    )
    hubs = out_deg.filter(F.col("deg") > hub_threshold).select("id").persist()
    if pins is not None:
        pins.append(hubs)
    n_hubs = hubs.count()
    hub_src = hubs.withColumnRenamed("id", "src_id").withColumn("__hub", F.lit(True))
    edges_parts = (
        edges.join(F.broadcast(hub_src), "src_id", "left")
        .withColumn(
            "part",
            F.when(
                F.col("__hub").isNotNull(),
                F.pmod(F.xxhash64("dst_id"), F.lit(partitions)),
            )
            .otherwise(F.pmod(F.col("src_id"), F.lit(partitions)))
            .cast("int"),
        )
        .select("src_id", "dst_id", "part")
    )
    return edges_parts, hubs, n_hubs


def _route_state(contribs, hubs, n_hubs, parts_df, partitions):
    """State rows routed to their edge partition; hub state replicated to
    every partition (vertex-cut)."""
    normal = contribs.join(F.broadcast(hubs), "id", "left_anti").withColumn(
        "part", F.pmod(F.col("id"), F.lit(partitions)).cast("int")
    )
    if not n_hubs:
        return normal
    hub_state = (
        contribs.join(F.broadcast(hubs), "id", "left_semi")
        .crossJoin(F.broadcast(parts_df))
        .select("id", "contrib", "part")
    )
    return normal.unionByName(hub_state)


# Worker-side cache of semi-external adjacency blocks: (token, part) ->
# compressed index arrays, built from the parquet block on first touch.
# LRU-capped — a worker that ends up serving many partitions re-reads
# rather than holding the whole graph.
_SEM_BLOCK_CACHE: dict[tuple[int, int], tuple] = {}
_SEM_CACHE_CAP = 16

# Host-local compiled-block store. The in-memory cache above is PER
# PYTHON WORKER; on a multi-executor cluster a partition's task lands on a
# different (executor, worker) whenever Spark's scheduler pleases, and
# every such move used to pay the full miss path — parquet decode +
# O(E_p log E_p) np.unique index build, measured at 12-26 s/superstep of
# warm-up in the 4x8 local-cluster protocol (BENCH/BASELINE.md). The fix
# is FlashGraph's own: the COMPILED image lives on node-local storage and
# the OS page cache is the sharing layer (FAST'15 §3.2). First touch of a
# block on a host spills the four index arrays as .npy files under the
# host scratch dir (atomic tmp-dir + rename, losers of a build race just
# discard); every later worker on that host — any run, any token —
# mmap-loads them, so a placement move costs a page-cache-warm np.load
# instead of a rebuild. Keyed by (layout_dir hash, layout fingerprint
# hash): content-addressed, so a rewritten image can never serve stale
# blocks, and superseded fingerprints for the same layout_dir are swept on
# the next store. Only manifested layouts (reusable images) participate —
# a run-private temp layout dies with its run, so spilling it buys nothing.
_SEM_BLOCK_NAMES = ("src_uniq", "src_inv", "dst_uniq", "dst_inv")
_SEM_BLOCK_FMT = "v2"  # v2: uniq arrays stored int32 when ids fit
# orphaned cache dirs (transient layout_dirs that never recur — pytest
# tmp_paths, one-off jobs) are reclaimed by age at store time
_SEM_DISK_TTL_SEC = 7 * 24 * 3600


def _sem_disk_key(layout_dir: str, fingerprint: dict) -> str:
    """Content address of a compiled image: <layout_dir hash>-<fingerprint
    hash>. A KEY, not a path — the scratch root is resolved on the WORKER
    (driver and executor hosts need not share a tmp layout)."""
    import hashlib

    lh = hashlib.sha1(layout_dir.encode()).hexdigest()[:12]
    # _BLOCK_FMT is folded into the content address: a block-format change
    # (e.g. the round-5 int32 uniq arrays) must never mmap older-format
    # blocks; superseded-format dirs share the layout hash and are swept
    fh = hashlib.sha1(
        (json.dumps(fingerprint, sort_keys=True) + "|" + _SEM_BLOCK_FMT).encode()
    ).hexdigest()[:12]
    return f"{lh}-{fh}"


def _sem_disk_root() -> str:
    """Per-user scratch root, created 0700: a world-shared predictable
    /tmp path would let any local user pre-plant crafted .npy blocks
    (silently wrong ranks) or squat the dir to disable the store.

    makedirs(exist_ok=True) alone is NOT enough on the predictable path:
    another local user can pre-create it (world-writable, or a symlink
    into territory they control) before our first use, and exist_ok would
    silently accept it — re-enabling exactly the attack the 0700 mode is
    there to stop. So after makedirs we lstat and REQUIRE: a real directory
    (not a symlink), owned by us, mode 0700 (chmod if not, then re-verify).
    Any mismatch raises OSError, which every caller treats as
    store-disabled (miss / skip) — refuse, don't use."""
    import os
    import stat as stat_mod
    import tempfile

    uid = os.getuid() if hasattr(os, "getuid") else "w"
    root = os.path.join(tempfile.gettempdir(), f"linkgraph_sem_blocks-u{uid}")
    os.makedirs(root, mode=0o700, exist_ok=True)
    st = os.lstat(root)
    if not stat_mod.S_ISDIR(st.st_mode):  # symlink or non-dir squat
        raise OSError(f"sem disk root {root!r} is not a directory — refusing")
    if hasattr(os, "getuid") and st.st_uid != os.getuid():
        raise OSError(f"sem disk root {root!r} owned by uid {st.st_uid} — refusing")
    if stat_mod.S_IMODE(st.st_mode) != 0o700:
        os.chmod(root, 0o700)  # raises OSError if we can't -> store disabled
        if stat_mod.S_IMODE(os.lstat(root).st_mode) != 0o700:
            raise OSError(f"sem disk root {root!r} mode not 0700 — refusing")
    return root


def _disk_block_load(disk_key: str, part: int) -> tuple | None:
    import os
    import shutil

    try:
        cache_dir = os.path.join(_sem_disk_root(), disk_key)
    except OSError:
        return None
    d = os.path.join(cache_dir, f"part{part}")
    if not os.path.isdir(d):
        return None
    try:
        # mmap: resident memory is page-cache-backed and SHARED across the
        # host's workers — 8 workers serving the same block cost one copy
        blk = tuple(
            np.load(os.path.join(d, n + ".npy"), mmap_mode="r")
            for n in _SEM_BLOCK_NAMES
        )
        # touch the cache dir so the TTL sweep (which keys on this mtime)
        # never evicts an ACTIVELY-READ image — the build-once el2fg
        # deployment keeps a stable image far past 7 days, and without
        # the refresh any unrelated store on the host would sweep it
        try:
            os.utime(cache_dir)
        except OSError:
            pass  # read-only scratch etc. — worst case is one re-publish
        return blk
    except (FileNotFoundError, ValueError, EOFError):
        # a published dir is complete (atomic rename), so a missing or
        # malformed .npy means damage — drop the dir so the rebuild can
        # republish instead of every cold worker missing forever
        shutil.rmtree(d, ignore_errors=True)
        return None
    except OSError:
        # transient resource pressure (EMFILE/ENOMEM): the dir is very
        # likely fine — do NOT destroy the host-shared cache, just miss
        return None


def _sem_sweep_root(root: str, disk_key: str) -> None:
    """Reclaim superseded/orphaned cache dirs. Runs AT MOST ONCE per
    (python worker, disk_key) — the sweep is O(siblings) listdir+stat work
    racing across every cold worker on the host, so repeating it once per
    partition a worker builds is pure waste (parts x workers syscalls)."""
    import os
    import shutil
    import time

    if disk_key in _SEM_SWEPT:
        return
    _SEM_SWEPT.add(disk_key)
    lh = disk_key.split("-", 1)[0]
    now = time.time()
    for other in os.listdir(root):
        if other == disk_key:
            continue
        other_path = os.path.join(root, other)
        if other.startswith(lh + "-"):
            # superseded fingerprint of the SAME layout_dir: its image
            # was overwritten — those blocks are unreachable
            shutil.rmtree(other_path, ignore_errors=True)
        else:
            # age-based reclaim of orphans (transient layout_dirs that
            # never recur). A live-but-idle cache dir that gets swept
            # degrades to one rebuild+republish — never wrong results.
            # Actively-read dirs never qualify: _disk_block_load utimes
            # the cache dir on every successful load.
            try:
                if now - os.path.getmtime(other_path) > _SEM_DISK_TTL_SEC:
                    shutil.rmtree(other_path, ignore_errors=True)
            except OSError:
                pass


_SEM_SWEPT: set[str] = set()


def _disk_block_store(disk_key: str, part: int, blk: tuple) -> None:
    import os
    import shutil
    import uuid

    # best-effort: the disk store is an accelerator — any IO failure here
    # must never fail the superstep, the in-memory block is already built
    try:
        root = _sem_disk_root()
        final = os.path.join(root, disk_key, f"part{part}")
        if os.path.isdir(final):
            # someone already published this block — refresh the image's
            # mtime so the TTL sweep sees it as live, and skip the sweep
            try:
                os.utime(os.path.join(root, disk_key))
            except OSError:
                pass
            return
        _sem_sweep_root(root, disk_key)
        tmp = final + f".tmp-{uuid.uuid4().hex[:8]}"
        try:
            os.makedirs(tmp)
            for n, a in zip(_SEM_BLOCK_NAMES, blk):
                np.save(os.path.join(tmp, n + ".npy"), a)
        except OSError:
            # disk-full / permission mid-write: remove the partial tmp so
            # retries don't accumulate half-written dirs
            shutil.rmtree(tmp, ignore_errors=True)
            return
        try:
            os.rename(tmp, final)  # atomic publish; race loser cleans up
        except OSError:
            shutil.rmtree(tmp, ignore_errors=True)
    except OSError:
        pass


def _sem_block(
    token: int, part: int, layout_dir: str, has_edges: bool,
    disk_key: str | None = None,
) -> tuple:
    key = (token, part)
    blk = _SEM_BLOCK_CACHE.pop(key, None)
    if blk is None:
        if not has_edges:
            # a block with state but no edges: the driver-side manifest
            # (edge_parts, computed at layout time) says so — never touch
            # the filesystem, and never mask a genuinely missing block
            empty_i64 = np.empty(0, dtype=np.int64)
            empty_i32 = np.empty(0, dtype=np.int32)
            blk = (empty_i64, empty_i32, empty_i64, empty_i32)
        else:
            blk = _disk_block_load(disk_key, part) if disk_key else None
        if blk is None:
            import pyarrow.parquet as pq

            try:
                t = pq.read_table(
                    f"{layout_dir}/part={part}", columns=["src_id", "dst_id"]
                )
            except FileNotFoundError as e:
                # the manifest says this block exists — a missing file means
                # the layout is unreachable from this worker (driver-local
                # layout_dir on a cluster, or a deleted layout); returning an
                # empty block here would silently zero its contributions
                raise FileNotFoundError(
                    f"sem edge block part={part} expected under {layout_dir!r} "
                    "but not found — layout_dir must be shared storage "
                    "reachable from every executor and must outlive the run"
                ) from e
            src = t.column("src_id").to_numpy().astype(np.int64, copy=False)
            dst = t.column("dst_id").to_numpy().astype(np.int64, copy=False)
            src_uniq, src_inv = np.unique(src, return_inverse=True)
            dst_uniq, dst_inv = np.unique(dst, return_inverse=True)
            # int32 uniq arrays when ids fit (dictionary-dense ids always
            # do): halves those arrays' bytes in the compiled image — disk
            # blocks, page-cache residency, and load traffic — with no
            # inner-loop change (searchsorted/compare upcast lazily; the
            # emit path casts dst_uniq back to int64 for the long schema)
            if len(src_uniq) and src_uniq[-1] < 2**31 and src_uniq[0] >= -(2**31):
                src_uniq = src_uniq.astype(np.int32)
            if len(dst_uniq) and dst_uniq[-1] < 2**31 and dst_uniq[0] >= -(2**31):
                dst_uniq = dst_uniq.astype(np.int32)
            blk = (src_uniq, src_inv.astype(np.int32), dst_uniq, dst_inv.astype(np.int32))
            if disk_key is not None:
                _disk_block_store(disk_key, part, blk)
        for k in [k for k in _SEM_BLOCK_CACHE if k[0] != token]:
            del _SEM_BLOCK_CACHE[k]
        while len(_SEM_BLOCK_CACHE) >= _SEM_CACHE_CAP:
            _SEM_BLOCK_CACHE.pop(next(iter(_SEM_BLOCK_CACHE)))
    _SEM_BLOCK_CACHE[key] = blk  # (re)insert as most-recently-used
    return blk


def _sem_spmv_factory(damping: float, token: int, layout_dir: str,
                      edge_parts: frozenset[int],
                      disk_key: str | None = None):
    """Grouped-map kernel over vertex state ONLY: the adjacency block comes
    from storage via the worker cache, so the per-superstep Arrow transfer
    is O(V_p), not O(E_p) — this is FlashGraph's semi-external-memory
    split (vertex state moves, edge lists stay put) on Spark.

    edge_parts is the layout-time manifest of blocks that actually contain
    edges; a FileNotFoundError on one of those is raised, not masked."""

    def sem_spmv(key: Any, state_pdf: pd.DataFrame) -> pd.DataFrame:
        if len(state_pdf) == 0:
            return pd.DataFrame({"dst_id": pd.Series(dtype="int64"),
                                 "contrib": pd.Series(dtype="float64")})
        part = int(key[0])
        src_uniq, src_inv, dst_uniq, dst_inv = _sem_block(
            token, part, layout_dir, part in edge_parts, disk_key
        )
        if len(src_uniq) == 0:
            return pd.DataFrame({"dst_id": pd.Series(dtype="int64"),
                                 "contrib": pd.Series(dtype="float64")})
        ids = state_pdf["id"].to_numpy(dtype=np.int64)
        vals = state_pdf["contrib"].to_numpy(dtype=np.float64)
        order = np.argsort(ids, kind="stable")
        ids, vals = ids[order], vals[order]
        pos = np.searchsorted(ids, src_uniq)
        pos = np.clip(pos, 0, len(ids) - 1)
        hit = ids[pos] == src_uniq
        vals_by_src = np.where(hit, vals[pos], 0.0)
        # gather + bincount IS the measured-fastest inner loop: interleaved
        # 32-proc microbench (tools/micro_sem_kernel.py) put chunked
        # bincount at 1.05x, dst-sorted gather+reduceat at 1.23x, and
        # preallocated-buffer take+reduceat at 1.50x of this loop -- the
        # "fused gather" candidates all lose, so the O(E) contrib temp stays
        contrib = vals_by_src[src_inv]
        sums = np.bincount(dst_inv, weights=contrib, minlength=len(dst_uniq))
        return pd.DataFrame(
            {"dst_id": dst_uniq.astype(np.int64, copy=False), "contrib": sums}
        )

    return sem_spmv


def _sem_layout(
    spark: SparkSession,
    edges: DataFrame,
    partitions: int,
    hub_threshold: int,
    layout_dir: str,
    reuse_layout: bool = False,
    manifest: bool = True,
    pins: list | None = None,
):
    """Build (or validate+reuse) the sem edge image; returns the
    loop-invariant routing artifacts shared by the rank and delta sem
    kernels: (hubs, n_hubs, edge_parts, parts_df, token, disk_key)."""
    edges_parts, hubs, n_hubs = _routed_edges(
        edges, partitions, hub_threshold, pins=pins
    )
    # the graph "image": written once, hive-partitioned by block id — on a
    # cluster this lives on shared storage and each executor pulls only the
    # blocks it serves (then caches them in its Python workers). Routing
    # the shuffle by part first gives each write task a single open parquet
    # writer regardless of how many blocks there are. With reuse_layout a
    # pre-existing image is consumed as-is (el2fg-style build-once), valid
    # only for the identical (edges, partitions, hub_threshold) that wrote
    # it — routing is a pure function of those three. Existence is probed
    # through Spark (NOT the driver's local filesystem — layout_dir on a
    # cluster is hdfs://s3:// shared storage, where os.path.isdir is
    # always False and would silently rewrite the image every run).
    # Layout manifest: routing is a pure function of (edges, partitions,
    # hub_threshold) — a layout written under ANY other triple silently
    # mis-routes vertex state. The fingerprint (build.edge_fingerprint, one
    # agg over the already-persisted edge cache) is written beside the
    # image and VALIDATED on reuse, raising on mismatch — the same
    # refuse-don't-guess safeguard as scc's checkpoint fingerprint.
    # "_"-prefixed files are invisible to Spark's parquet reader, so the
    # manifest can live inside layout_dir. ``manifest=False`` (run-private
    # temp layouts) skips the fingerprint action entirely.
    fingerprint = None
    if manifest:
        from linkgraph.build import edge_fingerprint

        n, chk = edge_fingerprint(edges)
        fingerprint = {
            "partitions": int(partitions),
            "hub_threshold": int(hub_threshold),
            "edges": n,
            "checksum": chk,
        }
    manifest_path = f"{layout_dir}/_lg_layout_meta.json"
    have_layout = False
    if reuse_layout and fingerprint is not None:
        from linkgraph.engine import fs_exists, fs_read_text

        if fs_exists(spark, manifest_path):
            existing = json.loads(fs_read_text(spark, manifest_path))
            if existing != fingerprint:
                raise ValueError(
                    f"sem layout at {layout_dir!r} was written for a different "
                    f"(edges, partitions, hub_threshold): manifest {existing} "
                    f"!= current {fingerprint}; reusing it would mis-route "
                    f"vertex state — pass the matching inputs or a fresh "
                    f"layout_dir"
                )
            try:
                have_layout = bool(
                    spark.read.parquet(layout_dir).select("part").head(1)
                )
            except Exception:
                have_layout = False  # manifest without data -> (re)write
        # no manifest (pre-manifest or partial layout) -> (re)write
    if not have_layout:
        (
            edges_parts.repartition(partitions, "part")
            .sortWithinPartitions("part", "src_id", "dst_id")
            .write.mode("overwrite")
            .partitionBy("part")
            .parquet(layout_dir)
        )
        if fingerprint is not None:
            from linkgraph.engine import fs_write_text

            fs_write_text(spark, manifest_path, json.dumps(fingerprint))
    # layout-time manifest: which blocks actually hold edges (≤ `partitions`
    # rows — bounded driver-side metadata, like engine lineage)
    edge_parts = frozenset(
        r["part"] for r in spark.read.parquet(layout_dir).select("part").distinct().collect()
    )
    parts_df = spark.range(partitions).select(F.col("id").cast("int").alias("part"))
    token = next(_RUN_COUNTER)
    # manifested (reusable) images also get the host-local compiled-block
    # store: content-addressed by (layout_dir, fingerprint), so any worker
    # on a host pays the parquet-decode + index build at most once per host
    disk_key = (
        _sem_disk_key(layout_dir, fingerprint) if fingerprint is not None else None
    )
    return hubs, n_hubs, edge_parts, parts_df, token, disk_key


def _resolve_sem_layout_dir(
    spark: SparkSession, layout_dir: str | None
) -> tuple[str, str | None]:
    """Shared by the power-iteration and delta kernels' sem branches:
    returns (layout_dir, tmp_layout). No caller-provided dir → a run-
    private tempdir the caller must rmtree in its finally (tmp_layout
    non-None signals both that and "skip the reuse manifest" — a private
    layout can never be reused). The layout is read worker-side with
    plain filesystem IO, so outside local mode a caller-provided dir must
    be shared storage — warn, don't guess."""
    if layout_dir is None:
        if not spark.sparkContext.master.startswith("local"):
            # fail fast at entry: a run-private DRIVER tempdir is not
            # reachable from executors on a real cluster, so the run
            # would pay the full O(E) layout write and then die at
            # superstep 1 with a worker-side FileNotFoundError
            raise ValueError(
                "kernel='sem' on a non-local master requires layout_dir "
                "on shared storage reachable from every executor; the "
                "implicit driver-local tempdir is not"
            )
        import tempfile

        tmp = tempfile.mkdtemp(prefix="linkgraph_sem_")
        return tmp, tmp
    if not spark.sparkContext.master.startswith("local"):
        import warnings

        warnings.warn(
            "kernel='sem' on a non-local master: layout_dir must be "
            "on shared storage reachable from every executor "
            f"(got {layout_dir!r})",
            stacklevel=3,
        )
    return layout_dir, None


def _make_sem_step(
    spark: SparkSession,
    edges: DataFrame,
    damping: float,
    partitions: int,
    hub_threshold: int,
    layout_dir: str,
    personalized: list[int] | None = None,
    reuse_layout: bool = False,
    manifest: bool = True,
    pins: list | None = None,
):
    hubs, n_hubs, edge_parts, parts_df, token, disk_key = _sem_layout(
        spark, edges, partitions, hub_threshold, layout_dir,
        reuse_layout=reuse_layout, manifest=manifest, pins=pins,
    )
    kernel = _sem_spmv_factory(damping, token, layout_dir, edge_parts, disk_key)

    def step(state: DataFrame, iteration: int) -> DataFrame:
        contribs = state.filter(F.col("out_deg") > 0).select(
            "id", (F.col("rank") / F.col("out_deg")).alias("contrib")
        )
        routed = _route_state(contribs, hubs, n_hubs, parts_df, partitions)
        partials = routed.groupBy("part").applyInPandas(
            kernel, schema="dst_id long, contrib double"
        )
        msgs = partials.groupBy("dst_id").agg(F.sum("contrib").alias("sum_contrib"))
        return _apply(state, msgs, damping, personalized)

    return step


# Per-worker CSR extension of a sem block for FRONTIER gathers: indptr over
# src_uniq + dst_inv grouped by src, so a tail superstep slices only the
# ACTIVE vertices' adjacency ranges instead of scanning all E edges. Built
# lazily on first delta-superstep touch (the layout is written sorted by
# src_id, so dst_inv is usually already grouped and the build is one O(E)
# monotonicity check); cached beside the block with the same token
# discipline.
_SEM_CSR_EXT: dict[tuple[int, int], tuple] = {}


def _sem_csr_ext(token: int, part: int, src_inv: np.ndarray,
                 dst_inv: np.ndarray, n_src: int) -> tuple:
    # same eviction discipline as _SEM_BLOCK_CACHE (stale tokens dropped,
    # LRU capped at _SEM_CACHE_CAP): the ext holds O(E_p) arrays, so a
    # worker scheduled across many partitions must re-derive rather than
    # accumulate the whole graph's CSR indices for the run's lifetime
    key = (token, part)
    ext = _SEM_CSR_EXT.pop(key, None)
    if ext is None:
        for k in [k for k in _SEM_CSR_EXT if k[0] != token]:
            del _SEM_CSR_EXT[k]
        while len(_SEM_CSR_EXT) >= _SEM_CACHE_CAP:
            _SEM_CSR_EXT.pop(next(iter(_SEM_CSR_EXT)))
        counts = np.bincount(src_inv, minlength=n_src)
        indptr = np.empty(n_src + 1, dtype=np.int64)
        indptr[0] = 0
        np.cumsum(counts, out=indptr[1:])
        if len(src_inv) and not np.all(np.diff(src_inv) >= 0):
            # blocks are written src-sorted; this fallback only runs for a
            # hand-built layout that wasn't
            order = np.argsort(src_inv, kind="stable")
            dst_by_src = dst_inv[order]
        else:
            dst_by_src = dst_inv
        ext = (indptr, dst_by_src)
    _SEM_CSR_EXT[key] = ext  # (re)insert as most-recently-used
    return ext


def _sem_delta_factory(damping: float, token: int, layout_dir: str,
                       edge_parts: frozenset[int],
                       disk_key: str | None = None):
    """Grouped-map kernel over the ACTIVE vertex pushes only — the sem
    split (edge blocks on storage, state across Arrow) composed with the
    V4 frontier: per superstep this partition ships O(active_p) rows and
    gathers O(active edges) via CSR slicing, falling back to the dense
    gather+bincount when the frontier still covers most of the block
    (index arithmetic on >½ of E costs more than one linear pass)."""

    _empty = pd.DataFrame(
        {"dst_id": pd.Series(dtype="int64"), "contrib": pd.Series(dtype="float64")}
    )

    def sem_delta(key: Any, state_pdf: pd.DataFrame) -> pd.DataFrame:
        if len(state_pdf) == 0:
            return _empty
        part = int(key[0])
        src_uniq, src_inv, dst_uniq, dst_inv = _sem_block(
            token, part, layout_dir, part in edge_parts, disk_key
        )
        if len(src_uniq) == 0:
            return _empty
        ids = state_pdf["id"].to_numpy(dtype=np.int64)
        vals = state_pdf["contrib"].to_numpy(dtype=np.float64)
        order = np.argsort(ids, kind="stable")
        ids, vals = ids[order], vals[order]
        # positions of the active ids in this block's src dictionary
        pos = np.searchsorted(src_uniq, ids)
        pos = np.clip(pos, 0, len(src_uniq) - 1)
        hit = src_uniq[pos] == ids
        j, push = pos[hit], vals[hit]
        if len(j) == 0:
            return _empty
        indptr, dst_by_src = _sem_csr_ext(
            token, part, src_inv, dst_inv, len(src_uniq)
        )
        lengths = indptr[j + 1] - indptr[j]
        tot = int(lengths.sum())
        if tot == 0:
            return _empty
        if tot * 2 >= len(dst_by_src):
            # dense fallback: frontier touches most edges anyway
            by_src = np.zeros(len(src_uniq), dtype=np.float64)
            by_src[j] = push
            contrib = by_src[src_inv]
            sums = np.bincount(dst_inv, weights=contrib, minlength=len(dst_uniq))
        else:
            cum = np.cumsum(lengths)
            offs = np.repeat(indptr[j] - (cum - lengths), lengths)
            idx = np.arange(tot, dtype=np.int64) + offs
            w = np.repeat(push, lengths)
            sums = np.bincount(
                dst_by_src[idx], weights=w, minlength=len(dst_uniq)
            )
        nz = np.nonzero(sums)[0]
        if len(nz) == 0:
            return _empty
        return pd.DataFrame(
            {"dst_id": dst_uniq[nz].astype(np.int64, copy=False), "contrib": sums[nz]}
        )

    return sem_delta


# --------------------------------------------------- kernel V4: delta/frontier

def pagerank_delta(
    spark: SparkSession,
    edges: DataFrame,
    vertices: DataFrame | None = None,
    damping: float = PR_DAMPING,
    threshold: float = PR_EPS,
    max_iters: int = PR_MAX_ITERS,
    partitions: int | None = None,
    engine: SuperstepEngine | None = None,
    resume: bool = False,
    kernel: str = "sql",
    hub_threshold: int = HUB_OUTDEG_THRESHOLD,
    layout_dir: str | None = None,
    reuse_layout: bool = False,
) -> RunResult:
    """Delta/frontier PageRank: only vertices whose rank CHANGED last
    superstep send messages (FlashGraph's activation model — its PageRank
    vertex program activates out-neighbors only on a significant delta,
    the same frontier machinery as SURVEY.md A6).

    kernel: "sql" (frontier join + agg, Catalyst-planned) or "sem" — the
    semi-external split composed with the frontier: adjacency blocks stay
    on storage (same image format, manifest and host-local compiled-block
    store as ``pagerank(kernel="sem")``; ``layout_dir``/``reuse_layout``
    behave identically), and per superstep only the ACTIVE pushes cross
    Arrow; each block gathers O(active edges) by CSR-slicing the active
    adjacency ranges (dense-scan fallback while the frontier covers most
    of the block). This is the full FlashGraph architecture — SEM edge
    image + delta activation — so tail supersteps cost O(frontier), not
    O(V_p + E_p).

    Algebra: with Δ_0(v) = r_0(v) = 1-d, the power-iteration recurrence
    r_k(v) = (1-d) + d·Σ r_{k-1}(u)/deg(u) is equivalent to pushing only
    the CHANGE: Δ_k(v) = d·Σ_{u→v, |Δ_{k-1}(u)|>θ} Δ_{k-1}(u)/deg(u) and
    r_k = r_{k-1} + Δ_k. With θ=0 this IS power iteration (same
    per-iteration values up to fp summation order); with θ>0 the active
    frontier SHRINKS as vertices converge, so each superstep's gather join
    touches only the frontier's out-edges — the convergence tail costs
    O(Σ_k |E(active_k)|) instead of O(iters·|E|). Dropped-mass error model
    (θ>0): a deactivated u withholds a push ≤ θ/deg(u) per out-edge per
    round, so over R rounds err(v) ≤ d·θ·R·Σ_{u→v} 1/deg(u); since
    r(v) ≥ (1-d)·(1 + d·Σ_{u→v} 1/deg(u)) the RELATIVE error is bounded
    by θ·R/(1-d) uniformly — but the ABSOLUTE error grows with in-degree
    (a 10^5-in-degree hub at θ=1e-6 can be off by ~θ·R·indeg·avg(1/deg)
    in rank units; measured on the hub-heavy bench graph, BENCH/BASELINE.md
    "Delta/frontier PageRank (V4)"). Pick θ against the RELATIVE band you
    need: θ=1e-9 keeps even hub ranks inside the 1e-6 acceptance band on
    the test fixtures; θ=0 is exact.

    Convergence = empty frontier (no |Δ| above θ), observed for free on
    the superstep materialization (ObservedStop). Terminal state columns:
    (id, rank, out_deg, delta).

    Cold-start only: an incremental re-rank should use
    ``pagerank(init_ranks=...)`` — warm deltas against a CHANGED graph
    additionally need per-edge correction terms this kernel does not carry.
    """
    from linkgraph.engine import ObservedStop

    if kernel not in ("sql", "sem"):
        raise ValueError(f"unknown kernel {kernel!r}")
    engine = engine or SuperstepEngine(spark)
    partitions = resolve_partitions(spark, edges, partitions)
    edges = gather_layout(edges, partitions)
    base = _initial_state(edges, vertices, damping)
    state0 = base.select("id", "rank", "out_deg", F.col("rank").alias("delta"))

    def _apply_delta(state: DataFrame, msgs: DataFrame) -> DataFrame:
        joined = state.join(msgs, state["id"] == msgs["dst_id"], "left")
        new_delta = F.lit(damping) * F.coalesce(F.col("sum_push"), F.lit(0.0))
        return joined.select(
            state["id"],
            (state["rank"] + new_delta).alias("rank"),
            state["out_deg"],
            new_delta.alias("delta"),
        )

    tmp_layout = None
    pins: list[DataFrame] = []  # same release discipline as pagerank()
    try:
        if kernel == "sql":

            def step(state: DataFrame, iteration: int) -> DataFrame:
                frontier = state.filter(
                    (F.abs(F.col("delta")) > threshold) & (F.col("out_deg") > 0)
                ).select(
                    F.col("id").alias("src_id"),
                    (F.col("delta") / F.col("out_deg")).alias("push"),
                )
                gathered = edges.join(frontier, "src_id").select("dst_id", "push")
                msgs = gathered.groupBy("dst_id").agg(F.sum("push").alias("sum_push"))
                return _apply_delta(state, msgs)

        else:
            layout_dir, tmp_layout = _resolve_sem_layout_dir(spark, layout_dir)
            hubs, n_hubs, edge_parts, parts_df, token, disk_key = _sem_layout(
                spark, edges, partitions, hub_threshold, layout_dir,
                reuse_layout=reuse_layout, manifest=tmp_layout is None,
                pins=pins,
            )
            sem_kernel = _sem_delta_factory(
                damping, token, layout_dir, edge_parts, disk_key
            )

            def step(state: DataFrame, iteration: int) -> DataFrame:
                frontier = state.filter(
                    (F.abs(F.col("delta")) > threshold) & (F.col("out_deg") > 0)
                ).select(
                    "id", (F.col("delta") / F.col("out_deg")).alias("contrib")
                )
                routed = _route_state(frontier, hubs, n_hubs, parts_df, partitions)
                partials = routed.groupBy("part").applyInPandas(
                    sem_kernel, schema="dst_id long, contrib double"
                )
                msgs = partials.groupBy("dst_id").agg(
                    F.sum("contrib").alias("sum_push")
                )
                return _apply_delta(state, msgs)

            # same as pagerank(): sem supersteps read the on-disk image,
            # not the gather-layout cache — cut state0's lineage and
            # release the O(E) cache before the loop
            state0 = state0.localCheckpoint(eager=True)
            edges.unpersist()

        stop = ObservedStop(
            metrics=lambda: {
                "active": F.sum((F.abs(F.col("delta")) > threshold).cast("long"))
            },
            decide=lambda m, it: int(m["active"] or 0) == 0,
        )
        return engine.run(
            state0, step, max_iters=max_iters, should_stop=stop, resume=resume,
            shuffle_partitions=partitions,
        )
    finally:
        edges.unpersist()
        for df in pins:
            df.unpersist()
        if tmp_layout is not None:
            import shutil

            shutil.rmtree(tmp_layout, ignore_errors=True)
