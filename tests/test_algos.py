"""t3 golden gates: the four vertex programs vs committed goldens/oracle.

Acceptance (BASELINE.json north_rule): PageRank allclose(atol=1e-6) at
convergence; WCC / LP / TC exact.
"""

from __future__ import annotations

import numpy as np
import pytest

from linkgraph import oracle
from linkgraph.algos import label_propagation, pagerank, triangle_counts, wcc
from linkgraph.synth import WIKI_VOTE_N

from conftest import golden


def _vec(df, col):
    pdf = df.toPandas().sort_values("id")
    assert pdf.id.tolist() == list(range(WIKI_VOTE_N))
    return pdf[col].to_numpy()


def test_pagerank_converged_matches_golden(spark, wiki_edges_df, wiki_vertices_df):
    """THE acceptance gate: full convergence run vs committed golden."""
    res = pagerank(spark, wiki_edges_df, vertices=wiki_vertices_df)
    got = _vec(res.state.select("id", "rank"), "rank")
    want = golden("pagerank").sort_values("id")["rank"].to_numpy()
    assert np.allclose(got, want, rtol=0, atol=1e-6)


def test_pagerank_sql_equals_oracle_15iter(spark, wiki_edges_df, wiki_vertices_df, wiki_edges):
    """V1 ≡ the pure-Python oracle within 1e-12 (SURVEY.md §4.1) on a
    15-iteration run — fixed supersteps, so the check is per-iteration
    exact, not just the converged band."""
    res = pagerank(spark, wiki_edges_df, vertices=wiki_vertices_df, max_iters=15, eps=0.0)
    got = _vec(res.state.select("id", "rank"), "rank")
    want, _ = oracle.pagerank(wiki_edges, WIKI_VOTE_N, max_iters=15, eps=0.0)
    assert np.allclose(got, want, rtol=0, atol=1e-12)


def test_pagerank_kernel_is_sql_or_sem(spark, wiki_edges_df):
    """``kernel`` accepts exactly {"sql", "sem"}: the retired cogrouped
    V2 names raise instead of silently picking another kernel, and they
    raise before any Spark job runs."""
    from linkgraph.algos import pagerank_delta

    sc = spark.sparkContext
    for fn in (pagerank, pagerank_delta):
        for kernel in ("csr", "csr_cogroup"):
            group = f"kernel-check-{fn.__name__}-{kernel}"
            sc.setJobGroup(group, group)
            try:
                with pytest.raises(ValueError, match="unknown kernel"):
                    fn(spark, wiki_edges_df, max_iters=1, kernel=kernel)
            finally:
                sc.setJobGroup(None, None)
            assert sc.statusTracker().getJobIdsForGroup(group) == []


def test_pagerank_sem_equals_sql_kernel(spark, wiki_edges_df, wiki_vertices_df, tmp_path):
    """V3 "sem" (semi-external adjacency blocks, worker-cached) ≡ V1 within
    1e-12, including the vertex-cut path (forced low hub threshold)."""
    sql_r = pagerank(spark, wiki_edges_df, vertices=wiki_vertices_df, max_iters=12, eps=0.0)
    sem_r = pagerank(
        spark, wiki_edges_df, vertices=wiki_vertices_df, max_iters=12, eps=0.0,
        kernel="sem", partitions=8, hub_threshold=50,
        layout_dir=str(tmp_path / "sem_layout"),
    )
    a = _vec(sql_r.state.select("id", "rank"), "rank")
    b = _vec(sem_r.state.select("id", "rank"), "rank")
    assert np.allclose(a, b, rtol=0, atol=1e-12)


def test_pagerank_salted_equals_plain(spark, wiki_edges_df, wiki_vertices_df):
    """Hybrid salting ≡ plain. hub_threshold forced low so the fixture has a
    non-empty hot set and BOTH the salted-hub and direct-tail paths run."""
    plain = pagerank(spark, wiki_edges_df, vertices=wiki_vertices_df, max_iters=8, eps=0.0)
    salted = pagerank(
        spark, wiki_edges_df, vertices=wiki_vertices_df, max_iters=8, eps=0.0,
        salted=True, hub_threshold=20,
    )
    a = _vec(plain.state.select("id", "rank"), "rank")
    b = _vec(salted.state.select("id", "rank"), "rank")
    assert np.allclose(a, b, rtol=0, atol=1e-12)


def test_salted_agg_hybrid_equals_direct(spark):
    """skew.salted_agg with a hot-key set == direct groupBy on an integer
    table (exact long sums — no float tolerance needed)."""
    from pyspark.sql import functions as F

    from linkgraph.skew import salted_agg

    df = (
        spark.range(20000)
        .select(
            # key 0 is a hot hub (half the rows); keys 1..99 share the rest
            F.when(F.col("id") % 2 == 0, F.lit(0))
            .otherwise(F.col("id") % 99 + 1)
            .cast("long")
            .alias("k"),
            (F.col("id") % 7).cast("long").alias("v"),
        )
    )
    hot = spark.createDataFrame([(0,)], "k long")
    direct = {r["k"]: r["s"] for r in df.groupBy("k").agg(F.sum("v").alias("s")).collect()}
    hybrid = {
        r["k"]: r["v"]
        for r in salted_agg(df, key="k", value="v", agg="sum", salt_from="v",
                            hot_keys=hot).collect()
    }
    assert direct == hybrid


def test_wcc_exact(spark, wiki_edges_df, wiki_vertices_df):
    res = wcc(spark, wiki_edges_df, vertices=wiki_vertices_df)
    got = _vec(res.state.select("id", "comp"), "comp")
    want = golden("wcc").sort_values("id")["comp"].to_numpy()
    assert (got == want).all()


def test_weighted_pagerank_matches_numpy(spark, wiki_edges_df, wiki_vertices_df, wiki_edges):
    """Weighted PageRank (w(u,v)/W(u) gather) == inline numpy reference;
    deterministic synthetic weights w = 1 + (src + dst) % 3."""
    from pyspark.sql import functions as F

    iters = 6
    we = wiki_edges_df.withColumn(
        "w", (F.lit(1) + (F.col("src_id") + F.col("dst_id")) % 3).cast("double")
    )
    res = pagerank(
        spark, we, vertices=wiki_vertices_df, max_iters=iters, eps=0.0, weight_col="w"
    )
    got = _vec(res.state.select("id", "rank"), "rank")

    n = WIKI_VOTE_N
    w = np.zeros((n, n))
    for s, d in wiki_edges:
        w[s, d] = 1.0 + (s + d) % 3
    out_w = w.sum(axis=1)
    r = np.full(n, 0.15)
    unit = np.zeros(n)
    for _ in range(iters):
        np.divide(r, out_w, out=unit, where=out_w > 0)
        unit[out_w == 0] = 0.0
        r = 0.15 + 0.85 * (w.T @ unit)
    np.testing.assert_allclose(got, r, rtol=0, atol=1e-9)


def test_wcc_star_equals_frontier(spark, wiki_edges_df, wiki_vertices_df):
    """The large-star/small-star contraction kernel must produce exactly
    the frontier kernel's components — and in far fewer rounds than the
    graph's diameter-bound frontier iteration count."""
    from linkgraph.algos import wcc_star

    res = wcc_star(spark, wiki_edges_df, vertices=wiki_vertices_df)
    got = _vec(res.state.select("id", "comp"), "comp")
    want = golden("wcc").sort_values("id")["comp"].to_numpy()
    assert (got == want).all()
    assert res.iterations <= 10  # O(log n) contraction, not O(diameter)


def test_wcc_star_random_graphs_match_networkx(spark):
    """Star contraction on adversarial random graphs (long paths + cliques
    + isolated vertices) vs networkx connected components."""
    import networkx as nx
    from linkgraph.algos import wcc_star
    from linkgraph.synth import edges_df

    rng = np.random.default_rng(11)
    n = 300
    edges = []
    # a long path (worst case for frontier, stress for contraction)
    edges += [(i, i + 1) for i in range(0, 80)]
    # random clusters
    for lo in range(100, 280, 30):
        members = rng.integers(lo, lo + 30, size=40)
        edges += [(int(a), int(b)) for a, b in zip(members[:-1], members[1:]) if a != b]
    arr = np.array(edges, dtype=np.int64)
    res = wcc_star(
        spark,
        edges_df(spark, arr),
        vertices=spark.range(n).selectExpr("id"),
    )
    got = {r["id"]: r["comp"] for r in res.state.collect()}
    g = nx.Graph()
    g.add_nodes_from(range(n))
    g.add_edges_from(arr.tolist())
    for comp_nodes in nx.connected_components(g):
        root = min(comp_nodes)
        for v in comp_nodes:
            assert got[v] == root, (v, got[v], root)


def test_hits_matches_numpy_power_iteration(spark, wiki_edges_df, wiki_vertices_df, wiki_edges):
    """Jacobi HITS == inline numpy implementing the same pinned convention
    (L1-normalize previous state, gather both directions from it)."""
    from linkgraph.algos import hits
    from linkgraph.algos.hits import normalized_scores

    iters = 5
    res = hits(spark, wiki_edges_df, vertices=wiki_vertices_df, iters=iters)
    out = normalized_scores(res.state).toPandas().sort_values("id")
    assert out.id.tolist() == list(range(WIKI_VOTE_N))

    n = WIKI_VOTE_N
    a = np.zeros((n, n))
    for s, d in wiki_edges:
        a[s, d] = 1.0
    hub = np.ones(n)
    auth = np.ones(n)
    for _ in range(iters):
        hub_n = hub / hub.sum()
        auth_n = auth / auth.sum()
        auth, hub = a.T @ hub_n, a @ auth_n
    hub /= hub.sum()
    auth /= auth.sum()
    np.testing.assert_allclose(out["hub"].to_numpy(), hub, atol=1e-9)
    np.testing.assert_allclose(out["auth"].to_numpy(), auth, atol=1e-9)


def test_ktruss_matches_networkx(spark, wiki_edges_df, wiki_edges):
    """Fixpoint 4-truss edge set == networkx k_truss on the wiki fixture."""
    import networkx as nx
    from linkgraph.algos.truss import truss

    res = truss(spark, wiki_edges_df, k=4)
    got = {(r["a"], r["b"]) for r in res.state.collect()}

    g = nx.Graph()
    g.add_edges_from(wiki_edges.tolist())
    want = {(min(u, v), max(u, v)) for u, v in nx.k_truss(g, 4).edges}
    assert got == want
    assert len(got) > 0  # fixture has a nontrivial 4-truss


def test_hits_edgeless_graph_yields_zero_scores(spark):
    """On a graph with vertices but no edges, scores gather to 0 and the
    L1 normalization must yield 0 (guarded), never NaN."""
    from linkgraph.algos import hits
    from linkgraph.algos.hits import normalized_scores
    from linkgraph.synth import edges_df

    empty = edges_df(spark, np.empty((0, 2), dtype=np.int64))
    res = hits(spark, empty, vertices=spark.range(5).selectExpr("id"), iters=3)
    out = normalized_scores(res.state).toPandas()
    assert len(out) == 5
    assert (out["hub"] == 0.0).all() and (out["auth"] == 0.0).all()


def test_lp_exact(spark, wiki_edges_df, wiki_vertices_df):
    res = label_propagation(spark, wiki_edges_df, vertices=wiki_vertices_df)
    got = _vec(res.state.select("id", "label"), "label")
    want = golden("labels").sort_values("id")["label"].to_numpy()
    assert (got == want).all()
    # convergence telemetry: every round logs its changed-label count
    # (sync-LP oscillation is invisible at scale without it), and round 1
    # must change at least one label on any non-trivial graph
    assert len(res.metrics) == res.iterations
    assert all("changed_labels" in m for m in res.metrics)
    assert res.metrics[0]["changed_labels"] > 0


def test_lp_frontier_gather_exact_equivalence(spark, wiki_edges_df, wiki_vertices_df):
    """The frontier-restricted gather (update computed only for dsts with
    >= 1 changed neighbor once the changed fraction drops under the gate)
    must be EXACTLY equivalent to the unrestricted kernel — same labels,
    same changed flags, same per-round changed counts — because an
    unchanged neighborhood multiset fixes the argmax. Forced on from
    round 2 (frontier=1.0) vs forced off (frontier=None), 8 rounds, so
    both mid-convergence and settled rounds are covered."""
    full = label_propagation(
        spark, wiki_edges_df, vertices=wiki_vertices_df, iters=8, frontier=None
    )
    fron = label_propagation(
        spark, wiki_edges_df, vertices=wiki_vertices_df, iters=8, frontier=1.0
    )
    a = sorted(map(tuple, full.state.select("id", "label", "changed").collect()))
    b = sorted(map(tuple, fron.state.select("id", "label", "changed").collect()))
    assert a == b
    assert [m["changed_labels"] for m in full.metrics] == [
        m["changed_labels"] for m in fron.metrics
    ]
    # the tail rounds must actually have settled vertices for the frontier
    # to skip — otherwise this test exercises nothing
    assert full.metrics[-1]["changed_labels"] < full.metrics[0]["changed_labels"]


def test_triangles_exact(spark, wiki_edges_df, wiki_vertices_df):
    got = _vec(triangle_counts(spark, wiki_edges_df, vertices=wiki_vertices_df), "tri")
    want = golden("triangles").sort_values("id")["tri"].to_numpy()
    assert (got == want).all()


def test_personalized_pagerank_matches_numpy(spark, wiki_edges_df, wiki_vertices_df, wiki_edges):
    """PPR (teleport restricted to a source set) == inline numpy reference
    implementing the same pinned convention, 8 fixed iterations."""
    sources = [0, 3, 7]
    res = pagerank(
        spark, wiki_edges_df, vertices=wiki_vertices_df, max_iters=8, eps=0.0,
        personalized=sources,
    )
    got = _vec(res.state.select("id", "rank"), "rank")

    from linkgraph.synth import WIKI_VOTE_N

    n = WIKI_VOTE_N
    src, dst = wiki_edges[:, 0], wiki_edges[:, 1]
    out_deg = np.bincount(src, minlength=n).astype(np.float64)
    base = np.zeros(n)
    base[sources] = 0.15
    r = base.copy()
    for _ in range(8):
        contrib = np.zeros(n)
        nz = out_deg[src] > 0
        np.add.at(contrib, dst[nz], r[src[nz]] / out_deg[src[nz]])
        r = base + 0.85 * contrib
    assert np.allclose(got, r, rtol=0, atol=1e-12)


def test_bfs_matches_networkx(spark, wiki_edges_df, wiki_vertices_df, wiki_edges):
    """Directed BFS hop distances from vertex 0 == networkx shortest paths
    (unreached = -1)."""
    import networkx as nx

    from linkgraph.algos import bfs
    from linkgraph.synth import WIKI_VOTE_N

    res = bfs(spark, wiki_edges_df, sources=[0], vertices=wiki_vertices_df)
    got = _vec(res.state.select("id", "dist"), "dist")
    g = nx.DiGraph()
    g.add_nodes_from(range(WIKI_VOTE_N))
    g.add_edges_from(map(tuple, wiki_edges))
    sp = nx.single_source_shortest_path_length(g, 0)
    want = np.array([sp.get(v, -1) for v in range(WIKI_VOTE_N)], dtype=np.int64)
    assert (got == want).all()


def test_kcore_matches_networkx(spark, wiki_edges_df, wiki_vertices_df, wiki_edges):
    """k-core membership + in-core degree == networkx k_core on the
    symmetrized simple graph."""
    import networkx as nx

    from linkgraph.algos import kcore
    from linkgraph.synth import WIKI_VOTE_N

    k = 5
    res = kcore(spark, wiki_edges_df, k=k, vertices=wiki_vertices_df)
    got = (
        res.state.filter("active").select("id", "deg").toPandas().sort_values("id")
    )
    g = nx.Graph()
    g.add_nodes_from(range(WIKI_VOTE_N))
    g.add_edges_from((int(a), int(b)) for a, b in wiki_edges if a != b)
    core = nx.k_core(g, k)
    assert got.id.tolist() == sorted(core.nodes)
    want_deg = {v: d for v, d in core.degree()}
    assert got.set_index("id")["deg"].to_dict() == want_deg


@pytest.mark.slow
def test_hub_stress_vertex_cut(spark):
    """sem kernel with a forced low hub threshold == oracle on the
    hub-heavy fixture (vertex-cut splitting path exercised for real)."""
    from linkgraph.synth import HUB_STRESS_N, edges_df, hub_stress_edges

    arr = hub_stress_edges()
    e = edges_df(spark, arr, partitions=8)
    verts = spark.range(HUB_STRESS_N).selectExpr("id")
    res = pagerank(
        spark, e, vertices=verts, max_iters=5, eps=0.0,
        kernel="sem", partitions=8, hub_threshold=100,
    )
    got = _vec_n(res.state.select("id", "rank"), "rank", HUB_STRESS_N)
    want, _ = oracle.pagerank(arr, HUB_STRESS_N, max_iters=5, eps=0.0)
    # 4000-term float sums at the hub accumulate summation-order noise past
    # 1e-12; 1e-9 is still far inside the 1e-6 acceptance tolerance
    assert np.allclose(got, want, rtol=0, atol=1e-9)


def _vec_n(df, col, n):
    pdf = df.toPandas().sort_values("id")
    assert pdf.id.tolist() == list(range(n))
    return pdf[col].to_numpy()


def test_sem_layout_reuse_skips_rewrite(spark, wiki_edges_df, wiki_vertices_df, tmp_path):
    """reuse_layout consumes a pre-built sem edge image without rewriting
    it (the el2fg build-once pattern): identical ranks, untouched files."""
    import os

    import numpy as np

    layout = str(tmp_path / "sem_image")
    first = pagerank(
        spark, wiki_edges_df, vertices=wiki_vertices_df, max_iters=3, eps=0.0,
        kernel="sem", partitions=8, layout_dir=layout,
    )
    files = {}
    for root, _, names in os.walk(layout):
        for n in names:
            p = os.path.join(root, n)
            files[p] = os.path.getmtime(p)
    assert files, "sem layout was not written"

    second = pagerank(
        spark, wiki_edges_df, vertices=wiki_vertices_df, max_iters=3, eps=0.0,
        kernel="sem", partitions=8, layout_dir=layout, reuse_layout=True,
    )
    for p, mtime in files.items():
        assert os.path.getmtime(p) == mtime, f"layout file rewritten: {p}"
    a = first.state.select("id", "rank").toPandas().sort_values("id")["rank"].to_numpy()
    b = second.state.select("id", "rank").toPandas().sort_values("id")["rank"].to_numpy()
    assert np.allclose(a, b, rtol=0, atol=1e-12)


def test_sem_layout_reuse_refuses_mismatched_image(
    spark, wiki_edges_df, wiki_vertices_df, tmp_path
):
    """A sem image written for different edges (or partitions /
    hub_threshold) must be REFUSED under reuse_layout — consuming it would
    silently mis-route vertex state. The fingerprint manifest beside the
    image enforces this."""
    import pytest
    from pyspark.sql import functions as F

    layout = str(tmp_path / "sem_image_guard")
    pagerank(
        spark, wiki_edges_df, vertices=wiki_vertices_df, max_iters=1, eps=0.0,
        kernel="sem", partitions=8, layout_dir=layout,
    )
    # different partition count, same edges
    with pytest.raises(ValueError, match="different"):
        pagerank(
            spark, wiki_edges_df, vertices=wiki_vertices_df, max_iters=1, eps=0.0,
            kernel="sem", partitions=4, layout_dir=layout, reuse_layout=True,
        )
    # different edge set (one edge dropped), same partitions
    fewer = wiki_edges_df.filter(
        ~((F.col("src_id") == wiki_edges_df.head()["src_id"])
          & (F.col("dst_id") == wiki_edges_df.head()["dst_id"]))
    )
    with pytest.raises(ValueError, match="different"):
        pagerank(
            spark, fewer, vertices=wiki_vertices_df, max_iters=1, eps=0.0,
            kernel="sem", partitions=8, layout_dir=layout, reuse_layout=True,
        )


def test_sem_disk_block_cache_publishes_and_serves(
    spark, wiki_edges_df, wiki_vertices_df, tmp_path
):
    """Manifested sem layouts spill their COMPILED index blocks to the host
    scratch dir (the FlashGraph node-local-image pattern): after a run the
    content-addressed dir holds one complete part dir per edge-bearing
    block; a second run (fresh token, cold in-memory caches) served from
    those mmap'd blocks produces bit-identical ranks; and a damaged block
    dir is dropped + republished rather than poisoning the cache."""
    import os
    import shutil

    from linkgraph.algos.pagerank import (
        _SEM_BLOCK_NAMES,
        _sem_disk_key,
        _sem_disk_root,
    )
    from linkgraph.build import edge_fingerprint, gather_layout

    layout = str(tmp_path / "sem_image_disk")
    first = pagerank(
        spark, wiki_edges_df, vertices=wiki_vertices_df, max_iters=3, eps=0.0,
        kernel="sem", partitions=8, layout_dir=layout,
    )
    # reconstruct the content address exactly as _make_sem_step does: the
    # fingerprint is taken over the gather_layout'd edge cache (count +
    # order-insensitive checksum — partitioning-invariant, so computing it
    # on a fresh layout here matches)
    laid = gather_layout(wiki_edges_df, 8)
    try:
        n, chk = edge_fingerprint(laid)
    finally:
        laid.unpersist()
    from linkgraph.conventions import HUB_OUTDEG_THRESHOLD

    disk_dir = os.path.join(
        _sem_disk_root(),
        _sem_disk_key(
            layout,
            {
                "partitions": 8,
                "hub_threshold": int(HUB_OUTDEG_THRESHOLD),
                "edges": n,
                "checksum": chk,
            },
        ),
    )
    part_dirs = sorted(
        d for d in os.listdir(disk_dir) if d.startswith("part") and ".tmp" not in d
    )
    assert part_dirs, f"no compiled blocks published under {disk_dir}"
    for d in part_dirs:
        names = set(os.listdir(os.path.join(disk_dir, d)))
        assert names == {f"{c}.npy" for c in _SEM_BLOCK_NAMES}, (d, names)

    # damage one published block: the loader must drop + rebuild it
    victim = os.path.join(disk_dir, part_dirs[0])
    os.remove(os.path.join(victim, "src_uniq.npy"))

    second = pagerank(
        spark, wiki_edges_df, vertices=wiki_vertices_df, max_iters=3, eps=0.0,
        kernel="sem", partitions=8, layout_dir=layout, reuse_layout=True,
    )
    a = first.state.select("id", "rank").toPandas().sort_values("id")["rank"].to_numpy()
    b = second.state.select("id", "rank").toPandas().sort_values("id")["rank"].to_numpy()
    assert np.allclose(a, b, rtol=0, atol=1e-12)
    assert os.path.isdir(victim), "damaged block was not republished"
    assert os.path.exists(os.path.join(victim, "src_uniq.npy"))
    shutil.rmtree(disk_dir, ignore_errors=True)  # keep the shared scratch tidy


def test_sem_disk_root_refuses_squatted_paths(tmp_path, monkeypatch):
    """The scratch root lives at a PREDICTABLE /tmp path, so creation must
    refuse anything another principal could have pre-planted there: a
    symlink (redirects our .npy reads/writes into attacker territory), a
    foreign-owned dir, or an open mode it can't fix. Refusal = OSError,
    which every store/load call site treats as store-disabled."""
    import os
    import tempfile

    from linkgraph.algos.pagerank import _sem_disk_root

    monkeypatch.setattr(tempfile, "gettempdir", lambda: str(tmp_path))
    uid = os.getuid()
    name = f"linkgraph_sem_blocks-u{uid}"

    # symlink squat: refuse
    target = tmp_path / "elsewhere"
    target.mkdir()
    os.symlink(target, tmp_path / name)
    with pytest.raises(OSError, match="not a directory"):
        _sem_disk_root()
    os.unlink(tmp_path / name)

    # world-writable pre-created dir: chmod'd back to 0700, then usable
    (tmp_path / name).mkdir(mode=0o777)
    os.chmod(tmp_path / name, 0o777)  # mkdir mode is masked by umask
    root = _sem_disk_root()
    assert os.stat(root).st_mode & 0o777 == 0o700

    # foreign-owned dir: refuse (simulated — the sandbox runs single-uid,
    # so fake "our" uid instead of the dir's owner)
    monkeypatch.setattr(os, "getuid", lambda: uid + 54321)
    with pytest.raises(OSError, match="owned by uid"):
        _sem_disk_root()


def test_sem_disk_ttl_refresh_and_sweep_once(tmp_path, monkeypatch):
    """(a) A successful block load utimes its cache dir, so actively-read
    images never age past the TTL sweep (build-once images outlive 7 days
    by design); (b) finding the block already published also refreshes it;
    (c) the orphan sweep runs at most once per (worker, disk_key) — not
    once per partition built."""
    import os
    import sys
    import tempfile
    import time

    from linkgraph.algos.pagerank import (
        _SEM_BLOCK_NAMES,
        _SEM_DISK_TTL_SEC,
        _disk_block_load,
        _disk_block_store,
    )

    prmod = sys.modules["linkgraph.algos.pagerank"]
    monkeypatch.setattr(tempfile, "gettempdir", lambda: str(tmp_path))
    monkeypatch.setattr(prmod, "_SEM_SWEPT", set())
    blk = (
        np.array([1, 2], dtype=np.int64),
        np.array([0, 1], dtype=np.int32),
        np.array([3], dtype=np.int64),
        np.array([0, 0], dtype=np.int32),
    )
    key = "aaaaaaaaaaaa-bbbbbbbbbbbb"
    _disk_block_store(key, 0, blk)
    cache_dir = os.path.join(str(tmp_path), f"linkgraph_sem_blocks-u{os.getuid()}", key)
    assert os.path.isdir(os.path.join(cache_dir, "part0"))

    old = time.time() - _SEM_DISK_TTL_SEC - 60
    os.utime(cache_dir, (old, old))
    got = _disk_block_load(key, 0)
    assert got is not None and len(got) == len(_SEM_BLOCK_NAMES)
    assert os.path.getmtime(cache_dir) > old + _SEM_DISK_TTL_SEC / 2, (
        "load did not refresh the TTL mtime"
    )

    # re-store of an already-published block refreshes too
    os.utime(cache_dir, (old, old))
    _disk_block_store(key, 0, blk)
    assert os.path.getmtime(cache_dir) > old + _SEM_DISK_TTL_SEC / 2

    # sweep-once: first store for the key reclaims an expired orphan...
    root = os.path.dirname(cache_dir)
    orphan1 = os.path.join(root, "cccccccccccc-dddddddddddd")
    os.makedirs(orphan1)
    os.utime(orphan1, (old, old))
    monkeypatch.setattr(prmod, "_SEM_SWEPT", set())
    _disk_block_store(key, 1, blk)
    assert not os.path.isdir(orphan1), "expired orphan not swept on first store"
    # ...but later stores for the SAME key skip the sweep entirely
    orphan2 = os.path.join(root, "eeeeeeeeeeee-ffffffffffff")
    os.makedirs(orphan2)
    os.utime(orphan2, (old, old))
    _disk_block_store(key, 2, blk)
    assert os.path.isdir(orphan2), "sweep ran again for the same (worker, key)"


def test_pagerank_warm_start_converges_faster_same_fixpoint(
    spark, wiki_edges_df, wiki_vertices_df
):
    """Warm-starting from a previous result on a perturbed graph (the
    incremental-crawl pattern: streaming ingest updated some edges)
    converges in fewer supersteps and reaches the SAME fixpoint — the
    fixpoint is unique for fixed (graph, d), the seed only moves the
    start point."""
    import numpy as np
    from pyspark.sql import functions as F

    eps = 1e-9
    base = pagerank(spark, wiki_edges_df, vertices=wiki_vertices_df, eps=eps, max_iters=200)

    # perturb: drop a 5% slice of edges (deterministic hash-based slice)
    perturbed = wiki_edges_df.filter(
        F.pmod(F.xxhash64("src_id", "dst_id"), F.lit(20)) != 0
    )
    cold = pagerank(spark, perturbed, vertices=wiki_vertices_df, eps=eps, max_iters=200)
    warm = pagerank(
        spark, perturbed, vertices=wiki_vertices_df, eps=eps, max_iters=200,
        init_ranks=base.state.select("id", "rank"),
    )
    assert warm.iterations < cold.iterations, (
        f"warm start took {warm.iterations} iters vs cold {cold.iterations}"
    )
    a = _vec(cold.state.select("id", "rank"), "rank")
    b = _vec(warm.state.select("id", "rank"), "rank")
    # both stopped at max|Δ| < eps; the stop criterion bounds distance to
    # the fixpoint only up to a graph-dependent factor (≈ d/(1-d) per run),
    # so the equivalence tolerance gets two orders of slack — still far
    # below the 1e-6 acceptance tolerance
    assert np.allclose(a, b, rtol=0, atol=100 * eps)

    # a DUPLICATED seed row must not duplicate vertex state (which would
    # double-count that vertex's contribution in every gather): seeding
    # from the result unioned with itself ≡ seeding from the result
    seed = base.state.select("id", "rank")
    w1 = pagerank(
        spark, perturbed, vertices=wiki_vertices_df, max_iters=3, eps=0.0,
        init_ranks=seed,
    )
    w2 = pagerank(
        spark, perturbed, vertices=wiki_vertices_df, max_iters=3, eps=0.0,
        init_ranks=seed.unionByName(seed),
    )
    assert w2.state.count() == w1.state.count()
    assert np.allclose(
        _vec(w1.state.select("id", "rank"), "rank"),
        _vec(w2.state.select("id", "rank"), "rank"),
        rtol=0, atol=1e-12,
    )


def test_pagerank_delta_theta0_equals_power_iteration(
    spark, wiki_edges_df, wiki_vertices_df
):
    """V4 delta/frontier with θ=0 ≡ V1 power iteration within 1e-12 on a
    fixed 15-iteration run — the algebraic identity Δ_k = r_k − r_{k-1}
    makes push-the-change exactly power iteration when nothing is
    deactivated."""
    from linkgraph.algos import pagerank_delta

    sql_r = pagerank(
        spark, wiki_edges_df, vertices=wiki_vertices_df, max_iters=15, eps=0.0
    )
    dlt_r = pagerank_delta(
        spark, wiki_edges_df, vertices=wiki_vertices_df, max_iters=15, threshold=0.0
    )
    a = _vec(sql_r.state.select("id", "rank"), "rank")
    b = _vec(dlt_r.state.select("id", "rank"), "rank")
    assert np.allclose(a, b, rtol=0, atol=1e-12)


def test_pagerank_delta_sem_equals_sql_delta(
    spark, wiki_edges_df, wiki_vertices_df, tmp_path
):
    """V4 on the semi-external kernel (active pushes across Arrow, CSR
    slicing of active adjacency ranges, incl. the forced vertex-cut path)
    ≡ V4 sql ≡ V1 within 1e-12 at θ=0, and golden-band at θ=1e-9 with a
    self-terminating frontier."""
    from linkgraph.algos import pagerank_delta

    sql_r = pagerank(
        spark, wiki_edges_df, vertices=wiki_vertices_df, max_iters=15, eps=0.0
    )
    sem_r = pagerank_delta(
        spark, wiki_edges_df, vertices=wiki_vertices_df, max_iters=15,
        threshold=0.0, kernel="sem", partitions=8, hub_threshold=50,
        layout_dir=str(tmp_path / "sem_layout"),
    )
    a = _vec(sql_r.state.select("id", "rank"), "rank")
    b = _vec(sem_r.state.select("id", "rank"), "rank")
    assert np.allclose(a, b, rtol=0, atol=1e-12)

    conv = pagerank_delta(
        spark, wiki_edges_df, vertices=wiki_vertices_df, threshold=1e-9,
        max_iters=300, kernel="sem", partitions=8, hub_threshold=50,
    )
    got = _vec(conv.state.select("id", "rank"), "rank")
    want = golden("pagerank").sort_values("id")["rank"].to_numpy()
    assert np.allclose(got, want, rtol=0, atol=1e-6)
    assert conv.iterations < 300
    actives = [int(m["active"]) for m in conv.metrics if "active" in m]
    assert actives[-1] == 0 and actives[-2] < actives[0]


def test_pagerank_delta_frontier_shrinks_and_hits_golden(
    spark, wiki_edges_df, wiki_vertices_df
):
    """θ=1e-9 convergence run: (a) ranks within the 1e-6 acceptance band
    of the committed golden (dropped-mass bound holds in practice), (b)
    the active frontier SHRINKS — the whole point of the kernel: tail
    supersteps gather only the unconverged vertices' out-edges — and (c)
    the run self-terminates on an empty frontier before max_iters."""
    from linkgraph.algos import pagerank_delta

    res = pagerank_delta(
        spark, wiki_edges_df, vertices=wiki_vertices_df,
        threshold=1e-9, max_iters=300,
    )
    got = _vec(res.state.select("id", "rank"), "rank")
    want = golden("pagerank").sort_values("id")["rank"].to_numpy()
    assert np.allclose(got, want, rtol=0, atol=1e-6)
    assert res.iterations < 300  # self-terminated on empty frontier
    actives = [int(m["active"]) for m in res.metrics if "active" in m]
    assert actives[-1] == 0
    assert actives[-2] < actives[0]  # the frontier actually shrank


def test_wcc_warm_start_exact_on_grown_graph(spark, wiki_edges_df, wiki_vertices_df):
    """``init_comps`` from a WCC run on a SUBGRAPH: warm-started WCC on
    the grown graph returns exactly the cold labels (grow-only soundness —
    every seed label is the id of a vertex in the same, possibly merged,
    component) in no more rounds, and duplicate seed rows don't duplicate
    state."""
    import numpy as np
    from pyspark.sql import functions as F

    sub = wiki_edges_df.filter(
        F.pmod(F.xxhash64("src_id", "dst_id"), F.lit(10)) != 0
    )
    base = wcc(spark, sub, vertices=wiki_vertices_df)
    seeds = base.state.select("id", "comp")

    cold = wcc(spark, wiki_edges_df, vertices=wiki_vertices_df)
    warm = wcc(spark, wiki_edges_df, vertices=wiki_vertices_df, init_comps=seeds)
    a = _vec(cold.state.select("id", "comp"), "comp")
    b = _vec(warm.state.select("id", "comp"), "comp")
    assert np.array_equal(a, b)
    assert warm.iterations <= cold.iterations

    dup = wcc(
        spark, wiki_edges_df, vertices=wiki_vertices_df,
        init_comps=seeds.unionByName(seeds),
    )
    assert dup.state.count() == warm.state.count()
    assert np.array_equal(_vec(dup.state.select("id", "comp"), "comp"), b)

    # frontier-restricted warm start: only the ADDED edges' endpoints send
    # in superstep 1 (sound because the seed is the old-graph fixpoint);
    # labels must still be exactly the cold labels
    added = wiki_edges_df.join(sub, ["src_id", "dst_id"], "left_anti")
    frontier = (
        added.select(F.col("src_id").alias("id"))
        .unionByName(added.select(F.col("dst_id").alias("id")))
    )
    fast = wcc(
        spark, wiki_edges_df, vertices=wiki_vertices_df,
        init_comps=seeds, init_frontier=frontier,
    )
    assert np.array_equal(_vec(fast.state.select("id", "comp"), "comp"), b)

    # a frontier without a converged seed is meaningless -- refused
    with pytest.raises(ValueError, match="init_frontier"):
        wcc(spark, wiki_edges_df, init_frontier=frontier)


def test_wcc_salted_equals_plain(spark, wiki_edges_df, wiki_vertices_df):
    """Hybrid salted MIN combine ≡ plain WCC (exact) — hub_threshold forced
    low so the fixture has a non-empty hot set and BOTH paths execute."""
    plain = wcc(spark, wiki_edges_df, vertices=wiki_vertices_df)
    salted = wcc(
        spark, wiki_edges_df, vertices=wiki_vertices_df, salted=True, hub_threshold=20
    )
    a = _vec(plain.state.select("id", "comp"), "comp")
    b = _vec(salted.state.select("id", "comp"), "comp")
    assert (a == b).all()


def test_triangle_counts_delta_matches_batch_difference(spark, wiki_edges_df):
    """Incremental triangle kernel: per-vertex NEW-triangle counts from
    adding a 10% edge slice == batch(full) − batch(subgraph), per vertex
    (the exactly-once case enumeration over D-driven wedge joins)."""
    from pyspark.sql import functions as F

    from linkgraph.algos.triangles import (
        _canonical_undirected,
        triangle_counts_delta,
    )

    old_edges = wiki_edges_df.filter(
        F.pmod(F.xxhash64("src_id", "dst_id"), F.lit(10)) != 0
    )
    old_und = _canonical_undirected(old_edges)
    full_und = _canonical_undirected(wiki_edges_df)
    delta = full_und.join(old_und, ["a", "b"], "left_anti")
    assert delta.count() > 0  # the slice actually removed undirected edges

    got = {
        r["id"]: r["tri"]
        for r in triangle_counts_delta(spark, old_und, delta).collect()
    }
    full = {r["id"]: r["tri"] for r in triangle_counts(spark, wiki_edges_df).collect()}
    old = {r["id"]: r["tri"] for r in triangle_counts(spark, old_edges).collect()}
    want = {
        v: full[v] - old.get(v, 0) for v in full if full[v] - old.get(v, 0) > 0
    }
    assert got == want and len(want) > 0


def test_salted_agg_duplicate_hot_keys_not_double_counted(spark):
    """A duplicated key row in ``hot_keys`` must not multiply that key's
    input rows through the broadcast join (which would silently double
    its sum) — the hot set is deduped inside salted_agg."""
    from pyspark.sql import functions as F

    from linkgraph.skew import salted_agg

    df = spark.createDataFrame(
        [(42, 1.0)] * 10 + [(7, 2.0)] * 3, "dst_id long, contrib double"
    )
    dup_hot = spark.createDataFrame([(42,), (42,), (42,)], "dst_id long")
    out = {
        r["dst_id"]: r["contrib"]
        for r in salted_agg(
            df, key="dst_id", value="contrib", agg="sum", hot_keys=dup_hot
        ).collect()
    }
    assert out == {42: 10.0, 7: 6.0}
