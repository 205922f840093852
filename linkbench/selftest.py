"""Self-tests of the benchmark itself.

    python3 linkbench/selftest.py          # everything (about three minutes)
    python3 linkbench/selftest.py checks   # the numpy checks only (seconds)

- ``checks``: each numpy replica agrees with a brute-force count on small
  random graphs, and each check rejects a deliberately wrong output (one
  rank moved past tolerance, two component labels swapped, one triangle
  count off by one, one edge dropped) while accepting the right one.
- ``tiny``: every workload runs end to end on tiny inputs through the
  real command and every pass passes its checks. Each tiny run doubles
  as the hygiene test: afterwards no process the run started is alive,
  and the run left nothing in /tmp, /dev/shm/spark-local,
  spark-warehouse/ or its own run directory.

Exits 0 when all pass.
"""

from __future__ import annotations

import itertools
import json
import os
import subprocess
import sys
import uuid

import numpy as np

import inputs
import reference as ref

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _random_graph(rng, n: int, m: int) -> np.ndarray:
    e = rng.integers(0, n, size=(m, 2))
    return np.unique(e[e[:, 0] != e[:, 1]], axis=0)


def _brute_force(g: ref.Graph):
    """Plain-Python components, label propagation and triangles."""
    nbrs = [set() for _ in range(g.n)]
    for s, d in zip(g.src.tolist(), g.dst.tolist()):
        if s != d:
            nbrs[s].add(d)
            nbrs[d].add(s)
    comp = list(range(g.n))
    for v in range(g.n):  # BFS from each unlabelled vertex, smallest first
        if comp[v] != v:
            continue
        todo = [v]
        while todo:
            u = todo.pop()
            for w in nbrs[u]:
                if comp[w] > v:
                    comp[w] = v
                    todo.append(w)
    label = list(range(g.n))
    for _ in range(4):
        new = label[:]
        for v in range(g.n):
            if nbrs[v]:
                counts: dict[int, int] = {}
                for w in nbrs[v]:
                    counts[label[w]] = counts.get(label[w], 0) + 1
                new[v] = min(counts, key=lambda lab: (-counts[lab], lab))
        label = new
    tri = [sum(1 for a, b in itertools.combinations(sorted(nbrs[v]), 2) if b in nbrs[a])
           for v in range(g.n)]
    return g.ids[comp], g.ids[label], np.array(tri)


def test_checks() -> None:
    rng = np.random.default_rng(7)
    for n, m in ((12, 20), (40, 90), (60, 400)):
        g = ref.Graph(_random_graph(rng, n, m))
        comp, label, tri = _brute_force(g)
        assert np.array_equal(ref.min_label_components(g), comp), "WCC replica"
        assert np.array_equal(ref.label_propagation(g, 4), label), "LP replica"
        assert np.array_equal(ref.triangle_counts(g), tri), "triangle replica"

    # PageRank: power iteration and the delta bound
    g = ref.Graph(inputs.powerlaw_digraph(5, 2_000, 15_000, 0.5))
    expected = ref.power_iteration(g, 4)
    assert ref.check_ranks(g, g.ids, expected, expected, 1e-9, "pr") == []
    moved = expected.copy()
    moved[17] *= 1 + 3e-9
    assert ref.check_ranks(g, g.ids, moved, expected, 1e-9, "pr"), "moved rank accepted"
    fix = ref.fixpoint(g)
    assert ref.check_delta(g, g.ids, fix, 0, 10, 1e-4, fix) == []
    moved = fix.copy()
    moved[3] *= 1 + 1e-4 * 10 / 0.15 * 1.01
    assert ref.check_delta(g, g.ids, moved, 0, 10, 1e-4, fix), "rank past θ·R/(1-d) accepted"
    assert ref.check_delta(g, g.ids, fix, 1, 10, 1e-4, fix), "non-empty last frontier accepted"
    low = fix.copy()
    low[0] = 0.1
    assert ref.check_delta(g, g.ids, low, 0, 10, 1e-4, fix), "rank below 1 - d accepted"
    assert ref.check_ranks(g, g.ids[1:], fix[1:], fix, 1e-9, "pr"), "missing vertex accepted"

    # crawl: edges, components, labels, triangles
    crawl = inputs.crawl_pages(5, 400, 8, 0.2)
    g = ref.Graph(crawl.edges, np.arange(len(crawl.urls)))
    assert ref.check_edges(crawl.edges, crawl.edges) == []
    assert ref.check_edges(crawl.edges[1:], crawl.edges), "dropped edge accepted"
    assert ref.check_edges(np.vstack([crawl.edges, crawl.edges[:1]]), crawl.edges), \
        "duplicated edge accepted"
    comp = ref.min_label_components(g)
    assert ref.check_exact(g, g.ids, comp, comp, "wcc") == []
    a = int(np.argmax(comp != comp[0]))  # a vertex outside vertex 0's component
    swapped = comp.copy()
    swapped[0], swapped[a] = comp[a], comp[0]
    assert ref.check_exact(g, g.ids, swapped, comp, "wcc"), "swapped labels accepted"
    tri = ref.triangle_counts(g)
    assert ref.check_triangles(g, g.ids, tri, tri) == []
    off = tri.copy()
    off[int(np.argmax(tri))] += 1
    assert ref.check_triangles(g, g.ids, off, tri), "triangle count off by one accepted"

    # the crawl generator's recorded edges follow its own urls' sorted order
    assert crawl.urls == sorted(crawl.urls)
    assert crawl.edges[:, 0].max() < len(crawl.urls)
    print("checks: ok")


_TINY = """
import sys
sys.path.insert(0, {here!r})
import run
run.PR_GRAPH = dict(n_vertices=3000, n_edges=20000, dangling_frac=0.6)
run.CRAWL = dict(n_pages=300, n_sites=8, hub_share=0.2)
sys.exit(run.main(["--workload", {workload!r}, "--seed", "11", "--seconds", "0"]))
"""


def _marked_pids(marker: str) -> list[int]:
    out = []
    for name in os.listdir("/proc"):
        if not name.isdigit() or int(name) == os.getpid():
            continue
        try:
            with open(f"/proc/{name}/environ", "rb") as f:
                if marker.encode() in f.read():
                    out.append(int(name))
        except OSError:
            pass
    return out


def _listing(path: str) -> set[str]:
    try:
        return set(os.listdir(path))
    except OSError:
        return set()


# what Spark, the JVM, py4j and linkgraph name their temp files
_TEMP_PREFIXES = ("spark", "blockmgr", "linkgraph", "hsperfdata", "py4j", "pyspark",
                  "tmp", "snappy", "liblz4", "zstd", "libnetty")


def test_tiny_runs() -> None:
    watched = ("/tmp", "/dev/shm/spark-local", os.path.join(ROOT, "spark-warehouse"),
               "/tmp/hsperfdata_" + os.environ.get("USER", "root"))
    for workload in ("pagerank", "crawl-components"):
        before = {p: _listing(p) for p in watched}
        marker = f"LINKBENCH_SELFTEST={uuid.uuid4().hex}"
        env = dict(os.environ, LINKBENCH_SELFTEST=marker.split("=", 1)[1])
        proc = subprocess.run(
            [sys.executable, "-c", _TINY.format(here=HERE, workload=workload)],
            cwd=ROOT, env=env, capture_output=True, text=True, timeout=600,
        )
        if proc.returncode != 0:
            sys.stderr.write(proc.stderr[-4000:])
            raise AssertionError(f"{workload}: tiny run exited {proc.returncode}")
        result = json.loads(proc.stdout.strip().splitlines()[-1])
        assert result["correct"] and result["failed"] == 0, f"{workload}: {result}"
        assert result["attempted"] >= 2, f"{workload}: {result}"
        alive = _marked_pids(marker)
        assert not alive, f"{workload}: processes outlived the run: {alive}"
        for path in watched:
            new = [n for n in _listing(path) - before[path]
                   if path != "/tmp" or n.startswith(_TEMP_PREFIXES)]
            assert not new, f"{workload}: left {new} in {path}"
        assert not os.path.exists(os.path.join(HERE, ".runs")), f"{workload}: run directory left"
        print(f"tiny {workload}: ok ({result['attempted']} passes, "
              f"solve_s {result['metrics']['solve_s']['value']:.2f})")


def main(argv: list[str]) -> int:
    which = argv[1:] or ["checks", "tiny"]
    if "checks" in which:
        test_checks()
    if "tiny" in which:
        test_tiny_runs()
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
