"""Output checks made without linkgraph: numpy replicas of each program.

Every check takes the program's output as plain numpy arrays and returns a
list of problems (empty when the output is right), so a caller can count a
pass as failed and say why. Conventions follow linkgraph's documented
ones: PageRank with d = 0.85, r0 = 1 - d and dangling vertices sending
nothing; WCC labels = smallest vertex id in the component; synchronous
label propagation over distinct undirected neighbours, ties to the
smallest label, vertices without neighbours keeping theirs; per-vertex
undirected triangle counts.
"""

from __future__ import annotations

import numpy as np

DAMPING = 0.85


class Graph:
    """A directed edge list re-indexed onto 0..n-1 (``ids[k]`` is vertex k)."""

    def __init__(self, edges: np.ndarray, ids: np.ndarray | None = None):
        self.ids = np.unique(edges) if ids is None else np.asarray(ids, dtype=np.int64)
        self.n = len(self.ids)
        self.src = np.searchsorted(self.ids, edges[:, 0])
        self.dst = np.searchsorted(self.ids, edges[:, 1])
        self.out_deg = np.bincount(self.src, minlength=self.n)

    def undirected(self) -> tuple[np.ndarray, np.ndarray]:
        """Distinct undirected pairs (a, b), a < b, self-loops removed."""
        a = np.minimum(self.src, self.dst)
        b = np.maximum(self.src, self.dst)
        keep = a != b
        key = np.unique(a[keep] * self.n + b[keep])
        return key // self.n, key % self.n


def align(g: Graph, ids: np.ndarray, values: np.ndarray) -> np.ndarray | None:
    """Values reordered onto ``g.ids``; None when the id sets differ."""
    ids = np.asarray(ids, dtype=np.int64)
    if len(ids) != g.n:
        return None
    order = np.argsort(ids)
    if not np.array_equal(ids[order], g.ids):
        return None
    return np.asarray(values)[order]


# ---------------------------------------------------------------- PageRank

def _push(g: Graph, rank: np.ndarray) -> np.ndarray:
    send = g.out_deg > 0
    contrib = np.zeros(g.n)
    contrib[send] = rank[send] / g.out_deg[send]
    return np.bincount(g.dst, weights=contrib[g.src], minlength=g.n)


def power_iteration(g: Graph, supersteps: int) -> np.ndarray:
    rank = np.full(g.n, 1.0 - DAMPING)
    for _ in range(supersteps):
        rank = (1.0 - DAMPING) + DAMPING * _push(g, rank)
    return rank


def fixpoint(g: Graph, tol: float = 1e-12, max_iters: int = 10_000) -> np.ndarray:
    rank = np.full(g.n, 1.0 - DAMPING)
    for _ in range(max_iters):
        new = (1.0 - DAMPING) + DAMPING * _push(g, rank)
        if np.max(np.abs(new - rank)) < tol:
            return new
        rank = new
    raise RuntimeError("numpy PageRank fixpoint did not converge")


def check_ranks(g: Graph, ids, ranks, expected: np.ndarray, rel_tol: float, label: str) -> list[str]:
    got = align(g, ids, ranks)
    if got is None:
        return [f"{label}: vertex ids differ from the input graph's"]
    err = np.abs(got - expected) / np.abs(expected)
    worst = int(np.argmax(err))
    if err[worst] > rel_tol:
        return [
            f"{label}: vertex {g.ids[worst]} rank {got[worst]!r} vs {expected[worst]!r} "
            f"(relative error {err[worst]:.3g} > {rel_tol:.3g})"
        ]
    return []


def check_delta(g: Graph, ids, ranks, active_last: int, supersteps: int, theta: float,
                expected: np.ndarray) -> list[str]:
    """Delta PageRank: ranks never below 1 - d, an empty last frontier, and
    every rank within the kernel's relative error bound θ·R/(1 - d)."""
    problems = []
    got = align(g, ids, ranks)
    if got is None:
        return ["pr_delta: vertex ids differ from the input graph's"]
    if np.min(got) < 1.0 - DAMPING:
        problems.append(f"pr_delta: rank {np.min(got)!r} below 1 - d")
    if active_last != 0:
        problems.append(f"pr_delta: last superstep left {active_last} active vertices")
    bound = theta * supersteps / (1.0 - DAMPING)
    problems += check_ranks(g, ids, ranks, expected, bound, "pr_delta")
    return problems


# --------------------------------------------------------- components etc.

def min_label_components(g: Graph) -> np.ndarray:
    """Smallest vertex id per weakly connected component (on g.ids)."""
    a, b = g.undirected()
    comp = np.arange(g.n)
    while True:
        new = comp.copy()
        np.minimum.at(new, a, comp[b])
        np.minimum.at(new, b, comp[a])
        new = new[new]  # pointer jumping: follow labels to their own labels
        if np.array_equal(new, comp):
            return g.ids[comp]
        comp = new


def label_propagation(g: Graph, iters: int) -> np.ndarray:
    a, b = g.undirected()
    dst = np.concatenate([a, b])
    src = np.concatenate([b, a])
    label = np.arange(g.n, dtype=np.int64)  # index space; ids are sorted
    for _ in range(iters):
        key, cnt = np.unique(dst * g.n + label[src], return_counts=True)
        d, lab = key // g.n, key % g.n
        order = np.lexsort((lab, -cnt, d))  # per dst: highest count, then smallest label
        d, lab = d[order], lab[order]
        first = np.ones(len(d), dtype=bool)
        first[1:] = d[1:] != d[:-1]
        new = label.copy()
        new[d[first]] = lab[first]
        label = new
    return g.ids[label]


def triangle_counts(g: Graph) -> np.ndarray:
    """Per-vertex triangles via degree-ordered orientation and a wedge scan."""
    a, b = g.undirected()
    deg = np.bincount(np.concatenate([a, b]), minlength=g.n)
    rank = np.empty(g.n, dtype=np.int64)
    rank[np.lexsort((np.arange(g.n), deg))] = np.arange(g.n)
    lo = np.where(rank[a] < rank[b], a, b)
    hi = np.where(rank[a] < rank[b], b, a)
    order = np.lexsort((rank[hi], lo))
    lo, hi = lo[order], hi[order]
    starts = np.searchsorted(lo, np.arange(g.n))
    deg_out = np.bincount(lo, minlength=g.n)
    # wedge (u; v, w): every pair of u's oriented out-neighbours, v before w
    pos = np.arange(len(lo))
    later = deg_out[lo] - (pos - starts[lo]) - 1
    first = np.repeat(pos, later)
    second = first + 1 + np.arange(len(first)) - np.repeat(np.cumsum(later) - later, later)
    u, v, w = lo[first], hi[first], hi[second]
    keys = v * g.n + w
    edge_keys = np.sort(lo * g.n + hi)
    at = np.minimum(np.searchsorted(edge_keys, keys), len(edge_keys) - 1)
    closed = edge_keys[at] == keys if len(edge_keys) else np.zeros(0, dtype=bool)
    tri = sum(np.bincount(x[closed], minlength=g.n) for x in (u, v, w))
    return tri


def check_exact(g: Graph, ids, values, expected: np.ndarray, label: str) -> list[str]:
    got = align(g, ids, values)
    if got is None:
        return [f"{label}: vertex ids differ from the built graph's"]
    bad = np.nonzero(got != expected)[0]
    if len(bad):
        k = bad[0]
        return [f"{label}: {len(bad)} vertices differ, e.g. vertex {g.ids[k]}: "
                f"{got[k]} vs {expected[k]}"]
    return []


def check_triangles(g: Graph, ids, tri, expected: np.ndarray) -> list[str]:
    problems = check_exact(g, ids, tri, expected, "tc")
    total = int(np.sum(tri))
    if total % 3:
        problems.append(f"tc: triangle counts sum to {total}, not a multiple of 3")
    return problems


def check_edges(got: np.ndarray, expected: np.ndarray) -> list[str]:
    got = np.asarray(got, dtype=np.int64).reshape(-1, 2)
    got = got[np.lexsort((got[:, 1], got[:, 0]))]  # duplicates stay visible
    if got.shape == expected.shape and np.array_equal(got, expected):
        return []
    g = {tuple(e) for e in got.tolist()}
    x = {tuple(e) for e in expected.tolist()}
    return [f"build: {len(got)} edges vs {len(expected)} expected; "
            f"{len(x - g)} missing, e.g. {sorted(x - g)[:1]}, "
            f"{len(g - x)} unexpected, e.g. {sorted(g - x)[:1]}"]
