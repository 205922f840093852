"""Seeded inputs for the linkgraph benchmark.

Everything here is the benchmark's own code: no generator of the program
under test is used, so a change to the program cannot change the
workload. Each generator is a pure function of its arguments (one
``numpy.random.Generator`` per call, seeded from the workload seed), so
the same seed gives byte-identical tables.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# mixed into every seed so a workload seed never collides with another
# generator's stream that happens to use the same small integer
_SALT = 0x6C6B6265


def _zipf_weights(n: int, exponent: float) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1, dtype=np.float64) ** exponent
    return w / w.sum()


# Zipf exponents of out-link (source) and in-link (destination) popularity
OUT_EXPONENT = 0.6
IN_EXPONENT = 0.9


def powerlaw_digraph(seed: int, n_vertices: int, n_edges: int, dangling_frac: float) -> np.ndarray:
    """Directed power-law graph as a sorted, deduplicated (E, 2) int64 array.

    Like a crawl's link graph, a share ``dangling_frac`` of the vertices
    has no out-links (pages found but not fetched); sources draw from the
    rest with Zipf(OUT_EXPONENT) popularity, destinations from every
    vertex with Zipf(IN_EXPONENT), each over its own random
    permutation of the ids. Self-loops are dropped and parallel edges
    merged, so the result holds slightly fewer than ``n_edges`` rows.

    The link structure depends on the sizes only; the seed relabels the
    vertices with a seeded permutation. Every seed therefore gives an
    isomorphic graph, and a delta run takes the same number of supersteps
    to empty its frontier (on independent structures it ranged over 10-13,
    which alone spread a pass's time by about 10 %), while ids, hash
    placement and file contents still differ from seed to seed.
    """
    rng = np.random.default_rng([_SALT, n_vertices, n_edges])
    n_src = int(n_vertices * (1.0 - dangling_frac))
    crawled = rng.permutation(n_vertices)[:n_src]
    dst_order = rng.permutation(n_vertices)
    src = crawled[rng.choice(n_src, size=n_edges, p=_zipf_weights(n_src, OUT_EXPONENT))]
    dst = dst_order[rng.choice(n_vertices, size=n_edges, p=_zipf_weights(n_vertices, IN_EXPONENT))]
    keep = src != dst
    relabel = np.random.default_rng([_SALT, seed, 1]).permutation(n_vertices)
    pairs = np.stack([relabel[src[keep]], relabel[dst[keep]]], axis=1).astype(np.int64)
    return np.unique(pairs, axis=0)


def write_edges(edges: np.ndarray, path: str, files: int) -> None:
    """Edge table ``(src_id long, dst_id long)`` as ``files`` parquet files."""
    os.makedirs(path, exist_ok=True)
    order = np.random.default_rng([_SALT, len(edges)]).permutation(len(edges))
    for k, chunk in enumerate(np.array_split(order, files)):
        table = pa.table(
            {
                "src_id": pa.array(edges[chunk, 0], pa.int64()),
                "dst_id": pa.array(edges[chunk, 1], pa.int64()),
            }
        )
        pq.write_table(table, os.path.join(path, f"part-{k:05d}.parquet"))


# ------------------------------------------------------------ crawl pages

_BASE_TS = dt.datetime(2025, 3, 1)
_LANGS = ("en", "de", "fr", "es", "ja")
# shares of anchors (and, for RECRAWL, of pages) with each url quirk
EXTERNAL = 0.03     # external url: a vertex without a page
RELATIVE = 0.05     # root-relative href, resolved against the page's host
FRAGMENT = 0.05     # "#fragment" suffix, dropped by normalisation
UPPER_HOST = 0.03   # upper-case host, lowercased by normalisation
RECRAWL = 0.05      # older capture with other anchors, superseded


class Crawl:
    """A Common-Crawl-style pages table plus the link graph its latest
    captures encode, recorded while the anchors were written.

    ``edges`` is what a correct build must produce: fragments dropped,
    root-relative hrefs resolved against the page's own host, hosts
    lowercased, self-links and parallel links removed, and vertex ids equal
    to each url's rank in the sorted universe of page urls and link
    targets (``urls``)."""

    def __init__(self, pages: pd.DataFrame, urls: list[str], edges: np.ndarray):
        self.pages = pages
        self.urls = urls
        self.edges = edges


def crawl_pages(seed: int, n_pages: int, n_sites: int, hub_share: float) -> Crawl:
    """Pages ``(url, warc_ts, html, text, lang)`` on ``n_sites`` hosts.

    Each page links to Zipf-many targets: with probability ``hub_share``
    one site's home page (hub skew), else a uniformly chosen page, with
    small shares of external urls (targets without a page), root-relative
    hrefs, ``#fragment`` suffixes and upper-case hosts. A RECRAWL share
    of the pages also has an older capture with different anchors, which
    the build must ignore in favour of the latest one."""
    rng = np.random.default_rng([_SALT, seed, 2])
    site = rng.integers(0, n_sites, size=n_pages)
    # each site's home page is its lowest-numbered page
    home = {}
    for i in range(n_pages):
        home.setdefault(int(site[i]), i)
    homes = np.array(sorted(home.values()), dtype=np.int64)

    def url(i: int) -> str:
        return f"https://site{site[i]}.example/p{i}"

    def anchors(i: int) -> tuple[list[str], list[str]]:
        """(hrefs as written, normalized targets) for one capture of page i."""
        k = int(min(rng.zipf(1.8), 30))
        hrefs, targets = [], []
        for j in range(k):
            roll = rng.random()
            if roll < EXTERNAL:
                target = f"https://ext{int(rng.integers(0, 200))}.example/"
                href = target
            else:
                if rng.random() < hub_share:
                    t = int(homes[rng.integers(0, len(homes))])
                else:
                    t = int(rng.integers(0, n_pages))
                if roll < EXTERNAL + RELATIVE:
                    href = f"/p{t}"
                    target = f"https://site{site[i]}.example/p{t}"
                else:
                    target = url(t)
                    href = target
                    if rng.random() < UPPER_HOST:
                        href = f"https://SITE{site[t]}.EXAMPLE/p{t}"
            if rng.random() < FRAGMENT:
                href += f"#s{j}"
            hrefs.append(href)
            targets.append(target)
        return hrefs, targets

    def html(i: int, hrefs: list[str], words: str) -> bytes:
        links = "".join(f'<a href="{h}">link {n}</a> ' for n, h in enumerate(hrefs))
        return (
            f"<html><head><title>p{i}</title><style>a{{color:blue}}</style></head>"
            f"<body><p>{words}</p><div>{links}</div></body></html>"
        ).encode()

    rows = []
    pairs = []
    for i in range(n_pages):
        words = " ".join(f"w{int(w)}" for w in rng.integers(0, 5000, size=int(rng.integers(8, 40))))
        ts = _BASE_TS + dt.timedelta(seconds=61 * i)
        hrefs, targets = anchors(i)
        rows.append((url(i), ts, html(i, hrefs, words), words, _LANGS[i % len(_LANGS)]))
        pairs.extend((url(i), t) for t in targets)
        if rng.random() < RECRAWL:
            old_hrefs, _ = anchors(i)
            rows.append(
                (url(i), ts - dt.timedelta(days=3), html(i, old_hrefs, words), words,
                 _LANGS[i % len(_LANGS)])
            )
    pages = pd.DataFrame(rows, columns=["url", "warc_ts", "html", "text", "lang"])
    pages = pages.sample(frac=1.0, random_state=np.random.RandomState(seed % (2**32)))

    urls = sorted({u for u, _ in pairs} | {t for _, t in pairs} | set(pages["url"]))
    ids = {u: k for k, u in enumerate(urls)}
    edge_set = {(ids[s], ids[t]) for s, t in pairs if s != t}
    edges = np.array(sorted(edge_set), dtype=np.int64).reshape(-1, 2)
    return Crawl(pages.reset_index(drop=True), urls, edges)


def write_pages(pages: pd.DataFrame, path: str, files: int) -> None:
    """Pages table as ``files`` parquet files with the crawl schema."""
    os.makedirs(path, exist_ok=True)
    schema = pa.schema(
        [
            ("url", pa.string()),
            ("warc_ts", pa.timestamp("us")),
            ("html", pa.binary()),
            ("text", pa.string()),
            ("lang", pa.string()),
        ]
    )
    for k, chunk in enumerate(np.array_split(np.arange(len(pages)), files)):
        table = pa.Table.from_pandas(pages.iloc[chunk], schema=schema, preserve_index=False)
        pq.write_table(table, os.path.join(path, f"part-{k:05d}.parquet"))
