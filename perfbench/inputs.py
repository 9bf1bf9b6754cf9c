"""Seeded benchmark inputs and their oracles.

Every input is a pure function of the ``--seed`` argument; the engine
only ever sees the generated tables. The oracles are computed here, in
plain Python/networkx, independently of the Spark code paths they
check.
"""

from __future__ import annotations

import itertools
import os
import re

import numpy as np
import pandas as pd

#: crawl_rank: synthetic web (datagen.synth_pages); 4 of 5 pages are
#: crawled, the rest are discovered through links and form the frontier
CRAWL_PAGES = 3000
CRAWL_DOMAINS = 200
CRAWL_LINKS = 10
#: parquet parts, so that extraction reads more than one partition
CRAWL_FILES = 8
#: documents before the x10 salted inflation
DEDUP_DOCS = 600
DEDUP_COPIES = 10
#: serve_frontier: link universe and seed list
SERVE_UNIVERSE = 200_000
SERVE_DOMAINS = 200
SERVE_LINKS = 10

_VOCAB = (
    "spark stream batch table column row key value hash sort join merge "
    "filter group agg scan query order line part data customer window "
    "vector fast slow big small index crawl page rank link graph domain"
).split()


def _rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, stream])


def _mix(x: np.ndarray, seed: int) -> np.ndarray:
    """splitmix64 finalizer over uint64 ids, keyed by the seed."""
    x = x.astype(np.uint64) + np.uint64((seed * 0x9E3779B97F4A7C15) % (1 << 64))
    x ^= x >> np.uint64(30)
    x *= np.uint64(0xBF58476D1CE4E5B9)
    x ^= x >> np.uint64(27)
    x *= np.uint64(0x94D049BB133111EB)
    x ^= x >> np.uint64(31)
    return x


# ------------------------------------------------------------ crawl_rank


def write_crawl_pages(path: str, seed: int, n_pages: int) -> int:
    """The crawled share of a seeded synthetic web, as parquet in
    ``CRAWL_FILES`` parts. Returns the number of crawled pages written.

    The rows are the ones ``datagen.synth_pages`` yields for the same
    ids, made by its per-id row generator in this process: a Spark job
    on the cold JVM of a benchmark run costs several times as much."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from aduana_spark.datagen import PAGES_SCHEMA, _gen_rows

    ids = np.arange(n_pages, dtype=np.uint64)
    ids = ids[_mix(ids, seed) % np.uint64(5) != 0]
    rows = _gen_rows(ids, n_pages, CRAWL_DOMAINS, CRAWL_LINKS, seed)
    types = {"url": pa.string(), "warc_ts": pa.timestamp("us", tz="UTC"),
             "html": pa.binary(), "text": pa.string(), "lang": pa.string()}
    cols = list(zip(*rows))
    table = pa.table({f.name: pa.array(cols[i], types[f.name])
                      for i, f in enumerate(PAGES_SCHEMA.fields)})
    os.makedirs(path)
    step = -(-len(ids) // CRAWL_FILES)
    for part in range(CRAWL_FILES):
        pq.write_table(table.slice(part * step, step),
                       os.path.join(path, f"part-{part:02d}.parquet"))
    return len(ids)


def crawl_oracle(path: str) -> dict:
    """Link graph of the crawl from the reference extractor, with the
    networkx component and triangle counts of its undirected view."""
    import networkx as nx
    import pyarrow.parquet as pq

    from aduana_spark.extraction import ref_extract

    tbl = pq.read_table(path, columns=["url", "html"]).to_pydict()
    g = nx.Graph()
    edges = set()
    for url, html in zip(tbl["url"], tbl["html"]):
        for dst in ref_extract(html)[1]:
            edges.add((url, dst))
    g.add_edges_from(edges)
    g.remove_edges_from(nx.selfloop_edges(g))
    return {
        "crawled": set(tbl["url"]),
        "edges": len(edges),
        "vertices": g.number_of_nodes(),
        "components": nx.number_connected_components(g),
        "triangles": sum(nx.triangles(g).values()) // 3,
        "bytes": sum(len(h) for h in tbl["html"]),
    }


def write_documents(path: str, seed: int, n_docs: int) -> dict:
    """Random-word documents inflated x``DEDUP_COPIES``; every copy gets
    a doc id from a seeded permutation, so copies of one document land
    in unrelated partitions. Returns sizes and the exact-copy pairs."""
    rng = _rng(seed, 2)
    texts = [
        " ".join(rng.choice(_VOCAB, int(rng.integers(8, 70))))
        for _ in range(n_docs)
    ]
    n = n_docs * DEDUP_COPIES
    ids = rng.permutation(n).astype(np.int64)
    df = pd.DataFrame(
        {"doc_id": ids, "text": [texts[i // DEDUP_COPIES] for i in range(n)]}
    )
    df.to_parquet(path, index=False)
    pairs = set()
    for _, grp in df.groupby("text"):
        for a, b in itertools.combinations(sorted(grp["doc_id"].tolist()), 2):
            pairs.add((a, b))
    return {"docs": n, "pairs": pairs, "bytes": int(df["text"].str.len().sum())}


# -------------------------------------------------------- serve_frontier


class LinkUniverse:
    """The seeded synthetic web a simulated spider crawls: page ``i``
    has ``SERVE_LINKS`` hub-biased outlinks and a Zipf-distributed
    domain (``datagen.page_url``)."""

    _ID = re.compile(r"/p(\d+)$")

    def __init__(self, seed: int, n_pages: int = SERVE_UNIVERSE):
        self.seed = seed
        self.n = n_pages

    def url(self, ids) -> list[str]:
        from aduana_spark.datagen import page_url

        return [str(u) for u in page_url(np.asarray(ids), SERVE_DOMAINS, self.seed)]

    def seeds(self, n: int) -> list[str]:
        ids = _mix(np.arange(n, dtype=np.uint64), self.seed) % np.uint64(self.n)
        return self.url(np.unique(ids))

    def outlinks(self, url: str) -> list[tuple[str, float]]:
        page = int(self._ID.search(url).group(1))
        keys = np.uint64(page) * np.uint64(1000003) + np.arange(SERVE_LINKS, dtype=np.uint64)
        u = (_mix(keys, self.seed) >> np.uint64(11)).astype(np.float64) / float(1 << 53)
        targets = np.minimum((self.n * u**3).astype(np.int64), self.n - 1)
        scores = (_mix(keys, self.seed + 1) % np.uint64(1000)).astype(np.float64) / 1000.0
        return list(zip(self.url(targets), scores.tolist()))
