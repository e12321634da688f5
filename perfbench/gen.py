"""Seeded input generation for the benchmark workloads.

Every table is a pure function of ``(workload, seed, size)``, drawn from
``numpy`` generators seeded with ``seed`` and written with pyarrow (host
sizes from the package's public ``zipf_bounds``, Bloom shards from its
public ``build_bloom``).  Generating driver-side keeps input generation
out of the JVM: the same graph through ``synthetic_pages``' mapInPandas
pass cost ~16 s of a ~60 s run on a 4-core host.  Results are cached as
parquet under ``perfbench/.cache``, keyed by workload, seed, size and
generator version, so repeated runs of one seed only pay the load.
"""

from __future__ import annotations

import datetime
import functools
import hashlib
import json
import os
import shutil
from dataclasses import asdict, dataclass

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
CACHE = os.path.join(HERE, ".cache")


@functools.cache
def gen_version() -> str:
    """Digest of this file: cache entries (and results pinned from them)
    are only valid for the generator that wrote them."""
    with open(__file__, "rb") as fh:
        return hashlib.sha1(fh.read()).hexdigest()[:10]


@dataclass(frozen=True)
class CrawlSize:
    pages: int
    hosts: int
    zipf_s: float
    links_per_page: int
    seeds: int  # total seeds, or seeds per host (per_host_seeds)
    seen_rows: int = 0  # pre-populated seen URLs (disjoint hosts)
    bloom_partitions: int = 4
    bloom_expected: int = 100_000
    disallow_share: float = 0.0  # share of each host's paths robots-disallowed
    crawl_delay_s: int = 0

    def key(self) -> str:
        return "-".join(f"{v}" for v in asdict(self).values())


@dataclass(frozen=True)
class DocSize:
    docs: int
    vocab: int
    exact_clusters: int
    near_clusters: int
    dim: int

    def key(self) -> str:
        return "-".join(f"{v}" for v in asdict(self).values())


def host_url(h: int) -> str:
    return f"http://host{h}.example"


def page_url(h: int, pid: int) -> str:
    return f"{host_url(h)}/p{pid}.html"


def _cache_dir(workload: str, seed: int, key: str) -> str:
    return os.path.join(CACHE, f"{workload}-s{seed}-{key}-g{gen_version()}")


def atomic_build(path: str, build) -> bool:
    """Run ``build(tmp_dir)`` unless ``path`` is already complete; the
    rename makes a killed run leave no half-written cache entry."""
    if os.path.exists(os.path.join(path, "_DONE")):
        return False
    tmp = f"{path}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    build(tmp)
    open(os.path.join(tmp, "_DONE"), "w").close()
    shutil.rmtree(path, ignore_errors=True)
    os.rename(tmp, path)
    return True


# ----------------------------------------------------------------------
# crawl inputs
# ----------------------------------------------------------------------

def robots_bodies(size: CrawlSize, seed: int) -> dict[int, tuple[str, list[int]]]:
    """host -> (robots.txt body, disallowed page ids).

    Each host disallows a seeded random ``disallow_share`` of its own
    pages by exact path (``/p<id>.html`` matches no other page as a
    prefix), so the disallowed set is known by construction."""
    from crawlspark.fixtures import zipf_bounds

    if size.disallow_share <= 0:
        return {}
    bounds = zipf_bounds(size.pages, size.hosts, size.zipf_s)
    rng = np.random.default_rng([seed, 7])
    out = {}
    for h in range(size.hosts):
        lo, hi = bounds[h], bounds[h + 1]
        k = int(round((hi - lo) * size.disallow_share))
        banned = sorted(int(x) for x in rng.choice(np.arange(lo, hi), k, replace=False))
        lines = ["User-agent: *"] + [f"Disallow: /p{p}.html" for p in banned]
        if size.crawl_delay_s:
            lines.append(f"Crawl-delay: {size.crawl_delay_s}")
        out[h] = ("\n".join(lines) + "\n", banned)
    return out


def seed_urls(size: CrawlSize, seed: int, per_host: bool) -> list[str]:
    """Seed frontier.  ``per_host``: ``size.seeds`` random pages on every
    host; otherwise ``size.seeds`` pages split across hosts in proportion
    to host size (the Zipf-hot host gets the largest share)."""
    from crawlspark.fixtures import zipf_bounds

    bounds = zipf_bounds(size.pages, size.hosts, size.zipf_s)
    rng = np.random.default_rng([seed, 11])
    urls = []
    for h in range(size.hosts):
        lo, hi = bounds[h], bounds[h + 1]
        q = size.seeds if per_host else round(size.seeds * (hi - lo) / bounds[-1])
        q = min(q, hi - lo)
        for pid in sorted(rng.choice(np.arange(lo, hi), q, replace=False).tolist()):
            urls.append(page_url(h, pid))
    return urls


def page_table(size: CrawlSize, seed: int):
    """The pages table (schema ``crawlspark.fixtures.PAGES_DDL``) of the
    synthetic graph, built driver-side with numpy + pyarrow.

    Same shape as ``crawlspark.fixtures.synthetic_pages``: host sizes
    from ``zipf_bounds``, 1..``links_per_page`` links per page, 85%
    same-host (relative href) and the rest to a random page of a random
    host (absolute href); every link target exists.  Plus one
    ``/robots.txt`` row per host when ``disallow_share`` is set."""
    import pyarrow as pa

    from crawlspark.fixtures import zipf_bounds

    bounds = np.asarray(zipf_bounds(size.pages, size.hosts, size.zipf_s))
    n = int(bounds[-1])
    rng = np.random.default_rng([seed, 3])
    host = np.searchsorted(bounds, np.arange(n), side="right") - 1
    n_links = rng.integers(1, size.links_per_page + 1, n)
    src = np.repeat(np.arange(n), n_links)
    local = rng.random(len(src)) < 0.85
    th = np.where(local, host[src], rng.integers(0, size.hosts, len(src)))
    lo, hi = bounds[th], bounds[th + 1]
    tgt = lo + (rng.random(len(src)) * (hi - lo)).astype(np.int64)
    starts = np.concatenate([[0], np.cumsum(n_links)])
    urls, htmls = [], []
    for pid in range(n):
        h = int(host[pid])
        anchors = "".join(
            f'<a href="/p{t}.html">link</a>' if loc else
            f'<a href="{page_url(int(x), int(t))}">link</a>'
            for t, x, loc in zip(tgt[starts[pid]:starts[pid + 1]],
                                 th[starts[pid]:starts[pid + 1]],
                                 local[starts[pid]:starts[pid + 1]])
        )
        urls.append(page_url(h, pid))
        htmls.append(
            f"<html><head><title>host{h}.example/p{pid}.html</title></head>"
            f"<body><h1>Synthetic page {pid}</h1>{anchors}</body></html>".encode()
        )
    texts: list[str | None] = [None] * n
    for h, (body, _) in sorted(robots_bodies(size, seed).items()):
        urls.append(f"{host_url(h)}/robots.txt")
        htmls.append(body.encode())
        texts.append(body)
    ts = datetime.datetime(2024, 1, 1)
    return pa.table({
        "url": pa.array(urls, pa.string()),
        "warc_ts": pa.array([ts] * len(urls), pa.timestamp("us")),
        "html": pa.array(htmls, pa.binary()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(["en"] * len(urls), pa.string()),
    })


def ensure_crawl_inputs(workload: str, size: CrawlSize, seed: int) -> str:
    """The pages table, robots rows included."""
    import pyarrow.parquet as pq

    path = _cache_dir(workload, seed, size.key())

    def build(tmp):
        os.makedirs(os.path.join(tmp, "pages"))
        pq.write_table(page_table(size, seed), os.path.join(tmp, "pages", "part-0.parquet"))
        with open(os.path.join(tmp, "meta.json"), "w") as fh:
            json.dump({"workload": workload, "seed": seed, **asdict(size)}, fh)

    atomic_build(path, build)
    return path


def ensure_seen(spark, size: CrawlSize) -> str:
    """A pre-populated seen table of ``size.seen_rows`` URLs on hosts
    disjoint from every graph, plus its Bloom shards.  It is filler state
    the crawl never reaches, so it does not depend on the seed: one build
    serves every seed of a checkout."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from crawlspark.operators.seen import build_bloom

    key = f"{size.seen_rows}-{size.bloom_partitions}-{size.bloom_expected}"
    path = _cache_dir("seen", 0, key)

    def build(tmp):
        ids = np.arange(size.seen_rows)
        hosts = [f"big{i}.seen" for i in ids % 997]
        os.makedirs(os.path.join(tmp, "seen"))
        pq.write_table(pa.table({
            "url_norm": [f"http://{h}/p{i}.html" for h, i in zip(hosts, ids)],
            "host": hosts,
            "wave_added": pa.array(np.full(size.seen_rows, -1), pa.int32()),
        }), os.path.join(tmp, "seen", "part-0.parquet"))
        build_bloom(
            spark.read.parquet(os.path.join(tmp, "seen")),
            num_partitions=size.bloom_partitions,
            expected_per_partition=size.bloom_expected,
        ).write.parquet(os.path.join(tmp, "bloom"))

    atomic_build(path, build)
    return path


# ----------------------------------------------------------------------
# documents (content pipeline)
# ----------------------------------------------------------------------

def make_documents(size: DocSize, seed: int) -> dict:
    """Documents with planted exact-duplicate and near-duplicate clusters.

    Returns ``{"doc_id", "text", "embedding", "exact", "near"}`` where
    ``exact`` / ``near`` list the planted clusters as doc-id lists.  Base
    documents are Zipf draws over a seeded pseudo-word vocabulary; an
    exact cluster repeats one text verbatim, a near cluster rewrites 5%
    of the base's words per member.  Embeddings are random unit vectors,
    exact members share one, near members add small noise to theirs.
    """
    rng = np.random.default_rng([seed, 23])
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    vocab = ["".join(rng.choice(letters, rng.integers(3, 9))) for _ in range(size.vocab)]
    ranks = np.arange(1, size.vocab + 1, dtype=np.float64)
    p = 1.0 / ranks
    p /= p.sum()

    def fresh_words():
        return rng.choice(size.vocab, int(rng.integers(60, 120)), p=p)

    def unit(v):
        return v / np.linalg.norm(v)

    texts, embs, exact, near = [], [], [], []
    n_single = size.docs - 3 * size.exact_clusters - 3 * size.near_clusters
    for _ in range(size.exact_clusters):
        w, e = fresh_words(), unit(rng.normal(size=size.dim))
        exact.append(list(range(len(texts), len(texts) + 3)))
        for _ in range(3):
            texts.append(w)
            embs.append(e)
    for _ in range(size.near_clusters):
        w, e = fresh_words(), unit(rng.normal(size=size.dim))
        near.append(list(range(len(texts), len(texts) + 3)))
        for _ in range(3):
            m = w.copy()
            idx = rng.choice(len(m), max(1, len(m) // 20), replace=False)
            m[idx] = rng.choice(size.vocab, len(idx), p=p)
            texts.append(m)
            embs.append(unit(e + rng.normal(scale=0.02, size=size.dim)))
    for _ in range(n_single):
        texts.append(fresh_words())
        embs.append(unit(rng.normal(size=size.dim)))
    # shuffle ids so planted clusters are not contiguous
    perm = rng.permutation(len(texts))
    doc_id = np.empty(len(texts), dtype=np.int64)
    doc_id[perm] = np.arange(len(texts))
    return {
        "doc_id": doc_id.tolist(),
        "text": [" ".join(vocab[i] for i in t) for t in texts],
        "embedding": [np.round(e, 6).tolist() for e in embs],
        "exact": [sorted(int(doc_id[i]) for i in c) for c in exact],
        "near": [sorted(int(doc_id[i]) for i in c) for c in near],
    }


def ensure_documents(size: DocSize, seed: int) -> str:
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = _cache_dir("documents", seed, size.key())

    def build(tmp):
        d = make_documents(size, seed)
        pq.write_table(
            pa.table({"doc_id": d["doc_id"], "text": d["text"]}),
            os.path.join(tmp, "docs.parquet"),
        )
        pq.write_table(
            pa.table({"vec_id": d["doc_id"], "embedding": d["embedding"]}),
            os.path.join(tmp, "emb.parquet"),
        )
        with open(os.path.join(tmp, "planted.json"), "w") as fh:
            json.dump({"exact": d["exact"], "near": d["near"]}, fh)

    atomic_build(path, build)
    return path
