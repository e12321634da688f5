"""Output checks: a BFS oracle over the generated link graph and the
invariants each workload's crawl must keep.  Every check returns a list
of failure strings (empty = pass) so a run can report all of them."""

from __future__ import annotations

import re
from collections import Counter

import numpy as np

_HREF = re.compile(rb'href="([^"]+)"')


def bfs_waves(n: int, src, dst, seeds, waves: int) -> list[np.ndarray]:
    """Node ids first reached in each of ``waves`` BFS rounds.

    Round 0 is the (deduplicated) seed set; round k holds the
    out-neighbours of round k-1 that no earlier round reached — exactly
    the set an unbounded crawl admits in wave k."""
    src = np.asarray(src, dtype=np.int64)
    dst = np.asarray(dst, dtype=np.int64)
    order = np.argsort(src, kind="stable")
    src, dst = src[order], dst[order]
    starts = np.searchsorted(src, np.arange(n + 1))
    reached = np.zeros(n, dtype=bool)
    frontier = np.unique(np.asarray(seeds, dtype=np.int64))
    out = []
    for _ in range(waves):
        reached[frontier] = True
        out.append(frontier)
        nbrs = np.concatenate(
            [dst[starts[u]:starts[u + 1]] for u in frontier] + [frontier[:0]])
        frontier = np.unique(nbrs[~reached[nbrs]])
    return out


def host_of(url: str) -> str:
    return url.split("/", 3)[2]


def link_graph(pages_dir: str):
    """(urls, src, dst) from the generated pages parquet: every page's
    hrefs, resolved against the page URL, mapped to page indices.
    Links to URLs that are not pages are dropped (they 404)."""
    import pyarrow.dataset as pads

    t = pads.dataset(pages_dir, format="parquet").to_table(columns=["url", "html"])
    urls = t.column("url").to_pylist()
    index = {u: i for i, u in enumerate(urls)}
    src, dst = [], []
    for i, (u, html) in enumerate(zip(urls, t.column("html").to_pylist())):
        if u.endswith("/robots.txt"):
            continue
        base = u[: u.index("/", 8)]
        for href in _HREF.findall(html):
            h = href.decode()
            j = index.get(base + h if h.startswith("/") else h)
            if j is not None:
                src.append(i)
                dst.append(j)
    return urls, np.array(src, dtype=np.int64), np.array(dst, dtype=np.int64)


def oracle_fresh(pages_dir: str, seeds: list[str], waves: int) -> dict:
    """Expected seen set and per-wave fetch counts of a fresh crawl with
    no per-host cap and no robots rows: wave k fetches its BFS round
    plus one robots.txt probe per host first met in that round."""
    urls, src, dst = link_graph(pages_dir)
    index = {u: i for i, u in enumerate(urls)}
    rounds = bfs_waves(len(urls), src, dst, [index[s] for s in seeds], waves + 1)
    seen, hosts, fetches = set(), set(), []
    for r in rounds[:waves]:
        batch = [urls[i] for i in r]
        new_hosts = {host_of(u) for u in batch} - hosts
        hosts |= new_hosts
        seen.update(batch)
        fetches.append(len(batch) + len(new_hosts))
    # the last wave's harvest: every out-link of its pages (seen or not)
    last = np.isin(src, rounds[waves - 1])
    harvest = {urls[j] for j in np.unique(dst[last])}
    return {"seen": seen, "fetches": fetches, "harvest": harvest}


def check_fresh(
    seen: set[str], wave_fetches: list[int], harvest: set[str], oracle: dict
) -> list[str]:
    """Seen set, per-wave fetch counts and the last wave's harvested
    links (the next wave's candidates) against the BFS oracle."""
    errs = []
    if seen != oracle["seen"]:
        errs.append(
            f"seen set differs from BFS: {len(seen - oracle['seen'])} extra, "
            f"{len(oracle['seen'] - seen)} missing"
        )
    if list(wave_fetches) != list(oracle["fetches"]):
        errs.append(f"per-wave fetches {wave_fetches} != BFS {oracle['fetches']}")
    if harvest != oracle["harvest"]:
        errs.append(
            f"harvested links differ from the link graph: "
            f"{len(harvest - oracle['harvest'])} extra, "
            f"{len(oracle['harvest'] - harvest)} missing"
        )
    return errs


def check_polite(
    fetches: list[tuple[str, int]],
    disallowed: set[str],
    cap: int,
    reachable: set[str],
) -> list[str]:
    """``fetches``: (url_norm, wave) of every page GET of the crawl.

    No disallowed page fetched, no host over ``cap`` fetches in any wave,
    no URL fetched twice, and every fetch reachable from the seeds."""
    errs = []
    bad = sorted({u for u, _ in fetches} & disallowed)
    if bad:
        errs.append(f"{len(bad)} robots-disallowed URLs fetched, e.g. {bad[0]}")
    per_host = Counter((host_of(u), w) for u, w in fetches)
    over = [(k, n) for k, n in per_host.items() if n > cap]
    if over:
        errs.append(f"{len(over)} host-waves over the cap of {cap}, e.g. {over[0]}")
    dups = [u for u, n in Counter(u for u, _ in fetches).items() if n > 1]
    if dups:
        errs.append(f"{len(dups)} URLs fetched twice, e.g. {dups[0]}")
    stray = sorted({u for u, _ in fetches} - reachable)
    if stray:
        errs.append(f"{len(stray)} fetched URLs unreachable from seeds, e.g. {stray[0]}")
    return errs


def check_pinned(got: dict, pinned: dict | None) -> list[str]:
    """Equality with the values pinned from the bloom-off run."""
    if pinned is None:
        return []
    return [
        f"{k}: got {got.get(k)!r}, pinned {v!r}"
        for k, v in pinned.items()
        if got.get(k) != v
    ]


def check_clusters(
    exact_groups: list[tuple[int, int]], planted_exact: list[list[int]],
    pairs: set[tuple[int, int]], planted_near: list[list[int]],
) -> tuple[list[str], float]:
    """``exact_groups``: (representative doc id, size) of every duplicate
    group found.  Each planted exact-duplicate cluster must come back as
    exactly one group — its minimum doc id with its size — and nothing
    else may.  Returns the failures and near-duplicate recall: the share
    of planted near-duplicate pairs (a < b) among the verified ``pairs``."""
    errs = []
    want = sorted((min(c), len(c)) for c in planted_exact)
    got = sorted((int(r), int(n)) for r, n in exact_groups)
    if got != want:
        errs.append(f"exact-duplicate groups differ from planted: "
                    f"{len(set(got) - set(want))} extra, {len(set(want) - set(got))} missing")
    planted = [(a, b) for c in planted_near for i, a in enumerate(c) for b in c[i + 1:]]
    hits = sum(p in pairs for p in planted)
    return errs, (hits / len(planted) if planted else 1.0)
