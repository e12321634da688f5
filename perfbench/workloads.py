"""The benchmark's workloads.

Each workload owns its set-up (``prepare`` — inputs from the seeded
cache, tables persisted and warmed — and ``warmup``), its timed unit
(``unit``) and the check of that unit's outputs (``check``).  Units are
driven through the package's public API only: ``CrawlEngine.run`` with
the ``Extender.on_wave_end`` hook for crawls, the public operator
functions for the content pipeline.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import time

from gen import CrawlSize, DocSize

HERE = os.path.dirname(os.path.abspath(__file__))
WORK = os.path.join(HERE, ".work")
PINNED = os.path.join(HERE, "pinned.json")
DEFAULT_SEED = 1
JACCARD_E4_MIN = 3000  # dedup_clusters' default near-duplicate threshold


def cores() -> int:
    return len(os.sched_getaffinity(0))


def noop(df) -> None:
    """Materialize ``df`` without keeping or writing its rows."""
    df.write.format("noop").mode("overwrite").save()


class Unit:
    """One timed unit: wall span, step-end timestamps (crawl waves or
    content steps), items processed and process-tree usage."""

    def __init__(self, t0, t1, step_ends, items, cpu_s, peak_rss, names=None):
        self.t0, self.t1, self.step_ends, self.items = t0, t1, step_ends, items
        self.cpu_s, self.peak_rss = cpu_s, peak_rss
        self.names = names or [f"wave.{i}" for i in range(len(step_ends))]
        self.run_s = t1 - t0

    def steps(self):
        starts = [self.t0] + self.step_ends[:-1]
        return [(n, (s, e)) for n, s, e in zip(self.names, starts, self.step_ends)]


def timed(fn, names=None) -> Unit:
    """Run ``fn(mark)`` as one unit; ``fn`` calls ``mark()`` at the end of
    each step and returns the number of items it processed."""
    from measure import PeakRss, tree_usage

    ends: list[float] = []
    cpu0 = tree_usage()[0]
    with PeakRss() as rss:
        t0 = time.time()
        items = fn(lambda *_: ends.append(time.time()))
        t1 = time.time()
    return Unit(t0, t1, ends, items, tree_usage()[0] - cpu0, rss.peak, names)


# ----------------------------------------------------------------------
# crawl workloads
# ----------------------------------------------------------------------

class CrawlWorkload:
    """Shared crawl machinery; subclasses fix inputs, options and checks."""

    kind = "crawl"
    name = ""
    size: CrawlSize
    per_host_seeds = False

    def __init__(self, spark, seed: int):
        self.spark, self.seed = spark, seed
        self.pages = None
        self.n_units = 0

    def prepare(self) -> None:
        """Inputs from the cache (generated on first use) + pages persist."""
        from crawlspark.sources.pages import PagesSource
        from gen import ensure_crawl_inputs, seed_urls

        self.close()
        self.inputs = ensure_crawl_inputs(self.name, self.size, self.seed)
        self.seeds = seed_urls(self.size, self.seed, self.per_host_seeds)
        self.pages = PagesSource(
            self.spark.read.parquet(os.path.join(self.inputs, "pages")),
            versioned=False, persist=True, buckets=2 * cores(),
        )
        self.pages.pages.count()
        self.pages.robots_pages.count()

    def close(self) -> None:
        if self.pages is not None:
            self.pages.pages.unpersist()
            self.pages.robots_pages.unpersist()
            self.pages = None

    def options(self, ck: str, **kw):
        raise NotImplementedError

    def crawl(self, ck: str, call, **opts) -> Unit:
        from crawlspark.plans.engine import CrawlEngine
        from crawlspark.plans.extender import Extender

        def body(mark):
            ext = Extender(on_wave_end=mark)
            eng = CrawlEngine(self.spark, self.pages, self.options(ck, **opts), ext)
            box["res"] = res = call(eng)
            return sum(m["fetches"] for m in res.wave_metrics)

        box: dict = {}
        u = timed(body)
        u.ck, u.res = ck, box["res"]
        return u

    def new_ck(self) -> str:
        self.n_units += 1
        ck = os.path.join(WORK, f"ck-{os.getpid()}-{self.n_units}")
        shutil.rmtree(ck, ignore_errors=True)
        return ck

    # -- outputs read back from the checkpoint store (pyarrow, untimed) --
    @staticmethod
    def table_rows(ck: str, name: str, waves) -> int:
        import pyarrow.dataset as pads

        n = 0
        for w in waves:
            p = os.path.join(ck, f"wave={w}" if w >= 0 else "seed", name)
            if os.path.isdir(p):
                n += pads.dataset(p, format="parquet").count_rows()
        return n

    @staticmethod
    def crawled_seen(ck: str, waves) -> set[str]:
        import pyarrow.dataset as pads

        out: set[str] = set()
        for w in waves:
            p = os.path.join(ck, f"wave={w}", "seen_inc")
            out.update(pads.dataset(p, format="parquet")
                       .to_table(columns=["url_norm"]).column(0).to_pylist())
        return out

    def seen_rows(self, u: Unit) -> int:
        return self.table_rows(u.ck, "seen_inc", range(-1, u.res.waves))

    def discard(self, u: Unit) -> None:
        shutil.rmtree(u.ck, ignore_errors=True)


class FreshZipf(CrawlWorkload):
    """Fresh crawl from an empty seen set over the Zipf (s=1.2) graph:
    extraction, the fetch join, canonicalization and hot-host sequencing
    do the work; the Bloom filter stays dormant."""

    name = "fresh_zipf"
    size = CrawlSize(pages=4_000, hosts=100, zipf_s=1.2, links_per_page=6, seeds=200)
    waves = 3

    def options(self, ck: str, **kw):
        from crawlspark.config import Options

        return Options(**{
            "crawl_delay_ms": 100, "same_host_only": False,
            "max_waves": self.waves, "collect_logs": False,
            "parallel_checkpoints": True, "checkpoint_dir": ck,
            "shuffle_partitions": cores(),
            # the Zipf head host holds ~50 of the seeds: it crosses this
            # and is sequenced through the salted path
            "salt_hot_hosts": True, "salt_threshold_rows": 40,
            # dormant: the seen set never nears 160x a wave here
            "use_bloom_seen": True,
            **kw,
        })

    def warmup(self) -> None:
        """None: the timed crawl is the first in its JVM, as every crawl
        job's is."""

    def unit(self) -> Unit:
        return self.crawl(self.new_ck(), lambda e: e.run(self.seeds))

    def check(self, u: Unit) -> list[str]:
        from checks import check_fresh, oracle_fresh

        if not hasattr(self, "oracle"):
            self.oracle = oracle_fresh(
                os.path.join(self.inputs, "pages"), self.seeds, self.waves)
        return check_fresh(
            self.crawled_seen(u.ck, range(u.res.waves)),
            [m["fetches"] for m in u.res.wave_metrics],
            self.harvested(u.ck, u.res.waves - 1), self.oracle,
        )

    @staticmethod
    def harvested(ck: str, wave: int) -> set[str]:
        import pyarrow.dataset as pads

        p = os.path.join(ck, f"wave={wave}", "candidates")
        return set(pads.dataset(p, format="parquet")
                   .to_table(columns=["url"]).column(0).to_pylist())


class BigseenPolite(CrawlWorkload):
    """One wave over a seen set that dwarfs it, with the Bloom filter
    engaged from prebuilt shards, a robots.txt row (Disallow lines +
    Crawl-delay) on every host of a flat host distribution, and a
    per-host cap below the seeds per host, so the deferred frontier
    fills."""

    name = "bigseen_polite"
    size = CrawlSize(
        pages=3_000, hosts=150, zipf_s=0.0, links_per_page=6, seeds=3,
        seen_rows=100_000, bloom_partitions=4, bloom_expected=50_000,
        disallow_share=0.25, crawl_delay_s=1,
    )
    per_host_seeds = True
    waves = 1
    cap = 2

    def options(self, ck: str, **kw):
        from crawlspark.config import Options

        return Options(**{
            "crawl_delay_ms": 100, "same_host_only": False,
            "max_waves": self.waves,
            "collect_logs": True, "parallel_checkpoints": True,
            "checkpoint_dir": ck, "shuffle_partitions": cores(),
            "use_bloom_seen": True,
            "bloom_partitions": self.size.bloom_partitions,
            "bloom_expected_per_partition": self.size.bloom_expected,
            "max_urls_per_host_per_wave": self.cap,
            **kw,
        })

    def prepare(self) -> None:
        """Pages as for every crawl, plus the seen table and its Bloom
        shards (seed-independent, built once per checkout)."""
        from gen import ensure_seen

        super().prepare()
        seen_dir = ensure_seen(self.spark, self.size)
        self.seen = self.spark.read.parquet(os.path.join(seen_dir, "seen"))
        self.bloom = self.spark.read.parquet(os.path.join(seen_dir, "bloom"))

    def warmup(self) -> None:
        """None: the timed crawl is the first in its JVM."""

    def unit(self, **opts) -> Unit:
        return self.crawl(self.new_ck(), lambda e: e.run(
            self.seeds, initial_seen=self.seen, initial_bloom=self.bloom), **opts)

    @staticmethod
    def fetch_log(u: Unit) -> list[tuple[str, int]]:
        from pyspark.sql import functions as F

        return [
            (r[0], r[1])
            for r in u.res.fetch_log.filter(F.col("fetch_rank") == 2)
            .select("url_norm", "wave").collect()
        ]

    def outcome(self, u: Unit) -> dict:
        seen = sorted(self.crawled_seen(u.ck, range(u.res.waves)))
        c = vars(u.res.counters)
        return {
            "counters": {k: v for k, v in c.items() if k != "errors_by_kind"},
            "seen_digest": hashlib.sha256("\n".join(seen).encode()).hexdigest(),
            "seen_urls": len(seen),
        }

    def check(self, u: Unit) -> list[str]:
        from checks import bfs_waves, check_pinned, check_polite, link_graph
        from gen import page_url, robots_bodies

        if not hasattr(self, "reachable"):
            urls, src, dst = link_graph(os.path.join(self.inputs, "pages"))
            index = {x: i for i, x in enumerate(urls)}
            rounds = bfs_waves(len(urls), src, dst,
                               [index[s] for s in self.seeds], len(urls))
            self.reachable = {urls[i] for r in rounds for i in r}
            self.disallowed = {
                page_url(h, p)
                for h, (_, banned) in robots_bodies(self.size, self.seed).items()
                for p in banned
            }
        return check_polite(
            self.fetch_log(u), self.disallowed, self.cap, self.reachable,
        ) + check_pinned(self.outcome(u), self.pinned())

    def pinned(self) -> dict | None:
        """The pinned reference, when it was computed from these inputs."""
        if self.seed != DEFAULT_SEED:
            return None
        entry = None
        if os.path.exists(PINNED):
            with open(PINNED) as fh:
                entry = json.load(fh).get(self.name)
        if not entry or entry["inputs"] != os.path.basename(self.inputs):
            print("no pinned bloom-off reference for these inputs; "
                  "run with --pin to record one", flush=True)
            return None
        return entry["values"]

    def pin(self) -> dict:
        """Outcome of the bloom-off crawl of the same inputs — the
        reference the bloom-on crawl must match at the default seed."""
        u = self.unit(use_bloom_seen=False)
        values = self.outcome(u)
        self.discard(u)
        data = {}
        if os.path.exists(PINNED):
            with open(PINNED) as fh:
                data = json.load(fh)
        data[self.name] = {"inputs": os.path.basename(self.inputs), "values": values}
        with open(PINNED, "w") as fh:
            json.dump(data, fh, indent=1, sort_keys=True)
        return values


# ----------------------------------------------------------------------
# content pipeline
# ----------------------------------------------------------------------

class ContentDedup:
    """Documents with planted exact/near-duplicate clusters + embeddings
    through dedup_pipeline, lang_id_trigram, token_counts_bpe,
    cosine_near_dup_lsh and exact_dedup_groups, each step to a noop sink
    or a small collect the check reads.  dedup_clusters (the iterative
    connected-components pass) runs in the traced run only."""

    kind = "content"
    name = "content_dedup"
    size = DocSize(docs=1_000, vocab=2_000, exact_clusters=20, near_clusters=20, dim=32)
    steps = ["textops.dedup_pipeline", "langid.trigram", "bpe.token_counts",
             "similarity.near_dup_lsh", "textops.exact_groups"]

    def __init__(self, spark, seed: int):
        self.spark, self.seed = spark, seed
        self.docs = self.emb = None

    def prepare(self) -> None:
        from gen import ensure_documents

        self.close()
        path = ensure_documents(self.size, self.seed)
        with open(os.path.join(path, "planted.json")) as fh:
            self.planted = json.load(fh)
        self.docs = self.spark.read.parquet(os.path.join(path, "docs.parquet")).persist()
        self.emb = self.spark.read.parquet(os.path.join(path, "emb.parquet")).persist()
        self.n_docs = self.docs.count()
        self.emb.count()

    def close(self) -> None:
        for df in (self.docs, self.emb):
            if df is not None:
                df.unpersist()
        self.docs = self.emb = None

    def warmup(self) -> None:
        """None: the timed pass is the first in its JVM."""

    def unit(self) -> Unit:
        from pyspark.sql import functions as F

        from crawlspark.functions.langid import lang_id_trigram
        from crawlspark.operators.similarity import cosine_near_dup_lsh
        from crawlspark.operators.textops import (
            dedup_pipeline, exact_dedup_groups, token_counts_bpe,
        )

        out: dict = {}

        def body(mark):
            out["pairs"] = dedup_pipeline(self.docs) \
                .select("a_id", "b_id", "jaccard_e4").collect()
            mark()
            noop(lang_id_trigram(self.docs))
            mark()
            noop(token_counts_bpe(self.docs))
            mark()
            out["cos_pairs"] = cosine_near_dup_lsh(self.emb).count()
            mark()
            out["exact"] = exact_dedup_groups(self.docs).filter("dup_count > 1") \
                .select("rep_doc_id", "dup_count").collect()
            mark()
            return self.n_docs

        u = timed(body, names=self.steps)
        u.out = out
        return u

    def check(self, u: Unit) -> list[str]:
        from checks import check_clusters

        errs, recall = check_clusters(
            [(r[0], r[1]) for r in u.out["exact"]], self.planted["exact"],
            {(r[0], r[1]) for r in u.out["pairs"] if r[2] >= JACCARD_E4_MIN},
            self.planted["near"],
        )
        u.out["near_recall"] = recall
        return errs

    def discard(self, u: Unit) -> None:
        pass


WORKLOADS = {w.name: w for w in (FreshZipf, ContentDedup, BigseenPolite)}
