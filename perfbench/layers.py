"""The traced run: per-layer metrics.

The run first makes an untraced run of the same workload and seed in a
child process (the baseline of ``trace.overhead_s``).  It then starts
its own session with the event log on, sets up, times one unit with
spans around it (one span per crawl wave, from the ``on_wave_end`` hook,
or per content step), and re-invokes each layer's
public function on that unit's inputs — for a crawl, the wave inputs
committed to the checkpoint store — materialized to a ``noop`` sink or a
small driver-side aggregate.  Each re-invocation is one span; since its
inputs are already materialized, the span is the layer's self time.
Spark jobs and tasks come from the event log, matched to spans by time.
"""

from __future__ import annotations

import json
import os
import shutil
from functools import reduce

from spans import Tracer, load_event_log, self_time, window_summary
from workloads import noop

LAYER_METRICS = {
    "udfs.canonicalize_s": "s", "udfs.canonicalize_urls_per_s": "URL/s",
    "udfs.extract_page_s": "s", "udfs.extract_pages_per_s": "page/s",
    "udfs.links_per_page": "count", "udfs.robots_parse_s": "s",
    "admission.s": "s", "admission.rows_in": "count", "admission.admitted_ratio": "ratio",
    "seen.probe_s": "s", "seen.bloom_build_s": "s", "seen.compact_s": "s",
    "seen.pruned_ratio": "ratio", "seen.bloom_fp_ratio": "ratio",
    "schedule.s": "s", "schedule.deferred_ratio": "ratio", "schedule.max_host_share": "ratio",
    "skew.host_seq_s": "s", "skew.hot_hosts": "count", "skew.max_task_over_median": "ratio",
    "pages.fetch_join_s": "s", "pages.hit_ratio": "ratio", "pages.persist_s": "s",
    "statestore.commit_s": "s", "statestore.read_s": "s", "statestore.bytes_per_wave": "B",
    "statestore.bytes_per_url": "B/URL",
    "engine.jobs_per_wave": "count", "engine.driver_idle_s": "s",
    "engine.task_busy_ratio": "ratio", "engine.gc_s": "s", "engine.shuffle_mb": "MiB",
    "engine.spill_mb": "MiB",
    "textops.dedup_pipeline_s": "s", "textops.lsh_pairs": "count",
    "textops.pairs_kept_ratio": "ratio", "components.cc_s": "s",
    "components.iterations": "count", "similarity.near_dup_lsh_s": "s",
    "similarity.candidates_per_doc": "count", "langid.trigram_s": "s",
    "bpe.token_count_s": "s", "content.near_dup_recall": "ratio",
    "trace.run_s": "s", "trace.overhead_s": "s",
}


def _timed(tracer: Tracer, name: str, fn):
    with tracer.span(name):
        return fn()


def crawl_layers(wl, u, tracer: Tracer, spark) -> dict:
    """Re-invoke every crawl layer on the traced crawl's wave inputs."""
    from pyspark.sql import DataFrame
    from pyspark.sql import functions as F

    from crawlspark.functions.udfs import (
        extract_page_udf, make_canonicalize_udf, make_robots_parse_udf,
    )
    from crawlspark.operators.admission import ORD_COLS, admit_candidates
    from crawlspark.operators.schedule import politeness_schedule
    from crawlspark.operators.seen import apply_bloom_join, build_bloom
    from crawlspark.operators.skew import host_seq_cumsum, hot_hosts_over
    from crawlspark.sources.statestore import ParquetStateStore
    from measure import dir_bytes

    opts = wl.options(u.ck)
    store = ParquetStateStore(spark, u.ck)
    waves = list(range(u.res.waves))
    last = waves[-1]
    manifest = store.get_manifest()
    m: dict[str, float] = {}

    def union(parts):
        return reduce(DataFrame.unionByName, parts)

    # canonicalize: every candidate URL the crawl produced
    cands_all = union([store.read("candidates", w) for w in waves]).persist()
    n_cands = cands_all.count()
    canon = make_canonicalize_udf(opts.url_normalization_flags)
    _timed(tracer, "udfs.canonicalize",
           lambda: noop(cands_all.select(canon(F.col("url")).alias("c"))))
    m["udfs.canonicalize_s"] = tracer.seconds("udfs.canonicalize")
    m["udfs.canonicalize_urls_per_s"] = n_cands / m["udfs.canonicalize_s"]

    # fetch join + extraction over the pages the crawl admitted
    seen_parts = {w: store.read("seen_inc", w) for w in range(-1, last + 1)
                  if os.path.isdir(os.path.join(u.ck, "seed" if w < 0 else f"wave={w}", "seen_inc"))}
    batch = union([seen_parts[w] for w in waves]).select("url_norm")
    fetched = wl.pages.fetch(batch).select("url_norm", "status", "html")
    fetched.persist()
    hits = _timed(tracer, "pages.fetch_join", lambda: fetched.agg(
        F.count(F.lit(1)), F.sum((F.col("status") == 200).cast("int"))).first())
    m["pages.fetch_join_s"] = tracer.seconds("pages.fetch_join")
    m["pages.hit_ratio"] = (hits[1] or 0) / max(hits[0], 1)
    ex = _timed(tracer, "udfs.extract_page", lambda: fetched.select(
        extract_page_udf(F.col("html"), F.col("url_norm")).alias("p")
    ).agg(F.count(F.lit(1)), F.sum(F.size("p.links"))).first())
    m["udfs.extract_page_s"] = tracer.seconds("udfs.extract_page")
    m["udfs.extract_pages_per_s"] = ex[0] / m["udfs.extract_page_s"]
    m["udfs.links_per_page"] = (ex[1] or 0) / max(ex[0], 1)
    fetched.unpersist()

    # robots: fetch + parse each crawled host's robots.txt
    robots_batch = batch.select(F.concat(
        F.lit("http://"), F.parse_url("url_norm", F.lit("HOST")), F.lit("/robots.txt")
    ).alias("url_norm")).distinct()
    rfetched = wl.pages.fetch_robots(robots_batch).persist()
    rfetched.count()
    parse = make_robots_parse_udf(opts.robot_user_agent)
    _timed(tracer, "udfs.robots_parse", lambda: noop(
        rfetched.select(parse(F.coalesce(F.col("status"), F.lit(404)),
                              F.col("html")).alias("r"))))
    m["udfs.robots_parse_s"] = tracer.seconds("udfs.robots_parse")
    rfetched.unpersist()

    # admission of the next wave's input (the last wave's committed
    # harvest) against the seen set the crawl ended with
    seen_all = union(list(seen_parts.values()))
    seed_hosts = store.read("seed_hosts", -1)
    bw = manifest.get("bloom_fold_wave")
    bloom = store.read("bloom", bw) if bw is not None else None
    adm = admit_candidates(
        store.read("candidates", last), seen_all, seed_hosts, opts, bloom_df=bloom
    ).persist()
    a = _timed(tracer, "admission", lambda: adm.agg(
        F.count(F.lit(1)), F.sum(F.col("admitted").cast("int"))).first())
    m["admission.s"] = tracer.seconds("admission")
    m["admission.rows_in"] = a[0]
    m["admission.admitted_ratio"] = (a[1] or 0) / max(a[0], 1)

    # seen set: probe, Bloom build/probe, compaction
    norm = adm.select("url_norm").filter(F.col("url_norm").isNotNull()).persist()
    n_norm = norm.count()
    seen_keys = seen_all.select("url_norm")
    n_seen = _timed(tracer, "seen.probe", lambda: norm.join(
        seen_keys, "url_norm", "left_semi").count())
    if bloom is not None:
        probe = apply_bloom_join(
            norm, bloom, num_partitions=opts.bloom_partitions,
            expected_per_partition=opts.bloom_expected_per_partition, fpp=opts.bloom_fpp)
        maybe = _timed(tracer, "seen.probe", lambda: probe.filter("maybe_seen").count())
        # the shards cover the seen parts up to the last fold; later
        # increments are probed exactly beside them
        covered = norm.join(union([seen_parts[w] for w in seen_parts if w <= bw])
                            .select("url_norm"), "url_norm", "left_semi").count()
        m["seen.pruned_ratio"] = 1 - maybe / max(n_norm, 1)
        m["seen.bloom_fp_ratio"] = (maybe - covered) / max(n_norm - covered, 1)
        _timed(tracer, "seen.bloom_build", lambda: noop(build_bloom(
            seen_all, num_partitions=opts.bloom_partitions,
            expected_per_partition=opts.bloom_expected_per_partition, fpp=opts.bloom_fpp)))
    else:
        # the filter stayed dormant in this crawl: nothing built or probed
        m["seen.pruned_ratio"] = m["seen.bloom_fp_ratio"] = 0.0
    m["seen.probe_s"] = tracer.seconds("seen.probe")
    m["seen.bloom_build_s"] = tracer.seconds("seen.bloom_build")
    scratch = os.path.join(os.path.dirname(u.ck), f"scratch-{os.getpid()}")
    shutil.rmtree(scratch, ignore_errors=True)
    tmp_store = ParquetStateStore(spark, scratch)
    _timed(tracer, "seen.compact", lambda: tmp_store.commit(
        seen_all, "seen_snapshot", last))
    m["seen.compact_s"] = tracer.seconds("seen.compact")
    norm.unpersist()

    # politeness schedule + hot-host sequencing over the admitted batch
    sched_in = adm.filter("admitted").select("host", "url_norm", *ORD_COLS).join(
        store.read("host_state", last).select("host", "robots_delay_ms", "next_free_ms"),
        "host", "left",
    ).withColumn("fetch_rank", F.lit(2)).persist()
    n_sched = sched_in.count()
    threshold = opts.salt_threshold_rows if opts.salt_hot_hosts else 0
    hot = hot_hosts_over(sched_in, threshold)
    m["skew.hot_hosts"] = len(hot)
    _timed(tracer, "schedule", lambda: noop(politeness_schedule(sched_in, opts, hot_hosts=hot)))
    m["schedule.s"] = tracer.seconds("schedule")
    top = sched_in.groupBy("host").count().agg(F.max("count")).first()[0] or 0
    m["schedule.max_host_share"] = top / max(n_sched, 1)
    delayed = sched_in.withColumn("delay_ms", F.coalesce(
        F.col("robots_delay_ms").cast("bigint"), F.lit(opts.crawl_delay_ms).cast("bigint")))
    _timed(tracer, "skew.host_seq", lambda: noop(host_seq_cumsum(
        delayed, "delay_ms", ORD_COLS + ["url_norm"], hot,
        num_buckets=opts.salt_buckets or None)))
    m["skew.host_seq_s"] = tracer.seconds("skew.host_seq")
    deferred = wl.table_rows(u.ck, "deferred", waves)
    m["schedule.deferred_ratio"] = deferred / max(deferred + u.items, 1)
    sched_in.unpersist()
    adm.unpersist()
    cands_all.unpersist()

    # state store: re-commit the last wave's state, read every table back
    def commit_last():
        for name in ("candidates", "host_state", "seen_inc"):
            tmp_store.commit(store.read(name, last), name, last)

    _timed(tracer, "statestore.commit", commit_last)
    m["statestore.commit_s"] = tracer.seconds("statestore.commit")

    def read_all():
        for d in sorted(os.listdir(u.ck)):
            if d.startswith("wave=") or d == "seed":
                for name in sorted(os.listdir(os.path.join(u.ck, d))):
                    spark.read.parquet(os.path.join(u.ck, d, name)).count()

    _timed(tracer, "statestore.read", read_all)
    m["statestore.read_s"] = tracer.seconds("statestore.read")
    wave_bytes = sum(dir_bytes(os.path.join(u.ck, f"wave={w}")) for w in waves)
    m["statestore.bytes_per_wave"] = wave_bytes / len(waves)
    m["statestore.bytes_per_url"] = dir_bytes(u.ck) / wl.seen_rows(u)
    shutil.rmtree(scratch, ignore_errors=True)
    return m


def content_layers(wl, u, tracer: Tracer) -> dict:
    """Per-layer figures of the traced content pipeline, plus the
    connected-components pass the timed unit leaves out."""
    from crawlspark.operators.components import dedup_clusters
    from workloads import JACCARD_E4_MIN

    clusters = dict(_timed(tracer, "components.dedup_clusters", lambda: [
        (r[0], r[1]) for r in dedup_clusters(wl.docs, jaccard_e4_min=JACCARD_E4_MIN)
        .select("doc_id", "cluster_id").collect()]))
    errs = [
        f"planted exact-duplicate cluster {c} split by dedup_clusters"
        for c in wl.planted["exact"] if len({clusters.get(d) for d in c} - {None}) != 1
        or any(d not in clusters for d in c)
    ]
    pairs = u.out["pairs"]
    step = {n: e - s for n, (s, e) in u.steps()}
    return {
        "textops.dedup_pipeline_s": step["textops.dedup_pipeline"],
        "similarity.near_dup_lsh_s": step["similarity.near_dup_lsh"],
        "langid.trigram_s": step["langid.trigram"],
        "bpe.token_count_s": step["bpe.token_counts"],
        "components.cc_s": tracer.seconds("components.dedup_clusters"),
        "textops.lsh_pairs": len(pairs),
        "textops.pairs_kept_ratio": sum(r[2] >= JACCARD_E4_MIN for r in pairs) / max(len(pairs), 1),
        "similarity.candidates_per_doc": u.out["cos_pairs"] / wl.n_docs,
        "content.near_dup_recall": u.out["near_recall"],
    }, errs


def cc_iterations(log: dict, span: dict) -> int:
    """Label-propagation rounds of ``connected_components``: it
    localCheckpoints its edge and label tables once, then once a round."""
    return sum(
        1 for j in log["jobs"].values()
        if span["start"] <= j["start"] <= span["end"]
        and j["callsite"].startswith("localCheckpoint at")
    ) - 2


def untraced_baseline(args) -> tuple[float, list[str]]:
    """``run_s`` of an untraced run of the same workload and seed in a
    child process (its own JVM), and its check failures."""
    import subprocess
    import sys

    cmd = [sys.executable, os.path.join(os.path.dirname(os.path.abspath(__file__)), "run.py"),
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", "0"]
    out = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, timeout=600)
    lines = out.stdout.strip().splitlines()
    for line in lines[:-1]:
        print(f"[untraced] {line}", flush=True)
    if out.returncode != 0 or not lines:
        raise RuntimeError(f"untraced run failed (exit code {out.returncode})")
    result = json.loads(lines[-1])
    errs = [] if result["correct"] else ["untraced baseline run failed its check"]
    return result["metrics"]["run_s"]["value"], errs


def traced_run(args) -> int:
    """An untraced run in a child process (the baseline of the tracing
    overhead), then, in this process's session with the event log on,
    one traced unit and every layer re-invoked."""
    from run import report, shutdown, start_session
    from workloads import WORK, WORKLOADS, cores

    baseline_s, errs = untraced_baseline(args)
    log_dir = os.path.join(WORK, f"eventlog-{os.getpid()}")
    shutil.rmtree(log_dir, ignore_errors=True)
    spark = start_session(event_log_dir=log_dir)
    wl = WORKLOADS[args.workload](spark, args.seed)
    tracer = Tracer(run=f"{wl.name}-s{args.seed}")
    units = []
    try:
        with tracer.span("setup.prepare"):
            wl.prepare()
        with tracer.span("setup.warmup"):
            wl.warmup()
        m = dict.fromkeys(LAYER_METRICS, 0.0)
        with tracer.span("unit") as unit_span:
            units.append(wl.unit())
        u = units[0]
        errs += wl.check(u)
        for name, (s, e) in u.steps():
            tracer.add(name, s, e, parent=unit_span["id"])
        if wl.kind == "crawl":
            m["pages.persist_s"] = tracer.seconds("setup.prepare")
            m.update(crawl_layers(wl, u, tracer, spark))
        else:
            layer_m, layer_errs = content_layers(wl, u, tracer)
            m.update(layer_m)
            errs += layer_errs
        wl.close()
        spark.stop()  # flushes the event log
        log = load_event_log(log_dir)
    finally:
        shutdown(wl, units)
        shutil.rmtree(log_dir, ignore_errors=True)
    if wl.kind == "content":
        m["components.iterations"] = cc_iterations(log, next(
            s for s in tracer.spans if s["name"] == "components.dedup_clusters"))
    w = window_summary(log, unit_span["start"], unit_span["end"], cores())
    steps = [s for s in tracer.spans if s["parent"] == unit_span["id"]]
    for jid, start, end in w["jobs"]:
        parent = next((s["id"] for s in steps if s["start"] <= start < s["end"]),
                      unit_span["id"])
        tracer.add(f"job.{jid}", start, end, parent=parent)
    n_steps = len(steps)
    m.update({
        "engine.jobs_per_wave": len(w["jobs"]) / n_steps,
        # unit time no Spark job covered: the driver planning, collecting
        # and committing between jobs
        "engine.driver_idle_s": sum(
            self_time(s, tracer.spans) for s in [unit_span] + steps),
        "engine.task_busy_ratio": w["task_busy_ratio"],
        "engine.gc_s": w["gc_s"],
        "engine.shuffle_mb": w["shuffle_mb"],
        "engine.spill_mb": w["spill_mb"],
        "skew.max_task_over_median": w["max_task_over_median"],
        "trace.run_s": u.run_s,
        "trace.overhead_s": u.run_s - baseline_s,
    })
    spans_path = os.path.join(WORK, f"spans-{wl.name}-s{args.seed}.json")
    tracer.write(spans_path)
    print(f"traced {wl.name}: {len(w['jobs'])} jobs over {n_steps} steps; spans in {spans_path}",
          flush=True)
    metrics = {k: {"value": float(v), "unit": LAYER_METRICS[k]} for k, v in m.items()}
    return report(errs, int(bool(errs)), 1, metrics)
