#!/usr/bin/env python
"""spark-submit entrypoint for the wave crawl (north_rule run mode).

Usage (library shipped to executors via --py-files):

    python jobs/package.py                       # build dist/simplecrawler_spark.zip
    spark-submit --master local[32] \\
        --py-files dist/simplecrawler_spark.zip \\
        jobs/crawl_job.py \\
        --pages synth:200000:4000   # or a parquet path of the CC corpus \\
        --store /tmp/crawlstore --waves 4 --tokens-per-host 256 \\
        [--resume] [--bloom-capacity 100000]

Reads either a parquet CC corpus (input_hint shape: url, warc_ts, html,
text, lang) or synthesizes one deterministically (synth:N_PAGES:N_HOSTS),
seeds a fraction of it, runs N politeness-budgeted waves with composite
ids (the fully-distributed path: no driver collects), and prints ONE JSON
line of throughput + per-wave metrics. With --store the run checkpoints
every wave and --resume continues a killed run from the last snapshot.

On a real cluster the same invocation scales by swapping --master / the
cluster manager; everything engine-side is partitioned by host_bucket and
agnostic to executor count (scaling evidence: BENCH/BASELINE.md).
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def build_args(argv):
    p = argparse.ArgumentParser(description="wave crawl job")
    p.add_argument("--pages", required=True,
                   help="parquet path of CC corpus, or synth:N_PAGES:N_HOSTS")
    p.add_argument("--store", default=None, help="snapshot store directory")
    p.add_argument("--resume", action="store_true",
                   help="resume from the store's last committed wave")
    p.add_argument("--seed-url", default=None,
                   help="seed URL (default: first corpus URL / synth page 0)")
    p.add_argument("--seed-frac", type=float, default=0.0,
                   help="additionally seed this fraction of corpus URLs")
    p.add_argument("--waves", type=int, default=4)
    p.add_argument("--tokens-per-host", type=int, default=256)
    p.add_argument("--host-buckets", type=int, default=128)
    p.add_argument("--max-depth", type=int, default=0)
    p.add_argument("--bloom-capacity", type=int, default=None,
                   help="bloom capacity per host_bucket (default: off)")
    p.add_argument("--robots", action="store_true",
                   help="respect robots.txt (synth corpora grow one robots "
                        "row per even host: disallow /p/<host%%10>; odd "
                        "hosts 404 — exercises both verdict paths at scale)")
    p.add_argument("--async-commit", dest="async_commit",
                   action="store_true", default=True,
                   help="double-buffered wave commit: the outcome half of "
                        "each delta + the manifest write overlap the next "
                        "wave's compute (durability lags one wave; resume "
                        "replays it identically). DEFAULT ON for the scale "
                        "job since the r04 interleaved A/B (every ON leg "
                        "beat every OFF leg, 1.119x); --no-async-commit "
                        "restores the monolithic synchronous commit")
    p.add_argument("--no-async-commit", dest="async_commit",
                   action="store_false")
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = build_args(argv)
    from pyspark.sql import SparkSession, functions as F

    spark = (SparkSession.builder.appName("simplecrawler-spark-crawl")
             .config("spark.sql.adaptive.enabled", "true")
             .config("spark.sql.execution.arrow.pyspark.enabled", "true")
             .getOrCreate())
    spark.sparkContext.setLogLevel("WARN")

    from simplecrawler_spark.config import CrawlerConfig
    from simplecrawler_spark.plans.crawl import WaveCrawler
    from simplecrawler_spark.sources.ccpages import (cc_to_crawl_pages,
                                                     synth_cc_pages)
    from simplecrawler_spark.store import SnapshotStore

    if args.pages.startswith("synth:"):
        _, n_pages, n_hosts = args.pages.split(":")
        cc = synth_cc_pages(spark, int(n_pages), int(n_hosts),
                            with_robots=args.robots)
        seed_url = args.seed_url or "http://h0.test/p/0"
    else:
        cc = spark.read.parquet(args.pages)
        seed_url = args.seed_url or cc.select("url").first()["url"]
    pages = cc_to_crawl_pages(cc)

    cfg = CrawlerConfig(
        initial_url=seed_url,
        filter_by_domain=False, respect_robots_txt=args.robots,
        record_fetch_log=False, id_mode="composite",
        max_depth=args.max_depth,
        tokens_per_host_per_wave=args.tokens_per_host,
        host_buckets=args.host_buckets,
        bloom_capacity_per_bucket=args.bloom_capacity,
        async_commit=args.async_commit,
        max_waves=args.waves)

    store = SnapshotStore(args.store, spark) if args.store else None
    if args.resume:
        if store is None:
            raise SystemExit("--resume requires --store")
        crawler = WaveCrawler.resume(spark, pages, cfg, store)
    else:
        crawler = WaveCrawler(spark, pages, cfg, store=store,
                              keep_content=False)
    # warm the co-partitioned corpus cache outside the timed window — the
    # cluster analog is a bucket(url)-partitioned table already on disk
    crawler.pages.count()
    t0 = time.time()
    if not args.resume:
        if args.seed_frac > 0:
            # distributed bulk seed: every ceil(1/frac)-th corpus URL, with
            # the initial URL folded in at id 0 — ONE seed_frontier call on
            # the EMPTY frontier. Pure bulk seed is the 10^10-frontier mode
            # the north_rule describes, and it unlocks the FUSED wave path
            # from wave 0: a crawler.seed() row is a seed chain, and if the
            # seed URL happens to be robots-disallowed (synth h0 disallows
            # /p/0!) the chain never completes, P11 stays armed, and every
            # wave pays the stepwise path's 5 serial jobs — measured as the
            # whole-sweep scaling regression this comment replaces.
            step = max(int(1 / args.seed_frac), 1)
            # robots.txt corpus rows (with_robots) carry no /p/<id> suffix —
            # they are fetch targets, never seeds
            extra = (cc.withColumn(
                        "id", F.regexp_extract("url", r"/p/(\d+)$", 1))
                     .filter(F.col("id") != "")
                     .withColumn("id", F.col("id").cast("long"))
                     .filter((F.col("id") % step == 0) &
                             (F.col("url") != seed_url))
                     # ids are FRONTIER ids (FIFO priority + MoR key):
                     # offset past the initial URL's id 0 so the space
                     # stays collision-free
                     .select((F.col("id") + 1).alias("id"), "url"))
            seeds = spark.createDataFrame(
                [(0, seed_url)], "id long, url string").unionByName(extra)
            crawler.seed_frontier(seeds)
        else:
            crawler.seed()

    waves_run = 0
    wave_secs = []
    wave_frontier_rows = []  # frontier size at each wave START: wave time
    # must track wave size, not this (base+delta working copy)
    for _ in range(args.waves):
        if crawler.queued_count == 0:
            break
        wave_frontier_rows.append(int(crawler.next_id))
        tw = time.time()
        crawler.run_wave()
        wave_secs.append(round(time.time() - tw, 3))
        waves_run += 1
    crawler._join_commit()  # land the last wave's background half (no-op
    # for monolithic commits) BEFORE the wall stops: durability is part of
    # the measured run, it just overlaps interior waves
    wall = time.time() - t0

    processed = sum(m.get("fetchstart", 0) for m in crawler.metrics)
    out = {
        "waves_run": waves_run,
        "wave_secs": wave_secs,
        "wall_sec": round(wall, 3),
        "urls_processed": int(processed),
        "urls_enqueued": int(sum(m.get("queueadd", 0)
                                 for m in crawler.metrics)),
        "urls_per_sec": round(processed / wall, 1) if wall else 0.0,
        "frontier_rows": crawler.frontier.count(),
        "wave_frontier_rows": wave_frontier_rows,
        "queued_remaining": crawler.queued_count,
        "default_parallelism": spark.sparkContext.defaultParallelism,
        "store": args.store,
        "lineage_rows": len(store.lineage_rows()) if store else 0,
        "wave_metrics": crawler.metrics,
    }
    print(json.dumps(out))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
