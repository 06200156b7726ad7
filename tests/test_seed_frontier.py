"""Bulk distributed seeding (the 10^8-seed path)."""

from pyspark.sql import functions as F

from simplecrawler_spark.config import CrawlerConfig
from simplecrawler_spark.plans.crawl import WaveCrawler
from simplecrawler_spark.sources.ccpages import cc_to_crawl_pages, synth_cc_pages
from simplecrawler_spark.store import SnapshotStore


def _crawler(spark, pages, store=None):
    cfg = CrawlerConfig(initial_url="http://h0.test/p/0",
                        filter_by_domain=False, respect_robots_txt=False,
                        record_fetch_log=False, id_mode="composite",
                        tokens_per_host_per_wave=64)
    return WaveCrawler(spark, pages, cfg, store=store, keep_content=False)


def test_seed_frontier_storeless(spark):
    cc = synth_cc_pages(spark, 200, 8)
    pages = cc_to_crawl_pages(cc).cache()
    pages.count()
    c = _crawler(spark, pages)
    c.seed()
    n = c.seed_frontier(cc.filter("url like '%/p/1%'").select("url"))
    assert n == c.frontier.filter("status = 'queued'").count() - 1  # + seed()
    assert c.queued_count == n + 1
    # urls parsed correctly JVM-side
    row = c.frontier.filter("referrer = '' AND NOT is_seed_chain").first()
    assert row["protocol"] == "http" and row["host"].startswith("h")
    assert row["path"].startswith("/p/")
    # dedupe: re-seeding the same urls adds nothing
    assert c.seed_frontier(cc.filter("url like '%/p/1%'").select("url")) == 0
    c.run_wave()
    assert c.frontier.filter("fetched").count() > 0
    pages.unpersist()


def test_seed_frontier_with_store_and_ids(spark, tmp_path):
    cc = synth_cc_pages(spark, 100, 4)
    pages = cc_to_crawl_pages(cc).cache()
    pages.count()
    store = SnapshotStore(str(tmp_path / "s"), spark)
    c = _crawler(spark, pages, store=store)
    c.seed()
    seeds = (cc.withColumn("id", F.regexp_extract("url", r"/p/(\d+)$", 1)
                           .cast("long"))
             .filter("id % 10 = 0 AND id > 0").select("id", "url"))
    n = c.seed_frontier(seeds)
    assert n == seeds.count()
    assert c.next_id > 90  # advanced past the max provided id
    # manifest carries post-seed counters → resume sees them
    resumed = WaveCrawler.resume(spark, pages, c.config,
                                 SnapshotStore(str(tmp_path / "s"), spark))
    assert resumed.queued_count == c.queued_count
    assert resumed.next_id == c.next_id
    pages.unpersist()
