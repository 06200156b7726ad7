"""Distributed ``robots_rules`` side table (SURVEY §1.1 scale design).

- ``rules_payload`` + ``eval_rules`` must give exactly RobotsFile.is_allowed's
  verdict for every URL on the file's own origin (UA groups, wildcard
  first-match-return, $-anchors, longest-prefix, Allow tie-wins, empty
  groups) — the side-table cell is a lossless projection of the parsed file
  for one crawl user agent.
- A store-backed side-table crawl resumes from its robots log with the side
  table rebuilt and the continuation identical to an uninterrupted run,
  while the driver retains no parsed robots objects at any point.
"""

import pytest

from simplecrawler_spark.config import CrawlerConfig
from simplecrawler_spark.functions.robots import eval_rules, parse_robots
from simplecrawler_spark.plans.crawl import WaveCrawler
from simplecrawler_spark.sources.ccpages import cc_to_crawl_pages, synth_cc_pages
from simplecrawler_spark.store import SnapshotStore

ROBOTS_BODY = """
User-agent: *
Disallow: /private
Allow: /private/ok
Disallow: /tmp*.bak$
Disallow: /exact$
Disallow: /a%2520b
Allow: /

User-agent: greedy
Disallow: /

User-agent: empty-group
"""

PROBES = [
    "http://h.test/",
    "http://h.test/private",
    "http://h.test/private/sub",
    "http://h.test/private/ok",
    "http://h.test/private/ok/deeper",
    "http://h.test/tmp123.bak",
    "http://h.test/tmp123.bak.more",
    "http://h.test/exact",
    "http://h.test/exact/child",
    "http://h.test/other?q=1",
    "http://h.test/%70rivate",          # percent-decoded before matching
    "http://h.test/a%2520b",            # decoded once, on both sides
]


@pytest.mark.parametrize("ua", ["*", "greedy/1.0", "empty-group", "Node/x"])
def test_eval_rules_matches_is_allowed(ua):
    rf = parse_robots("http://h.test/robots.txt", ROBOTS_BODY)
    payload = rf.rules_payload(ua)
    for url in PROBES:
        want = rf.is_allowed(url, ua)
        got = True if payload is None else eval_rules(payload, url)
        assert got == want, (ua, url)


def test_no_applicable_group_has_no_row():
    rf = parse_robots("http://h.test/robots.txt",
                      "User-agent: someone-else\nDisallow: /\n")
    assert rf.rules_payload("Node/x") is None          # verdict: always True
    assert rf.is_allowed("http://h.test/anything", "Node/x") is True


def _mk(spark, pages, seed_url, store):
    cfg = CrawlerConfig(initial_url=seed_url, filter_by_domain=False,
                        respect_robots_txt=True, record_fetch_log=False,
                        id_mode="composite", tokens_per_host_per_wave=32,
                        max_waves=6)
    return cfg, WaveCrawler(spark, pages, cfg, keep_content=False, store=store)


def test_side_table_resume(spark, tmp_path):
    cc = synth_cc_pages(spark, 240, 8, with_robots=True)
    pages = cc_to_crawl_pages(cc).cache()
    pages.count()
    seed_url = cc.filter("url like '%/p/%'").orderBy("url").first()["url"]

    # uninterrupted run
    sa = SnapshotStore(str(tmp_path / "a"), spark)
    _, a = _mk(spark, pages, seed_url, sa)
    a.seed()
    while a.wave < 4 and a.queued_count:
        a.run_wave()

    # interrupted after wave 2 → resume in a NEW crawler over the same store
    sb = SnapshotStore(str(tmp_path / "b"), spark)
    cfg, b1 = _mk(spark, pages, seed_url, sb)
    b1.seed()
    for _ in range(2):
        if b1.queued_count == 0:
            break
        b1.run_wave()
    assert b1.robots.files == []            # side mode retains nothing
    n_files_mid = b1._robots_file_count
    del b1
    sb2 = SnapshotStore(str(tmp_path / "b"), spark)
    b2 = WaveCrawler.resume(spark, pages, cfg, sb2)
    # the side table is rebuilt from the robots log, driver still empty
    assert b2.robots.files == []
    assert b2._robots_file_count == n_files_mid
    if n_files_mid:
        assert b2._robots_side_view() is not None
    while b2.wave < 4 and b2.queued_count:
        b2.run_wave()

    snap = lambda c: sorted((r["url"], r["status"], r["fetched"], r["depth"])
                            for r in c.frontier.collect())
    assert snap(a) == snap(b2)
    pages.unpersist()


def test_trigger_skip_flag(spark):
    """Steady waves skip the robots trigger job once a fused wave proves no
    un-triggered origin can be due; any out-of-band enqueue resets it."""
    cc = synth_cc_pages(spark, 240, 8, with_robots=True)
    pages = cc_to_crawl_pages(cc).cache()
    pages.count()
    seed_url = cc.filter("url like '%/p/%'").orderBy("url").first()["url"]
    _, c = _mk(spark, pages, seed_url, None)
    c.seed()
    assert c._no_new_origins is False          # wave 0 must run the job
    c.run_wave()
    flags = []
    while c.wave < 5 and c.queued_count:
        flags.append(c._no_new_origins)
        before = len(c._touched_trig_set)
        c.run_wave()
        if flags[-1]:
            # a skipped trigger job may never discover (= touch) an origin
            assert len(c._touched_trig_set) == before
    # the tiny 8-host corpus is fully discovered within the first waves:
    # the proof must have fired at least once
    assert any(flags)
    # out-of-band enqueue invalidates the proof
    c.queue_url("http://brand-new-host.test/x")
    assert c._no_new_origins is False
    pages.unpersist()
