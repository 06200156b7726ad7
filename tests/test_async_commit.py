"""Double-buffered (split) wave commit: the enqueue half lands
synchronously, the outcome half + manifest on a background thread
(config.async_commit — plans/crawl.py split-commit branch,
store.begin_split_commit/finalize_split_commit).

Asserts: wave-for-wave identical frontier, events and metrics vs the
monolithic commit on the same input; resumability from a split-committed
store (manifest entries carry delta_extra); and crash-orphan handling (an
.enq dir without its manifest entry is invisible to resume and cleaned up
by the next commit)."""

import os
import shutil

import pytest
from pyspark.sql import functions as F

from simplecrawler_spark.config import CrawlerConfig
from simplecrawler_spark.plans.crawl import WaveCrawler
from simplecrawler_spark.sources.ccpages import cc_to_crawl_pages, synth_cc_pages
from simplecrawler_spark.store import SnapshotStore


@pytest.fixture(scope="module")
def pages(spark):
    df = cc_to_crawl_pages(synth_cc_pages(spark, 800, 24)).cache()
    df.count()
    yield df
    df.unpersist()


def _cfg(seed_url, async_commit):
    return CrawlerConfig(
        initial_url=seed_url, filter_by_domain=False,
        record_fetch_log=False, tokens_per_host_per_wave=64,
        host_buckets=8, async_commit=async_commit)


def _seeds(spark, pages):
    return [r["url"] for r in pages.orderBy("url").limit(40).collect()]


def _snapshot(c):
    return sorted((r["id"], r["url"], r["status"], r["fetched"])
                  for r in c.frontier.collect())


def _run(spark, pages, store_dir, seeds, async_commit, waves=4):
    c = WaveCrawler(spark, pages, _cfg(seeds[0], async_commit),
                    store=SnapshotStore(store_dir, spark),
                    keep_content=False)
    c.seed(seeds)
    c.run(max_waves=waves)
    return c


def test_split_commit_matches_monolithic(spark, pages, tmp_path):
    seeds = _seeds(spark, pages)
    sync = _run(spark, pages, str(tmp_path / "sync"), seeds, False)
    asyn = _run(spark, pages, str(tmp_path / "asyn"), seeds, True)
    assert _snapshot(sync) == _snapshot(asyn)
    assert dict(sync.events) == dict(asyn.events)
    strip = lambda m: {k: v for k, v in m.items() if not k.startswith("t_")}
    assert [strip(m) for m in sync.metrics] == \
        [strip(m) for m in asyn.metrics]
    # the split store carries delta_extra refs and resumes identically
    st = SnapshotStore(str(tmp_path / "asyn"), spark)
    assert any(w.get("delta_extra") for w in st.waves)
    cur = sorted((r["id"], r["url"], r["status"], r["fetched"])
                 for r in st.current_frontier().collect())
    assert cur == _snapshot(sync)


def test_split_commit_resume_and_orphans(spark, pages, tmp_path):
    seeds = _seeds(spark, pages)
    store_dir = str(tmp_path / "store")
    c1 = WaveCrawler(spark, pages, _cfg(seeds[0], True),
                     store=SnapshotStore(store_dir, spark),
                     keep_content=False)
    c1.seed(seeds)
    c1.run_wave()
    c1.run_wave()
    c1._join_commit()
    ref_events_2 = dict(c1.events)
    del c1

    # crash window: an enqueue dir written without its manifest entry
    store = SnapshotStore(store_dir, spark)
    last_seq = store.waves[-1]["seq"]
    orphan = os.path.join(store_dir, "deltas", f"seq={last_seq + 1}.enq")
    os.makedirs(orphan, exist_ok=True)
    marker = os.path.join(orphan, "stale-crash-leftover")
    open(marker, "w").close()

    resumed = WaveCrawler.resume(spark, pages, _cfg(seeds[0], True), store)
    assert dict(resumed.events) == ref_events_2
    resumed.run(max_waves=4)

    # reference: uninterrupted monolithic run on the same input
    ref = _run(spark, pages, str(tmp_path / "ref"), seeds, False)
    assert _snapshot(resumed) == _snapshot(ref)
    assert dict(resumed.events) == dict(ref.events)
    # the first post-resume commit allocates the same seq: it must have
    # rmtree'd the crash leftover before (re)writing the dir
    assert not os.path.exists(marker)


def test_split_commit_compaction(spark, pages, tmp_path):
    """Force the frontier compaction trigger under async_commit: the
    compaction must join the in-flight commit first (else it would fold a
    frontier missing the settled half) and the store must keep resuming."""
    import simplecrawler_spark.plans.crawl as pc
    seeds = _seeds(spark, pages)
    old = pc.COMPACT_MIN_ROWS
    pc.COMPACT_MIN_ROWS = 1  # every wave exceeds the floor -> compact often
    try:
        asyn = _run(spark, pages, str(tmp_path / "a"), seeds, True)
        ref = _run(spark, pages, str(tmp_path / "r"), seeds, False)
        assert _snapshot(asyn) == _snapshot(ref)
        st = SnapshotStore(str(tmp_path / "a"), spark)
        cur = sorted((r["id"], r["url"], r["status"], r["fetched"])
                     for r in st.current_frontier().collect())
        assert cur == _snapshot(ref)
    finally:
        pc.COMPACT_MIN_ROWS = old


def _tree_pages(spark):
    """Three-level site: the root links two pages, each of those links two
    leaves, and the leaves link nothing — wave 1 enqueues (a split commit
    under async_commit), wave 2 enqueues nothing (a synchronous commit)."""
    from datetime import datetime
    from simplecrawler_spark.sources.ccpages import CC_PAGES_SCHEMA

    def page(*hrefs):
        links = "".join(f'<a href="{h}">l</a>' for h in hrefs)
        return f"<html><body><p>x</p>{links}</body></html>"

    site = {"/": page("/b1", "/b2"),
            "/b1": page("/c1", "/c2"), "/b2": page("/c2", "/c3"),
            "/c1": page(), "/c2": page(), "/c3": page()}
    ts = datetime(2024, 1, 1)
    rows = [("http://t.test" + p, ts, html.encode(), html, "en")
            for p, html in site.items()]
    df = cc_to_crawl_pages(spark.createDataFrame(rows, CC_PAGES_SCHEMA))
    return df.cache()


def test_sync_commit_waits_for_inflight_split_commit(spark, tmp_path,
                                                      monkeypatch):
    """A zero-enqueue wave commits synchronously; it must land the previous
    wave's background half first, or both write the manifest at once (same
    seq, out-of-order entries). The background half is held back until the
    main thread reaches its next commit point, so the race is forced."""
    import threading

    pages = _tree_pages(spark)
    seed = "http://t.test/"

    def run(store_dir, async_commit):
        c = WaveCrawler(spark, pages, _cfg(seed, async_commit),
                        store=SnapshotStore(store_dir, spark, write_slots=8),
                        keep_content=False)
        c.seed()
        c.run(max_waves=5)
        return c

    sync = run(str(tmp_path / "sync"), False)

    # cleared when a split commit begins, set when the main thread next
    # commits or joins: the background half cannot start before that
    gate = threading.Event()
    orig_begin = SnapshotStore.begin_split_commit
    orig_finalize = SnapshotStore.finalize_split_commit
    orig_commit = SnapshotStore.commit_wave
    orig_join = WaveCrawler._join_commit

    def begin(self, *a, **kw):
        gate.clear()
        return orig_begin(self, *a, **kw)

    def slow_finalize(self, *a, **kw):
        gate.wait(timeout=60)
        return orig_finalize(self, *a, **kw)

    def commit_wave(self, *a, **kw):
        gate.set()
        return orig_commit(self, *a, **kw)

    def join_commit(self):
        if self._commit_future is not None:
            gate.set()
        return orig_join(self)

    monkeypatch.setattr(SnapshotStore, "begin_split_commit", begin)
    monkeypatch.setattr(SnapshotStore, "finalize_split_commit", slow_finalize)
    monkeypatch.setattr(SnapshotStore, "commit_wave", commit_wave)
    monkeypatch.setattr(WaveCrawler, "_join_commit", join_commit)
    asyn = run(str(tmp_path / "asyn"), True)
    monkeypatch.undo()

    assert len(sync.metrics) == len(asyn.metrics) == 3
    st = SnapshotStore(str(tmp_path / "asyn"), spark)
    assert any(w.get("delta_extra") for w in st.waves)
    seqs = [w["seq"] for w in st.waves]
    assert seqs == list(range(len(seqs)))
    ref = SnapshotStore(str(tmp_path / "sync"), spark)
    assert [w["wave"] for w in st.waves] == [w["wave"] for w in ref.waves]
    cur = sorted((r["id"], r["url"], r["status"], r["fetched"])
                 for r in st.current_frontier().collect())
    assert cur == _snapshot(sync)
    pages.unpersist()
