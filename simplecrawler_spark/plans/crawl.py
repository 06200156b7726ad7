"""The wave crawler — simplecrawler's timer loop re-expressed as batch waves.

One wave generalizes N scheduler ticks (SURVEY.md §3.1): select due frontier
rows FIFO (politeness-budgeted), claim them, robots-gate new hosts, "fetch"
by joining the pages table, branch statuses exactly like handleResponse
(/root/reference/src/crawler.ts:1663-2007), run the text pipeline in one
Arrow pass, push discovered/redirect/sitemap URLs through the enqueue filter
chain, anti-join the URL-seen set, assign dense FIFO ids, and commit the next
frontier. Loop until no queued rows remain (Q12, crawler.ts:1339-1355).

Correctness contract vs the reference (BASELINE.json input_hint): identical
fetch-start order, URL-seen set, per-item status, and byte-identical
extracted text per URL under the same seed list + politeness budget.

Scale design (north_rule):
- frontier partitioned by host_bucket = xxhash64(host) % B (salt against
  hot-domain skew at the fetch/body stage);
- body pipeline is mapInPandas (Arrow) — no per-row Python at the DF level;
- seen-set = left_anti join on canonical url, optionally pre-filtered by the
  partitioned Bloom side table (simplecrawler_spark.bloom);
- per-wave lineage rows (wave, host_bucket, url_count, bloom FPR) + event
  counters (§2.9) recorded in ``self.metrics`` / persisted by the store;
- each wave ends at a materialization boundary (localCheckpoint or store
  commit) so the logical plan does not grow across waves — the Iceberg
  analog is one snapshot commit per wave.

Two due-selection paths:
- ``record_fetch_log=True`` (tests / small crawls): the due set is collected
  to the driver once per wave — robots gating, fetch-order logging and the
  disallowed split happen driver-side, minimizing Spark job count (each job
  carries ~0.3 s fixed cost on a local cluster).
- ``record_fetch_log=False`` (bench / scale): everything stays distributed;
  robots verdicts are a JVM fold over the joined ``robots_rules`` side
  table (an Arrow pass over a broadcast store only with fetch conditions).
"""

from __future__ import annotations

import os
from typing import Dict, List, Optional, Tuple

from pyspark.sql import DataFrame, Row, SparkSession, Window, functions as F

from ..config import CrawlerConfig
from ..functions.cookies import CookieJar
from ..functions.decode import decode_buffer, unzip
from ..functions.robots import RobotsStore, parse_robots
from ..functions.urlkit import process_url
from ..operators.ids import assign_dense_ids
from ..operators.politeness import select_due
from ..operators.udfs import make_body_processor, make_candidate_processor
from ..schema import (BODY_SCHEMA, CANDIDATE_SCHEMA, FRONTIER_SCHEMA,
                      PROCESSED_CANDIDATE_SCHEMA, ROBOTS_RULES_SCHEMA)

# JVM-side mime gate (P4) — keeps the hot path in whole-stage codegen
SUPPORTED_MIME_RLIKE = (r"^(text/.*|application/(rss|html|xhtml)?[+/-]?xml.*"
                        r"|application/javascript.*|xml.*)$")
_COMPRESSED_RLIKE = "(gzip|deflate)"


from .. import timing
from ..timing import timed as _timed

# working-frontier compaction triggers: compact when the un-compacted delta
# mass exceeds this fraction of the frontier. Ratio 1.0 = classic LSM
# doubling: each appended row is rewritten at most ~2x amortized, and the
# MoR read union scans at most ~2x frontier rows. (0.3 was tried first —
# its ~4x-per-delta rewrite reintroduced a good share of the O(frontier)
# per-wave cost this design removes.) Floors: never below the absolute
# row floor (tiny crawls shouldn't churn), always when the part lists
# grow wide enough to bloat the logical plan.
COMPACT_RATIO = 1.0
COMPACT_MIN_ROWS = 200_000
COMPACT_MAX_PARTS = 48

# due-set eager-checkpoint gate (see _due_distributed_path): below this
# queued-row bound the wave is fixed-cost-dominated and the checkpoint's
# lineage truncation collapses a 133-stage duplicate-evaluation explosion
# (2.5x steady throughput at sf0.01); above it the duplicates hide on
# idle cores while the eager barrier adds O(due) serial wall time
# (~25 s/wave at 1.3M due rows / 16 cores, interleaved A/B).
DUE_CHECKPOINT_MAX_ROWS = 500_000

# robots_rules / touched-origin side tables ride explicit broadcast joins
# while they fit an executor comfortably. The hint is REQUIRED, not an
# optimization nicety: the side views are built from createDataFrame parts
# (ExistingRDD — no size statistics), so Catalyst defaults their size to
# "unknown = huge" and picks a SortMergeJoin, which shuffles + sorts the
# full due set AND the full candidate mass on origin every wave (measured
# +5 s/wave at sf0.1). Beyond this row count the join falls back to
# shuffle — the 10^8-origin regime, where a broadcast wouldn't fit and the
# side table should be store-backed/bucketed instead.
SIDE_BROADCAST_MAX_ROWS = 500_000

# robots_rules working-view fold trigger: above this many un-folded parts
# the view collapses to one base (store-backed parquet scan when every row
# is already durable, else a localCheckpoint)
SIDE_COMPACT_MAX_PARTS = 32
# committed robots_rules part dirs (one per new-origin flush) are folded
# into ONE base parquet generation once the dir count passes this — bounds
# the working base's scan fan-in over a long crawl (the frontier's ratio
# trigger analog; Iceberg rewrite_data_files at 100 TB)
ROBOTS_RULES_COMPACT_MAX_PARTS = 16


def _origin_url(protocol: str, host: str, port) -> str:
    port = port or 0
    default = (protocol == "http" and port in (0, 80)) or \
              (protocol == "https" and port in (0, 443))
    port_part = "" if default else f":{port}"
    return f"{protocol}://{host}{port_part}"


class WaveCrawler:
    def __init__(self, spark: SparkSession, pages: DataFrame, config: CrawlerConfig,
                 cache: Optional[DataFrame] = None, store=None, keep_content: bool = True,
                 bloom=None):
        self.spark = spark
        self.config = config
        self.store = store
        if bloom is None and config.bloom_capacity_per_bucket and store is not None:
            if config.seen_filter == "cuckoo":
                from ..cuckoo import CuckooSideTable
                bloom = CuckooSideTable(
                    os.path.join(store.path, "cuckoo"), spark,
                    capacity_per_bucket=config.bloom_capacity_per_bucket)
            else:
                from ..bloom import BloomSideTable
                bloom = BloomSideTable(
                    os.path.join(store.path, "bloom"), spark,
                    capacity_per_bucket=config.bloom_capacity_per_bucket,
                    target_fpr=config.bloom_target_fpr)
        self.bloom = bloom
        self.keep_content = keep_content
        # pages table: fetch = frontier ⨝ pages on url (input_hint corpus).
        # The corpus is laid out ONCE — hash-partitioned and sorted on url,
        # cached — so the per-wave sort-merge fetch join exchanges and
        # sorts only the due side; the pages side is a cache scan with
        # matching partitioning + ordering. One corpus-sized shuffle at
        # construction replaces one per wave (the Iceberg analog is a
        # bucket(url)-partitioned table, laid out at write time).
        if not config.live_fetch and pages is not None:
            try:
                grain = int(spark.conf.get("spark.sql.shuffle.partitions"))
            except (TypeError, ValueError):
                grain = 0
            pages = (pages.repartition(
                        max(grain, spark.sparkContext.defaultParallelism),
                        "url")
                     .sortWithinPartitions("url").persist())
        self.pages = pages
        # lazily-built robots slice of the corpus (see _robots_pages_view)
        self._robots_pages: Optional[DataFrame] = None
        self.cache = cache  # (url, etag, last_modified) from a previous crawl
        self.robots = RobotsStore(config.user_agent)
        # robots verdict source, two shapes (SURVEY §1.1):
        # - side table (no fetch conditions): one row per touched origin
        #   with the UA-selected rule list, maintained as base+parts like
        #   the frontier; verdicts run executor-side as a JVM fold over the
        #   joined rules. The driver parses each robots body once, appends
        #   the row, and RETAINS NOTHING — O(new origins) transient work
        #   per wave, zero O(hosts) driver state or broadcast.
        # - broadcast store (with fetch conditions — those run after the
        #   robots gate inside the candidate kernel): rebuilt only when a
        #   robots file is added.
        self._robots_side_active = bool(
            config.respect_robots_txt and not config.fetch_conditions)
        # the driver keeps parsed RobotsFile objects only when some
        # consumer needs them: the driver due path (record_fetch_log) and
        # in-kernel verdicts (fetch conditions)
        self._robots_retain = bool(
            config.record_fetch_log or config.fetch_conditions)
        self._robots_side_base: Optional[DataFrame] = None
        self._robots_side_parts: List[DataFrame] = []
        self._robots_side_rowbuf: List[tuple] = []
        self._robots_bc = None
        self._robots_bc_version = -1
        # robots/touched append-only side log bookkeeping (store-backed
        # runs): the manifest carries COUNTS, not bodies — O(1) per commit.
        # The flush buffer holds (url, body) records gathered since the
        # last flush, so durability never depends on the store retaining
        # self.robots.files
        self._robots_unflushed: List[tuple] = []
        self._robots_file_count = 0
        self._robots_flushed = {"touches": 0, "files": 0}
        # robots_rules rows awaiting their parquet part (store-backed side-
        # table runs): flushed alongside the body log, counted in the
        # manifest, read back as parquet on resume — no parse replay
        self._robots_rules_unflushed: List[tuple] = []
        self._robots_rules_parts_flushed = 0
        # compacted-base generation (0 = none) + deferred prune of the dirs
        # a compaction superseded (deleted at the NEXT flush, i.e. strictly
        # after a manifest referencing the new generation is durable)
        self._robots_rules_base_gen = 0
        self._robots_rules_prune: Optional[tuple] = None
        # touched-origin side table for the distributed due path: the
        # per-wave trigger collect anti-joins it so only NEW origins reach
        # the driver (O(new origins), not O(due hosts))
        self._touched_trig_set: set = set()
        self._touched_base: Optional[DataFrame] = None
        self._touched_parts: List[DataFrame] = []
        # True when the previous fused wave PROVED no un-triggered origin
        # can be due (its mega action counted zero enqueue-surviving
        # candidates with un-touched origins — politeness guarantees every
        # pending host gets a due row each wave, so new origins can only
        # enter via enqueues). Lets steady waves skip the trigger job
        # entirely; ANY out-of-band frontier mutation (seed/enqueue/
        # seed_frontier) resets it to the safe False.
        self._no_new_origins = False
        # host → politeness budget from robots Crawl-delay ((dict, n_files
        # examined) — grown incrementally as robots files arrive)
        self._delay_budgets_cache: tuple = ({}, 0)
        self.jar = CookieJar()
        self.metrics: List[Dict] = []
        self.fetch_log: List[tuple] = []   # (wave, id, url) in fetch-start order
        self.events: Dict[str, int] = {}
        # working frontier = settled ∪ pending, maintained as base + deltas
        # (see the `frontier` property): a wave APPENDS its materialized
        # delta instead of re-checkpointing the whole frontier — per-wave
        # I/O is O(wave), not O(frontier); ratio-triggered compaction keeps
        # the amortized cost independent of frontier size.
        self._settled_base: Optional[DataFrame] = None   # terminal rows
        self._settled_parts: List[DataFrame] = []        # per-wave outcomes
        self._pending_base: Optional[DataFrame] = None   # queued rows
        self._pending_added: List[DataFrame] = []        # per-wave enqueues
        self._pending_removed: List[DataFrame] = []      # id-only, per wave
        self._uncompacted_rows = 0
        # true frontier row count (#distinct ids) for the compaction ratio:
        # next_id is NOT a usable proxy — bulk seeds keep caller ids, which
        # may be sparse (None after a wholesale frontier assignment, where
        # the dense next_id fallback is exact)
        self._frontier_ids: Optional[int] = 0
        self._content_parts: List[DataFrame] = []  # fetched_pages fragments
        self.wave = 0
        self.next_id = 0
        self.queued_count: Optional[int] = None
        # in-flight background half of a split commit (async_commit):
        # (future -> read-back outcome DataFrame, caches kept alive for it)
        self._commit_future: Optional[tuple] = None
        self._commit_pool = None  # lazily-created 1-worker executor
        self._fetch_log_overflow = False  # due set exceeded fetch_log_max_due
        self._wave_caches: List[DataFrame] = []
        self.first_request_active = True   # _isFirstRequest, crawler.ts:597
        seed = process_url(config.initial_url, None, 0, config.url_options(),
                           initial_url=config.initial_url)
        if seed is None:
            raise ValueError(f"unprocessable initial URL: {config.initial_url}")
        self.crawl_host = seed["host"]     # may change, crawler.ts:1951-1953

    # -------------------------------------------- working frontier (base+delta)
    # The frontier is never re-materialized per wave. It is split by row
    # lifecycle — a frontier row is enqueued exactly once ('queued') and
    # reaches a terminal status exactly once (fetch outcome / 'disallowed'),
    # so:
    #   settled  = terminal rows: APPEND-ONLY (base + per-wave outcome parts)
    #   pending  = queued rows:   (base ∪ added parts) anti-join removed ids
    # A wave appends its materialized delta (the store's committed parquet,
    # or a localCheckpoint of the delta on store-less runs) — O(wave) I/O.
    # select_due reads only the pending view (no status scan over settled);
    # the URL-seen anti-join reads the union of part URLs with NO version
    # resolution (a superseded row's url is still a seen url). Ratio-
    # triggered compaction (_maybe_compact) rebuilds the two bases and, on
    # store-backed runs, drives the store's own delta compaction at the
    # same moment — the working copy holds lazy references to committed
    # delta parquet, which must not be deleted under it.

    def _pending_view(self) -> Optional[DataFrame]:
        parts = ([self._pending_base] if self._pending_base is not None
                 else []) + self._pending_added
        if not parts:
            return None
        df = parts[0]
        for p in parts[1:]:
            df = df.unionByName(p)
        if self._pending_removed:
            rem = self._pending_removed[0]
            for p in self._pending_removed[1:]:
                rem = rem.unionByName(p)
            df = df.join(rem, "id", "left_anti")
        return df

    def _settled_view(self) -> Optional[DataFrame]:
        parts = ([self._settled_base] if self._settled_base is not None
                 else []) + self._settled_parts
        if not parts:
            return None
        df = parts[0]
        for p in parts[1:]:
            df = df.unionByName(p)
        return df

    def _seen_urls_view(self) -> DataFrame:
        """Every URL ever enqueued — union of part urls, no version
        resolution (the anti-join consumer only cares about membership)."""
        parts = [p.select("url") for p in
                 ([self._settled_base] if self._settled_base is not None else [])
                 + self._settled_parts
                 + ([self._pending_base] if self._pending_base is not None else [])
                 + self._pending_added]
        df = parts[0]
        for p in parts[1:]:
            df = df.unionByName(p)
        return df

    @property
    def frontier(self) -> Optional[DataFrame]:
        s, p = self._settled_view(), self._pending_view()
        if s is None:
            return p
        if p is None:
            return s
        return s.unionByName(p)

    @frontier.setter
    def frontier(self, df: Optional[DataFrame]) -> None:
        """Replace the working frontier wholesale (resume / bulk bootstrap).
        ``df`` must already be materialized (checkpoint or parquet-backed);
        the split below is two lazy filters over it."""
        self._settled_parts, self._pending_added, self._pending_removed = \
            [], [], []
        self._uncompacted_rows = 0
        # row count unknown after a wholesale assignment; the compaction
        # ratio falls back to next_id (exact for dense-id frontiers)
        self._frontier_ids = None
        if df is None:
            self._settled_base = self._pending_base = None
        else:
            self._settled_base = df.filter(F.col("status") != "queued")
            self._pending_base = df.filter(F.col("status") == "queued")

    def _append_enqueue(self, part: DataFrame, n_rows: int) -> None:
        """Record a materialized queued-row delta (seed / manual / wave)."""
        self._pending_added.append(part)
        self._uncompacted_rows += n_rows
        self._maybe_compact()

    def _append_wave_outcome(self, committed: DataFrame, n_rows: int) -> None:
        """Record a wave's materialized delta: terminal rows join settled,
        their ids leave pending, fresh rows join pending — all lazy filters
        over the SAME materialized delta (no extra job)."""
        settled_part = committed.filter(F.col("status") != "queued")
        added_part = committed.filter(F.col("status") == "queued")
        self._settled_parts.append(settled_part)
        self._pending_removed.append(settled_part.select("id"))
        self._pending_added.append(added_part)
        self._uncompacted_rows += n_rows
        self._maybe_compact()

    def _count_frontier_ids(self, n: int) -> None:
        if self._frontier_ids is not None:
            self._frontier_ids += n

    def _join_commit(self) -> None:
        """Land the previous wave's background commit half: append the
        read-back outcome part to the settled view and release the caches
        its plan pinned. No-op when nothing is in flight."""
        if self._commit_future is None:
            return
        fut, caches, owner_events, bg_sink = self._commit_future
        self._commit_future = None
        with _timed("join-async-commit"):
            committed = fut.result()
        # fold the background half's phase times into the OWNING wave's
        # already-published metrics row (fut.result() ⇒ the thread's sink
        # writes happened-before this read)
        for k, v in bg_sink.items():
            key = f"t_{k}"
            owner_events[key] = round(owner_events.get(key, 0.0) + v, 3)
        self._settled_parts.append(committed)
        for df in caches:
            df.unpersist()

    def _maybe_compact(self) -> None:
        total = max(self._frontier_ids
                    if self._frontier_ids is not None else self.next_id, 1)
        n_parts = max(len(self._settled_parts), len(self._pending_added))
        if not (self._uncompacted_rows > max(COMPACT_RATIO * total,
                                             COMPACT_MIN_ROWS)
                or n_parts > COMPACT_MAX_PARTS):
            return
        # compaction rebuilds the frontier from the working views — an
        # in-flight background commit's outcome rows must land first
        self._join_commit()
        with _timed("frontier-compact"):
            pending = self._pending_view()
            settled = self._settled_view()
            if self.store is not None:
                # ONE frontier materialization: the store's base rewrite
                # evaluates the lazy working views directly and the new
                # base parquet becomes the working bases (split by row
                # lifecycle — two lazy filters). The old scheme paid the
                # frontier twice per compaction: localCheckpoint for the
                # working copy AND the store's base parquet write.
                cur = settled.unionByName(pending) \
                    if settled is not None and pending is not None \
                    else (settled if settled is not None else pending)
                base = self.store.compact(current=cur)
                self._settled_base = base.filter(F.col("status") != "queued")
                self._pending_base = base.filter(F.col("status") == "queued")
            else:
                self._pending_base = None if pending is None \
                    else self._commit(pending)
                self._settled_base = None if settled is None \
                    else self._commit(settled)
            self._settled_parts, self._pending_added, self._pending_removed = \
                [], [], []
            self._uncompacted_rows = 0

    # ------------------------------------------------------------------ utils
    def close(self) -> None:
        """Release lifetime-persisted frames (the co-partitioned pages
        corpus, the robots-only corpus slice, the robots broadcast). The
        crawler object stays usable — Spark re-persists on next touch —
        but long-lived sessions running several crawls back-to-back (the
        bench harness) should not stack N corpora in executor memory."""
        self._join_commit()
        if self._commit_pool is not None:
            self._commit_pool.shutdown(wait=True)
            self._commit_pool = None
        if self._robots_pages is not None:
            self._robots_pages.unpersist()
            self._robots_pages = None
        if not self.config.live_fetch and self.pages is not None:
            self.pages.unpersist()
        if self._robots_bc is not None:
            self._robots_bc.unpersist()
            self._robots_bc = None
            self._robots_bc_version = -1

    @property
    def content(self) -> Optional[DataFrame]:
        """fetched_pages analog: (id, url, depth, body, text, extracted_text,
        gzip_error, wave) — per-wave appended fragments (Iceberg appends)."""
        if not self._content_parts:
            return None
        out = self._content_parts[0]
        for part in self._content_parts[1:]:
            out = out.unionByName(part)
        return out

    def _count(self, name: str, n: int) -> None:
        if n:
            self.events[name] = self.events.get(name, 0) + int(n)

    def _host_bucket_col(self):
        return (F.abs(F.xxhash64(F.col("host"))) % self.config.host_buckets) \
            .cast("int").alias("host_bucket")

    def _commit(self, df: DataFrame) -> DataFrame:
        """Wave materialization boundary (Iceberg snapshot analog; store-backed
        runs commit via store.commit_wave at the call sites instead). Coalesce
        bounds partition growth from per-wave unions (no shuffle)."""
        n = self.spark.sparkContext.defaultParallelism
        return df.coalesce(n).localCheckpoint(eager=True)

    def _pre_dedupe(self, cand: DataFrame) -> DataFrame:
        """Collapse identical discovered candidates BEFORE the python
        canonicalizer — at 10^10-URL scale most candidate rows are repeats
        of already-known links, and canonicalization is the wave's dominant
        python cost. Keeps the first attempt (min referrer_id, pos) per key
        and carries the group size as ``weight`` so event counters still
        count every attempt (queueduplicate/junk/... exactly match the
        per-row semantics).

        Key choice preserves exactness: absolute raw URLs canonicalize
        independently of their referrer, so they collapse on raw_url alone
        when no referrer-sensitive gate is active (maxDepth, fetch
        conditions); relative URLs and gated configs keep the full
        (raw, referrer, depth, flags) key."""
        cfg = self.config
        raw_only = cfg.max_depth == 0 and not cfg.fetch_conditions
        # one window, row-conditional key: absolute raws blank out the
        # referrer part of the key when no referrer-sensitive gate is
        # active. (A two-branch filter+union was tried first — it
        # re-evaluates the python body pass once per branch.)
        collapse = F.lit(raw_only) & \
            F.col("raw_url").rlike(r"^[A-Za-z][A-Za-z0-9+.\-]*://")
        key = [F.col("raw_url"),
               F.when(collapse, F.lit("")).otherwise(
                   F.coalesce(F.col("referrer_url"), F.lit(""))),
               F.when(collapse, F.lit(-1)).otherwise(
                   F.coalesce(F.col("referrer_depth"), F.lit(-2))),
               F.col("is_seed_chain"), F.col("skip_depth_gate")]
        w = Window.partitionBy(*key)
        return (cand
                .withColumn("weight", F.count("*").over(w))
                .withColumn("__rn", F.row_number().over(
                    w.orderBy("referrer_id", "pos")))
                .filter("__rn = 1").drop("__rn"))

    def _apply_set_cookies(self, rows: List[Tuple[str, int]]) -> int:
        """Upsert deduped (header, multiplicity) Set-Cookie rows into the
        jar; returns the cookieerror count — each faulty header counts once
        per ORIGINAL response row (crawler.ts:1807-1813 emits per response),
        though it reaches the driver once."""
        n_err = 0
        for header, cnt in rows:
            if self.jar.add_from_headers([header]):
                n_err += cnt
        return n_err

    def _bloom_add(self, delta: DataFrame) -> None:
        """OR freshly-enqueued URLs into the Bloom side table. Call sites pass
        exactly the rows new to the frontier, so n_items (→ analytic FPR in
        lineage) tracks true insert counts."""
        if self.bloom is not None:
            self.bloom.add(delta.select("host_bucket", "url"))

    def _item_row(self, item: dict, id_: int, depth: int, referrer: str,
                  is_seed_chain: bool) -> dict:
        return {"id": id_, "url": item["url"], "protocol": item["protocol"],
                "host": item["host"], "port": item["port"], "path": item["path"],
                "uri_path": item["uri_path"], "depth": depth,
                "referrer": referrer, "fetched": False, "status": "queued",
                "wave": self.wave, "host_bucket": 0,
                "is_seed_chain": is_seed_chain, "state": None}

    # ----------------------------------------------------- checkpoint/resume
    def _driver_state(self) -> dict:
        """Serializable driver-side crawl state for the snapshot manifest
        (the freeze contract, queue.ts:268-279 + crawler fields).

        Robots bodies + touched origins live in the store's APPEND-ONLY side
        log (each written once, ever); the manifest records only the counts
        — the manifest rewrite stays O(1) in host count per wave (the old
        inline lists were O(hosts) re-serialized JSON on every commit)."""
        state = {
            "wave": self.wave,
            "next_id": self.next_id,
            "queued_count": self.queued_count,
            "crawl_host": self.crawl_host,
            "first_request_active": self.first_request_active,
            "cookies": [{"name": c.name, "value": c.value,
                         "expires": c.expires, "path": c.path,
                         "domain": c.domain, "httponly": c.httponly}
                        for c in self.jar.cookies],
            "events": dict(self.events),
        }
        if self.store is not None:
            self._flush_robots_log()
            state["robots_log"] = {
                "touches": len(self.robots.touched_hosts),
                "files": self._robots_file_count}
            if self._robots_side_active:
                # committed robots_rules parquet part count + compacted-base
                # generation — the parquet resume prefix (parts beyond the
                # count / bases at other generations are crash orphans)
                state["robots_rules_parts"] = self._robots_rules_parts_flushed
                state["robots_rules_base"] = self._robots_rules_base_gen
        else:
            state["robots"] = [{"url": rf.url, "body": rf.body}
                               for rf in self.robots.files]
            state["touched"] = list(self.robots.touched_hosts)
        return state

    @classmethod
    def resume(cls, spark: SparkSession, pages: DataFrame, config: CrawlerConfig,
               store) -> "WaveCrawler":
        """Defrost from the last committed snapshot (queue.ts:281-313): same
        frontier, robots memory, cookie jar and counters ⇒ identical
        continuation ordering."""
        from ..functions.cookies import Cookie
        state = store.last_state()
        if state is None:
            raise ValueError("cannot resume from an empty store")
        c = cls(spark, pages, config, store=store)
        c.wave = state["wave"]
        c.next_id = state["next_id"]
        c.queued_count = state["queued_count"]
        c.crawl_host = state["crawl_host"]
        c.first_request_active = state["first_request_active"]
        c.events = dict(state.get("events", {}))
        if "robots_log" in state:
            # side-log format: replay exactly the prefix the committed
            # manifest references (a crash between log append and manifest
            # write leaves an orphan suffix, truncated here)
            counts = state["robots_log"]
            touches, robots = store.read_robots_log(
                counts["touches"], counts["files"])
            c._robots_flushed = dict(counts)
            in_log = True
        else:  # legacy inline-manifest format
            touches = state["touched"]
            robots = state["robots"]
            in_log = False  # re-buffer: the next flush migrates to the log
        for origin in touches:
            c.robots.touch(origin)  # rebuilds the touched set + order
        if in_log and not c._robots_retain and c._robots_side_active \
                and "robots_rules_parts" in state:
            # parquet resume (the scale path): verdict rows + delay budgets
            # come straight from the committed robots_rules parts — the
            # driver parses NOTHING (the old replay re-ran parse_robots
            # over every logged body: O(hosts) driver CPU at restart).
            c._resume_robots_rules(state["robots_rules_parts"],
                                   counts["files"],
                                   state.get("robots_rules_base", 0))
        else:
            for r in robots:
                # durable=False when the body is already in the committed
                # log — replay then rebuilds the side table / store / delay
                # cache only
                c._note_robots_file(parse_robots(r["url"], r["body"]),
                                    durable=not in_log)
            if c._robots_side_active and c.store is not None:
                if in_log and "robots_rules_parts" in state:
                    # the replayed rows are EXACTLY the committed
                    # robots_rules parquet contents (same flush gating,
                    # truncated to the same manifest prefix), so restore
                    # the committed part counter: future flushes append
                    # AFTER the committed parts instead of rmtree'ing
                    # part=0 as an "orphan", and the store-backed fold —
                    # which replaces the working base with a scan of parts
                    # 0..flushed-1 — stays complete. Without this, a
                    # default-config (record_fetch_log=True) resume lost
                    # every pre-resume Disallow rule at the first
                    # post-resume flush.
                    c._robots_rules_parts_flushed = \
                        state["robots_rules_parts"]
                    c._robots_rules_base_gen = \
                        state.get("robots_rules_base", 0)
                elif in_log:
                    # legacy store: body log but no robots_rules parts.
                    # Re-buffer the replayed rules rows as durable so they
                    # reach parquet (part 0) before any store-backed fold
                    # can swap the base to a parts-only scan.
                    c._robots_rules_unflushed = list(c._robots_side_rowbuf)
        for k in state["cookies"]:
            c.jar.cookies.append(Cookie(**k))
        # one-time MoR merge, materialized: subsequent waves extend it
        # incrementally exactly like an uninterrupted run
        c.frontier = c._commit(store.current_frontier())
        if c.bloom is not None and c.bloom.version() < 0:
            # store predates the Bloom side table: backfill from the frontier
            # so the filter can never miss a seen URL (no false negatives).
            c.bloom.add(c.frontier.select("host_bucket", "url"))
        return c

    def _resume_robots_rules(self, n_parts: int, n_files: int,
                             base_gen: int = 0) -> None:
        """Rebuild robots verdict state from the store's committed
        robots_rules parquet parts — resume cost O(1) in host count on the
        driver (one lazy scan becomes the side-table base; only hosts that
        SET a Crawl-delay are collected for the budget cache, in ``seq``
        registration order so first-delay-wins ties resolve exactly like
        the original run). No robots body is parsed."""
        self._robots_rules_parts_flushed = n_parts
        self._robots_rules_base_gen = base_gen
        self._robots_file_count = n_files
        base = self.store.read_robots_rules(n_parts, base_gen)
        if base is None:
            return
        self._robots_side_base = base
        tokens = self.config.tokens_per_host_per_wave
        if tokens is not None:
            wave_ms = tokens * self.config.interval_ms
            cache = self._delay_budgets_cache[0]
            rows = (base.filter(F.col("crawl_delay").isNotNull()
                                & (F.col("crawl_delay") > 0))
                    .select("host", "crawl_delay", "seq")
                    .collect())
            for r in sorted(rows, key=lambda x: x["seq"]):
                if r["host"] not in cache:
                    cache[r["host"]] = min(
                        tokens,
                        max(1, int(wave_ms / (r["crawl_delay"] * 1000.0))))

    # ------------------------------------------------------------------- seed
    def seed(self, urls: Optional[List[str]] = None) -> None:
        """Enqueue seed URL(s) — crawler.start() :646-674."""
        self._no_new_origins = False
        self._join_commit()  # serialize with any in-flight split commit
        rows, seen = [], set()
        for u in (urls or [self.config.initial_url]):
            it = process_url(u, None, 0, self.config.url_options(),
                             initial_url=self.config.initial_url)
            if it is None or it["url"] in seen:
                continue
            seen.add(it["url"])
            rows.append(self._item_row(it, self.next_id + len(rows), 1, "",
                                       self.next_id + len(rows) == 0))
        df = self.spark.createDataFrame(rows, FRONTIER_SCHEMA) \
            .withColumn("host_bucket", self._host_bucket_col())
        if self.frontier is None:
            df = df.select(*[f.name for f in FRONTIER_SCHEMA.fields])
            n = len(rows)
        else:
            df = df.join(self._seen_urls_view(), "url", "left_anti") \
                   .select(*[f.name for f in FRONTIER_SCHEMA.fields])
            n = df.count()
        self.next_id += n
        self.queued_count = (self.queued_count or 0) + n
        self._count_frontier_ids(n)
        if self.store is not None:
            part = self.store.commit_wave(
                self.wave, df, self._driver_state(), bloom=self.bloom,
                auto_compact=False)
        else:
            part = df.localCheckpoint(eager=True)
            self._bloom_add(part)
        self._append_enqueue(part, n)

    def seed_frontier(self, urls: DataFrame, depth: int = 1) -> int:
        """Distributed bulk seed — the 10^8-seed path (no driver loop).

        ``urls`` carries a canonical ``url`` column (+ optional ``id``;
        ids are assigned by url order otherwise). Caller-provided ids MUST
        NOT collide with existing frontier ids (all maintenance — pending
        removal, MoR resume — is id-keyed); offset by ``next_id`` when in
        doubt. URL parts are derived JVM-side with regexps — callers
        seeding a raw list should canonicalize first
        (functions.urlkit.process_url semantics).
        Returns the number of rows enqueued."""
        self._no_new_origins = False
        self._join_commit()  # serialize with any in-flight split commit
        cols = urls.columns
        frontier_empty = self.frontier is None
        if frontier_empty:
            # pure bulk seed: no seed-chain row exists, so the first-request
            # special case (P11) can never trigger — unlock the fused wave
            # path immediately
            self.first_request_active = False
        if "id" in cols:
            urls = urls.withColumn("id", F.col("id").cast("long"))
        else:
            # distributed two-phase ranking (url order) — never a
            # single-partition global-sort window on the 10^8-seed path
            urls, _ = assign_dense_ids(urls, ["url"], self.next_id)
        idc = F.col("id")
        proto = F.regexp_extract("url", r"^([a-z][a-z0-9+.-]*):", 1)
        host = F.regexp_extract("url", r"^[a-z0-9+.-]+://([^/:?#]+)", 1)
        port = F.coalesce(
            F.nullif(F.regexp_extract("url", r"^[a-z0-9+.-]+://[^/:?#]+:(\d+)",
                                      1), F.lit("")).cast("int"),
            F.when(proto == "https", 443).otherwise(80))
        path = F.coalesce(
            F.nullif(F.regexp_extract("url", r"^[a-z0-9+.-]+://[^/?#]+(/[^#]*)",
                                      1), F.lit("")), F.lit("/"))
        df = urls.select(
            idc.alias("id"), "url", proto.alias("protocol"),
            host.alias("host"), port.alias("port"), path.alias("path"),
            path.alias("uri_path"), F.lit(depth).cast("int").alias("depth"),
            F.lit("").alias("referrer"), F.lit(False).alias("fetched"),
            F.lit("queued").alias("status"),
            F.lit(self.wave).cast("int").alias("wave"),
            self._host_bucket_col(), F.lit(False).alias("is_seed_chain"),
            F.lit(None).cast(FRONTIER_SCHEMA["state"].dataType).alias("state"))
        if not frontier_empty:
            df = df.join(self._seen_urls_view(), "url", "left_anti")
        df = df.select(*[f.name for f in FRONTIER_SCHEMA.fields])
        added = {"n": 0}

        def account(delta: DataFrame) -> dict:
            # counters derive from the MATERIALIZED delta so the manifest
            # (resume contract) carries post-seed state
            agg = delta.agg(F.count("*").alias("n"),
                            F.max("id").alias("mx")).first()
            added["n"] = int(agg["n"] or 0)
            self.next_id = max(self.next_id, int(agg["mx"] or -1) + 1)
            self.queued_count = (self.queued_count or 0) + added["n"]
            if added["n"]:
                self._count("queueadd", added["n"])
            return self._driver_state()

        if self.store is not None:
            part = self.store.commit_wave(
                self.wave, df, account, bloom=self.bloom, auto_compact=False)
        else:
            # materialize the (possibly anti-joined) delta once, then derive
            # counters + bloom bits from the materialized part
            part = df.localCheckpoint(eager=True)
            account(part)
            if added["n"]:
                self._bloom_add(part)
        self._count_frontier_ids(added["n"])
        self._append_enqueue(part, added["n"])
        return added["n"]

    def queue_url(self, url: str, referrer: Optional[dict] = None,
                  force: bool = False) -> None:
        """Manual enqueue between waves (queueURL API, crawler.ts:1483).

        ``force=True`` bypasses the URL-seen check (queue.ts:124-129): a
        fresh frontier row with a new id is added even when the URL already
        exists. (The reference's same-instance rejection has no analog —
        every call here constructs a new item, which is exactly the path
        the reference permits.) Forced rows share a URL but never an id;
        all frontier maintenance is id-keyed, so duplicates are fetched
        independently, matching the reliability spec's forced-duplicate
        behavior."""
        self._no_new_origins = False
        self._join_commit()  # serialize with any in-flight split commit
        ref_url = referrer["url"] if referrer else None
        ref_depth = referrer["depth"] if referrer else 0
        it = process_url(url, ref_url, ref_depth, self.config.url_options(),
                         initial_url=self.config.initial_url)
        if it is None:
            return
        df = self.spark.createDataFrame(
            [self._item_row(it, self.next_id, it["depth"], ref_url or "", False)],
            FRONTIER_SCHEMA).withColumn("host_bucket", self._host_bucket_col())
        if not force and self.frontier is not None:
            df = df.join(self._seen_urls_view(), "url", "left_anti")
        df = df.select(*[f.name for f in FRONTIER_SCHEMA.fields])
        added = 1 if force else df.count()
        if added:
            self.next_id += added
            self.queued_count = (self.queued_count or 0) + added
            self._count_frontier_ids(added)
            self._count("queueadd", added)
            if self.store is not None:
                part = self.store.commit_wave(
                    self.wave, df, self._driver_state(), bloom=self.bloom,
                    auto_compact=False)
            else:
                part = df.localCheckpoint(eager=True)
                self._bloom_add(part)
            self._append_enqueue(part, added)
        else:
            self._count("queueduplicate", 1)

    # ------------------------------------------------------------ robots (S3)
    def _robots_broadcast(self):
        """Current robots store as a Spark broadcast — rebuilt only when a
        robots file was added since the last build. Executors unpickle the
        store once per python worker (workers are reused), so per-task cost
        is a cached ``.value`` read instead of O(#robots) closure bytes."""
        v = len(self.robots.files)
        if self._robots_bc is None or self._robots_bc_version != v:
            if self._robots_bc is not None:
                self._robots_bc.unpersist()
            self._robots_bc = self.spark.sparkContext.broadcast(self.robots)
            self._robots_bc_version = v
        return self._robots_bc

    def _flush_robots_log(self) -> None:
        """Append robots state ADDED since the last flush to the store's
        side log (content written once, ever) — the manifest then records
        only counts. Called from _driver_state() so every manifest commit
        has its log prefix durable first; a crash between the two leaves an
        orphan suffix that resume truncates. Files drain from the flush
        buffer (filled at parse time), so the side-table mode — where the
        driver retains no parsed files — stays durably resumable."""
        if self.store is None:
            self._robots_unflushed = []
            self._robots_rules_unflushed = []
            return
        t0 = self._robots_flushed["touches"]
        touches = self.robots.touched_hosts[t0:]
        files = self._robots_unflushed
        if touches or files:
            self.store.append_robots_log(
                [{"touch": o} for o in touches]
                + [{"robots": {"url": u, "body": b}} for (u, b) in files])
            self._robots_flushed = {"touches": t0 + len(touches),
                                    "files": self._robots_flushed["files"]
                                    + len(files)}
            self._robots_unflushed = []
        if self._robots_rules_prune is not None:
            # dirs superseded by the last compaction: a manifest carrying
            # the new base generation landed with the previous wave's
            # commit, so the old base/parts are dead for every resume path
            self.store.prune_robots_rules(*self._robots_rules_prune)
            self._robots_rules_prune = None
        if self._robots_rules_unflushed:
            # parquet part BEFORE the manifest that counts it (commit_wave
            # writes the manifest after _driver_state returns) — a crash in
            # between leaves an orphan part that resume prunes/rewrites
            if self._robots_rules_parts_flushed >= ROBOTS_RULES_COMPACT_MAX_PARTS:
                # ratio trigger: fold base + parts + the pending rows into
                # one new base generation instead of appending dir #N —
                # scan fan-in stays bounded over any number of flushes
                old = (self._robots_rules_base_gen,
                       self._robots_rules_parts_flushed)
                with _timed("robots-rules-compact"):
                    self._robots_rules_base_gen = \
                        self.store.compact_robots_rules(
                            *old, self._robots_rules_unflushed)
                self._robots_rules_parts_flushed = 0
                self._robots_rules_prune = old
            else:
                self.store.append_robots_rules(
                    self._robots_rules_unflushed,
                    self._robots_rules_parts_flushed)
                self._robots_rules_parts_flushed += 1
            self._robots_rules_unflushed = []
        if (self._robots_rules_parts_flushed or self._robots_rules_base_gen) \
                and (self._robots_side_parts or self._robots_side_rowbuf):
            # store-backed fold (post-flush, every noted row durable): the
            # working base becomes ONE parquet scan — size statistics for
            # Catalyst (a checkpointed RDD scan has none, forcing the
            # broadcast hint below the row gate and a blind SortMergeJoin
            # above it) and zero retained driver relations. This is the
            # >SIDE_BROADCAST_MAX_ROWS regime's layout, and building the
            # lazy scan costs no job (unlike the checkpoint fold it
            # replaces on store-backed runs). Scan fan-in = one dir per
            # new-origin wave; steady state stops adding dirs once origins
            # stop appearing (the 100-TB-store analog is a periodic
            # rewrite of the rules parts into one bucketed file set).
            self._robots_side_base = self.store.read_robots_rules(
                self._robots_rules_parts_flushed,
                self._robots_rules_base_gen, prune=False)
            self._robots_side_parts = []
            self._robots_side_rowbuf = []

    def _note_robots_file(self, rf, durable: bool = True) -> None:
        """Register a driver-parsed robots file (retain/legacy paths) and
        retain the parsed object when a consumer needs it (see __init__)."""
        cfg = self.config
        self._note_robots_entry(
            rf.protocol, rf.host, rf.port, rf.url, rf.body,
            rf.rules_payload(cfg.user_agent),
            rf.get_crawl_delay(cfg.user_agent), durable=durable)
        if self._robots_retain:
            self.robots.add(rf)

    def _note_robots_entry(self, protocol: str, host: str, port: int,
                           url: str, body: str,
                           rules_json: Optional[str],
                           crawl_delay: Optional[float],
                           durable: bool = True) -> None:
        """Single registration point for one origin's robots state — fields
        only, no parsed object required (the distributed fetch kernel parses
        executor-side and ships exactly these fields back): count it, buffer
        (url, body) for the durability log (skipped on resume replay — the
        body is already logged), harvest Crawl-delay into the politeness
        budget cache, and append the rules row to the side table + its
        parquet flush buffer. Everything the wave loop needs later lives in
        O(1)/O(new-origins) driver state or in Spark."""
        cfg = self.config
        self._robots_file_count += 1
        if durable and self.store is not None:
            self._robots_unflushed.append((url, body))
        # Crawl-delay → per-wave token budget: the wave models
        # ``tokens_per_host`` scheduler ticks of ``interval_ms`` each, so a
        # host asking for one fetch per ``delay`` seconds gets
        # min(config budget, floor(wave_duration / delay)), floored at 1 so
        # the host keeps making progress. First file with a delay wins per
        # host (same precedence as robots verdicts). Only hosts that SET a
        # delay occupy driver memory.
        tokens = cfg.tokens_per_host_per_wave
        if tokens is not None and crawl_delay and crawl_delay > 0 \
                and host not in self._delay_budgets_cache[0]:
            wave_ms = tokens * cfg.interval_ms
            self._delay_budgets_cache[0][host] = min(
                tokens, max(1, int(wave_ms / (crawl_delay * 1000.0))))
        if self._robots_side_active and (
                rules_json is not None or (crawl_delay and crawl_delay > 0)):
            # buffered: one DataFrame part per side-view refresh (i.e.
            # per wave), never one local relation per robots FILE — a
            # seed wave can parse thousands of origins. Rows with only a
            # crawl_delay carry a null rules_json (verdict: allowed, same
            # as no row) — they exist so resume can rebuild the delay
            # budgets from parquet. ``seq`` = registration order, the
            # first-delay-wins tie-break across origins of one host.
            row = (protocol, host, port, rules_json,
                   float(crawl_delay) if crawl_delay and crawl_delay > 0
                   else None,
                   self._robots_file_count - 1)
            self._robots_side_rowbuf.append(row)
            if durable and self.store is not None:
                self._robots_rules_unflushed.append(row)

    def _crawl_delay_budgets(self) -> Optional[dict]:
        """host → per-wave token budget harvested at robots parse time
        (_note_robots_file); None when politeness is off or no host set a
        Crawl-delay."""
        if self.config.tokens_per_host_per_wave is None:
            return None
        return self._delay_budgets_cache[0] or None

    def _robots_side_view(self) -> Optional[DataFrame]:
        """The ``robots_rules`` side table (origin → UA-selected rule list),
        base + per-wave parts; compacted to a checkpoint when the part list
        grows wide. One row per touched origin that has applicable rules —
        origins without a row are allowed by default, identical to the
        store's no-file verdict."""
        if self._robots_side_rowbuf:
            self._robots_side_parts.append(self.spark.createDataFrame(
                self._robots_side_rowbuf, ROBOTS_RULES_SCHEMA))
            self._robots_side_rowbuf = []
        if len(self._robots_side_parts) > SIDE_COMPACT_MAX_PARTS:
            # mid-wave fallback fold (store-less runs, or many view calls
            # between flushes): in-memory checkpoint. Store-backed runs
            # normally fold at flush time instead, adopting the durable
            # parquet as the base (see _flush_robots_log).
            base = self._robots_side_base
            for p in self._robots_side_parts:
                base = p if base is None else base.unionByName(p)
            self._robots_side_base = base.localCheckpoint(eager=True)
            self._robots_side_parts = []
        out = self._robots_side_base
        for p in self._robots_side_parts:
            out = p if out is None else out.unionByName(p)
        return out

    def _with_rules_arr(self, df: DataFrame, side: DataFrame) -> DataFrame:
        """Left-join the rules side table onto rows carrying (protocol,
        host, port), adding ``rules_arr`` — the JVM-evaluable decomposition
        of the origin's rule list (null = no applicable rules). The
        decomposition UDF runs over the SIDE table (O(origins), broadcast
        build time), never the row mass."""
        from ..operators.udfs import prep_rules_udf
        prep = prep_rules_udf()
        s = side.select(F.col("protocol").alias("__r_proto"),
                        F.col("host").alias("__r_host"),
                        F.col("port").alias("__r_port"),
                        prep(F.col("rules_json")).alias("rules_arr"))
        if self._robots_file_count <= SIDE_BROADCAST_MAX_ROWS:
            s = F.broadcast(s)
        norm_port = (F.when(F.col("port").isNull() | (F.col("port") <= 0),
                            F.when(F.col("protocol") == "https",
                                   F.lit(443)).otherwise(F.lit(80)))
                     .otherwise(F.col("port")))
        return (df.join(s, (F.col("protocol") == F.col("__r_proto"))
                        & (F.col("host") == F.col("__r_host"))
                        & (norm_port == F.col("__r_port")), "left")
                .drop("__r_proto", "__r_host", "__r_port"))

    @staticmethod
    def _robots_ok_col(path_col, rules_arr):
        """Pure-Catalyst robots verdict: fold ``rules_arr`` over the
        (already percent-decoded, below) path+query exactly like
        functions/robots.py::_match_rules — a matching wildcard rule
        returns immediately (robots-parser quirk, first match in file
        order); otherwise the longest matching plain prefix wins, Allow
        winning length ties; no match => allowed. Zero Python in the row
        mass: a Python verdict would put a BatchEvalPython node in the
        wave's hottest plan, breaking whole-stage codegen and paying an
        Arrow round-trip per due/candidate row (parity: the eval-parity
        tests run this fold against eval_rules over the golden rule set —
        Allow override, $-anchor, wildcard, percent-decode).

        ``path_col`` is the frontier/candidate ``path`` column (resource:
        path + '?' + query — byte-identical to what eval_rules derives
        from the url). Percent-decode mirrors urllib.unquote: '+' stays
        literal (pre-escaped before url_decode, which would turn it into
        a space) and malformed %-sequences leave the path undecoded
        (url_decode would throw; unquote leaves them in place — paths
        mixing valid and malformed escapes are not representable either
        way, and cannot reach here through the canonicalizer)."""
        dec = F.when(~path_col.contains("%"), path_col).otherwise(
            # '+' passes through (pre-escaped so url_decode keeps it
            # literal), so a %-free path IS its own decode — the common
            # case skips the validity regex and the decoder entirely
            F.when(
                path_col.rlike("^(?:[^%]|%[0-9a-fA-F]{2})*$"),
                F.url_decode(F.regexp_replace(path_col, r"\+", "%2B"))
            ).otherwise(path_col))

        def merge(acc, r):
            wild_verdict = F.struct(
                F.lit(True).alias("done"), r["allow"].alias("v"),
                acc["bl"].alias("bl"), acc["ba"].alias("ba"))
            plain_better = (F.startswith(dec, r["pre"])
                            & ((r["ln"] > acc["bl"])
                               | ((r["ln"] == acc["bl"])
                                  & r["allow"] & ~acc["ba"])))
            plain_update = F.struct(
                acc["done"].alias("done"), acc["v"].alias("v"),
                r["ln"].alias("bl"), r["allow"].alias("ba"))
            return (F.when(acc["done"], acc)
                    .when(r["rx"].isNotNull(),
                          F.when(F.regexp_like(dec, r["rx"]), wild_verdict)
                          .otherwise(acc))
                    .when(plain_better, plain_update)
                    .otherwise(acc))

        init = F.struct(F.lit(False).alias("done"), F.lit(False).alias("v"),
                        F.lit(-1).alias("bl"), F.lit(False).alias("ba"))
        return F.aggregate(
            rules_arr, init, merge,
            lambda acc: F.when(acc["done"], acc["v"])
                         .when(acc["bl"] >= 0, acc["ba"])
                         .otherwise(F.lit(True)))

    def _touched_view(self) -> Optional[DataFrame]:
        """(protocol, host, port) keys already robots-triggered — small side
        table for the trigger anti-join and the fused no-new-origins proof.
        Parts are driver local relations; compacted to a checkpoint when the
        list grows wide. Broadcast-hinted while it fits (checkpointed RDD
        scans carry no size stats, so Catalyst would otherwise SortMergeJoin
        it against the due set / candidate mass — see SIDE_BROADCAST_MAX_ROWS)."""
        if len(self._touched_parts) > 32:
            base = self._touched_base
            for p in self._touched_parts:
                base = p if base is None else base.unionByName(p)
            self._touched_base = base.localCheckpoint(eager=True)
            self._touched_parts = []
        out = self._touched_base
        for p in self._touched_parts:
            out = p if out is None else out.unionByName(p)
        if out is not None and \
                len(self._touched_trig_set) <= SIDE_BROADCAST_MAX_ROWS:
            out = F.broadcast(out)
        return out

    def _robots_pages_view(self) -> DataFrame:
        """Cached robots slice of the pages corpus: rows whose url ends in
        ``/robots.txt`` — hop-0 robots fetches are always constructed as
        ``origin + "/robots.txt"`` (crawler.ts:1311), so this slice is the
        only part of the corpus they can hit. One full corpus scan
        materializes it the first time a robots wave runs; every later
        wave's robots fetch probes this O(hosts)-row cache instead of
        re-scanning O(corpus) rows (at 100 TB the per-wave robots join
        must not touch the corpus — the measured cost was ~1.6 s/steady
        wave at 3.2M rows, and grows linearly with corpus size). Redirect
        hops (≥1) can land on arbitrary URLs, so they keep joining the
        full table — they only run for origins whose robots file actually
        redirected, typically none."""
        if self._robots_pages is None:
            self._robots_pages = (self.pages
                                  .filter(F.col("url").endswith("/robots.txt"))
                                  .select("url", "status", "html",
                                          "content_type", "content_encoding",
                                          "location")
                                  .persist())
        return self._robots_pages

    def _fetch_robots_batch(self, pairs: List[tuple]) -> Dict[str, Optional[dict]]:
        """Batched getRobotsTxt (crawler.ts:1368-1473): ONE broadcast join
        against the pages table per redirect round (≤6 rounds, typically 1),
        with unzip + charset decode AND the robots PARSE executor-side in an
        Arrow pass — the driver receives finished fields (body for the
        durability log; UA-selected rules_json / crawl_delay / sitemaps for
        registration) and does no per-origin parsing. The old shape — one
        driver job + full pages scan per new host — was the #1 scale-killer
        at 10^6+ hosts; the driver parse loop was the last O(new-origins)
        driver CPU per wave.

        ``pairs``: (origin, robots_url). Returns origin → record dict
        {body, rules_json, crawl_delay, sitemaps}, or None (missing /
        non-2xx chain / gzip error / domain-gated redirect → robotstxterror
        at the call site), exactly matching the recursive per-host
        semantics."""
        from ..functions.filters import DomainRules, domain_valid
        from ..functions.uriref import Uri
        out: Dict[str, Optional[dict]] = {origin: None for origin, _ in pairs}
        rules = DomainRules(host=self.crawl_host,
                            filter_by_domain=self.config.filter_by_domain,
                            ignore_www_domain=self.config.ignore_www_domain,
                            scan_subdomains=self.config.scan_subdomains,
                            domain_whitelist=list(self.config.domain_whitelist))
        if self.config.live_fetch:
            return self._fetch_robots_batch_live(pairs, rules)
        ua = self.config.user_agent

        def finish(batches):
            import json as _json
            from ..functions.robots import parse_robots as _parse
            for pdf in batches:
                texts, rjs, delays, sitemaps = [], [], [], []
                for origin, code, html, ctype, cenc in zip(
                        pdf["origin"], pdf["status"], pdf["html"],
                        pdf["content_type"], pdf["content_encoding"]):
                    body = None
                    if 200 <= code < 300:
                        body = bytes(html) if html is not None else b""
                        if "gzip" in (cenc or "") or "deflate" in (cenc or ""):
                            unzipped, err = unzip(body)
                            body = None if err else unzipped
                        if body is not None:
                            body = decode_buffer(body, ctype or "")
                    if body is None:
                        texts.append(None)
                        rjs.append(None)
                        delays.append(None)
                        sitemaps.append(None)
                        continue
                    # parse scoped to the ORIGIN's robots url: a redirected
                    # robots file still gates the origin that asked for it
                    # (crawler.ts:1368-1473 keeps the original host's store
                    # entry), so hop>=1 rows must not adopt the redirect
                    # target's origin
                    rf = _parse(origin + "/robots.txt", body)
                    texts.append(body)
                    rjs.append(rf.rules_payload(ua))
                    delays.append(rf.get_crawl_delay(ua))
                    sitemaps.append(_json.dumps(rf.sitemaps)
                                    if rf.sitemaps else None)
                res = pdf[["origin", "url", "location"]].copy()
                res["status"] = pdf["status"].astype("int32")
                res["body"] = texts
                res["rules_json"] = rjs
                res["crawl_delay"] = delays
                res["sitemaps"] = sitemaps
                yield res

        current = list(pairs)  # (origin, url-to-fetch) still unresolved
        for _hop in range(6):
            if not current:
                break
            want = self.spark.createDataFrame(
                current, "origin string, url string")
            src = self._robots_pages_view() if _hop == 0 else self.pages
            hit = (src.join(F.broadcast(want), "url")
                   .select("origin", "url",
                           F.col("status").cast("int").alias("status"),
                           "html", "content_type", "content_encoding",
                           "location"))
            rows = hit.mapInPandas(
                finish, "origin string, url string, location string, "
                        "status int, body string, rules_json string, "
                        "crawl_delay double, sitemaps string").collect()
            got = {r["origin"]: r for r in rows}
            nxt = []
            for origin, url in current:
                r = got.get(origin)
                if r is None:
                    continue  # missing page ⇒ no robots (testserver 404)
                if 200 <= r["status"] < 300:
                    out[origin] = None if r["body"] is None else {
                        "body": r["body"], "rules_json": r["rules_json"],
                        "crawl_delay": r["crawl_delay"],
                        "sitemaps": r["sitemaps"]}
                elif 300 <= r["status"] < 400 and r["location"]:
                    try:
                        target = Uri(r["location"]).absolute_to(url).normalize()
                    except Exception:
                        continue
                    if domain_valid(target.hostname(), rules):
                        nxt.append((origin, target.href()))
            current = nxt
        return out

    def _fetch_robots_batch_live(self, pairs: List[tuple],
                                 rules) -> Dict[str, Optional[dict]]:
        """Live-mode robots fetch, EXECUTOR-side: the (origin, robots_url)
        pairs fan out as an Arrow batch over the cluster; each row follows
        its own redirect chain AND parses its body inside the kernel (≤6
        hops, domain-gated) — the driver does no HTTP and no parsing.
        Identical verdict semantics to the simulated batch; only finished
        fields return to the driver."""
        from ..operators.fetch import make_live_robots_fetcher
        want = self.spark.createDataFrame(
            list(pairs), "origin string, url string")
        n_parts = min(len(pairs),
                      self.spark.sparkContext.defaultParallelism)
        rows = (want.repartition(max(n_parts, 1))
                .mapInPandas(make_live_robots_fetcher(self.config, rules),
                             "origin string, body string, rules_json string, "
                             "crawl_delay double, sitemaps string")
                .collect())
        return {r["origin"]: None if r["body"] is None else {
                    "body": r["body"], "rules_json": r["rules_json"],
                    "crawl_delay": r["crawl_delay"],
                    "sitemaps": r["sitemaps"]}
                for r in rows}

    def _robots_from_triggers(self, triggers: List[tuple]) -> List[dict]:
        """Per new host origin (touch order = trigger id order): fetch+parse
        robots.txt, emit sitemap candidates (crawler.ts:1296-1335). Fetching
        AND parsing are batched executor-side across all new origins
        (_fetch_robots_batch ships back finished fields); the driver keeps
        only the ordered touch bookkeeping + O(1)-per-origin registration in
        touch order for ordering parity. Retain-mode consumers (driver due
        path / in-kernel verdicts) still need the parsed RobotsFile object,
        so only THEY re-parse driver-side.

        ``triggers``: (id, depth, url, protocol, host, port) of the first due
        item per origin."""
        import json as _json
        new_keys = []
        for (_tid, _td, _tu, proto, host, port) in triggers:
            k = (proto, host, port)
            if k not in self._touched_trig_set:
                self._touched_trig_set.add(k)
                new_keys.append(k)
        if new_keys:
            self._touched_parts.append(self.spark.createDataFrame(
                new_keys, "protocol string, host string, port int"))
        pending: List[tuple] = []
        for (tid, tdepth, turl, proto, host, port) in sorted(triggers):
            origin = _origin_url(proto, host, port)
            if not self.robots.touch(origin):
                continue
            pending.append((tid, tdepth, turl, proto, host, port,
                            origin, origin + "/robots.txt"))
        if not pending:
            return []
        recs = self._fetch_robots_batch([(p[6], p[7]) for p in pending])
        candidates: List[dict] = []
        for (tid, tdepth, turl, proto, host, port,
             origin, robots_url) in pending:
            rec = recs.get(origin)
            if rec is None:
                self._count("robotstxterror", 1)
                continue
            if self._robots_retain:
                rf = parse_robots(robots_url, rec["body"])
                self._note_robots_file(rf)
                sitemaps = rf.sitemaps
            else:
                # port key must match the parsed file's origin scoping
                # (default port resolved from the protocol, crawler.ts
                # origin semantics) — _with_rules_arr normalizes frontier
                # rows the same way
                rport = port or (443 if proto == "https" else 80)
                self._note_robots_entry(
                    proto, host, rport, robots_url, rec["body"],
                    rec["rules_json"], rec["crawl_delay"])
                sitemaps = _json.loads(rec["sitemaps"]) \
                    if rec["sitemaps"] else []
            if not sitemaps:
                continue
            robots_item = process_url(robots_url, turl, tdepth,
                                      self.config.url_options())
            if robots_item is None:
                continue
            for k, sm in enumerate(sitemaps):
                candidates.append({
                    "raw_url": sm, "referrer_id": tid,
                    "pos": -1_000_000 + k, "referrer_url": robots_item["url"],
                    "referrer_depth": robots_item["depth"],
                    "is_seed_chain": False, "skip_depth_gate": True,
                    "weight": 1, "referrer_item": None,
                })
        return candidates

    # ------------------------------------------------- due selection (C1/Q5)
    def _due_driver_path(self, due_all: DataFrame):
        """Collect the due set once; robots gating + fetch log driver-side.
        One Spark job regardless of how many gates apply.

        Driver-OOM guard: the collect is bounded by
        ``config.fetch_log_max_due``. A wave whose due set exceeds the bound
        returns None and the caller auto-switches to the distributed path
        (fetch-log recording stops, with a one-time warning) — so the
        record_fetch_log=True default is safe to leave on at scale; the
        bounded probe costs one job either way."""
        bound = self.config.fetch_log_max_due
        rows = due_all.limit(bound + 1).collect()
        if len(rows) > bound:
            if not self._fetch_log_overflow:
                self._fetch_log_overflow = True
                print(f"simplecrawler_spark: wave {self.wave} due set exceeds "
                      f"fetch_log_max_due={bound}; switching to the "
                      "distributed due path (fetch log disabled)")
            return None
        triggers = {}
        for r in rows:
            key = (r["protocol"], r["host"], r["port"])
            if key not in triggers or r["id"] < triggers[key][0]:
                triggers[key] = (r["id"], r["depth"], r["url"],
                                 r["protocol"], r["host"], r["port"])
        sitemap_candidates = self._robots_from_triggers(list(triggers.values())) \
            if self.config.respect_robots_txt else []
        if self.config.respect_robots_txt and self.robots.files:
            ok_rows = [r for r in rows if self.robots.url_is_allowed(r["url"])]
            dis_rows = [r for r in rows if not self.robots.url_is_allowed(r["url"])]
        else:
            ok_rows, dis_rows = list(rows), []
        for r in sorted(ok_rows, key=lambda x: x["id"]):
            self.fetch_log.append((self.wave, r["id"], r["url"]))
        due = self.spark.createDataFrame(ok_rows, FRONTIER_SCHEMA)
        due_dis = (self.spark.createDataFrame(dis_rows, FRONTIER_SCHEMA)
                   if dis_rows else None)
        return due, due_dis, len(dis_rows), sitemap_candidates

    def _due_distributed_path(self, due_all: DataFrame):
        """Scale path: robots verdicts executor-side; the due set never hits
        the driver. The trigger aggregation is one small job per wave."""
        # grain = shuffle partitions (not core count): the due set feeds the
        # wave's dominant stage (fetch join -> discovery -> candidate Arrow
        # pass) and power-law hosts skew rows per host_bucket — quantized at
        # exactly #cores, every core idles behind the slowest bucket; finer
        # partitions shrink that straggler tail
        try:
            grain = int(self.spark.conf.get("spark.sql.shuffle.partitions"))
        except (TypeError, ValueError):
            grain = 0
        # SMALL due sets are MATERIALIZED once (lineage truncation, not
        # persist): the wave plan references the due set many times (fetch
        # join → status branch → bodies → discovery → candidates, then again
        # in the delta), and in-memory-cache SUBSTITUTION of a lazily-
        # persisted plan proved unreliable under AQE — the event log showed
        # the politeness windows re-executing ~8x inside the fused counter
        # action and again in every later action (BENCH/PROFILE.md, "due
        # checkpoint"); on a fixed-cost-dominated small wave that stage
        # explosion (133 vs 38 stages) tripled wave time, and the eager
        # checkpoint bought 2.5x steady throughput on the sf0.01 bench.
        # LARGE due sets skip it: a 16-core A/B on the 3.2M-page scaling
        # input (BENCH/BASELINE.md protocol, interleaved legs) measured the
        # checkpoint costing ~25 s/steady-wave (79/80 s vs 53/60 s) — the
        # duplicate window evaluations overlap compute-bound stages on
        # cores the mega job leaves idle (nearly free), while the eager
        # materialization is a serial barrier the whole wave waits on, and
        # its cost grows with due-set size. The driver-tracked queued count
        # (an upper bound on the due set, maintained without a job) picks
        # the side.
        due_all = due_all.repartition(
            max(grain, self.spark.sparkContext.defaultParallelism),
            "host_bucket", "id")
        materialize_due = (self.queued_count is not None
                           and self.queued_count < DUE_CHECKPOINT_MAX_ROWS)
        needs_trigger = self.config.respect_robots_txt and not (
            self._no_new_origins and self._touched_trig_set)
        if materialize_due and not self._robots_side_active:
            with _timed("due-checkpoint"):
                due_all = due_all.localCheckpoint(eager=True)
        sitemap_candidates: List[dict] = []
        if needs_trigger:
            # skipped entirely when the previous fused wave proved no
            # un-triggered origin can be due (steady state: ~1 s/wave of
            # pure fixed job cost). The aggregation runs over the PENDING
            # view, not the due set: every pending host surfaces at least
            # its min-id row in the due set (per-host budgets floor at 1),
            # so min(struct(id, depth, url)) per origin is identical — and
            # a plain hash aggregate over pending skips the politeness
            # windows entirely (the due-plan trigger job re-evaluated them
            # at 0.6-2.1 s/wave; r04 #7). An origin whose host budget is
            # exhausted by a sibling origin triggers at most a few waves
            # earlier than its first due row — strictly-earlier robots
            # compliance, identical steady state (goldens green).
            pend = self._pending_view()
            trig_src = pend if pend is not None else due_all
            trig_df = (trig_src.filter(F.col("status") == "queued")
                       .groupBy("protocol", "host", "port")
                       .agg(F.min(F.struct("id", "depth", "url")).alias("t")))
            touched = self._touched_view()
            if touched is not None:
                # only NEW origins reach the driver — O(new origins) per
                # wave, not O(due hosts)
                trig_df = trig_df.join(touched, ["protocol", "host", "port"],
                                       "left_anti")
            with _timed("robots-triggers"):
                trig = (trig_df.select("t.id", "t.depth", "t.url",
                                       "protocol", "host", "port")
                        .collect())
            with _timed("robots-fetch"):
                sitemap_candidates = self._robots_from_triggers(
                    [tuple(r) for r in trig])
        if self._robots_side_active:
            # distributed verdicts from the robots_rules side table (built
            # AFTER the trigger fetch so this wave's new rules gate this
            # wave's due rows): broadcast-join the origin's decomposed rule
            # rows and fold them JVM-side (_robots_ok_col) — no O(hosts)
            # broadcast, no driver robots state, and no Python anywhere in
            # the due mass (the rules decomposition UDF runs over the SIDE
            # table, O(origins)). The verdict FUSES into the wave's single
            # due-side barrier: one checkpoint of the full due mass
            # carrying robots_ok.
            side = self._robots_side_view()
            if side is None:
                # no origin has rules: nothing to verdict
                if materialize_due:
                    with _timed("due-checkpoint"):
                        due_all = due_all.localCheckpoint(eager=True)
                return due_all, None, 0, sitemap_candidates
            checked = (self._with_rules_arr(due_all, side)
                       .withColumn(
                           "robots_ok",
                           F.when(F.col("rules_arr").isNull(), F.lit(True))
                           .otherwise(self._robots_ok_col(
                               F.col("path"), F.col("rules_arr"))))
                       .drop("rules_arr"))
            # same materialization rule as the due set itself: a lazily-
            # persisted verdict frame is referenced by every downstream
            # subtree (fetch join, status counters, bodies, candidates,
            # delta) and in-memory cache substitution of per-wave plans is
            # unreliable under AQE — an interleaved sf0.1 A/B measured the
            # verdict join re-executing inside the mega action (mega-agg
            # spikes to 14-24 s vs 5-8 s checkpointed; steady 2869 vs 4457
            # URLs/s). Above the due-checkpoint gate everything stays
            # lazy/persisted, exactly as for due_all.
            if materialize_due:
                # the wave's ONLY due-side barrier (the politeness windows
                # evaluate inside it)
                with _timed("robots-verdict-checkpoint"):
                    checked = checked.localCheckpoint(eager=True)
            else:
                checked = checked.persist()
        else:
            if not (self.config.respect_robots_txt and self.robots.files):
                return due_all, None, 0, sitemap_candidates
            bc = self._robots_broadcast()

            def check(batches):
                store = bc.value
                for pdf in batches:
                    pdf = pdf.copy()
                    pdf["robots_ok"] = [store.url_is_allowed(u)
                                        for u in pdf["url"]]
                    yield pdf

            schema = ", ".join(f"`{f.name}` {f.dataType.simpleString()}"
                               for f in due_all.schema.fields) \
                + ", robots_ok boolean"
            checked = due_all.mapInPandas(check, schema).persist()
        self._wave_caches.append(checked)
        due = checked.filter("robots_ok").drop("robots_ok")
        due_dis = checked.filter("NOT robots_ok").drop("robots_ok")
        # n_dis DEFERRED (None): fused waves count disallowed rows inside
        # the mega action (one fewer serial job per wave — the eager
        # count here cost 1.4-2.5 s/wave at sf0.1); stepwise waves count
        # at the call site.
        return due, due_dis, None, sitemap_candidates

    # -------------------------------------------------------------- main loop
    def run(self, max_waves: Optional[int] = None) -> DataFrame:
        if self.frontier is None:
            self.seed()
        limit = max_waves if max_waves is not None else self.config.max_waves
        while self.wave < limit:
            # Q12 completion — queued count tracked by the driver (no job);
            # recomputed with a scan only after a resume
            if self.queued_count is None:
                self.queued_count = self.frontier \
                    .filter(F.col("status") == "queued").count()
            if self.queued_count == 0:
                break
            self.run_wave()
        self._join_commit()  # land the last wave's background half
        return self.frontier

    def run_wave(self) -> None:
        # per-wave phase receipts: every _timed driver action in this wave
        # (mega-agg, commit, robots fetch, due checkpoint, ...) accumulates
        # into this sink and is published as ``t_<phase>`` in the wave's
        # metrics row — the bench forwards them into its JSON so recorded
        # legs carry their own phase evidence.
        phase_sink: Dict[str, float] = {}
        timing.set_sink(phase_sink)
        try:
            self._run_wave_inner(phase_sink)
        finally:
            timing.set_sink(None)

    def _run_wave_inner(self, phase_sink: Dict[str, float]) -> None:
        cfg = self.config
        spark = self.spark
        wave_events: Dict[str, int] = {}

        def count(name, n):
            if n:
                wave_events[name] = wave_events.get(name, 0) + int(n)
            self._count(name, n)

        # due selection reads ONLY the pending view (every pending row is
        # 'queued' — no status scan over the settled mass of the frontier)
        due_all = select_due(self._pending_view(),
                             cfg.tokens_per_host_per_wave,
                             approx_rows=self.queued_count,
                             host_budgets=self._crawl_delay_budgets())
        picked = None
        if cfg.record_fetch_log and not self._fetch_log_overflow:
            picked = self._due_driver_path(due_all)
        if picked is not None:
            due, due_disallowed, n_due_disallowed, sitemap_candidates = picked
        else:
            due, due_disallowed, n_due_disallowed, sitemap_candidates = \
                self._due_distributed_path(due_all)
        if n_due_disallowed is not None:
            count("fetchdisallowed", n_due_disallowed)

        # -------------------------- fetch: join pages OR live HTTP (S1)
        if cfg.live_fetch:
            from ..operators.fetch import live_fetch_stage
            # conditional requests (S8) go over the wire; the server answers
            # 304 directly, so no post-join rewrite is needed
            resp = live_fetch_stage(due, cfg, jar=self.jar, cache=self.cache)
        else:
            pages = self.pages.select(
                F.col("url"),
                F.col("status").alias("_code"), F.col("html"),
                F.col("content_type").alias("_ctype"),
                F.col("content_encoding").alias("_cenc"),
                F.col("content_length").alias("_clen"),
                F.col("location").alias("_location"),
                F.col("set_cookie").alias("_set_cookie"),
                F.col("etag").alias("_etag"),
                F.col("last_modified").alias("_lastmod"),
                F.col("hang").alias("_hang"))
            resp = due.join(pages, "url", "left")
            if self.cache is not None:
                cache = self.cache.select(
                    "url", F.col("etag").alias("_cached_etag"),
                    F.col("last_modified").alias("_cached_lastmod"))
                cond_304 = ((F.col("_cached_etag").isNotNull()
                             & (F.col("_cached_etag") == F.col("_etag")))
                            | (F.col("_cached_lastmod").isNotNull()
                               & (F.col("_cached_lastmod") == F.col("_lastmod"))))
                resp = (resp.join(cache, "url", "left")
                        .withColumn("_code",
                                    F.when(F.col("_code").between(200, 299) & cond_304,
                                           F.lit(304)).otherwise(F.col("_code")))
                        .drop("_cached_etag", "_cached_lastmod"))
            # missing page ⇒ testserver-style 404 (testserver.ts:66-71)
            resp = resp.withColumn("_code", F.coalesce(F.col("_code"), F.lit(404))) \
                       .withColumn("_hang", F.coalesce(F.col("_hang"), F.lit(False)))

        mime_ok = F.col("_ctype").isNotNull() & F.col("_ctype").rlike(SUPPORTED_MIME_RLIKE)
        is2xx = F.col("_code").between(200, 299)
        oversize = F.coalesce(F.col("_clen") > cfg.max_resource_size, F.lit(False))

        # download conditions (P9): after headers, only on 2xx, never on 404
        # (conditions.integration.spec.ts:438-458)
        if cfg.download_conditions:
            conds = cfg.download_conditions

            def dl_check(batches):
                for pdf in batches:
                    pdf = pdf.copy()
                    oks, errs = [], []
                    for url, depth, code, ctype in zip(
                            pdf["url"], pdf["depth"], pdf["_code"], pdf["_ctype"]):
                        ok, err = True, False
                        if 200 <= code < 300:
                            item = {"url": url, "depth": depth, "code": code,
                                    "content_type": ctype}
                            for c in conds:
                                try:
                                    if not c(item):
                                        ok = False
                                        break
                                except Exception:
                                    err, ok = True, False
                                    break
                        oks.append(ok)
                        errs.append(err)
                    pdf["_dl_ok"] = oks
                    pdf["_dl_err"] = errs
                    yield pdf

            schema = ", ".join(f"`{f.name}` {f.dataType.simpleString()}"
                               for f in resp.schema.fields) \
                + ", _dl_ok boolean, _dl_err boolean"
            resp = resp.mapInPandas(dl_check, schema)
        else:
            resp = resp.withColumn("_dl_ok", F.lit(True)) \
                       .withColumn("_dl_err", F.lit(False))

        # ------------------------------------------- S2 status branching
        new_status = (
            F.when(F.col("_hang"), F.lit("timeout"))
             .when(oversize, F.lit("spooled"))                   # fetchdataerror
             .when(is2xx & F.col("_dl_err"), F.lit("spooled"))   # downloadconditionerror
             .when(is2xx & ~F.col("_dl_ok"), F.lit("downloadprevented"))
             .when(is2xx & (mime_ok | F.lit(cfg.download_unsupported)),
                   F.lit("downloaded"))
             .when(is2xx, F.lit("headers"))                      # crawler.ts:1873,1883-1898
             .when(F.col("_code") == 304, F.lit("spooled"))      # 304: fetched only
             .when(F.col("_code").between(300, 399) & F.col("_location").isNotNull(),
                   F.lit("redirected"))
             .when(F.col("_code").isin(404, 410), F.lit("notfound"))
             .otherwise(F.lit("failed")))
        # downloadconditionerror leaves the item unfetched (no queue.update in
        # the error branch, crawler.ts:1855-1858)
        new_fetched = F.when(is2xx & F.col("_dl_err"), F.lit(False)) \
                       .otherwise(F.lit(True))
        clen_expr = F.coalesce(F.col("_clen"),
                               F.length(F.col("html")).cast("long"), F.lit(0))
        headers_map = F.map_filter(
            F.create_map(
                F.lit("content-length"), clen_expr.cast("string"),
                F.lit("content-type"), F.col("_ctype"),
                F.lit("content-encoding"), F.col("_cenc"),
                F.lit("location"), F.col("_location"),
                F.lit("set-cookie"), F.col("_set_cookie"),
                F.lit("etag"), F.col("_etag"),
                F.lit("last-modified"), F.col("_lastmod")),
            lambda k, v: v.isNotNull())
        state = F.struct(
            F.lit(0).cast("long").alias("request_latency"),
            F.lit(0).cast("long").alias("request_time"),
            F.lit(0).cast("long").alias("download_time"),
            clen_expr.alias("content_length"),
            F.col("_ctype").alias("content_type"),
            F.col("_code").cast("int").alias("code"),
            headers_map.alias("headers"),
            F.coalesce(F.length(F.col("html")).cast("long"), F.lit(0))
             .alias("actual_data_size"),
            F.lit(False).alias("sent_incorrect_size"))
        resp = (resp.withColumn("_new_status", new_status)
                    .withColumn("_new_fetched", new_fetched)
                    .withColumn("_state", state)
                    .withColumn("_oversize", oversize)
                    .persist())

        # ------------- wave counters: long-format (k, v, s) agg branches.
        # Steady-state scale waves (no fetch log, past the first-request
        # special case) FUSE stats + cookies + body counters + candidate
        # reject counts into ONE driver action — each avoided action is a
        # full job round-trip that stays serial no matter how many
        # executors exist (the scaling-efficiency killer). Driver-path
        # waves keep the stepwise sequence: P11 and the fetch log need
        # driver decisions between the aggregates.
        s = F.col("_new_status")
        fused = (not cfg.record_fetch_log or self._fetch_log_overflow) \
            and not self.first_request_active
        STATS = ["fetchstart", "downloaded", "notfound", "redirected",
                 "timeout", "failed", "downloadprevented", "fetchdataerror",
                 "notmodified", "ncomp"]
        stats_plan = resp.agg(
            F.count("*").alias("fetchstart"),
            F.count_if(s == "downloaded").alias("downloaded"),
            F.count_if(s == "notfound").alias("notfound"),
            F.count_if(s == "redirected").alias("redirected"),
            F.count_if(s == "timeout").alias("timeout"),
            F.count_if(s == "failed").alias("failed"),
            F.count_if(s == "downloadprevented").alias("downloadprevented"),
            F.count_if(F.col("_oversize")).alias("fetchdataerror"),
            F.count_if(F.col("_code") == 304).alias("notmodified"),
            F.count_if(F.coalesce(F.col("_cenc"), F.lit(""))
                       .rlike(_COMPRESSED_RLIKE)).alias("ncomp"),
        ).select(F.expr("stack({}, {}) as (k, v)".format(
            len(STATS), ", ".join(f"'{n}', {n}" for n in STATS)))
        ).withColumn("s", F.lit(None).cast("string"))
        # Set-Cookie headers are DEDUPED JVM-side before the driver collect:
        # the jar upsert is idempotent per distinct header string, so only
        # distinct headers (plus their multiplicity, for the cookieerror
        # counter) need to reach the driver — a 10^7-row wave with
        # accept_cookies on collects #distinct-headers rows, not the
        # politeness budget.
        cookie_plan = (resp.filter((~F.col("_hang"))
                                   & F.col("_set_cookie").isNotNull())
                       .groupBy(F.col("_set_cookie").alias("s"))
                       .agg(F.count("*").alias("v"))
                       .select(F.lit("__cookie").alias("k"),
                               F.col("v").cast("long").alias("v"), "s"))

        kv: Dict[str, int] = {}

        def collect_kv(plans) -> List[Tuple[str, int]]:
            """Union the (k, v, s) branches, run ONE action, fold counter
            rows into ``kv`` and return (header, multiplicity) Set-Cookie
            rows."""
            df = plans[0]
            for p in plans[1:]:
                df = df.unionByName(p)
            cookies = []
            for r in df.collect():
                if r["k"] == "__cookie":
                    cookies.append((r["s"], int(r["v"] or 0)))
                else:
                    kv[r["k"]] = kv.get(r["k"], 0) + int(r["v"] or 0)
            return cookies

        def bodies_counters(bodies_df):
            return (bodies_df.agg(
                F.count_if(F.col("gzip_error")).cast("long").alias("v"))
                .select(F.lit("gz").alias("k"), "v",
                        F.lit(None).cast("string").alias("s")))

        def rejects_counters(processed_df):
            rej = processed_df.groupBy("reject_reason").agg(
                F.sum("weight").alias("w"), F.count("*").alias("rows"))
            key = F.coalesce(F.col("reject_reason"), F.lit("__ok"))
            null_s = F.lit(None).cast("string").alias("s")
            return (rej.select(F.concat(F.lit("rej:"), key).alias("k"),
                               F.col("w").cast("long").alias("v"), null_s)
                    .unionByName(
                        rej.select(F.concat(F.lit("rejrows:"), key).alias("k"),
                                   F.col("rows").cast("long").alias("v"),
                                   null_s)))

        def bounds_plan(processed_df, n_buckets):
            """Quantile split points of candidate referrer_id, riding the
            fused action as ``pb:{i}`` counter rows — they feed
            assign_dense_ids(range_bounds=...) so the dense-id ranking
            skips repartitionByRange's reservoir-sampling job (one fixed
            per-wave job fewer; see BENCH/PROFILE.md)."""
            fracs = [i / n_buckets for i in range(1, n_buckets)]
            return (processed_df.agg(
                F.percentile_approx(
                    F.col("referrer_id").cast("long"),
                    F.array(*[F.lit(fr) for fr in fracs]),
                    F.lit(2000)).alias("bs"))
                .select(F.posexplode("bs").alias("p", "b"))
                .select(F.concat(F.lit("pb:"), F.col("p")).alias("k"),
                        F.col("b").cast("long").alias("v"),
                        F.lit(None).cast("string").alias("s")))

        def build_bodies(dl):
            body_in = dl.select("id", "url", "protocol", "html",
                                F.col("_ctype").alias("content_type"),
                                F.col("_cenc").alias("content_encoding"),
                                "do_discover")
            return body_in.mapInPandas(make_body_processor(cfg), BODY_SCHEMA)

        def referrer_item_col():
            """Full referrer QueueItem as JSON for fetch conditions
            (crawler.ts:1502-1523 passes the referrer item as the second
            predicate argument; conditions.integration.spec.ts:131-183
            asserts url/depth/protocol/host/port/path + stateData reach it).
            Built only when conditions exist — otherwise a null literal, so
            the default path pays nothing."""
            if not cfg.fetch_conditions:
                return F.lit(None).cast("string")
            return F.to_json(F.struct(
                F.col("id"), F.col("url"), F.col("protocol"), F.col("host"),
                F.col("port"), F.col("path"), F.col("uri_path"),
                F.col("depth"), F.col("referrer"),
                F.col("_new_fetched").alias("fetched"),
                F.col("_new_status").alias("status"),
                F.col("_state").alias("state")))

        def build_discovered(bodies_df):
            ref_info = resp.filter(F.col("_new_status") == "downloaded") \
                .select("id", F.col("url").alias("_purl"),
                        F.col("depth").alias("_pdepth"),
                        referrer_item_col().alias("referrer_item"))
            discovered = (bodies_df.select("id", "discovered")
                          .join(ref_info, "id")
                          .select(F.col("id").alias("referrer_id"),
                                  F.posexplode("discovered").alias("pos", "raw_url"),
                                  F.col("_purl").alias("referrer_url"),
                                  F.col("_pdepth").alias("referrer_depth"),
                                  F.col("referrer_item"))
                          .withColumn("pos", F.col("pos").cast("long"))
                          .withColumn("is_seed_chain", F.lit(False))
                          .withColumn("skip_depth_gate", F.lit(False)))
            return self._pre_dedupe(discovered) \
                .select(*[f.name for f in CANDIDATE_SCHEMA.fields])

        def build_redirects():
            return (resp.filter(F.col("_new_status") == "redirected")
                    .select(F.col("_location").alias("raw_url"),
                            F.col("id").alias("referrer_id"),
                            F.lit(0).cast("long").alias("pos"),
                            F.col("url").alias("referrer_url"),
                            F.col("depth").alias("referrer_depth"),
                            F.col("is_seed_chain"),
                            F.lit(True).alias("skip_depth_gate"),
                            F.lit(1).cast("long").alias("weight"),
                            referrer_item_col().alias("referrer_item")))

        def build_processed(cand_parts):
            candidates = cand_parts[0]
            for p in cand_parts[1:]:
                candidates = candidates.unionByName(p)
            # side-table mode: the kernel runs robots-free (empty store) and
            # verdicts come from a post-kernel join against robots_rules +
            # a pass that stamps fetchdisallowed on still-unrejected rows —
            # same filter precedence, no O(hosts) broadcast in the kernel
            side = self._robots_side_view() if self._robots_side_active \
                else None
            robots_arg = [] if self._robots_side_active \
                else self._robots_broadcast()
            out = candidates.mapInPandas(
                make_candidate_processor(cfg, robots_arg, self.crawl_host),
                PROCESSED_CANDIDATE_SCHEMA)
            if side is not None:
                # stamp fetchdisallowed on still-unrejected rows a matching
                # rule disallows — queueURL's precedence (junk →
                # invaliddomain → fetchdisallowed; crawler.ts:1483-1523)
                # holds because rejected rows keep their earlier reason.
                # Pure-JVM verdict fold (see _robots_ok_col): the wide
                # processed row (referrer struct, state) crosses Arrow only
                # in the kernel, and the verdict stays in one codegen span.
                need = (F.col("reject_reason").isNull()
                        & F.col("rules_arr").isNotNull())
                out = (self._with_rules_arr(out, side)
                       .withColumn(
                           "reject_reason",
                           F.when(need & ~self._robots_ok_col(
                                      F.col("path"), F.col("rules_arr")),
                                  F.lit("fetchdisallowed"))
                           .otherwise(F.col("reject_reason")))
                       .select(*[f.name for f in
                                 PROCESSED_CANDIDATE_SCHEMA.fields]))
            out = out.persist()
            self._wave_caches.append(out)
            return out

        bodies = None
        processed = None
        id_bounds = None  # quantile split points for dense-id bucketing,
        # harvested from the fused action (fused path only)

        if fused:
            # -------- fused path: build the full wave plan lazily, then ONE
            # mega action for every counter
            dl = resp.filter(F.col("_new_status") == "downloaded") \
                     .withColumn("do_discover", mime_ok)
            bodies = build_bodies(dl).persist()
            self._wave_caches.append(bodies)
            cand_parts = [build_discovered(bodies),
                          build_redirects().withColumn(
                              "is_seed_chain", F.lit(False))]
            if sitemap_candidates:
                cand_parts.append(
                    spark.createDataFrame(sitemap_candidates, CANDIDATE_SCHEMA))
            processed = build_processed(cand_parts)
            agg_plans = [stats_plan, cookie_plan, bodies_counters(bodies),
                         rejects_counters(processed)]
            if cfg.id_mode == "composite":
                agg_plans.append(bounds_plan(
                    processed,
                    4 * max(spark.sparkContext.defaultParallelism, 1)))
            if n_due_disallowed is None and due_disallowed is not None:
                # deferred robots-gate count rides the mega action too
                agg_plans.append(
                    due_disallowed.agg(F.count("*").alias("c"))
                    .select(F.lit("ndis").alias("k"),
                            F.col("c").cast("long").alias("v"),
                            F.lit(None).cast("string").alias("s")))
            touched_now = None
            if cfg.respect_robots_txt:
                # prove (or refute) "no new origins pending" for the NEXT
                # wave's trigger-skip: count enqueue-surviving candidates
                # whose origin is not yet robots-triggered. Rides the mega
                # action; the touched side is a broadcast local relation.
                touched_now = self._touched_view()
                if touched_now is not None:
                    agg_plans.append(
                        processed.filter(F.col("reject_reason").isNull())
                        .select("protocol", "host", "port").dropDuplicates()
                        .join(touched_now, ["protocol", "host", "port"],
                              "left_anti")
                        .agg(F.count("*").alias("c"))
                        .select(F.lit("nneworig").alias("k"),
                                F.col("c").cast("long").alias("v"),
                                F.lit(None).cast("string").alias("s")))
            with _timed("mega-agg"):
                set_cookies = collect_kv(agg_plans)
            if n_due_disallowed is None:
                n_due_disallowed = int(kv.get("ndis", 0))
                count("fetchdisallowed", n_due_disallowed)
                if not n_due_disallowed:
                    due_disallowed = None
            if cfg.respect_robots_txt:
                self._no_new_origins = (touched_now is not None
                                        and kv.get("nneworig", 1) == 0)
            id_bounds = [
                kv[k] for k in sorted(
                    (k for k in kv if k and k.startswith("pb:")),
                    key=lambda s: int(s[3:]))] or None
            stats = {n: kv.get(n, 0) for n in STATS}
            n_compressed = stats.pop("ncomp")
            for k2, v2 in stats.items():
                count(k2, v2)
            if cfg.accept_cookies and set_cookies:
                count("cookieerror", self._apply_set_cookies(set_cookies))
            if n_compressed:
                count("gziperror", kv.get("gz", 0))
            if self.keep_content and stats["downloaded"]:
                content = (bodies.join(dl.select("id", "url", "depth"), "id")
                           .select("id", "url", "depth", "body", "text",
                                   "extracted_text", "gzip_error",
                                   F.lit(self.wave).alias("wave"))
                           .localCheckpoint(eager=True))
                self._content_parts.append(content)
        else:
            # -------- stepwise path (goldens / first-request waves):
            # no fused proof this wave — next wave must run the trigger job
            self._no_new_origins = False
            if n_due_disallowed is None:
                with _timed("due-robots-gate"):
                    n_due_disallowed = due_disallowed.count() \
                        if due_disallowed is not None else 0
                count("fetchdisallowed", n_due_disallowed)
                if not n_due_disallowed:
                    due_disallowed = None
            with _timed("stats-agg"):
                set_cookies = collect_kv([stats_plan, cookie_plan])
            stats = {n: kv.get(n, 0) for n in STATS}
            n_compressed = stats.pop("ncomp")
            for k2, v2 in stats.items():
                count(k2, v2)
            if cfg.accept_cookies and set_cookies:
                count("cookieerror", self._apply_set_cookies(set_cookies))

            # body pipeline (T1/T2/D1-D3)
            if stats["downloaded"]:
                dl = resp.filter(F.col("_new_status") == "downloaded") \
                         .withColumn("do_discover", mime_ok)
                bodies = build_bodies(dl)
                if self.keep_content:
                    content = (bodies.join(dl.select("id", "url", "depth"), "id")
                               .select("id", "url", "depth", "body", "text",
                                       "extracted_text", "gzip_error",
                                       "discovered",
                                       F.lit(self.wave).alias("wave"))
                               .localCheckpoint(eager=True))
                    self._content_parts.append(content.drop("discovered"))
                    bodies = content  # reuse the materialized fragment
                else:
                    bodies = bodies.persist()
                    self._wave_caches.append(bodies)
                if n_compressed:
                    with _timed("bodies-agg"):
                        collect_kv([bodies_counters(bodies)])
                    count("gziperror", kv.get("gz", 0))

            # candidates (D4/R1/S3)
            cand_parts = []
            if bodies is not None:
                cand_parts.append(build_discovered(bodies))
            if stats["redirected"]:
                redirects = build_redirects()
                if not self.first_request_active:
                    redirects = redirects.withColumn(
                        "is_seed_chain", F.lit(False))
                cand_parts.append(redirects)
            # P11: seed-chain bookkeeping (crawler.ts:1899,1925,1947-1953)
            if self.first_request_active:
                for r in resp.filter(F.col("is_seed_chain")) \
                             .select("url", "_new_status", "_location").collect():
                    if r["_new_status"] == "redirected":
                        tgt = process_url(r["_location"], r["url"], 0,
                                          cfg.url_options())
                        if tgt is not None and cfg.allow_initial_domain_change:
                            self.crawl_host = tgt["host"]
                    else:
                        self.first_request_active = False
            if sitemap_candidates:
                cand_parts.append(
                    spark.createDataFrame(sitemap_candidates, CANDIDATE_SCHEMA))
            if cand_parts:
                processed = build_processed(cand_parts)
                with _timed("candidate-reject-counts"):
                    collect_kv([rejects_counters(processed)])

        # ----------------- enqueue accounting (shared by both paths)
        n_new = 0
        new_rows = None
        if processed is not None:
            # weighted by pre-dedupe multiplicity: every original attempt is
            # counted, though only distinct keys ran python
            rej_w = {k2[4:]: v2 for k2, v2 in kv.items()
                     if k2.startswith("rej:")}
            rej_n = {k2[8:]: v2 for k2, v2 in kv.items()
                     if k2.startswith("rejrows:")}
            n_cand = rej_w.get("__ok", 0)
            # rows that actually ran the python canonicalizer this wave
            # (post pre-dedupe) — perf telemetry
            wave_events["python_candidates"] = sum(rej_n.values())
            for reason, wsum in rej_w.items():
                if reason != "__ok":
                    count({"junk": "junkurl", "invaliddomain": "invaliddomain",
                           "fetchdisallowed": "fetchdisallowed",
                           "fetchprevented": "fetchprevented",
                           "fetchconditionerror": "fetchconditionerror",
                           "depthlimit": "depthlimit"}[reason], wsum)
            if n_cand:
                accepted = processed.filter(F.col("reject_reason").isNull())
                # within-wave ordered dedupe + seen-set anti-join (Q1/Q2/D3)
                w = Window.partitionBy("url").orderBy("referrer_id", "pos")
                first_seen = accepted.withColumn(
                    "__rn", F.row_number().over(w)).filter("__rn = 1").drop("__rn")
                seen_urls = self._seen_urls_view()
                if self.bloom is not None:
                    # Bloom pre-filter (no false negatives): rows the filter
                    # rejects are definitely fresh; only the maybe_seen
                    # sliver pays the exact anti-join shuffle.
                    probed = self.bloom.probe(
                        first_seen.withColumn("host_bucket",
                                              self._host_bucket_col()))
                    maybe = probed.filter(F.col("__maybe_seen"))
                    fresh = (probed.filter(~F.col("__maybe_seen"))
                             .unionByName(maybe.join(seen_urls,
                                                     "url", "left_anti"))
                             .drop("__maybe_seen", "host_bucket"))
                else:
                    fresh = first_seen.join(seen_urls, "url", "left_anti")
                # dense reference-identical ids in ALL modes. 'composite'
                # (scale) with precomputed bounds takes the FULLY-LAZY
                # ranking (offset + row_number per bucket, zero driver
                # actions — operators/ids.py); the enqueue count is then
                # recovered from the wave commit itself: the delta's
                # parquet-footer row count minus the (driver-known) due-row
                # count. Store-backed waves therefore launch NO id/count
                # job at all — the dedupe window + seen anti-join evaluate
                # exactly once, inside the commit's delta write.
                if cfg.id_mode == "composite" and id_bounds is None:
                    # without precomputed bounds the two-phase ranking's
                    # range shuffle SAMPLES its input before shuffling —
                    # unpersisted, the dedupe window + seen anti-join above
                    # would run twice per wave (sampling pass + shuffle
                    # write). With id_bounds the bucketing is a pure
                    # projection and fresh is evaluated exactly once by the
                    # commit's delta write — no persist needed.
                    fresh = fresh.persist()
                    self._wave_caches.append(fresh)
                with _timed("assign-ids"):
                    with_ids, n_known = assign_dense_ids(
                        fresh, ["referrer_id", "pos"], self.next_id,
                        count_hint=n_cand if cfg.id_mode != "composite"
                        else None,
                        cache_registry=self._wave_caches
                        if cfg.id_mode == "composite" else None,
                        range_bounds=id_bounds
                        if cfg.id_mode == "composite" else None)
                if n_known is not None:
                    n_new = n_known
                elif self.store is not None:
                    # deferred: commit_wave's finalizer sets n_new from the
                    # materialized delta's footers (no Spark job)
                    n_new = None
                else:
                    # deferred: finalized right after _commit from the
                    # checkpointed delta (committed.count() - n_due_total
                    # scans cached blocks — no second evaluation of the
                    # dedupe + anti-join + ranking plan, which the
                    # pre-commit persist+count here used to pay as a
                    # 1-4 s serial job per wave)
                    n_new = None
                if n_new is not None:
                    count("queueadd", n_new)
                    count("queueduplicate", n_cand - n_new)
                    self.next_id += n_new
                new_rows = with_ids.select(
                    "id", "url", "protocol", "host",
                    F.col("port").cast("int").alias("port"), "path", "uri_path",
                    F.col("depth").cast("int").alias("depth"),
                    F.col("referrer_url").alias("referrer"),
                    F.lit(False).alias("fetched"), F.lit("queued").alias("status"),
                    F.lit(self.wave + 1).cast("int").alias("wave"),
                    self._host_bucket_col(), "is_seed_chain",
                    F.lit(None).cast(FRONTIER_SCHEMA["state"].dataType).alias("state"))

        # ------------------------------------------------ frontier MERGE (Q4)
        outcome = resp.select(
            "id", "url", "protocol", "host", "port", "path", "uri_path", "depth",
            "referrer", F.col("_new_fetched").alias("fetched"),
            F.col("_new_status").alias("status"), "wave", "host_bucket",
            "is_seed_chain", F.col("_state").alias("state"))
        if due_disallowed is not None:
            outcome = outcome.unionByName(due_disallowed.select(
                "id", "url", "protocol", "host", "port", "path", "uri_path",
                "depth", "referrer", F.lit(True).alias("fetched"),
                F.lit("disallowed").alias("status"), "wave", "host_bucket",
                "is_seed_chain", "state"))

        # the wave's delta = versioned rows only (outcome status updates +
        # fresh enqueues). The WHOLE frontier is never rebuilt: the
        # materialized delta is appended to the base+delta working copy
        # (_append_wave_outcome) — per-wave commit I/O is O(delta), not
        # O(frontier); ratio-triggered compaction amortizes the rest.
        delta = outcome if new_rows is None \
            else outcome.unionByName(new_rows)
        delta = delta.select(*[f.name for f in FRONTIER_SCHEMA.fields])
        n_due_total = stats["fetchstart"] + n_due_disallowed

        self.wave += 1
        if self.store is not None and cfg.async_commit and fused \
                and new_rows is not None:
            # ---- split commit: enqueue half sync, outcome half overlapped
            # with the NEXT wave's compute. The next wave's dataflow reads
            # only pending (enqueue part + removal ids) and the seen view
            # (superseded rows stay visible by design), so the outcome
            # parquet + manifest can land on a background thread; every
            # store mutation serializes on _join_commit.
            self._join_commit()
            enq_half = new_rows.select(*[f.name for f in
                                         FRONTIER_SCHEMA.fields])
            # outcome already carries the disallowed union (built above)
            out_half = outcome.select(*[f.name for f in
                                        FRONTIER_SCHEMA.fields])
            with _timed("commit"):
                token, enq_committed, n_enq = \
                    self.store.begin_split_commit(self.wave, enq_half)
            if n_new is None:
                n_new = n_enq
                count("queueadd", n_new)
                count("queueduplicate", n_cand - n_new)
                self.next_id += n_new
            if self.queued_count is not None:
                self.queued_count = self.queued_count - n_due_total + n_new
            self._bloom_add(enq_committed)
            # removal ids for the next wave's pending view: exactly the
            # rows that settle this wave (every outcome row). Materialized
            # id-only — a narrow barrier over frames the mega action just
            # cached, NOT the wide due set.
            with _timed("due-ids-checkpoint"):
                # the cast+alias mints FRESH attribute ids: localCheckpoint
                # keeps the plan's output attributes, and the raw ``id``
                # attr descends from the same pending-view attributes this
                # frame later anti-joins against — Catalyst resolves that
                # mix to an INTERNAL_ERROR (conflicting references) once
                # compaction re-unions the working views
                due_ids = (out_half
                           .select(F.col("id").cast("long").alias("id"))
                           .localCheckpoint(eager=True))
            # frozen snapshots: the background thread must not read live
            # driver state the next wave is already mutating — that
            # includes the Bloom side table, whose next-wave add would
            # race a background fpr_by_bucket() and leak the NEXT wave's
            # inserts into THIS wave's lineage
            state_snapshot = self._driver_state()
            with _timed("bloom-fpr-snapshot"):
                fpr_snapshot = self.bloom.fpr_by_bucket() \
                    if self.bloom is not None else {}
            wave_events["wave"] = self.wave - 1
            for k, v in phase_sink.items():
                wave_events[f"t_{k}"] = round(v, 3)
            self.metrics.append(wave_events)
            self._count_frontier_ids(n_new)
            self._pending_removed.append(due_ids)
            if self._commit_pool is None:
                from concurrent.futures import ThreadPoolExecutor
                self._commit_pool = ThreadPoolExecutor(
                    1, thread_name_prefix="wave-commit")
            pinned = [resp] + ([processed] if processed is not None else []) \
                + self._wave_caches
            self._wave_caches = []
            # dedicated background sink: the overlapped outcome-write +
            # manifest time belongs to THIS wave's receipts, merged into
            # its (already-published) metrics row at _join_commit
            bg_sink: Dict[str, float] = {}

            def _finalize_bg(store=self.store, token=token,
                             out_half=out_half, state=state_snapshot,
                             fpr=fpr_snapshot, sink=bg_sink):
                timing.set_sink(sink)
                try:
                    return store.finalize_split_commit(
                        token, out_half, state, bloom_fpr=fpr)
                finally:
                    timing.set_sink(None)

            fut = self._commit_pool.submit(_finalize_bg)
            self._commit_future = (fut, pinned, wave_events, bg_sink)
            # full wave mass counts toward the compaction ratio (the
            # settled half lands at join time)
            self._append_enqueue(enq_committed, n_due_total + n_new)
            return
        if self.store is not None:
            # a wave without enqueues (or a stepwise wave) commits
            # synchronously: the previous wave's background half must land
            # first — both write the store manifest, in wave order
            self._join_commit()
            # the manifest's counters are finalized AFTER the delta parquet
            # is written, counting new rows from the materialized files
            # rather than re-evaluating the enqueue plan.
            def finalize(_committed: DataFrame, delta_rows: int) -> dict:
                # ``delta_rows`` comes from the delta's parquet FOOTERS
                # (store._bucket_counts — a metadata read, no Spark job).
                # outcome rows == fetchstart + disallowed == n_due_total
                # exactly (stats_plan counts every resp row), so the
                # enqueue count is delta_rows - n_due_total: the lazy
                # dense-id path needs no count action anywhere.
                nonlocal n_new
                if n_new is None:
                    n_new = delta_rows - n_due_total
                    count("queueadd", n_new)
                    count("queueduplicate", n_cand - n_new)
                    self.next_id += n_new
                if self.queued_count is not None:
                    self.queued_count = \
                        self.queued_count - n_due_total + n_new
                return self._driver_state()

            with _timed("commit"):
                committed = self.store.commit_wave(
                    self.wave, delta, finalize, bloom=self.bloom,
                    auto_compact=False)
        else:
            with _timed("commit"):
                committed = self._commit(delta)
            if n_new is None:
                # delta rows == n_due_total (outcome) + enqueues exactly
                # (stats_plan counts every resp row); the count scans the
                # just-checkpointed blocks, not the enqueue plan
                with _timed("dense-id-count"):
                    n_new = committed.count() - n_due_total
                count("queueadd", n_new)
                count("queueduplicate", n_cand - n_new)
                self.next_id += n_new
            if self.queued_count is not None:
                self.queued_count = self.queued_count - n_due_total + n_new
        wave_events["wave"] = self.wave - 1
        for k, v in phase_sink.items():
            wave_events[f"t_{k}"] = round(v, 3)
        self.metrics.append(wave_events)
        if n_new and self.store is None:
            # post-commit: the delta is materialized, so the queued filter
            # reads checkpointed data — no recompute of the enqueue plan.
            # (Store-backed runs add inside commit_wave for crash safety.)
            self._bloom_add(committed.filter(F.col("status") == "queued"))
        self._count_frontier_ids(n_new)
        self._append_wave_outcome(committed, n_due_total + n_new)
        for df in (resp, *([processed] if processed is not None else []),
                   *self._wave_caches):
            df.unpersist()
        self._wave_caches = []
