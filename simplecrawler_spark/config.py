"""Crawler configuration — mirrors the reference's public config surface
(/root/reference/src/crawler.ts:284-605) plus the Spark-engine knobs that
replace its timer loop (interval/maxConcurrency → per-host wave token budget).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Callable, List, Optional, Sequence

from .functions.urlkit import UrlOptions


@dataclass
class CrawlerConfig:
    # --- reference knobs (crawler.ts line refs in comments) ---
    initial_url: str = ""
    user_agent: str = ("Node/simplecrawler (https://github.com/simplecrawler/"
                       "simplecrawler)")                   # :319 (shape only)
    interval_ms: int = 250                                  # :297
    max_concurrency: int = 5                                # :303
    timeout_ms: int = 300_000                               # :308
    max_resource_size: int = 16 * 1024 * 1024               # :475
    max_depth: int = 0                                      # :438
    filter_by_domain: bool = True                           # :363
    ignore_www_domain: bool = True                          # :377
    scan_subdomains: bool = False                           # :370
    domain_whitelist: Sequence[str] = ()                    # :459
    allow_initial_domain_change: bool = False               # :340
    strip_querystring: bool = False                         # :498
    sort_query_parameters: bool = False                     # :504
    strip_www_domain: bool = False                          # :510
    url_encoding: str = "unicode"                           # :383
    parse_html_comments: bool = True                        # :558
    parse_script_tags: bool = True                          # :564
    respect_robots_txt: bool = True                         # :346
    download_unsupported: bool = True                       # :493
    decode_responses: bool = False                          # :389
    decompress_responses: bool = True                       # :396
    accept_cookies: bool = True                             # :402
    discover_resources: bool = True                         # :551 (flag :571)
    # user conditions (P8/P9): vectorized predicates over a pandas batch of
    # candidate/header rows → boolean Series (or per-row bool). Raising marks
    # the row fetchconditionerror / downloadconditionerror.
    fetch_conditions: List[Callable] = field(default_factory=list)
    download_conditions: List[Callable] = field(default_factory=list)
    # request-options knobs (T3, crawler.ts:800-833,755-759)
    auth_user: Optional[str] = None                         # :800-811
    auth_pass: Optional[str] = None
    custom_headers: Optional[dict] = None                   # :827-833
    proxy_hostname: Optional[str] = None                    # :755-759
    proxy_port: Optional[int] = None

    # --- Spark engine knobs ---
    # real-socket fetch stage (operators/fetch.py): due rows fetch over HTTP
    # in an Arrow pass (ThreadPool capped at max_concurrency per executor)
    # instead of joining the pages table. Semantics are identical to the
    # simulated join — tested against the live fixture server.
    live_fetch: bool = False
    host_buckets: int = 64            # salt buckets for host-hash partitioning
    # Bloom URL-seen side table (north_rule): capacity per host_bucket; None
    # disables the pre-filter (exact anti-join only). Auto-created under
    # <store>/bloom when a SnapshotStore is attached.
    bloom_capacity_per_bucket: Optional[int] = None
    bloom_target_fpr: float = 0.01
    # which URL-seen pre-filter backs the anti-join (north_rule:
    # "Bloom/cuckoo"): "bloom" = bit-OR mergeable, smallest blobs;
    # "cuckoo" = 16-bit fingerprints in 4-way buckets — supports remove()
    # and ~100x lower FPR at the cost of ~2x blob bytes. Both share the
    # versioned side-table persistence and the no-false-negative contract.
    seen_filter: str = "bloom"
    tokens_per_host_per_wave: Optional[int] = None  # None = unlimited (politeness off)
    max_waves: int = 1000
    # ids are dense + reference-identical in both modes; 'composite' forces
    # the distributed two-phase ranking (scale path, shuffles fresh rows
    # only), 'dense' picks a single-partition window for small inputs
    id_mode: str = "dense"
    # double-buffered wave commit (store-backed fused waves only): write the
    # enqueue half of the wave delta synchronously — the only half the next
    # wave's dataflow reads — and overlap the outcome half + manifest write
    # with the next wave's compute on a background thread. Durability lags
    # one wave: a crash inside the window resumes from the previous
    # snapshot and replays the wave identically (the same contract as a
    # crash before a monolithic commit).
    async_commit: bool = False
    record_fetch_log: bool = True     # collect per-wave fetch-start order (tests)
    # driver-OOM guard for the fetch-log path: a wave whose due set exceeds
    # this bound auto-switches the crawl to the distributed due path
    fetch_log_max_due: int = 100_000
    shuffle_partitions: Optional[int] = None

    def url_options(self) -> UrlOptions:
        return UrlOptions(
            strip_querystring=self.strip_querystring,
            sort_query_parameters=self.sort_query_parameters,
            strip_www_domain=self.strip_www_domain,
            url_encoding=self.url_encoding,
        )
