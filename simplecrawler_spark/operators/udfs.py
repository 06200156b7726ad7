"""Arrow-batched kernels for the wave hot path.

Two mapInPandas passes carry ALL per-row Python work of a wave:

1. ``make_body_processor(config)`` — unzip (T2) → decode (T1) → discover
   (D1/D2) → clean/absolutize/per-page-dedupe (D3), one pass over the fetched
   pages of a wave. Mirrors handleResponse's data path
   (/root/reference/src/crawler.ts:1786-1802,1705-1716,965-994,846-886).

2. ``make_candidate_processor(config, robots_rows, crawl_hosts)`` —
   canonicalize (P2, crawler.ts:895-958) + the full enqueue filter chain of
   queueURL (crawler.ts:1483-1523): domainValid (P5), urlIsAllowed (P6),
   fetch conditions (P8); emits ``reject_reason`` instead of events.

Everything else in the wave (status branching, joins, dedupe, politeness
ranking, id assignment) is JVM-side DataFrame code — no per-row Python.

Robots verdicts have two shapes: without user fetch conditions the wave
joins the ``robots_rules`` side table and folds the origin's rules JVM-side
(``prep_rules_udf`` decomposes each origin's rule list once — zero O(hosts)
driver or broadcast state, no Python in the row mass); with user fetch
conditions the verdict runs inside the candidate kernel from a Spark
broadcast of the store (one executor-cached copy, rebuilt only when a
robots file is added — never a per-wave closure capture, which would be
O(hosts) bytes per wave).
"""

from __future__ import annotations

import json
import os
import re
from typing import Callable, Iterator, List, Optional

import numpy as np
import pandas as pd

from ..config import CrawlerConfig
from ..functions.decode import decode_buffer, mime_type_supported, protocol_supported, unzip
from ..functions.discovery import clean_expand_resources, discover_resources
from ..functions.filters import DomainRules, domain_valid
from ..functions.robots import RobotsFile, RobotsStore
from ..functions.urlkit import process_url

_GZIPPY = ("gzip", "deflate")

# Vectorized canonicalization fast path: a URL matching this pattern is
# ALREADY in the exact form process_url's absolutize→normalize pipeline
# would output (lowercase ascii scheme/host, dotted host labels with no
# leading/trailing hyphens, optional explicit port without leading zeros,
# absolute path over unreserved-safe characters, no %-escapes, no query,
# no fragment, no userinfo, no whitespace). For such URLs canonicalization
# reduces to stripping a default port — a pandas str op — so only the
# residue (relative refs, IDN, escapes, queries, dot-segments, oddballs)
# pays the per-row python Uri algebra. Fast-path/slow-path equivalence is
# asserted over a probe corpus in tests/test_urlkit_fastpath.py.
FAST_URL_RE = re.compile(
    r"^(https?)://"
    r"((?:[a-z0-9](?:[a-z0-9-]*[a-z0-9])?\.)*[a-z0-9](?:[a-z0-9-]*[a-z0-9])?)"
    r"(?::([1-9][0-9]{0,4}))?"
    r"(/[A-Za-z0-9/_\-.~]*)$")
# dot-segments need the slow path's remove_dot_segments
_DOTSEG_RE = re.compile(r"/\.{1,2}(?:/|$)")


def _needs_unzip(content_encoding: Optional[str]) -> bool:
    return bool(content_encoding) and any(e in content_encoding for e in _GZIPPY)


def make_body_processor(config: CrawlerConfig) -> Callable:
    """mapInPandas kernel: (id, url, protocol, html, content_type,
    content_encoding, do_discover) → BODY_SCHEMA rows."""
    parse_comments = config.parse_html_comments
    parse_scripts = config.parse_script_tags
    respect_robots = config.respect_robots_txt
    decompress_flag = config.decompress_responses
    decode_flag = config.decode_responses
    discover_flag = config.discover_resources
    download_unsupported = config.download_unsupported
    # captured at construction (driver-side) so the flag reaches executors
    # via the serialized closure — a driver-set env var never would
    disable_fastpath = bool(os.environ.get("SPARK_GRAFT_DISABLE_FASTPATH"))

    def process(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"id": [], "body": [], "text": [], "extracted_text": [],
                   "discovered": [], "gzip_error": []}
            for row in pdf.itertuples(index=False):
                raw = bytes(row.html) if row.html is not None else b""
                ctype = row.content_type
                gzip_error = False
                decompressed = None
                if _needs_unzip(row.content_encoding):
                    decompressed, err = unzip(raw)
                    if err is not None:
                        gzip_error = True
                        decompressed = None
                body_for_discovery = decompressed if decompressed is not None else raw
                body_emitted = (decompressed
                                if decompressed is not None and decompress_flag
                                else raw)
                text = decode_buffer(body_emitted, ctype or "") if decode_flag else None
                extracted = decode_buffer(body_for_discovery, ctype or "")
                discovered: List[str] = []
                mime_ok = bool(ctype) and mime_type_supported(ctype)
                if row.do_discover and discover_flag and mime_ok:
                    # Buffer.toString() in queueLinkedItems (crawler.ts:1080):
                    # utf8 with replacement, regardless of charset
                    disc_text = body_for_discovery.decode("utf-8", errors="replace")
                    matches = discover_resources(
                        disc_text,
                        parse_html_comments=parse_comments,
                        parse_script_tags=parse_scripts,
                        respect_robots_txt=respect_robots)
                    discovered = clean_expand_resources(
                        matches, row.url, row.protocol, protocol_supported,
                        disable_fastpath=disable_fastpath)
                out["id"].append(row.id)
                out["body"].append(body_emitted)
                out["text"].append(text)
                out["extracted_text"].append(extracted)
                out["discovered"].append(discovered)
                out["gzip_error"].append(gzip_error)
            yield pd.DataFrame(out)

    return process


def prep_rules_udf():
    """Scalar pandas UDF ``rules_json -> array<struct<pre, rx, ln, allow>>``
    — decomposes each ORIGIN's rule list into JVM-evaluable rows (plain
    prefixes + translated Java regexes, functions/robots.py::
    prep_rules_rows). Runs over the robots_rules SIDE TABLE only (one row
    per origin with rules), so Python cost is O(origins); the per-URL
    verdict fold is then a pure Catalyst ``aggregate`` expression with NO
    Python in the due/candidate mass (plans/crawl.py::_robots_ok_col)."""
    from pyspark.sql.functions import pandas_udf
    from ..functions.robots import prep_rules_rows

    @pandas_udf("array<struct<pre:string,rx:string,ln:int,allow:boolean>>")
    def prep(rules_json: pd.Series) -> pd.Series:
        return pd.Series([None if rj is None else prep_rules_rows(rj)
                          for rj in rules_json.to_numpy(object)])

    return prep


def make_candidate_processor(config: CrawlerConfig, robots,
                             crawl_host: str) -> Callable:
    """mapInPandas kernel over CANDIDATE_SCHEMA rows → PROCESSED_CANDIDATE rows.

    Filter order per queueURL (crawler.ts:1483-1523):
    junk → invaliddomain → fetchdisallowed (robots) → fetchconditionerror /
    fetchprevented; depth gate (crawler.ts:1086-1090) applies only to rows
    with skip_depth_gate == False (discoveries — redirects and sitemaps
    bypass it, see R1/S3).

    ``robots``: a Spark Broadcast of a RobotsStore (the wave engine's shape
    — one executor-cached copy, never O(#robots) closure bytes per wave),
    or a plain list of RobotsFile for driverless/unit use.
    """
    opts = config.url_options()
    rules = DomainRules(
        host=crawl_host,
        filter_by_domain=config.filter_by_domain,
        ignore_www_domain=config.ignore_www_domain,
        scan_subdomains=config.scan_subdomains,
        domain_whitelist=list(config.domain_whitelist),
    )
    if hasattr(robots, "value"):          # pyspark Broadcast[RobotsStore]
        robots_bc, robots_local = robots, None
    else:
        robots_bc, robots_local = None, RobotsStore(config.user_agent)
        for rf in robots:
            robots_local.add(rf)  # populates the origin index
    max_depth = config.max_depth
    fetch_conditions = config.fetch_conditions
    respect_robots = config.respect_robots_txt

    # the fast path is only valid under default canonicalization options
    # and with no user fetch conditions (conditions receive the full item
    # dict — route through the reference-exact slow path)
    # bench/CI knob: force every candidate through the reference-exact slow
    # path so the fast path's win is measurable (bench.py fastpath section)
    fast_enabled = (not os.environ.get("SPARK_GRAFT_DISABLE_FASTPATH")
                    and not opts.strip_querystring
                    and not opts.sort_query_parameters
                    and not opts.strip_www_domain
                    and opts.url_encoding == "unicode"
                    and not fetch_conditions)

    def process(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # broadcast resolution is a cached executor-local read after the
        # first task on each python worker
        store = robots_bc.value if robots_bc is not None else robots_local
        domain_cache = {}  # host -> domain_valid verdict (hosts repeat a lot)
        for pdf in batches:
            pdf = pdf.reset_index(drop=True)
            n = len(pdf)
            cols = {c: np.full(n, None, dtype=object) for c in
                    ("url", "protocol", "host", "port", "path", "uri_path")}
            depths = np.zeros(n, dtype="int64")
            reasons = np.full(n, None, dtype=object)

            ref_depth = pdf["referrer_depth"].fillna(0).to_numpy("int64")
            seedc = pdf["is_seed_chain"].fillna(False).to_numpy(bool)
            if max_depth != 0:
                gate = ((~pdf["skip_depth_gate"].fillna(False).to_numpy(bool))
                        & (ref_depth + 1 > max_depth))
                reasons[gate] = "depthlimit"
            else:
                gate = np.zeros(n, dtype=bool)

            fast = np.zeros(n, dtype=bool)
            if fast_enabled and n:
                raw = pdf["raw_url"].astype(object).fillna("").astype(str)
                ext = raw.str.extract(FAST_URL_RE)
                path_s = ext[3].fillna("")
                fast = (ext[0].notna().to_numpy(bool)
                        & ~path_s.str.contains("//", regex=False)
                        .to_numpy(bool)
                        & ~path_s.str.contains(_DOTSEG_RE).to_numpy(bool)
                        & ~gate)
                if fast.any():
                    # canonical form modulo default-port strip — vectorized
                    is_def = ((ext[0].eq("http") & ext[2].eq("80"))
                              | (ext[0].eq("https") & ext[2].eq("443")))
                    port_keep = ext[2].where(ext[2].notna() & ~is_def)
                    url_f = (ext[0] + "://" + ext[1]
                             + (":" + port_keep).fillna("") + ext[3])
                    port_num = port_keep.fillna("0").astype("int64")
                    cols["url"][fast] = url_f.to_numpy(object)[fast]
                    cols["protocol"][fast] = ext[0].to_numpy(object)[fast]
                    cols["host"][fast] = ext[1].to_numpy(object)[fast]
                    cols["port"][fast] = port_num.to_numpy(object)[fast]
                    cols["path"][fast] = ext[3].to_numpy(object)[fast]
                    cols["uri_path"][fast] = ext[3].to_numpy(object)[fast]
                    depths[fast] = ref_depth[fast] + 1
                    depths[fast & seedc] = 1  # crawler.ts:1947-1949
                    # domain gate, memoized per host (same verdict function
                    # as the slow path)
                    f_idx = np.nonzero(fast)[0]
                    f_hosts = cols["host"][f_idx]
                    for h in set(f_hosts):
                        if h not in domain_cache:
                            domain_cache[h] = domain_valid(h, rules)
                    dom_ok = np.fromiter((domain_cache[h] for h in f_hosts),
                                         bool, len(f_idx))
                    reasons[f_idx[~dom_ok]] = "invaliddomain"
                    if respect_robots and store.files:
                        live = f_idx[dom_ok]
                        rob_ok = np.fromiter(
                            (store.url_is_allowed(u)
                             for u in cols["url"][live]), bool, len(live))
                        reasons[live[~rob_ok]] = "fetchdisallowed"

            # slow residue: the reference-exact per-row pipeline
            raw_a = pdf["raw_url"].to_numpy(object)
            refu_a = pdf["referrer_url"].to_numpy(object)
            refd_a = pdf["referrer_depth"].to_numpy(object)
            refitem_a = (pdf["referrer_item"].to_numpy(object)
                         if fetch_conditions else None)
            # one referrer page → one parsed item dict, shared by all its
            # candidates (the reference hands every condition the same
            # referrerQueueItem object, crawler.ts:1502-1523)
            ref_cache: dict = {}

            def referrer_of(i):
                s = refitem_a[i]
                if s is None:
                    return None
                d = ref_cache.get(s)
                if d is None:
                    d = json.loads(s)
                    ref_cache[s] = d
                return d
            for i in np.nonzero(~(gate | fast))[0]:
                item = process_url(raw_a[i], refu_a[i], refd_a[i], opts)
                if item is None:
                    reasons[i] = "junk"
                    continue
                for c in ("url", "protocol", "host", "port", "path", "uri_path"):
                    cols[c][i] = item[c]
                depths[i] = item["depth"]
                if seedc[i]:
                    depths[i] = 1  # crawler.ts:1947-1949
                if not domain_valid(item["host"], rules):
                    reasons[i] = "invaliddomain"
                    continue
                if respect_robots and not store.url_is_allowed(item["url"]):
                    reasons[i] = "fetchdisallowed"
                    continue
                ok = True
                for cond in fetch_conditions:
                    try:
                        if not cond(item, referrer_of(i)):
                            reasons[i] = "fetchprevented"
                            ok = False
                            break
                    except Exception:
                        reasons[i] = "fetchconditionerror"
                        ok = False
                        break
                if not ok:
                    continue
            out = pdf.copy()
            for c, vals in cols.items():
                out[c] = list(vals)
            out["port"] = pd.array(list(cols["port"]), dtype="Int32")
            out["depth"] = pd.array(list(depths), dtype="Int32")
            out["reject_reason"] = list(reasons)
            yield out[["raw_url", "referrer_id", "pos", "referrer_url",
                       "referrer_depth", "is_seed_chain", "skip_depth_gate",
                       "weight", "referrer_item", "url", "protocol", "host",
                       "port", "path", "uri_path", "depth", "reject_reason"]]

    return process
