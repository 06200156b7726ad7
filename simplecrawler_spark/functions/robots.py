"""robots.txt parsing + allow/deny evaluation (reference parity kernel).

Parity targets:
- RobotsFile            ⇔ the npm ``robots-parser`` (v2.x) object stored per
                          touched host in ``_robotsTxts``
                          (/root/reference/src/crawler.ts:603,1308-1310)
- url_is_allowed        ⇔ Crawler.urlIsAllowed /root/reference/src/crawler.ts:683-701
                          (fold over robots files in host-touch order; first
                           non-undefined verdict wins; undefined ⇒ allowed)

Semantics implemented from the public robots.txt spec (Google REP / RFC 9309)
as implemented by robots-parser:
- a robots file only answers for URLs on its own (protocol, host, port) —
  anything else is "no verdict" (None);
- user-agent groups; lookup key is the part of the UA string before the first
  "/", lowercased; fallback group "*";
- Allow/Disallow patterns are prefix matches; "*" is a wildcard, "$" anchors
  the end; the longest matching plain pattern wins, Allow winning ties;
  a matching wildcard rule returns immediately (robots-parser quirk);
- empty Disallow ⇒ no rule (allow everything);
- Sitemap lines are collected verbatim (absolutized by the caller).
"""

from __future__ import annotations

import json
import re
from dataclasses import dataclass, field
from typing import List, Optional, Tuple
from urllib.parse import unquote, urlsplit

__all__ = ["RobotsFile", "RobotsStore", "parse_robots", "eval_rules",
           "prep_rules_rows", "java_regex_of"]

_WILDCARD_CHARS = re.compile(r"[*$]")


def _format_user_agent(ua: str) -> str:
    """robots-parser formatUserAgent: token before the first '/', lowercased."""
    return ua.split("/")[0].strip().lower()


def _normalize_path(path_and_query: str) -> str:
    """Percent-decode then re-encode is skipped; match on the decoded path
    like robots-parser's urlEncodeToUpper round-trip (ASCII-safe for our
    corpus). Leading '/' guaranteed."""
    p = unquote(path_and_query)
    return p if p.startswith("/") else "/" + p


@dataclass
class _Rule:
    pattern: str
    allow: bool
    regex: Optional[re.Pattern] = None  # set when pattern has * or $


def _compile_rule(pattern: str, allow: bool) -> _Rule:
    """Rule from an already-normalized pattern (``_normalize_path`` runs
    once, at parse time: a ``rules_payload`` entry decoded again would turn
    a literal ``%25xx`` into ``%xx``)."""
    if _WILDCARD_CHARS.search(pattern):
        parts = []
        for ch in pattern:
            if ch == "*":
                parts.append("(?:.*)")
            elif ch == "$":
                parts.append("$")
            else:
                parts.append(re.escape(ch))
        return _Rule(pattern, allow, re.compile("^" + "".join(parts)))
    return _Rule(pattern, allow)


def _match_rules(rules: List[_Rule], path: str) -> Optional[bool]:
    """Verdict of a rule list over a normalized path+query — the matching
    core shared by RobotsFile.is_allowed and the side-table evaluator:
    a matching wildcard rule returns immediately (robots-parser quirk);
    otherwise the longest matching plain prefix wins, Allow winning length
    ties; no match ⇒ None (caller maps to its default)."""
    best: Optional[_Rule] = None
    for rule in rules:
        if rule.regex is not None:
            if rule.regex.search(path):
                return rule.allow
            continue
        if not path.startswith(rule.pattern):
            continue
        if (best is None or len(rule.pattern) > len(best.pattern)
                or (len(rule.pattern) == len(best.pattern)
                    and rule.allow and not best.allow)):
            best = rule
    return None if best is None else best.allow


@dataclass
class RobotsFile:
    """One parsed robots.txt, scoped to its origin (protocol, host, port)."""
    url: str
    protocol: str = ""
    host: str = ""
    port: int = 80
    groups: dict = field(default_factory=dict)  # ua-token -> List[_Rule]
    sitemaps: List[str] = field(default_factory=list)
    body: str = ""  # raw text, kept for checkpoint serialization
    crawl_delays: dict = field(default_factory=dict)  # ua-token -> seconds
    preferred_host: Optional[str] = None  # Host: directive (robots-parser)

    def is_allowed(self, url: str, user_agent: str = "*") -> Optional[bool]:
        """True/False verdict, or None when this file has no authority over
        ``url`` (different origin) — mirrors robots-parser isAllowed."""
        try:
            sp = urlsplit(url)
        except ValueError:
            return None
        scheme = (sp.scheme or "http").lower()
        port = sp.port or (443 if scheme == "https" else 80)
        if (scheme != self.protocol or (sp.hostname or "").lower() != self.host
                or port != self.port):
            return None
        rules = self.groups.get(_format_user_agent(user_agent))
        if rules is None:
            rules = self.groups.get("*")
        if rules is None:
            return True
        path = _normalize_path((sp.path or "/") + (("?" + sp.query) if sp.query else ""))
        v = _match_rules(rules, path)
        return True if v is None else v

    def rules_payload(self, user_agent: str = "*") -> Optional[str]:
        """Serialized rule list for the group ``user_agent`` selects — the
        ``robots_rules`` side-table cell for this origin. JSON
        ``[[pattern, allow], ...]`` in file order (order is semantic: a
        matching wildcard rule returns first). None when no group applies —
        the verdict is then always True, exactly like having no file, so
        the origin simply gets no side-table row. The crawl's user agent is
        fixed, so group selection happens ONCE here (driver, parse time)
        instead of per URL on the executors."""
        rules = self.groups.get(_format_user_agent(user_agent))
        if rules is None:
            rules = self.groups.get("*")
        if rules is None:
            return None
        return json.dumps([[r.pattern, r.allow] for r in rules])

    # robots-parser surface breadth (src/types/robots-parser.d.ts):
    # the reference only consumes isAllowed, but exposes the full object
    def is_disallowed(self, url: str, user_agent: str = "*") -> Optional[bool]:
        v = self.is_allowed(url, user_agent)
        return None if v is None else not v

    def is_explicitly_disallowed(self, url: str,
                                 user_agent: str = "*") -> Optional[bool]:
        """Disallowed by a group addressed to THIS user agent specifically —
        the '*' fallback group does not count (robots-parser semantics)."""
        try:
            sp = urlsplit(url)
        except ValueError:
            return None
        scheme = (sp.scheme or "http").lower()
        port = sp.port or (443 if scheme == "https" else 80)
        if (scheme != self.protocol or (sp.hostname or "").lower() != self.host
                or port != self.port):
            return None
        rules = self.groups.get(_format_user_agent(user_agent))
        if rules is None:
            return False
        path = _normalize_path((sp.path or "/")
                               + (("?" + sp.query) if sp.query else ""))
        v = _match_rules(rules, path)
        return False if v is None else not v

    def get_crawl_delay(self, user_agent: str = "*") -> Optional[float]:
        d = self.crawl_delays.get(_format_user_agent(user_agent))
        if d is None:
            d = self.crawl_delays.get("*")
        return d

    def get_preferred_host(self) -> Optional[str]:
        return self.preferred_host

    def get_sitemaps(self) -> List[str]:
        return list(self.sitemaps)


#: process-local parse counter. Tests assert the DRIVER stays at zero on
#: side-table-mode waves/resume (parsing is distributed into the robots
#: fetch kernel; executors run in separate worker processes, so their
#: parses never increment the driver's copy).
PARSE_CALLS = 0


def parse_robots(robots_url: str, body: str) -> RobotsFile:
    """Parse a robots.txt body fetched from ``robots_url``."""
    global PARSE_CALLS
    PARSE_CALLS += 1
    sp = urlsplit(robots_url)
    scheme = (sp.scheme or "http").lower()
    rf = RobotsFile(
        url=robots_url, protocol=scheme, host=(sp.hostname or "").lower(),
        port=sp.port or (443 if scheme == "https" else 80), body=body or "")

    current_agents: List[str] = []
    seen_rule_in_group = True  # new UA line after rules starts a new group set
    for raw_line in (body or "").splitlines():
        line = raw_line.split("#", 1)[0].strip()
        if not line or ":" not in line:
            continue
        key, _, value = line.partition(":")
        key = key.strip().lower()
        value = value.strip()
        if key == "user-agent":
            if seen_rule_in_group:
                current_agents = []
                seen_rule_in_group = False
            current_agents.append(value.lower())
            for a in current_agents:
                rf.groups.setdefault(a, rf.groups.get(a, []))
        elif key in ("allow", "disallow"):
            seen_rule_in_group = True
            if not value:
                continue  # empty Disallow/Allow: no rule
            for a in (current_agents or ["*"]):
                rf.groups.setdefault(a, []).append(
                    _compile_rule(_normalize_path(value), key == "allow"))
        elif key == "crawl-delay":
            seen_rule_in_group = True
            try:
                delay = float(value)
            except ValueError:
                continue
            for a in (current_agents or ["*"]):
                rf.crawl_delays.setdefault(a, delay)
        elif key == "host":
            seen_rule_in_group = True
            if value and rf.preferred_host is None:
                rf.preferred_host = value.lower()
        elif key == "sitemap":
            seen_rule_in_group = True
            if value:
                rf.sitemaps.append(value)
    return rf


# executor-side cache: rules_payload string → compiled rule list. Bounded
# (a payload string is one origin's rules; web-scale crawls see many) —
# cleared wholesale at the cap, which only costs recompilation.
_EVAL_CACHE: dict = {}
_EVAL_CACHE_CAP = 8192


def eval_rules(rules_json: str, url: str) -> bool:
    """Verdict for ``url`` under a ``rules_payload`` cell — identical to
    RobotsFile.is_allowed with the origin guard already satisfied (the
    caller joined the side table on origin) and the UA group pre-selected
    at parse time. This is the executor kernel of the distributed
    ``robots_rules`` side-table path (SURVEY §1.1): verdicts need only
    (rules cell, url), never the O(hosts) driver store."""
    rules = _EVAL_CACHE.get(rules_json)
    if rules is None:
        if len(_EVAL_CACHE) >= _EVAL_CACHE_CAP:
            _EVAL_CACHE.clear()
        rules = [_compile_rule(p, a) for p, a in json.loads(rules_json)]
        _EVAL_CACHE[rules_json] = rules
    try:
        sp = urlsplit(url)
        path = _normalize_path((sp.path or "/")
                               + (("?" + sp.query) if sp.query else ""))
    except Exception:
        return False  # same choke path as RobotsStore.url_is_allowed
    v = _match_rules(rules, path)
    return True if v is None else v


# characters escaped in the Java-regex translation of wildcard rules —
# the union of Java Pattern and Python re metacharacters, so the same
# string compiles identically under both engines (cross-checked by the
# eval-parity tests: eval_rules vs the JVM aggregate fold)
_JAVA_META = set("\\.[]{}()*+-?^$|")


def java_regex_of(pattern: str) -> str:
    """Translate a robots wildcard pattern (already normalized) to an
    anchored Java-compatible regex — the executor-free twin of
    _compile_rule's Python regex ('*' -> '(?:.*)', '$' -> end anchor,
    everything else literal)."""
    parts = ["^"]
    for ch in pattern:
        if ch == "*":
            parts.append("(?:.*)")
        elif ch == "$":
            parts.append("$")
        elif ch in _JAVA_META:
            parts.append("\\" + ch)
        else:
            parts.append(ch)
    return "".join(parts)


def prep_rules_rows(rules_json: str):
    """Decompose a ``rules_payload`` cell into JVM-evaluable rule rows:
    (prefix, regex, rule_len, allow) — prefix set for plain rules (longest-
    match fold), regex set for wildcard rules (first-match-wins fold). The
    patterns in the payload are already normalized (percent-decoded,
    leading '/') at parse time. O(#rules) per ORIGIN — runs once per side-
    table row, never per URL: the per-URL verdict is a pure Spark
    ``aggregate`` expression over these rows (plans/crawl.py)."""
    out = []
    for pattern, allow in json.loads(rules_json):
        if _WILDCARD_CHARS.search(pattern):
            out.append((None, java_regex_of(pattern), None, bool(allow)))
        else:
            out.append((pattern, None, len(pattern), bool(allow)))
    return out


class RobotsStore:
    """Ordered store of parsed robots files — the ``_robotsTxts`` analog.

    ``url_is_allowed`` replicates crawler.ts:683-701: reduce over files in
    touch order, first non-None verdict wins, default True.
    """

    def __init__(self, user_agent: str = "*") -> None:
        self.files: List[RobotsFile] = []
        self.user_agent = user_agent
        self.touched_hosts: List[str] = []  # origin strings, _touchedHosts analog
        self._touched_set = set()
        # origin-indexed lookup: only the same-origin file can return a
        # non-None verdict (is_allowed origin guard), so "first non-None in
        # touch order" ≡ a dict keyed by (protocol, host, port) with
        # first-insert-wins — O(1) per URL instead of O(#files) (the linear
        # fold was quadratic in the crawl at 10^6 hosts)
        self._by_origin: dict = {}

    def touch(self, origin: str) -> bool:
        """Record a host origin; True when it was new (robots fetch needed)."""
        if origin in self._touched_set:
            return False
        self._touched_set.add(origin)
        self.touched_hosts.append(origin)
        return True

    def add(self, robots: RobotsFile) -> None:
        self.files.append(robots)
        key = (robots.protocol, robots.host, robots.port)
        self._by_origin.setdefault(key, robots)  # first in touch order wins

    def url_is_allowed(self, url: str) -> bool:
        if not self.files:
            return True
        try:
            sp = urlsplit(url)
            scheme = (sp.scheme or "http").lower()
            port = sp.port or (443 if scheme == "https" else 80)
            rf = self._by_origin.get((scheme, (sp.hostname or "").lower(), port))
            verdict = None if rf is None else rf.is_allowed(url, self.user_agent)
        except Exception:
            return False  # punycode-choke path: URL will be avoided
        return True if verdict is None else verdict

    def to_rows(self) -> List[Tuple[str, int, str, str, str]]:
        """Flatten to (host_origin, touched_seq, user_agent, rule, pattern)
        rows for the broadcastable ``robots_rules`` side table."""
        rows = []
        for seq, rf in enumerate(self.files):
            origin = f"{rf.protocol}://{rf.host}:{rf.port}"
            for ua, rules in rf.groups.items():
                for r in rules:
                    rows.append((origin, seq, ua,
                                 "allow" if r.allow else "disallow", r.pattern))
        return rows
