"""Crawl-order-independent output checker.

It compares what the crawler wrote against the generator's model
(``corpus.Corpus``) and finds the URLs that break one of these rules:

- seen set: the frontier holds every seed and every canonical out-link of
  every downloaded page. A URL that robots.txt disallows may be missing,
  because the crawler drops it at enqueue time once the host's rules are
  known. The frontier holds nothing else;
- status: every settled URL has the status the model predicts
  (``downloaded``, ``notfound`` or ``disallowed``);
- politeness: no host settles more URLs in one wave than its budget. The
  budget is the token count in the wave that fetches the host's robots.txt
  and the Crawl-delay budget after it;
- FIFO: within each host, every settled id is below every queued id;
- uniqueness: no id and no URL appears twice.

The rules hold at any point of a crawl, so the check needs no reference
crawl order. ``wrong_url_frac`` is the number of distinct wrong URLs over
the size of the union of the expected and actual URL sets.
"""

from __future__ import annotations

from collections import Counter, defaultdict
from dataclasses import dataclass, field
from typing import Dict, Iterable, List, Set, Tuple

from .corpus import Corpus, url_host

SETTLED = ("downloaded", "notfound", "disallowed")

# (id, url, status) — one frontier row
Row = Tuple[int, str, str]


@dataclass
class CheckResult:
    attempted: int
    missing: Set[str] = field(default_factory=set)
    extra: Set[str] = field(default_factory=set)
    bad_status: Set[str] = field(default_factory=set)
    over_budget: Set[str] = field(default_factory=set)
    fifo: Set[str] = field(default_factory=set)
    duplicate: Set[str] = field(default_factory=set)

    @property
    def wrong(self) -> Set[str]:
        return (self.missing | self.extra | self.bad_status
                | self.over_budget | self.fifo | self.duplicate)

    @property
    def wrong_url_frac(self) -> float:
        return len(self.wrong) / max(self.attempted, 1)

    def summary(self) -> Dict[str, int]:
        return {k: len(getattr(self, k)) for k in
                ("missing", "extra", "bad_status", "over_budget", "fifo",
                 "duplicate")}


def check_crawl(corpus: Corpus, frontier: Iterable[Row],
                waves: Dict[int, List[Tuple[str, str]]],
                tokens: int, interval_ms: int) -> CheckResult:
    """``frontier``: the final frontier rows. ``waves``: wave number ->
    (url, status) of every row settled in that wave."""
    rows = list(frontier)
    ids = Counter(r[0] for r in rows)
    urls = Counter(r[1] for r in rows)
    duplicate = ({r[1] for r in rows if ids[r[0]] > 1}
                 | {u for u, n in urls.items() if n > 1})
    status = {u: s for _, u, s in rows}

    required = set(corpus.seed_urls)
    optional: Set[str] = set()
    for u, s in status.items():
        if s != "downloaded":
            continue
        for link in corpus.out_links.get(u, ()):
            (optional if corpus.disallowed(link) else required).add(link)
    actual = set(status)
    res = CheckResult(attempted=len(required | optional | actual),
                      duplicate=duplicate)
    res.missing = required - actual
    res.extra = actual - required - optional
    res.bad_status = {u for u, s in status.items()
                      if s != "queued" and s != corpus.expected_status(u)}

    # politeness: per (host, wave) settled counts against the budget
    first_wave: Dict[str, int] = {}
    per_host_wave: Dict[Tuple[str, int], List[str]] = defaultdict(list)
    for w in sorted(waves):
        for u, s in waves[w]:
            h = url_host(u)
            first_wave.setdefault(h, w)
            per_host_wave[(h, w)].append(u)
    for (h, w), us in per_host_wave.items():
        budget = tokens if w == first_wave[h] \
            else corpus.host_budget(h, tokens, interval_ms)
        if len(us) > budget:
            res.over_budget.update(us)

    # FIFO within each host
    max_settled: Dict[str, int] = {}
    min_queued: Dict[str, int] = {}
    for i, u, s in rows:
        h = url_host(u)
        if s == "queued":
            min_queued[h] = min(min_queued.get(h, i), i)
        else:
            max_settled[h] = max(max_settled.get(h, i), i)
    late = {h for h in max_settled
            if h in min_queued and max_settled[h] > min_queued[h]}
    res.fifo = {u for i, u, s in rows
                if s != "queued" and url_host(u) in late
                and i > min_queued[url_host(u)]}
    return res
