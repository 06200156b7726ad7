"""Seeded Common-Crawl-style corpus plus the link model the checker uses.

The crawler under test receives only the parquet table written by
``write_parquet``, in the ``(url, warc_ts, html, text, lang)`` shape. The
benchmark keeps the rest of the ``Corpus`` object in memory: the canonical
form of every href, each host's robots rules, and the seed list.

Every page lives at ``http://h<host>.test/p/<page>``. Host popularity is a
power law: ``host = floor(u ** skew * n_hosts)`` for a uniform ``u``, so a
larger ``skew`` piles more pages onto the first hosts.

Out-links are written in a mix of forms that all canonicalize to one URL:
absolute, relative, dot-segment, protocol-relative, empty-query, default
port, fragment and upper-case host. Some out-links point past the corpus
(404), and some repeat the previous href of the same page.

The same ``(spec, seed)`` always gives the same object and byte-identical
parquet.
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from typing import Dict, List, Optional, Set, Tuple

import numpy as np

EPOCH_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z in microseconds
LOCAL_FRAC = 0.5   # share of out-links to the page's own host
DUP_FRAC = 0.05    # share of hrefs repeating the page's previous href

# word pools per language; every word is iso-8859-1 representable, so a page
# in either charset can carry any of them
_LANGS = [
    ("en", ["the", "crawl", "frontier", "wave", "queue", "robots", "fetch"]),
    ("de", ["über", "während", "Grüße", "Straße", "Müller", "schön", "Bär"]),
    ("fr", ["déjà", "équipe", "être", "français", "créé", "où", "château"]),
    ("es", ["añade", "según", "través", "número", "así", "días", "señal"]),
]

# non-canonical href forms any link can take
_ABS_FORMS = [
    "http://H{host}.TEST/p/{page}",
    "HTTP://h{host}.Test/p/{page}",
    "http://h{host}.test:80/p/{page}",
    "http://h{host}.test/p/{page}#s{k}",
    "http://h{host}.test/p/{page}?",
    "//h{host}.test/p/{page}",
]
# extra forms only a same-host link can take (relative to /p/<src>)
_REL_FORMS = [
    "/p/{page}",
    "{page}",
    "./{page}",
    "../p/{page}",
    "/x/../p/{page}",
    "/p/./{page}",
    "/p/{page}?",
    "/p/{page}#s{k}",
]


@dataclass(frozen=True)
class CorpusSpec:
    n_pages: int
    n_hosts: int
    skew: float = 3.0            # host power-law exponent
    links_per_page: int = 8
    noncanon_frac: float = 0.3   # share of hrefs not written canonically
    dangling_frac: float = 0.05  # share of out-links past the corpus (404)
    robots_frac: float = 0.0     # share of hosts serving a robots.txt
    delay_frac: float = 0.0      # share of robots hosts adding Crawl-delay
    iso_frac: float = 0.5        # share of pages encoded iso-8859-1
    seed_frac: float = 0.1       # share of pages seeded


@dataclass
class Robots:
    disallow: Tuple[str, ...]    # path prefixes
    crawl_delay: Optional[int]   # seconds, or None

    def body(self) -> str:
        lines = ["User-agent: *"]
        lines += [f"Disallow: {p}" for p in self.disallow]
        if self.crawl_delay is not None:
            lines.append(f"Crawl-delay: {self.crawl_delay}")
        return "\n".join(lines) + "\n"


def page_url(host: int, page: int) -> str:
    return f"http://h{host}.test/p/{page}"


def host_name(host: int) -> str:
    return f"h{host}.test"


def url_path(url: str) -> str:
    """Path plus query of an absolute ``http://host/...`` URL."""
    rest = url.split("://", 1)[1]
    i = rest.find("/")
    return rest[i:] if i >= 0 else "/"


def url_host(url: str) -> str:
    rest = url.split("://", 1)[1]
    return rest.split("/", 1)[0]


class Corpus:
    """Generated pages plus the model the output checker compares against."""

    def __init__(self, spec: CorpusSpec, seed: int):
        rng = np.random.default_rng(seed)
        n, n_hosts = spec.n_pages, spec.n_hosts
        hosts = np.floor(rng.random(n) ** spec.skew * n_hosts).astype(np.int64)
        self.urls: List[str] = [page_url(int(h), i) for i, h in enumerate(hosts)]
        self.url_set: Set[str] = set(self.urls)

        # pages of each host, for same-host link targets
        order = np.argsort(hosts, kind="stable")
        counts = np.bincount(hosts, minlength=n_hosts)
        starts = np.concatenate([[0], np.cumsum(counts)[:-1]])

        L = spec.links_per_page
        local = rng.random((n, L)) < LOCAL_FRAC
        pick_local = order[starts[hosts][:, None]
                           + (rng.random((n, L)) * counts[hosts][:, None])
                           .astype(np.int64)]
        pick_global = rng.integers(0, n, (n, L))
        target = np.where(local, pick_local, pick_global)
        dangling = rng.random((n, L)) < spec.dangling_frac
        # a dangling link keeps its target's host but points past the corpus
        dangling_page = n + rng.integers(0, n, (n, L))
        dup = rng.random((n, L)) < DUP_FRAC
        dup[:, 0] = False
        noncanon = rng.random((n, L)) < spec.noncanon_frac
        form_pick = rng.random((n, L))
        lang_ix = rng.integers(0, len(_LANGS), n)
        words = rng.integers(0, 7, (n, 12))
        iso = rng.random(n) < spec.iso_frac

        self.hrefs: List[List[Tuple[str, str]]] = []  # (href, canonical)
        self.html: List[bytes] = []
        self.text: List[str] = []
        self.lang: List[str] = []
        for i in range(n):
            src_host = int(hosts[i])
            links: List[Tuple[str, str]] = []
            for k in range(L):
                if dup[i, k]:
                    links.append(links[-1])
                    continue
                t = int(target[i, k])
                t_host = int(hosts[t])
                t_page = int(dangling_page[i, k]) if dangling[i, k] else t
                canonical = page_url(t_host, t_page)
                if noncanon[i, k]:
                    forms = _ABS_FORMS + (_REL_FORMS if t_host == src_host
                                          else [])
                    tmpl = forms[int(form_pick[i, k] * len(forms))]
                    href = tmpl.format(host=t_host, page=t_page, k=k)
                else:
                    href = canonical
                links.append((href, canonical))
            self.hrefs.append(links)
            code, pool = _LANGS[int(lang_ix[i])]
            body = " ".join(pool[int(w)] for w in words[i])
            charset = "iso-8859-1" if iso[i] else "utf-8"
            anchors = "".join(f'<a href="{h}">l</a>' for h, _ in links)
            page = (f'<html><head><meta charset="{charset}"></head><body>'
                    f"<p>{body}</p>{anchors}</body></html>")
            self.html.append(page.encode(charset))
            self.text.append(page)
            self.lang.append(code)

        # robots.txt: a share of hosts serve Disallow slices (some with a
        # Crawl-delay); the rest have no robots row, so their fetch is a 404
        self.robots: Dict[str, Robots] = {}
        has_robots = rng.random(n_hosts) < spec.robots_frac
        has_delay = rng.random(n_hosts) < spec.delay_frac
        slices = rng.integers(1, 10, (n_hosts, 2))
        two = rng.random(n_hosts) < 0.3
        delays = rng.integers(1, 3, n_hosts)
        for h in range(n_hosts):
            if not has_robots[h]:
                continue
            dis = [f"/p/{int(slices[h, 0])}"]
            if two[h] and slices[h, 1] != slices[h, 0]:
                dis.append(f"/p/{int(slices[h, 1])}")
            self.robots[host_name(h)] = Robots(
                tuple(dis), int(delays[h]) if has_delay[h] else None)

        seeded = rng.random(n) < spec.seed_frac
        seeded[0] = True
        self.seed_ids: List[int] = [int(i) for i in np.nonzero(seeded)[0]]

        self.out_links: Dict[str, Set[str]] = {
            u: {c for _, c in links} for u, links in zip(self.urls, self.hrefs)}

    # ------------------------------------------------------------ model
    @property
    def seed_urls(self) -> List[str]:
        return [self.urls[i] for i in self.seed_ids]

    def disallowed(self, url: str) -> bool:
        """Reference robots verdict: a Disallow prefix of the path wins."""
        r = self.robots.get(url_host(url))
        if r is None:
            return False
        path = url_path(url)
        return any(path.startswith(p) for p in r.disallow)

    def expected_status(self, url: str) -> str:
        if self.disallowed(url):
            return "disallowed"
        return "downloaded" if url in self.url_set else "notfound"

    def host_budget(self, host: str, tokens: int, interval_ms: int) -> int:
        """Per-wave fetch budget once the host's robots.txt is known."""
        r = self.robots.get(host)
        if r is None or r.crawl_delay is None:
            return tokens
        return min(tokens, max(1, int(tokens * interval_ms
                                      / (r.crawl_delay * 1000.0))))

    # ------------------------------------------------------------ output
    def write_parquet(self, path: str) -> None:
        """Write the input_hint table as ONE parquet file (byte-identical for
        the same spec and seed)."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        urls = list(self.urls)
        html = list(self.html)
        text = list(self.text)
        lang = list(self.lang)
        ts = [EPOCH_US + i * 1_000_000 for i in range(len(urls))]
        for host, r in sorted(self.robots.items()):
            body = r.body()
            urls.append(f"http://{host}/robots.txt")
            html.append(body.encode("utf-8"))
            text.append(body)
            lang.append("en")
            ts.append(EPOCH_US)
        table = pa.table({
            "url": pa.array(urls, pa.string()),
            "warc_ts": pa.array(ts, pa.timestamp("us", tz="UTC")),
            "html": pa.array(html, pa.binary()),
            "text": pa.array(text, pa.string()),
            "lang": pa.array(lang, pa.string()),
        })
        os.makedirs(path, exist_ok=True)
        pq.write_table(table, os.path.join(path, "part-00000.parquet"),
                       compression="snappy", row_group_size=8192)
