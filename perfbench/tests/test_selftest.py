"""Self-tests of the benchmark: generator, checker and BENCHMARK.json.

    python3 -m pytest perfbench/tests -q
"""

import hashlib
import json
import os
from collections import defaultdict

import pytest

from perfbench.check import check_crawl
from perfbench.corpus import Corpus, CorpusSpec, url_host
from perfbench.harness import END_TO_END_UNITS
from perfbench.layers import PER_LAYER
from perfbench.workloads import WORKLOADS

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))
TOKENS, INTERVAL_MS = 4, 250
SMALL = CorpusSpec(n_pages=400, n_hosts=12, skew=2.0, robots_frac=0.5,
                   delay_frac=0.6, seed_frac=0.05)


def simulate(corpus, waves):
    """Reference wave crawl: per-host FIFO budgets, robots learned in the
    wave a host is first due. Returns (frontier rows, settled by wave)."""
    rows = {u: [i, "queued"] for i, u in zip(corpus.seed_ids,
                                              corpus.seed_urls)}
    next_id = max(corpus.seed_ids) + 1
    known = set()
    settled = {}
    for w in range(1, waves + 1):
        queued = defaultdict(list)
        for u, (i, s) in rows.items():
            if s == "queued":
                queued[url_host(u)].append((i, u))
        due = []
        for h, items in queued.items():
            budget = corpus.host_budget(h, TOKENS, INTERVAL_MS) \
                if h in known else TOKENS
            due += sorted(items)[:budget]
        known.update(url_host(u) for _, u in due)
        settled[w] = []
        found = []
        for i, u in sorted(due):
            rows[u][1] = corpus.expected_status(u)
            settled[w].append((u, rows[u][1]))
            if rows[u][1] == "downloaded":
                found += [c for _, c in corpus.hrefs[corpus.urls.index(u)]]
        for c in found:
            if c in rows or corpus.disallowed(c):
                continue
            rows[c] = [next_id, "queued"]
            next_id += 1
    return [(i, u, s) for u, (i, s) in rows.items()], settled


@pytest.fixture(scope="module")
def crawl():
    corpus = Corpus(SMALL, seed=7)
    frontier, settled = simulate(corpus, waves=4)
    return corpus, frontier, settled


def test_reference_crawl_passes(crawl):
    corpus, frontier, settled = crawl
    res = check_crawl(corpus, frontier, settled, TOKENS, INTERVAL_MS)
    assert res.wrong == set(), res.summary()
    statuses = {s for _, _, s in frontier}
    assert {"downloaded", "notfound", "disallowed", "queued"} <= statuses


def test_checker_flags_drop_flip_and_budget(crawl):
    corpus, frontier, settled = crawl
    rows = list(frontier)
    # one URL dropped: a queued out-link of a downloaded page
    drop = next(r for r in rows if r[2] == "queued"
                and r[1] not in corpus.seed_urls)
    rows.remove(drop)
    # one status flipped
    k = next(i for i, r in enumerate(rows) if r[2] == "downloaded")
    flipped = rows[k][1]
    rows[k] = (rows[k][0], flipped, "notfound")
    # one host over its budget: an extra URL of the host settles in a wave
    # where the host already used its whole budget
    waves = {w: list(v) for w, v in settled.items()}
    over_host = None
    for w in sorted(waves):
        per = defaultdict(list)
        for u, s in waves[w]:
            per[url_host(u)].append(u)
        for h, us in per.items():
            extra = [r for r in rows if r[2] == "queued"
                     and url_host(r[1]) == h]
            if len(us) == TOKENS and extra:
                waves[w].append((extra[0][1], "downloaded"))
                over_host = h
                break
        if over_host:
            break
    assert over_host is not None
    res = check_crawl(corpus, rows, waves, TOKENS, INTERVAL_MS)
    assert drop[1] in res.missing
    assert flipped in res.bad_status
    assert {url_host(u) for u in res.over_budget} == {over_host}
    assert res.wrong_url_frac > 0


def test_checker_flags_fifo_and_duplicates(crawl):
    corpus, frontier, settled = crawl
    rows = list(frontier)
    q = next(r for r in rows if r[2] == "queued")
    # a settled row of the same host with an id above a queued one
    i = next(i for i, r in enumerate(rows) if r[2] != "queued"
             and url_host(r[1]) == url_host(q[1]))
    rows[i] = (q[0] + 10**6, rows[i][1], rows[i][2])
    rows.append(rows[0])
    res = check_crawl(corpus, rows, settled, TOKENS, INTERVAL_MS)
    assert rows[i][1] in res.fifo
    assert rows[0][1] in res.duplicate


def test_corpus_parquet_is_byte_identical(tmp_path):
    def digest(seed, name):
        Corpus(SMALL, seed).write_parquet(str(tmp_path / name))
        with open(tmp_path / name / "part-00000.parquet", "rb") as f:
            return hashlib.sha256(f.read()).hexdigest()
    assert digest(3, "a") == digest(3, "b")
    assert digest(3, "a") != digest(4, "c")


def test_model_matches_the_crawler_canonicalizer():
    from simplecrawler_spark.functions.decode import protocol_supported
    from simplecrawler_spark.functions.discovery import (
        clean_expand_resources, discover_resources)
    from simplecrawler_spark.functions.urlkit import process_url
    corpus = Corpus(SMALL, seed=5)
    for url, html in zip(corpus.urls, corpus.html):
        found = clean_expand_resources(
            discover_resources(html.decode("utf-8", "replace")), url,
            "http", protocol_supported)
        assert {process_url(u, url, 1)["url"] for u in found} \
            == corpus.out_links[url]


def test_benchmark_json_matches_the_harness():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert [w["name"] for w in bench["workloads"]] == list(WORKLOADS)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} \
        == END_TO_END_UNITS
    assert [(m["name"], m["unit"], m["better"])
            for m in bench["per_layer"]] == PER_LAYER
