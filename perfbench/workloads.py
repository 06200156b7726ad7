"""Workload table: corpus shape plus the crawl each run performs."""

from __future__ import annotations

from dataclasses import dataclass

from .corpus import CorpusSpec

# The scale job's 128 host buckets and 512 store write slots are sized for
# 32 cores; these keep its per-core ratios at 4 cores. They are fixed, so
# every machine runs the same plans.
HOST_BUCKETS = 32
WRITE_SLOTS = 64
BLOOM_CAPACITY = 4096  # Bloom seen-filter capacity per host_bucket


@dataclass(frozen=True)
class Workload:
    name: str
    spec: CorpusSpec
    tokens_per_host: int
    robots: bool


WORKLOADS = {
    w.name: w for w in (
        # many hosts, large waves: the fetch join, the body and candidate
        # kernels and the seen anti-join carry the wave
        Workload(
            name="wide-crawl",
            spec=CorpusSpec(n_pages=30_000, n_hosts=600, skew=3.0,
                            links_per_page=8, noncanon_frac=0.3,
                            dangling_frac=0.05, seed_frac=0.4),
            tokens_per_host=256, robots=False),
        # few hosts, steep skew, small budgets, robots on: per-wave fixed
        # cost (job count, due and robots-verdict checkpoints, commit) wins
        Workload(
            name="polite-robots",
            spec=CorpusSpec(n_pages=20_000, n_hosts=200, skew=4.0,
                            links_per_page=8, noncanon_frac=0.3,
                            dangling_frac=0.05, robots_frac=0.5,
                            delay_frac=0.4, seed_frac=0.1),
            tokens_per_host=16, robots=True),
    )
}
