"""Tracing for the benchmark's traced run, installed from outside the program.

``Tracer.install`` wraps public entry points of each layer and restores
them on ``uninstall``:

- ``plans.crawl``: ``WaveCrawler.run_wave`` (one span per wave, one Spark
  job group per wave), ``seed_frontier`` and ``resume``;
- the phase timer ``timing.timed`` as bound in the crawl, store and bloom
  modules, so every receipt-producing phase is also a span;
- ``store``: ``SnapshotStore.commit_wave``, ``begin_split_commit``,
  ``finalize_split_commit`` (its background half gets the job group
  ``wave-<n>-commit``) and ``current_frontier``;
- ``bloom``: ``BloomSideTable.add``;
- ``operators.udfs``: the kernels ``make_body_processor`` and
  ``make_candidate_processor`` return, counted on the Python workers with
  Spark accumulators.

Spans are kept in memory and written to one JSON file by ``write``.
"""

from __future__ import annotations

import json
import threading
import time
from contextlib import contextmanager
from typing import Callable, Dict, List, Optional, Tuple

# timing label prefix -> layer (labels are stripped of their indentation)
_LABEL_LAYERS = (("robots", "robots"), ("commit", "store"),
                 ("compact", "store"), ("bloom", "bloom"))


def label_layer(label: str) -> str:
    for prefix, layer in _LABEL_LAYERS:
        if label.startswith(prefix):
            return layer
    return "plans.crawl"


class Tracer:
    def __init__(self, sc):
        self.sc = sc
        self.spans: List[dict] = []
        self._lock = threading.Lock()
        self._tl = threading.local()
        self._next_id = 0
        self._patches: List[Tuple[object, str, object]] = []
        self._commit_parent: Dict[int, int] = {}  # split-commit seq -> span
        self.bloom_add_s = 0.0
        self.commit_s = 0.0
        self.delta_dirs_read = 0
        self.job_groups = set()
        self.acc = {k: sc.accumulator(0.0) for k in (
            "body_rows", "body_busy_s", "candidate_rows",
            "candidate_busy_s", "candidate_fast")}

    def _add(self, attr: str, dt: float) -> None:
        """Accumulate a wave-time total; the bulk seed's share is left out."""
        if getattr(self._tl, "seeding", False):
            return
        with self._lock:
            setattr(self, attr, getattr(self, attr) + dt)

    # ------------------------------------------------------------ spans
    def _stack(self) -> list:
        st = getattr(self._tl, "stack", None)
        if st is None:
            st = self._tl.stack = []
        return st

    @contextmanager
    def span(self, name: str, layer: str, parent: Optional[int] = None):
        st = self._stack()
        with self._lock:
            sid = self._next_id
            self._next_id += 1
        if parent is None and st:
            parent = st[-1]
        rec = {"id": sid, "name": name, "layer": layer, "parent": parent,
               "thread": threading.current_thread().name,
               "start": time.perf_counter(), "end": None}
        st.append(sid)
        try:
            yield rec
        finally:
            st.pop()
            rec["end"] = time.perf_counter()
            with self._lock:
                self.spans.append(rec)

    # ---------------------------------------------------------- patching
    def _patch(self, owner, attr: str, make: Callable) -> None:
        orig = vars(owner)[attr]
        self._patches.append((owner, attr, orig))
        setattr(owner, attr, make(orig))

    def install(self) -> None:
        from simplecrawler_spark import bloom as bloom_mod
        from simplecrawler_spark import store as store_mod
        from simplecrawler_spark.plans import crawl as crawl_mod
        from simplecrawler_spark.operators.udfs import FAST_URL_RE

        tr = self
        sc = self.sc

        def timed_wrap(orig):
            @contextmanager
            def timed(label):
                name = label.strip()
                with tr.span(name, label_layer(name)):
                    with orig(label):
                        yield
            return timed

        for mod in (crawl_mod, store_mod, bloom_mod):
            self._patch(mod, "_timed", timed_wrap)

        W = crawl_mod.WaveCrawler

        def run_wave_wrap(orig):
            def run_wave(crawler):
                wave = crawler.wave
                tr.job_groups.add(f"wave-{wave}")
                sc.setJobGroup(f"wave-{wave}", f"wave {wave}")
                try:
                    with tr.span(f"wave-{wave}", "plans.crawl"):
                        return orig(crawler)
                finally:
                    sc.setLocalProperty("spark.jobGroup.id", None)
            return run_wave

        def seed_wrap(orig):
            def seed_frontier(*a, **kw):
                tr._tl.seeding = True
                try:
                    with tr.span("seed", "plans.crawl"):
                        return orig(*a, **kw)
                finally:
                    tr._tl.seeding = False
            return seed_frontier

        self._patch(W, "run_wave", run_wave_wrap)
        self._patch(W, "seed_frontier", seed_wrap)

        def resume_wrap(orig):
            func = orig.__func__

            def resume(cls, *a, **kw):
                with tr.span("resume", "plans.crawl"):
                    return func(cls, *a, **kw)
            return classmethod(resume)
        self._patch(W, "resume", resume_wrap)

        S = store_mod.SnapshotStore

        def totalled(name, layer, total):
            """Span each call and add its duration to ``self.<total>``."""
            def make(orig):
                def wrapped(*a, **kw):
                    t = time.perf_counter()
                    try:
                        with tr.span(name, layer):
                            return orig(*a, **kw)
                    finally:
                        tr._add(total, time.perf_counter() - t)
                return wrapped
            return make

        self._patch(S, "commit_wave",
                    totalled("store.commit_wave", "store", "commit_s"))

        def begin_wrap(orig):
            def wrapped(store, wave, delta):
                t = time.perf_counter()
                try:
                    with tr.span("store.begin_split_commit", "store"):
                        token, df, n = orig(store, wave, delta)
                finally:
                    tr._add("commit_s", time.perf_counter() - t)
                st = tr._stack()
                if st:
                    tr._commit_parent[token["seq"]] = st[-1]
                return token, df, n
            return wrapped

        def finalize_wrap(orig):
            def wrapped(store, token, *a, **kw):
                seq = token["seq"]
                # the split commit of wave w carries token wave w + 1
                group = f"wave-{token['wave'] - 1}-commit"
                tr.job_groups.add(group)
                sc.setJobGroup(group, group)
                t = time.perf_counter()
                try:
                    with tr.span("store.finalize_split_commit", "store",
                                 parent=tr._commit_parent.get(seq)):
                        return orig(store, token, *a, **kw)
                finally:
                    tr._add("commit_s", time.perf_counter() - t)
                    sc.setLocalProperty("spark.jobGroup.id", None)
            return wrapped

        self._patch(S, "begin_split_commit", begin_wrap)
        self._patch(S, "finalize_split_commit", finalize_wrap)

        def current_wrap(orig):
            def wrapped(store):
                tr.delta_dirs_read = sum(1 + len(w.get("delta_extra", []))
                                         for w in store.waves)
                with tr.span("store.current_frontier", "store"):
                    return orig(store)
            return wrapped

        self._patch(S, "current_frontier", current_wrap)

        self._patch(bloom_mod.BloomSideTable, "add",
                    totalled("bloom.add", "bloom", "bloom_add_s"))

        acc = self.acc

        def kernel_wrap(kind, fast_re=None):
            rows_acc = acc[f"{kind}_rows"]
            busy_acc = acc[f"{kind}_busy_s"]
            fast_acc = acc["candidate_fast"] if fast_re is not None else None

            def make(orig):
                def factory(*a, **kw):
                    return counting_kernel(orig(*a, **kw), rows_acc,
                                           busy_acc, fast_acc, fast_re)
                return factory
            return make

        self._patch(crawl_mod, "make_body_processor", kernel_wrap("body"))
        self._patch(crawl_mod, "make_candidate_processor",
                    kernel_wrap("candidate", FAST_URL_RE))

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches = []

    # ----------------------------------------------------------- results
    def self_time_by_layer(self) -> Dict[str, float]:
        """Sum over spans of duration minus the part of it child spans
        cover, per layer."""
        children: Dict[int, List[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append(s)
        out: Dict[str, float] = {}
        for s in self.spans:
            lo, hi = s["start"], s["end"]
            ivs = sorted((max(c["start"], lo), min(c["end"], hi))
                         for c in children.get(s["id"], ()))
            covered, cur = 0.0, lo
            for a, b in ivs:
                a = max(a, cur)
                if b > a:
                    covered += b - a
                    cur = b
            out[s["layer"]] = out.get(s["layer"], 0.0) + (hi - lo - covered)
        return out

    def write(self, path: str, t0: float) -> None:
        spans = [dict(s, start=round(s["start"] - t0, 6),
                      end=round(s["end"] - t0, 6))
                 for s in sorted(self.spans, key=lambda s: s["start"])]
        with open(path, "w") as f:
            json.dump({"spans": spans}, f, indent=0)


def counting_kernel(fn, rows_acc, busy_acc, fast_acc=None, fast_re=None):
    """Wrap a mapInPandas kernel: accumulate output rows and the time spent
    inside it (including reading its input batches); optionally count input
    ``raw_url`` values matching ``fast_re``, excluding that count's time."""
    def process(batches):
        side = [0.0]

        def inputs():
            for pdf in batches:
                if fast_acc is not None:
                    t = time.perf_counter()
                    raw = pdf["raw_url"].astype(object).fillna("").astype(str)
                    fast_acc.add(float(raw.str.match(fast_re).sum()))
                    side[0] += time.perf_counter() - t
                yield pdf

        it = fn(inputs())
        while True:
            side[0] = 0.0
            t = time.perf_counter()
            try:
                out = next(it)
            except StopIteration:
                busy_acc.add(time.perf_counter() - t - side[0])
                return
            busy_acc.add(time.perf_counter() - t - side[0])
            rows_acc.add(float(len(out)))
            yield out
    return process
