"""Drive the wave engine in-process for one workload and seed.

One run:

1. set-up: start the Spark session and its Python workers, then three
   times write the corpus parquet and lay the corpus out
   (``crawler.pages.count()``);
2. crawl units, repeated while another one fits in ``--seconds``: bulk
   seed and one wave into a snapshot store, after which the crawl is
   dropped as if killed; ``WaveCrawler.resume`` restores a fresh copy
   of the store ``RESUME_REPS`` times, and the last restored frontier goes
   through ``check.check_crawl``;
3. the result line: end-to-end metrics (untraced) or per-layer metrics
   (traced, see ``trace.py``).

The crawler configuration is the scale job's (``jobs/crawl_job.py``):
composite ids, no fetch log, async commit, Bloom seen-filter.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import subprocess
import urllib.request
from time import perf_counter as perf
from typing import Dict, List, Optional, Tuple

from .check import check_crawl
from .corpus import Corpus, url_host
from .layers import PER_LAYER_UNITS
from .workloads import BLOOM_CAPACITY, HOST_BUCKETS, WRITE_SLOTS, Workload

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".bench_work")
SETUP_REPS = 3
RESUME_REPS = 5

END_TO_END_UNITS = {
    "urls_per_s": "URLs/s", "crawl_s": "s", "wave_s_p50": "s",
    "resume_s": "s", "setup_s": "s", "store_bytes_per_url": "B/URL",
    "peak_rss_mb": "MB",
}


def nproc() -> int:
    return len(os.sched_getaffinity(0))


# ------------------------------------------------------------------ session
def start_spark(run_dir: str, trace: bool):
    local = os.path.join(run_dir, "spark-local")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(local, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    # local-mode python workers import through PYTHONPATH, not sys.path
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in [os.environ.get("PYTHONPATH")] if p])
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    os.environ.setdefault("PYARROW_IGNORE_TIMEZONE", "1")
    from pyspark.sql import SparkSession
    n = nproc()
    spark = (SparkSession.builder.master(f"local[{n}]")
             .appName("perfbench")
             .config("spark.sql.adaptive.enabled", "true")
             .config("spark.sql.execution.arrow.pyspark.enabled", "true")
             .config("spark.sql.shuffle.partitions", str(n))
             .config("spark.default.parallelism", str(n))
             .config("spark.driver.memory", "2g")
             .config("spark.sql.session.timeZone", "UTC")
             .config("spark.local.dir", local)
             .config("spark.driver.extraJavaOptions",
                     f"-Djava.io.tmpdir={tmp}")
             .config("spark.driver.host", "127.0.0.1")
             .config("spark.driver.bindAddress", "127.0.0.1")
             .config("spark.ui.enabled", "true" if trace else "false")
             .config("spark.ui.showConsoleProgress", "false")
             .config("spark.ui.retainedJobs", "100000")
             .config("spark.ui.retainedStages", "100000")
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def warm_python_workers(spark) -> None:
    """Start one Python worker per core with the wave kernels' modules
    imported, so the first wave does not pay for it."""
    def touch(batches):
        import simplecrawler_spark.operators.udfs  # noqa: F401
        yield from batches
    n = nproc()
    spark.range(n, numPartitions=n).mapInPandas(touch, "id long").count()


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None) if gateway is not None else None
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def peak_rss_mb() -> float:
    """Sum of VmHWM over this process and all its descendants (driver,
    JVM, Python daemon and workers)."""
    parent: Dict[int, int] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        parent[int(d)] = int(stat.rsplit(")", 1)[1].split()[1])
    tree, frontier = {os.getpid()}, [os.getpid()]
    while frontier:
        p = frontier.pop()
        for c, pp in parent.items():
            if pp == p and c not in tree:
                tree.add(c)
                frontier.append(c)
    kb = 0
    for p in tree:
        try:
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
        except OSError:
            continue
    return kb / 1024.0


def dir_bytes(path: str) -> int:
    total = 0
    for dp, _, fns in os.walk(path):
        for fn in fns:
            total += os.path.getsize(os.path.join(dp, fn))
    return total


# ------------------------------------------------------------------- store
def delta_dirs(store_path: str) -> List[Tuple[int, List[str]]]:
    """(wave, [delta dirs]) per manifest entry of a SnapshotStore."""
    with open(os.path.join(store_path, "manifest.json")) as f:
        manifest = json.load(f)
    return [(w["wave"], [os.path.join(store_path, d) for d in
                         [w["delta"]] + w.get("delta_extra", [])])
            for w in manifest["waves"]]


def parquet_files(d: str) -> List[str]:
    return [os.path.join(dp, fn) for dp, _, fns in os.walk(d)
            for fn in sorted(fns) if fn.endswith(".parquet")]


def settled_by_wave(store_path: str) -> Dict[int, List[Tuple[str, str]]]:
    """Rows that left 'queued' in each committed wave, read with pyarrow."""
    import pyarrow.parquet as pq
    out: Dict[int, List[Tuple[str, str]]] = {}
    for wave, dirs in delta_dirs(store_path):
        rows = out.setdefault(wave, [])
        for d in dirs:
            for fn in parquet_files(d):
                t = pq.read_table(fn, columns=["url", "status"]).to_pydict()
                rows.extend((u, s) for u, s in zip(t["url"], t["status"])
                            if s != "queued")
    return out


# ------------------------------------------------------------------- crawl
class Run:
    def __init__(self, wl: Workload, seed: int, seconds: float,
                 trace: bool):
        self.wl = wl
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.run_dir = os.path.join(WORK, f"run-{os.getpid()}")
        self.spark = None
        self.tracer = None
        self.corpus: Optional[Corpus] = None

    def config(self):
        from simplecrawler_spark.config import CrawlerConfig
        wl = self.wl
        return CrawlerConfig(
            initial_url=self.corpus.seed_urls[0],
            filter_by_domain=False, respect_robots_txt=wl.robots,
            record_fetch_log=False, id_mode="composite",
            tokens_per_host_per_wave=wl.tokens_per_host,
            host_buckets=HOST_BUCKETS,
            bloom_capacity_per_bucket=BLOOM_CAPACITY,
            async_commit=True)

    def job_groups(self) -> list:
        return [None] + (sorted(self.tracer.job_groups)
                         if self.tracer is not None else [])

    # ------------------------------------------------------------ set-up
    def setup(self) -> float:
        from simplecrawler_spark.plans.crawl import WaveCrawler
        from simplecrawler_spark.sources.ccpages import cc_to_crawl_pages
        os.makedirs(self.run_dir, exist_ok=True)
        self.corpus = Corpus(self.wl.spec, self.seed)
        t = perf()
        self.spark = start_spark(self.run_dir, self.trace)
        warm_python_workers(self.spark)
        session_s = perf() - t
        reps = []
        for r in range(SETUP_REPS):
            path = os.path.join(self.run_dir, f"corpus-{r}")
            t = perf()
            self.corpus.write_parquet(path)
            pages = cc_to_crawl_pages(self.spark.read.parquet(path))
            crawler = WaveCrawler(self.spark, pages, self.config())
            crawler.pages.count()
            reps.append(perf() - t)
            if r < SETUP_REPS - 1:
                crawler.pages.unpersist()
        self.pages = pages
        self.seeds = self.spark.createDataFrame(
            list(zip(self.corpus.seed_ids, self.corpus.seed_urls)),
            "id long, url string")
        self.setup_reps = reps
        self.session_s = session_s
        return session_s + statistics.median(reps)

    # ------------------------------------------------------------ a unit
    def crawl_unit(self, ix: int) -> dict:
        from simplecrawler_spark.plans.crawl import WaveCrawler
        from simplecrawler_spark.store import SnapshotStore
        wl, spark, cfg = self.wl, self.spark, self.config()
        t_unit = perf()
        path_a = os.path.join(self.run_dir, f"store-{ix}")
        t0 = perf()
        a = WaveCrawler(spark, self.pages, cfg,
                        store=SnapshotStore(path_a, spark,
                                            write_slots=WRITE_SLOTS),
                        keep_content=False)
        a.seed_frontier(self.seeds)
        t = perf()
        a.run_wave()
        wave_s = perf() - t
        t = perf()
        a._join_commit()  # the last commit lands, then the crawl is killed
        join_s = perf() - t
        crawl_s = perf() - t0
        resumes = []
        for r in range(RESUME_REPS):
            path_b = f"{path_a}-resumed{r}"
            shutil.copytree(path_a, path_b)
            t = perf()
            b = WaveCrawler.resume(spark, self.pages, cfg,
                                   SnapshotStore(path_b, spark,
                                                 write_slots=WRITE_SLOTS))
            resumes.append(perf() - t)

        # the resumed crawler's frontier is the killed crawl's output as
        # restored from its snapshots
        frontier = [(r[0], r[1], r[2]) for r in
                    b.frontier.select("id", "url", "status").collect()]
        res = check_crawl(self.corpus, frontier, settled_by_wave(path_b),
                          wl.tokens_per_host, cfg.interval_ms)
        return {
            "crawl_s": crawl_s,
            "join_s": join_s,
            "resume_s": statistics.median(resumes),
            "resume_samples_s": resumes,
            "wave_s": wave_s,
            # the wave's counters and phase receipts; the async commit half
            # adds its receipts at the join
            "receipts": a.metrics[-1],
            "store": path_a, "crawler": a,
            "store_bytes_per_url": dir_bytes(path_a) / max(len(frontier), 1),
            "check": res,
            "frontier_rows": len(frontier),
            "unit_s": perf() - t_unit,
        }

    # ------------------------------------------------------------ the run
    def execute(self) -> Tuple[dict, dict]:
        t_run = perf()
        setup_s = self.setup()
        if self.trace:
            # tracing overhead compares against this checkout's untraced
            # runs, or against an untraced unit run first in this process
            units = []
            baseline = untraced_crawl_s(self.wl.name)
            if baseline is None:
                units.append(self.crawl_unit(0))
                baseline = units[0]["crawl_s"]
            from .trace import Tracer
            self.tracer = Tracer(self.spark.sparkContext)
            self.tracer.install()
            t0 = perf()
            try:
                units.append(self.crawl_unit(1))
            finally:
                self.tracer.uninstall()
            metrics = self.layer_metrics(units[-1], baseline, t0)
        else:
            units = []
            t_measure = perf()
            while True:
                units.append(self.crawl_unit(len(units)))
                elapsed = perf() - t_measure
                if elapsed + units[-1]["unit_s"] > self.seconds:
                    break
            metrics = self.end_to_end(units, setup_s)
            record_untraced(self.wl.name, self.seed,
                            metrics["crawl_s"]["value"])
        attempted = sum(u["check"].attempted for u in units)
        failed = sum(len(u["check"].wrong) for u in units)
        failed_tasks = count_failed_tasks(self.spark.sparkContext,
                                          self.job_groups())
        detail = {
            "workload": self.wl.name, "seed": self.seed, "trace": self.trace,
            "units": len(units),
            "wave_samples": len(units),
            "wave_s": [round(u["wave_s"], 4) for u in units],
            "wave_receipts": [{k: v for k, v in u["receipts"].items()
                               if k.startswith("t_")} for u in units],
            "urls_fetched": [u["receipts"].get("fetchstart", 0)
                             for u in units],
            "frontier_rows": [u["frontier_rows"] for u in units],
            "setup_reps_s": [round(x, 4) for x in self.setup_reps],
            "resume_samples_s": [round(x, 4) for u in units
                                 for x in u["resume_samples_s"]],
            "session_s": round(self.session_s, 4),
            "wrong_url_frac": failed / max(attempted, 1),
            "check": [u["check"].summary() for u in units],
            "failed_tasks": failed_tasks,
            "run_s": round(perf() - t_run, 3),
        }
        result = {"correct": failed == 0, "attempted": attempted,
                  "failed": failed, "metrics": metrics}
        return detail, result

    def end_to_end(self, units: List[dict], setup_s: float) -> dict:
        def med(key):
            return statistics.median(u[key] for u in units)
        fetched = sum(u["receipts"].get("fetchstart", 0) for u in units)
        values = {
            "urls_per_s": fetched / sum(u["wave_s"] for u in units),
            "crawl_s": med("crawl_s"),
            "wave_s_p50": med("wave_s"),
            "resume_s": med("resume_s"),
            "setup_s": setup_s,
            "store_bytes_per_url": med("store_bytes_per_url"),
            "peak_rss_mb": peak_rss_mb(),
        }
        return {k: {"value": v, "unit": END_TO_END_UNITS[k]}
                for k, v in values.items()}

    # -------------------------------------------------------- per layer
    def layer_metrics(self, unit: dict, baseline_crawl_s: float,
                      t0: float) -> dict:
        tr = self.tracer
        sc = self.spark.sparkContext
        m = unit["receipts"]

        def receipt(*keys):
            return sum(m.get(f"t_{k}", 0.0) for k in keys)

        jobs, tasks = wave_job_counts(sc, m["wave"])
        shuffle_mb, skew = rest_stage_stats(sc, m["wave"])
        acc = {k: a.value for k, a in tr.acc.items()}
        added, dup = m.get("queueadd", 0), m.get("queueduplicate", 0)
        cands = added + dup
        crawler = unit["crawler"]
        fpr = crawler.bloom.fpr_by_bucket() if crawler.bloom else {}
        per_host: Dict[str, int] = {}
        for rows in settled_by_wave(unit["store"]).values():
            for u, _ in rows:
                per_host[url_host(u)] = per_host.get(url_host(u), 0) + 1
        due_rows = sum(per_host.values())
        files, nbytes, commits = 0, 0, 0
        for _, dirs in delta_dirs(unit["store"])[1:]:
            commits += 1
            for d in dirs:
                for fn in parquet_files(d):
                    files += 1
                    nbytes += os.path.getsize(fn)
        with open(os.path.join(unit["store"], "manifest.json")) as f:
            state = json.load(f)["waves"][-1]["state"]
        origins = state.get("robots_log", {}).get("touches", 0)
        from simplecrawler_spark.store import SnapshotStore
        t = perf()
        SnapshotStore(unit["store"], self.spark).current_frontier().count()
        current_frontier_s = perf() - t
        selft = tr.self_time_by_layer()
        trace_path = os.path.join(
            WORK, "traces", f"{self.wl.name}-seed{self.seed}.json")
        os.makedirs(os.path.dirname(trace_path), exist_ok=True)
        tr.write(trace_path, t0)
        values = {
            "crawl.jobs_per_wave": jobs,
            "crawl.tasks_per_wave": tasks,
            "crawl.due_s": receipt("due-checkpoint", "due-ids-checkpoint"),
            # the wave's async commit half is joined after the wave
            "crawl.commit_wait_s": unit["join_s"],
            "crawl.mega_agg_s": receipt("mega-agg"),
            "crawl.assign_ids_s": receipt("assign-ids"),
            "crawl.shuffle_mb_per_wave": shuffle_mb,
            "crawl.task_skew": skew,
            "crawl.failed_tasks": count_failed_tasks(sc, self.job_groups()),
            "udfs.body_rows": acc["body_rows"],
            "udfs.body_busy_s": acc["body_busy_s"],
            "udfs.candidate_rows": acc["candidate_rows"],
            "udfs.candidate_busy_s": acc["candidate_busy_s"],
            "udfs.candidate_fast_frac":
                acc["candidate_fast"] / max(acc["candidate_rows"], 1.0),
            **function_rates(self.corpus),
            "politeness.due_rows": due_rows,
            "politeness.hot_host_share":
                max(per_host.values()) / due_rows if due_rows else 0.0,
            "seen.candidates": cands,
            "seen.new_frac": added / max(cands, 1),
            "seen.bloom_add_s": tr.bloom_add_s,
            "seen.bloom_fpr": max(fpr.values()) if fpr else 0.0,
            "store.commit_s": tr.commit_s,
            "store.files_per_commit": files / max(commits, 1),
            "store.bytes_per_commit": nbytes / max(commits, 1),
            "store.current_frontier_s": current_frontier_s,
            "store.delta_dirs_read": tr.delta_dirs_read,
            "robots.new_origins": origins,
            "robots.triggers_s": receipt("robots-triggers"),
            "robots.fetch_s": receipt("robots-fetch"),
            "robots.verdict_s": receipt("robots-verdict-checkpoint"),
            "robots.disallowed": m.get("fetchdisallowed", 0),
            "selftime.plans_crawl_s": selft.get("plans.crawl", 0.0),
            "selftime.store_s": selft.get("store", 0.0),
            "selftime.bloom_s": selft.get("bloom", 0.0),
            "selftime.robots_s": selft.get("robots", 0.0),
            "trace.overhead_frac": unit["crawl_s"] / baseline_crawl_s - 1.0,
        }
        return {k: {"value": float(values[k]), "unit": u}
                for k, u in PER_LAYER_UNITS.items()}


# --------------------------------------------------------- spark counters
def _stage_ids_for(sc, groups) -> List[int]:
    st = sc.statusTracker()
    out: List[int] = []
    for g in groups:
        for jid in st.getJobIdsForGroup(g):
            info = st.getJobInfo(jid)
            if info is not None:
                out.extend(info.stageIds)
    return out


def wave_job_counts(sc, wave: int) -> Tuple[int, int]:
    """Spark jobs and tasks run by one wave: its own job group plus the
    group of its background commit half."""
    st = sc.statusTracker()
    groups = [f"wave-{wave}", f"wave-{wave}-commit"]
    n_jobs = sum(len(st.getJobIdsForGroup(g)) for g in groups)
    n_tasks = 0
    for sid in set(_stage_ids_for(sc, groups)):
        info = st.getStageInfo(sid)
        if info is not None:
            n_tasks += info.numCompletedTasks + info.numFailedTasks
    return n_jobs, n_tasks


def count_failed_tasks(sc, groups) -> int:
    """Failed task attempts over every stage of the jobs in ``groups``
    (``None`` is the group of jobs submitted outside any group)."""
    st = sc.statusTracker()
    total = 0
    for sid in set(_stage_ids_for(sc, groups)):
        info = st.getStageInfo(sid)
        if info is not None:
            total += info.numFailedTasks
    return total


def _rest(sc, path: str):
    url = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}/{path}"
    with urllib.request.urlopen(url, timeout=30) as r:
        return json.load(r)


def rest_stage_stats(sc, wave: int) -> Tuple[float, float]:
    """(shuffle MB written, the largest stage's max task time / median task
    time) of one wave, from the localhost REST API."""
    stages = _rest(sc, "stages?details=false")
    ids = set(_stage_ids_for(sc, [f"wave-{wave}", f"wave-{wave}-commit"]))
    ran = [s for s in stages
           if s["stageId"] in ids and s.get("numCompleteTasks", 0) > 0]
    if not ran:
        return 0.0, 0.0
    shuffle = sum(s.get("shuffleWriteBytes", 0) for s in ran)
    big = max(ran, key=lambda s: s.get("executorRunTime", 0))
    q = _rest(sc, f"stages/{big['stageId']}/{big['attemptId']}/"
                  "taskSummary?quantiles=0.5,1.0")
    med, mx = q["duration"]
    return shuffle / 1e6, (mx / med if med > 0 else 0.0)


# -------------------------------------------------------- kernel rates
def function_rates(corpus: Corpus, n_pages: int = 300,
                   min_s: float = 0.2) -> Dict[str, float]:
    """Single-thread throughput of the text kernels over the workload's own
    pages."""
    from simplecrawler_spark.functions.decode import decode_buffer
    from simplecrawler_spark.functions.discovery import discover_resources
    from simplecrawler_spark.functions.urlkit import process_url
    html = corpus.html[:n_pages]
    text = corpus.text[:n_pages]
    hrefs = [(h, corpus.urls[i]) for i in range(min(n_pages, len(html)))
             for h, _ in corpus.hrefs[i]]

    def rate(fn, items):
        done, t = 0, perf()
        while True:
            for it in items:
                fn(it)
            done += len(items)
            dt = perf() - t
            if dt >= min_s:
                return done / dt

    return {
        "functions.decode_buffer_per_s":
            rate(lambda b: decode_buffer(b, "text/html"), html),
        "functions.discover_resources_per_s":
            rate(discover_resources, text),
        "functions.process_url_per_s":
            rate(lambda hu: process_url(hu[0], hu[1], 1), hrefs),
    }


# ------------------------------------------------- untraced crawl records
def _records_path(workload: str) -> str:
    return os.path.join(WORK, "results", f"{workload}.jsonl")


def record_untraced(workload: str, seed: int, crawl_s: float) -> None:
    path = _records_path(workload)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "a") as f:
        f.write(json.dumps({"seed": seed, "crawl_s": crawl_s}) + "\n")


def untraced_crawl_s(workload: str) -> Optional[float]:
    """Median crawl_s of the untraced runs recorded in this checkout."""
    try:
        with open(_records_path(workload)) as f:
            vals = [json.loads(line)["crawl_s"] for line in f if line.strip()]
    except FileNotFoundError:
        return None
    return statistics.median(vals) if vals else None


def run(wl: Workload, seed: int, seconds: float, trace: bool):
    r = Run(wl, seed, seconds, trace)
    try:
        return r.execute()
    finally:
        if r.spark is not None:
            stop_spark(r.spark)
        shutil.rmtree(r.run_dir, ignore_errors=True)
