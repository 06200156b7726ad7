"""Per-layer metrics of the traced run: (name, unit, better).

BENCHMARK.json lists the same metrics; tests/test_selftest.py keeps the two
in step.
"""

PER_LAYER = [
    ("crawl.jobs_per_wave", "count", "lower"),
    ("crawl.tasks_per_wave", "count", "lower"),
    ("crawl.due_s", "s", "lower"),
    ("crawl.commit_wait_s", "s", "lower"),
    ("crawl.mega_agg_s", "s", "lower"),
    ("crawl.assign_ids_s", "s", "lower"),
    ("crawl.shuffle_mb_per_wave", "MB", "lower"),
    ("crawl.task_skew", "ratio", "lower"),
    ("crawl.failed_tasks", "count", "lower"),
    ("udfs.body_rows", "count", "lower"),
    ("udfs.body_busy_s", "s", "lower"),
    ("udfs.candidate_rows", "count", "lower"),
    ("udfs.candidate_busy_s", "s", "lower"),
    ("udfs.candidate_fast_frac", "ratio", "higher"),
    ("functions.process_url_per_s", "1/s", "higher"),
    ("functions.discover_resources_per_s", "1/s", "higher"),
    ("functions.decode_buffer_per_s", "1/s", "higher"),
    ("politeness.due_rows", "count", "higher"),
    ("politeness.hot_host_share", "ratio", "lower"),
    ("seen.candidates", "count", "lower"),
    ("seen.new_frac", "ratio", "higher"),
    ("seen.bloom_add_s", "s", "lower"),
    ("seen.bloom_fpr", "ratio", "lower"),
    ("store.commit_s", "s", "lower"),
    ("store.files_per_commit", "count", "lower"),
    ("store.bytes_per_commit", "B", "lower"),
    ("store.current_frontier_s", "s", "lower"),
    ("store.delta_dirs_read", "count", "lower"),
    ("robots.new_origins", "count", "lower"),
    ("robots.triggers_s", "s", "lower"),
    ("robots.fetch_s", "s", "lower"),
    ("robots.verdict_s", "s", "lower"),
    ("robots.disallowed", "count", "lower"),
    ("selftime.plans_crawl_s", "s", "lower"),
    ("selftime.store_s", "s", "lower"),
    ("selftime.bloom_s", "s", "lower"),
    ("selftime.robots_s", "s", "lower"),
    ("trace.overhead_frac", "ratio", "lower"),
]

PER_LAYER_UNITS = {name: unit for name, unit, _ in PER_LAYER}
