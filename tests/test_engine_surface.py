"""The wave engine picks every path from what it can observe (config
fields, driver-tracked counts), never from the process environment. Two
reads stay: ``SPARK_GRAFT_DISABLE_FASTPATH`` (the reference path the
canonicalizer fast-path tests compare against) and ``CRAWL_DEBUG_TIMING``
(phase-timing printout). Removed crawl switches must stay removed."""

import ast
import dataclasses
import os

import simplecrawler_spark
from simplecrawler_spark.config import CrawlerConfig

ALLOWED_ENV = {"SPARK_GRAFT_DISABLE_FASTPATH", "CRAWL_DEBUG_TIMING"}
PKG = os.path.dirname(simplecrawler_spark.__file__)


def _is_environ(node):
    # os.environ / environ
    return ((isinstance(node, ast.Attribute) and node.attr == "environ")
            or (isinstance(node, ast.Name) and node.id == "environ"))


def _env_reads(tree):
    """Yield (lineno, key-or-None) for every environment read: environ[k],
    environ.get(k), os.getenv(k) / getenv(k). A non-literal key yields
    None."""
    def key_of(arg):
        if isinstance(arg, ast.Constant) and isinstance(arg.value, str):
            return arg.value
        return None

    for node in ast.walk(tree):
        if isinstance(node, ast.Subscript) and _is_environ(node.value):
            yield node.lineno, key_of(node.slice)
        elif isinstance(node, ast.Call):
            f = node.func
            is_getenv = ((isinstance(f, ast.Attribute) and f.attr == "getenv")
                         or (isinstance(f, ast.Name) and f.id == "getenv"))
            is_environ_get = (isinstance(f, ast.Attribute)
                              and f.attr in ("get", "setdefault", "pop")
                              and _is_environ(f.value))
            if is_getenv or is_environ_get:
                yield node.lineno, key_of(node.args[0]) if node.args else None


def test_no_env_selected_engine_paths():
    bad = []
    n_files = 0
    for root, _, files in os.walk(PKG):
        for name in files:
            if not name.endswith(".py"):
                continue
            path = os.path.join(root, name)
            with open(path, encoding="utf-8") as f:
                tree = ast.parse(f.read(), path)
            n_files += 1
            for line, key in _env_reads(tree):
                if key not in ALLOWED_ENV:
                    bad.append(f"{os.path.relpath(path, PKG)}:{line} {key!r}")
    assert n_files > 10
    assert not bad, "environment reads outside the allow-list: " + \
        ", ".join(bad)


def test_removed_crawl_switches_stay_removed():
    fields = {f.name for f in dataclasses.fields(CrawlerConfig)}
    assert not fields & {"raw_url_prefilter", "robots_side_table",
                         "copartition_pages"}
