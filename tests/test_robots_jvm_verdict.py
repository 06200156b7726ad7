"""Pure-JVM robots verdict fold (plans/crawl.py::_robots_ok_col) must be
row-for-row identical to the Python kernel (functions/robots.py::
eval_rules) — the fold moved the per-URL verdict out of BatchEvalPython
into a Catalyst ``aggregate`` expression (r05: the UDF node in the due/
candidate mass was the robots-ON plans' only codegen break), so its
equivalence IS the robots-compliance contract at scale.

Covers: longest-prefix vs Allow ties, $-anchored and * wildcard rules
(first-match-wins quirk), regex metacharacters in patterns, percent-
decoding ('+' stays literal, malformed escapes left in place, an escaped
'%25' decoded exactly once), rule-order semantics, paths mixing valid and
malformed escapes (only in the canonicalizer's re-escaped form), and a
pseudo-random grid of generated rule sets x paths."""

import random
import re

import pytest
from pyspark.sql import functions as F

from simplecrawler_spark.config import CrawlerConfig
from simplecrawler_spark.functions.robots import eval_rules, parse_robots
from simplecrawler_spark.functions.urlkit import process_url
from simplecrawler_spark.operators.udfs import prep_rules_udf
from simplecrawler_spark.plans.crawl import WaveCrawler

BODIES = {
    "a": "User-agent: *\nDisallow: /q\nAllow: /q7\n",
    "b": "User-agent: *\nDisallow: /q2\nDisallow: /q5$\n",
    "c": "User-agent: *\nDisallow: /*8$\nDisallow: /q4\nAllow: /q48\n",
    "d": "User-agent: *\nDisallow: /p%20x\nAllow: /p%20x/ok\n"
         "Disallow: /plus+y\n",
    "e": "User-agent: *\nDisallow: /dots.(x)[y]\nDisallow: /w*ld\n",
    "f": "User-agent: *\nAllow: /\nDisallow: /private\n",
    "g": "User-agent: *\nDisallow: /a%2520b\n",
}

PATHS = ["/q", "/q7", "/q77", "/q2", "/q5", "/q55", "/q4", "/q48", "/q8",
         "/x8", "/p x/z", "/p%20x/z", "/p x/ok", "/plus+y/z", "/plus y",
         "/dots.(x)[y]/z", "/dots5(x)[y]", "/woooold/z", "/wld", "/",
         "/q7/deep?k=v", "/%zz/bad", "/trail%", "/private/x", "/priv",
         "/a%2520b"]


def _jvm_verdicts(spark, rows):
    df = spark.createDataFrame(rows, "rules_json string, path string")
    prep = prep_rules_udf()
    out = (df.withColumn("rules_arr", prep("rules_json"))
           .withColumn("ok", WaveCrawler._robots_ok_col(
               F.col("path"), F.col("rules_arr")))
           .select("ok").collect())
    return [bool(r["ok"]) for r in out]


def test_jvm_fold_matches_eval_rules_goldens(spark):
    rows, truth = [], []
    for k, body in BODIES.items():
        rj = parse_robots(f"http://{k}.test/robots.txt",
                          body).rules_payload("*")
        for p in PATHS:
            rows.append((rj, p))
            truth.append(bool(eval_rules(rj, f"http://{k}.test{p}")))
    assert _jvm_verdicts(spark, rows) == truth


def test_jvm_fold_matches_eval_rules_random_grid(spark):
    rng = random.Random(1405)
    segs = ["/a", "/bb", "/c%20d", "/e.f", "/g*", "/h$", "/*", "/i+j"]
    rows, truth = [], []
    for trial in range(60):
        n_rules = rng.randint(1, 6)
        lines = ["User-agent: *"]
        for _ in range(n_rules):
            verb = rng.choice(["Allow", "Disallow"])
            pat = "".join(rng.choice(segs)
                          for _ in range(rng.randint(1, 3)))
            lines.append(f"{verb}: {pat}")
        rj = parse_robots("http://t.test/robots.txt",
                          "\n".join(lines) + "\n").rules_payload("*")
        if rj is None:
            continue
        for _ in range(8):
            p = "".join(rng.choice(["/a", "/bb", "/c d", "/c%20d", "/e.f",
                                    "/gx", "/h", "/i+j", "/zz"])
                        for _ in range(rng.randint(1, 3)))
            if rng.random() < 0.3:
                p += "?k=v"
            rows.append((rj, p))
            truth.append(bool(eval_rules(rj, "http://t.test" + p)))
    assert len(rows) > 300
    assert _jvm_verdicts(spark, rows) == truth


def test_null_rules_row_is_allowed(spark):
    # origin without a side-table row: robots_ok literal-True branch
    df = spark.createDataFrame([(None, "/x")],
                               "rules_json string, path string")
    prep = prep_rules_udf()
    out = (df.withColumn("rules_arr", prep("rules_json"))
           .withColumn("ok", F.when(F.col("rules_arr").isNull(),
                                    F.lit(True))
                       .otherwise(WaveCrawler._robots_ok_col(
                           F.col("path"), F.col("rules_arr"))))
           .collect())
    assert out[0]["ok"] is True


def test_mixed_escape_path_is_reescaped_and_matches(spark):
    """A path mixing a valid and a malformed %-escape is where the fold
    (leaves the path undecoded) and eval_rules (unquote decodes the valid
    escape) would part ways. The canonicalizer never emits one: it
    re-escapes every '%' of such a path, and on that form the fold's
    verdict is eval_rules'."""
    opts = CrawlerConfig(initial_url="http://g.test/").url_options()
    item = process_url("http://g.test/a%20b%zz", None, 0, opts)
    assert "%" in item["path"]
    assert re.fullmatch(r"(?:[^%]|%[0-9A-Fa-f]{2})*", item["path"])
    rj = parse_robots("http://g.test/robots.txt",
                      BODIES["g"]).rules_payload("*")
    want = bool(eval_rules(rj, item["url"]))
    assert want is False
    assert _jvm_verdicts(spark, [(rj, item["path"])]) == [want]
