"""Crawl workloads: seeded inputs and the output checks every crawl must pass.

Every workload runs the default ``CrawlConfig`` except the two shape
fields, ``max_rounds`` and ``default_budget``, so the benchmark never
pins a knob a later change may delete.
"""

from __future__ import annotations

import functools
import json
import os
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from data_collector_spark.crawler import CrawlConfig
from data_collector_spark.sources import synth_pages, synth_robots, synth_seeds

DEFAULT_SEED = 42


@dataclass(frozen=True)
class Shape:
    pages: int
    hosts: int
    seeds: int
    budget: int
    rounds: int


# Why each shape exists (zipf host skew is the generator default; each
# timed crawl runs one round to fit the run budget, see README.md):
# - crawl_wide: every host's budget exceeds its share of the corpus, so
#   politeness defers nothing and every seeded page goes through the
#   fetch join, Arrow extraction, link canonicalisation and the exact
#   seen anti-join.
# - crawl_backlog: few skewed hosts and a small per-host budget, so most
#   of the frontier is deferred; the salted politeness window and the
#   deferred-frontier rewrite run over it while extraction sees only the
#   small wave.
# At these sizes init_crawl, the pre-round jobs and the fixed cost of
# each Spark job take most of a crawl's time in both (traced figures in
# README.md).
SHAPES = {
    "crawl_wide": Shape(pages=10_000, hosts=200, seeds=6_000, budget=5_000, rounds=1),
    "crawl_backlog": Shape(pages=10_000, hosts=50, seeds=8_000, budget=20, rounds=1),
}
# smoke shapes run two rounds so the self-tests cover the multi-round
# checks (frontier read back from a round write, seen across rounds)
SMOKE_SHAPES = {
    "crawl_wide": Shape(pages=1_500, hosts=40, seeds=300, budget=5_000, rounds=2),
    "crawl_backlog": Shape(pages=2_000, hosts=10, seeds=1_500, budget=20, rounds=2),
}

# Per-crawl totals (fetched, deduped, enqueued, deferred, robots_blocked)
# for DEFAULT_SEED at the full shapes. Any other seed is checked for
# determinism across the run's crawls instead.
PINNED = {
    "crawl_wide": {
        "fetched": 5846, "deduped": 5939, "enqueued": 4452,
        "deferred_by_politeness": 0, "robots_blocked": 153,
    },
    "crawl_backlog": {
        "fetched": 980, "deduped": 4254, "enqueued": 1308,
        "deferred_by_politeness": 6677, "robots_blocked": 343,
    },
}

COUNTERS = ("fetched", "deduped", "enqueued", "deferred_by_politeness", "robots_blocked")


def config(shape: Shape) -> CrawlConfig:
    return CrawlConfig(max_rounds=shape.rounds, default_budget=shape.budget)


@dataclass
class Inputs:
    pages: object
    seeds: object
    robots: object
    budgets: object


def build_inputs(spark, shape: Shape, seed: int, workdir: str) -> Inputs:
    """Generate the corpus for ``seed`` and write it to parquet; the seed
    list (``synth_seeds``: corpus URLs spread over hosts, plus one dead
    URL) is a small driver-side table."""
    corpus_dir = os.path.join(workdir, "corpus")
    synth_pages(
        spark, shape.pages, n_hosts=shape.hosts,
        links_per_page=8, seed=seed,
    ).write.mode("overwrite").parquet(corpus_dir)
    return Inputs(
        pages=spark.read.parquet(corpus_dir),
        seeds=synth_seeds(spark, shape.pages, n_hosts=shape.hosts, n_seeds=shape.seeds, seed=seed),
        robots=synth_robots(spark, seed=seed),
        budgets=spark.createDataFrame(
            [("", shape.budget)], "host string, budget_per_round int"
        ),
    )


def totals(metrics) -> dict[str, int]:
    return {c: sum(getattr(m, c) for m in metrics) for c in COUNTERS}


def _by_crawl(spark, workdirs: dict[str, str], table: str):
    """One table of several crawls, read as one DataFrame with a ``crawl``
    column naming the crawl each row came from."""
    return functools.reduce(DataFrame.unionByName, (
        spark.read.parquet(os.path.join(wd, table)).withColumn("crawl", F.lit(tag))
        for tag, wd in workdirs.items()
    ))


def check_crawls(spark, crawls: dict[str, tuple[str, list]], pages, shape: Shape) -> dict[str, list[str]]:
    """Problems found in each finished crawl's checkpoint, keyed by crawl
    tag; an empty list means the crawl is correct. ``crawls`` maps a tag
    to (workdir, returned RoundMetrics). Each check is one Spark job over
    all the crawls together."""
    problems: dict[str, list[str]] = {tag: [] for tag in crawls}
    workdirs = {tag: wd for tag, (wd, _) in crawls.items()}
    # accounting identity, read back from the checkpoint:
    # frontier_{n+1} = deferred + enqueued + held + retried + recrawled
    frontier_rows = {
        (r["crawl"], int(r["round"])): int(r["count"])
        for r in _by_crawl(spark, workdirs, "frontier").groupBy("crawl", "round").count().collect()
    }
    seen = {
        r["crawl"]: r
        for r in _by_crawl(spark, workdirs, "seen").groupBy("crawl").agg(
            F.count("*").alias("n"), F.countDistinct("url_sha1").alias("d")
        ).collect()
    }
    # byte-identical extraction: every fetched page's text equals the
    # corpus text computed by the same golden extractor at generation
    ext = {
        r["crawl"]: r
        for r in _by_crawl(spark, workdirs, "pages_out")
        .join(pages.select("url_canon", "text"), "url_canon", "left")
        .groupBy("crawl")
        .agg(
            F.count("*").alias("n"),
            F.count(F.when(~F.col("extracted_text").eqNullSafe(F.col("text")), 1)).alias("bad"),
        )
        .collect()
    }
    for tag, (wd, metrics) in crawls.items():
        out = problems[tag]
        with open(os.path.join(wd, "crawl_state.json")) as f:
            manifest = json.load(f)
        if manifest["last_round"] != shape.rounds - 1 or len(metrics) != shape.rounds:
            out.append(
                f"ran {len(metrics)} rounds, manifest last_round "
                f"{manifest['last_round']}, expected {shape.rounds}"
            )
        for r in manifest["rounds"]:
            n = r["round"]
            want = (
                r["deferred_by_politeness"] + r["enqueued"] + r["held_by_backoff"]
                + r["retried"] + r["recrawled"]
            )
            got = frontier_rows.get((tag, n + 1), 0)
            if got != want:
                out.append(f"round {n}: frontier_{n + 1} has {got} rows, counters say {want}")
        if tag not in seen or seen[tag]["n"] != seen[tag]["d"]:
            out.append(f"seen is missing or holds duplicate url_sha1: {seen.get(tag)}")
        fetched = sum(m.fetched for m in metrics)
        if fetched == 0:
            out.append("crawl fetched nothing")
        if tag not in ext or ext[tag]["n"] != fetched:
            out.append(f"pages_out rows {ext.get(tag)} differ from fetched counter {fetched}")
        elif ext[tag]["bad"]:
            out.append(f"{ext[tag]['bad']} fetched pages differ from the corpus text")
    return problems


def check_counters(name: str, seed: int, smoke: bool, runs: list[dict]) -> list[str]:
    """All crawls of one run agree; at the default seed they equal the pins."""
    problems = []
    if any(t != runs[0] for t in runs[1:]):
        problems.append(f"crawl totals differ between crawls: {runs}")
    if runs and seed == DEFAULT_SEED and not smoke and runs[0] != PINNED[name]:
        problems.append(f"totals {runs[0]} differ from the pinned {PINNED[name]}")
    return problems


def dir_bytes(path: str) -> int:
    total = 0
    for base, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(base, f))
    return total
