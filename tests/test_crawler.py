"""End-to-end crawl golden scenarios (FIXTURES.md §A6) — the analog of the
reference's DB-fixture state-transition tests
(/root/reference/src/actions/stage/polygon_grouped_daily.rs:530-866).

A tiny deterministic corpus drives multi-round crawls; assertions cover
dedup, robots, politeness deferral, dead links, resume equivalence, the
byte-identical extraction invariant, and bloom-on == bloom-off equality.
"""

import hashlib

import pandas as pd
import pytest
from pyspark.sql import functions as F

from data_collector_spark.crawler import driver
from data_collector_spark.crawler.driver import CrawlConfig, run_crawl
from data_collector_spark.crawler.state import CrawlState
from data_collector_spark.functions.extract import extract_text_series
from data_collector_spark.sources.generator import (
    synth_pages,
    synth_politeness,
    synth_robots,
    synth_seeds,
)

N_URLS = 150
N_HOSTS = 6


@pytest.fixture(scope="module")
def corpus(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("corpus"))
    synth_pages(spark, N_URLS, n_hosts=N_HOSTS, partitions=4).write.mode(
        "overwrite"
    ).parquet(d)
    return spark.read.parquet(d)


def crawl(spark, tmp_path, corpus, name, cfg=None, budgets=None, robots=None):
    wd = str(tmp_path / name)
    metrics = run_crawl(
        spark,
        wd,
        corpus,
        synth_seeds(spark, N_URLS, n_hosts=N_HOSTS),
        robots if robots is not None else synth_robots(spark),
        budgets if budgets is not None else synth_politeness(spark),
        cfg or CrawlConfig(max_rounds=3),
    )
    return wd, metrics, CrawlState(wd)


def test_round0_and_invariants(spark, tmp_path, corpus):
    wd, metrics, state = crawl(spark, tmp_path, corpus, "base")
    assert len(metrics) == 3
    m0 = metrics[0]
    assert m0.fetched > 0 and m0.enqueued > 0

    # scenario 8: byte-identical extracted text for every fetched url
    fetched = state.read_all(spark, "pages_out").join(
        corpus.select("url_canon", "text"), "url_canon"
    )
    rows = fetched.select("extracted_text", "text").collect()
    assert rows and all(r["extracted_text"] == r["text"] for r in rows)

    # scenario 3: no URL fetched twice, ever
    log = state.read_all(spark, "fetch_log").filter(F.col("status") == "fetched")
    assert log.groupBy("url_sha1").count().filter("count > 1").count() == 0

    # seen set unique
    seen = state.read_all(spark, "seen")
    assert seen.groupBy("url_sha1").count().filter("count > 1").count() == 0

    # scenario 4: robots-blocked hosts never fetched
    assert log.filter(F.col("host") == "h3.test").count() == 0
    blocked = state.read_all(spark, "fetch_log").filter(F.col("status") == "robots")
    assert blocked.count() == sum(m.robots_blocked for m in metrics)

    # scenario 5: politeness budget respected per (round, host)
    per = (
        state.read_all(spark, "fetch_log")
        .filter(F.col("status") != "robots")
        .groupBy("round", "host")
        .count()
        .collect()
    )
    for r in per:
        limit = 1 if r["host"] == "h0.test" else 2
        assert r["count"] <= limit, r

    # scenario 6: the dead seed is logged dead, exactly once
    dead = state.read_all(spark, "fetch_log").filter(F.col("status") == "dead")
    assert dead.count() >= 1
    assert dead.groupBy("url_sha1").count().filter("count > 1").count() == 0


def test_within_round_duplicate_links_enqueued_once(spark, tmp_path, corpus):
    # scenario 2: frontier rounds never contain duplicate keys
    wd, metrics, state = crawl(spark, tmp_path, corpus, "dupes")
    f = state.read_all(spark, "frontier")
    assert f.groupBy("round", "url_sha1").count().filter("count > 1").count() == 0


def test_resume_equivalence(spark, tmp_path, corpus):
    # scenario 7: stop after round 1, resume, final state identical to
    # an uninterrupted run
    _, m_full, st_full = crawl(
        spark, tmp_path, corpus, "full", CrawlConfig(max_rounds=4)
    )
    wd2, m_a, st_part = crawl(
        spark, tmp_path, corpus, "part", CrawlConfig(max_rounds=2)
    )
    m_b = run_crawl(
        spark,
        wd2,
        corpus,
        synth_seeds(spark, N_URLS, n_hosts=N_HOSTS),
        synth_robots(spark),
        synth_politeness(spark),
        CrawlConfig(max_rounds=4),
    )
    assert [m.round for m in m_b] == [2, 3]

    def final(st):
        seen = sorted(r["url_sha1"] for r in st.read_all(spark, "seen").collect())
        log = sorted(
            (r["round"], r["host"], r["seq_in_host"], r["url_sha1"])
            for r in st.read_all(spark, "fetch_log")
            .filter(F.col("status") == "fetched")
            .collect()
        )
        return seen, log

    assert final(st_full) == final(st_part)


def test_replay_determinism(spark, tmp_path, corpus):
    # north_rule: same seeds + budgets => identical per-host ordering and seen set
    _, _, st1 = crawl(spark, tmp_path, corpus, "replay1")
    _, _, st2 = crawl(spark, tmp_path, corpus, "replay2")

    def ordering(st):
        return sorted(
            (r["round"], r["host"], r["seq_in_host"], r["url_canon"])
            for r in st.read_all(spark, "fetch_log")
            .filter(F.col("status") == "fetched")
            .collect()
        )

    assert ordering(st1) == ordering(st2)
    s1 = sorted(r["url_sha1"] for r in st1.read_all(spark, "seen").collect())
    s2 = sorted(r["url_sha1"] for r in st2.read_all(spark, "seen").collect())
    assert s1 == s2


def test_bloom_off_equals_bloom_on(spark, tmp_path, corpus):
    _, _, st_on = crawl(
        spark, tmp_path, corpus, "bon",
        CrawlConfig(max_rounds=3, use_bloom=True, bloom_min_seen_rows=0),
    )
    _, _, st_off = crawl(
        spark, tmp_path, corpus, "boff", CrawlConfig(max_rounds=3, use_bloom=False)
    )
    a = sorted(r["url_sha1"] for r in st_on.read_all(spark, "seen").collect())
    b = sorted(r["url_sha1"] for r in st_off.read_all(spark, "seen").collect())
    assert a == b


def test_duplicate_captures_fetch_once(spark, tmp_path):
    """A corpus with multiple WARC captures of one URL (detected at crawl
    start) yields exactly one fetch of the LATEST capture — the
    'no URL fetched twice' invariant holds on non-unique corpora."""
    from datetime import datetime

    rows = [
        ("http://dup.test/a", datetime(2024, 1, 1), b"<p>old capture</p>"),
        ("http://dup.test/a", datetime(2024, 3, 1), b"<p>new capture</p>"),
        ("http://dup.test/b", datetime(2024, 1, 1), b"<p>only one</p>"),
    ]
    pages = spark.createDataFrame(
        rows, "url_canon string, warc_ts timestamp, html binary"
    )
    seeds = spark.createDataFrame(
        [("http://dup.test/a", 0), ("http://dup.test/b", 0)],
        "url string, priority int",
    )
    robots = spark.createDataFrame([], "host string, path_prefix string")
    budgets = spark.createDataFrame([("", 5)], "host string, budget_per_round int")
    wd = str(tmp_path / "dup_wd")
    metrics = run_crawl(
        spark, wd, pages, seeds, robots, budgets, CrawlConfig(max_rounds=1)
    )
    state = CrawlState(wd)
    log = state.read_all(spark, "fetch_log").filter(F.col("status") == "fetched")
    assert log.groupBy("url_sha1").count().filter("count > 1").count() == 0
    assert metrics[0].fetched == 2 and metrics[0].dead == 0
    got = {
        r["url_canon"]: r["extracted_text"]
        for r in state.read_all(spark, "pages_out").collect()
    }
    assert got["http://dup.test/a"] == "new capture"  # latest warc_ts wins


def test_broadcast_gate_preserves_semantics(spark, tmp_path, corpus):
    """wave_broadcast_max_rows=0 forces the shuffle-join path; results must
    be identical to the broadcast path."""
    _, _, st_b = crawl(spark, tmp_path, corpus, "gate_bcast")
    _, _, st_s = crawl(
        spark, tmp_path, corpus, "gate_shuffle",
        CrawlConfig(max_rounds=3, wave_broadcast_max_rows=0),
    )

    def snap(st):
        seen = sorted(r["url_sha1"] for r in st.read_all(spark, "seen").collect())
        log = sorted(
            (r["round"], r["host"], r["seq_in_host"], r["url_sha1"])
            for r in st.read_all(spark, "fetch_log")
            .filter(F.col("status") == "fetched")
            .collect()
        )
        return seen, log

    assert snap(st_b) == snap(st_s)


def test_bucketed_corpus_above_gate_matches_broadcast(spark, tmp_path, corpus):
    """The cluster-scale above-gate layout end-to-end: the corpus served
    from a url_canon-bucketed TABLE (the Iceberg bucket(url_canon)
    stand-in) with wave_broadcast_max_rows=0 must reproduce the broadcast
    crawl exactly. The companion plan property — no Exchange on the pages
    side of that join — is pinned in
    test_plan_quality.py::test_fetch_join_bucketed_pages_no_exchange."""
    spark.sql("DROP TABLE IF EXISTS pages_bucketed_crawl")
    corpus.write.bucketBy(8, "url_canon").sortBy("url_canon").option(
        "path", str(tmp_path / "pages_bucketed_crawl")
    ).saveAsTable("pages_bucketed_crawl")
    try:
        _, _, st_b = crawl(spark, tmp_path, corpus, "bkt_base")
        _, _, st_t = crawl(
            spark, tmp_path, spark.table("pages_bucketed_crawl"), "bkt_table",
            CrawlConfig(max_rounds=3, wave_broadcast_max_rows=0),
        )
    finally:
        spark.sql("DROP TABLE IF EXISTS pages_bucketed_crawl")

    def snap(st):
        seen = sorted(r["url_sha1"] for r in st.read_all(spark, "seen").collect())
        log = sorted(
            (r["round"], r["host"], r["seq_in_host"], r["url_sha1"])
            for r in st.read_all(spark, "fetch_log")
            .filter(F.col("status") == "fetched")
            .collect()
        )
        return seen, log

    assert snap(st_b) == snap(st_t)


def test_all_policies_combined(spark, tmp_path, corpus):
    """Feature interaction: linear retries + daily budgets + recrawl TTL
    active at once — the accounting identity, the budget caps, and replay
    determinism must all hold simultaneously."""
    cfg = CrawlConfig(
        max_rounds=6,
        retry_max=2, retry_backoff="linear", retry_backoff_step=2,
        daily_budget=4, rounds_per_day=3,
        recrawl_ttl_rounds=4, recrawl_priority=2,
    )
    _, m1, st1 = crawl(spark, tmp_path, corpus, "combo1", cfg)
    _, m2, st2 = crawl(spark, tmp_path, corpus, "combo2", cfg)

    for m in m1:
        fn = st1.read_round(spark, "frontier", m.round + 1).count()
        assert fn == (
            m.deferred_by_politeness + m.enqueued + m.held_by_backoff
            + m.retried + m.recrawled
        ), m.as_dict()

    log = st1.read_all(spark, "fetch_log").filter(F.col("status") != "robots")
    # per-round budget (1 for h0.test, 2 default — synth_politeness)
    per_round = log.groupBy("round", "host").count().collect()
    for r in per_round:
        assert r["count"] <= (1 if r["host"] == "h0.test" else 2), r
    # daily cap: <= 4 requests per host per 3-round window
    per_day = (
        log.groupBy((F.col("round") / 3).cast("int").alias("day"), "host")
        .count()
        .filter(F.col("count") > 4)
    )
    assert per_day.count() == 0

    def snap(st):
        return sorted(
            (r["round"], r["host"], r["seq_in_host"], r["url_sha1"])
            for r in st.read_all(spark, "fetch_log")
            .filter(F.col("status") == "fetched")
            .collect()
        )

    assert snap(st1) == snap(st2)  # deterministic under the full policy stack


def test_link_prededup_modes_equivalent(spark, tmp_path, corpus, monkeypatch):
    """The raw-link pre-dedup is a pure plan change (two-level min == one
    min): the gate held on every round and the gate off from round 1 must
    yield an identical fetch log and seen set."""
    def go(name, min_dup):
        monkeypatch.setattr(driver, "LINK_PREDEDUP_MIN_DUP", min_dup)
        wd, _, state = crawl(spark, tmp_path, corpus, name)
        seen = sorted(r["url_sha1"] for r in state.read_all(spark, "seen").collect())
        log = sorted(
            (r["round"], r["host"], r["seq_in_host"], r["url_sha1"])
            for r in state.read_all(spark, "fetch_log")
            .filter(F.col("status") == "fetched").collect()
        )
        return seen, log

    assert go("lpd_on", 0.0) == go("lpd_off", float("inf"))


@pytest.mark.filterwarnings("error:Spark session is not provided")
def test_counters_consistent(spark, tmp_path, corpus):
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keySet().toArray())
    _, metrics, state = crawl(spark, tmp_path, corpus, "counters")
    # every round cache (politeness stage, wave, candidates, new entries)
    # is released, including the ones the write pool threads read
    after = set(jsc.getPersistentRDDs().keySet().toArray())
    assert after <= before, f"leaked persisted RDDs: {after - before}"
    for m in metrics:
        log_n = (
            state.read_round(spark, "fetch_log", m.round)
            .filter(F.col("status") == "fetched")
            .count()
        )
        assert log_n == m.fetched
        assert m.deduped >= 0 and m.deferred_by_politeness >= 0
        # frontier_{n+1} = deferred + enqueued + backoff-held + retried + recrawled
        fn = state.read_round(spark, "frontier", m.round + 1).count()
        assert fn == (
            m.deferred_by_politeness + m.enqueued + m.held_by_backoff
            + m.retried + m.recrawled
        )
        assert m.per_partition  # lineage populated
