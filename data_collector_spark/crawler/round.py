"""One crawl round — the engine's inner loop.

Spark re-expression of one collector pass (SURVEY.md §3.2, the
PolygonGroupedDailyCollector archetype at /root/reference/src/actions/
collect/polygon_grouped_daily.rs:141-220): checkpoint read -> budget
acquisition -> fetch loop -> transform -> dedup sink -> advance, but as one
declarative DataFrame plan per stage with a snapshot commit at the end.

Stages (all lazy until the writes):
 1. frontier_N scan (partition-pruned: one round=N directory)
 2. robots broadcast anti-filter             (warden, J6/R6)
 3. politeness wave pop, skew-salted window  (W1-W3, R1-R5), optional
    daily-budget caps (R2)
 4. "fetch" = join the wave against the pages corpus. The wave is bounded
    by sum(host budgets); when the estimated wave is under
    ``wave_broadcast_max_rows`` it broadcasts and the 100 TB side streams
    by with partition pruning, never shuffling. Above the threshold the
    join falls back to a shuffle join — at cluster scale the pages table
    is Iceberg-bucketed by url_canon, so that join becomes a
    storage-partitioned join (no pages shuffle) rather than an
    executor-OOM-sized broadcast. PINNED, not just claimed: against a
    bucketBy(url_canon) pages table the above-gate join plans with zero
    Exchange on the pages side (test_plan_quality.py::
    test_fetch_join_bucketed_pages_no_exchange) and the full crawl over
    that layout is byte-equivalent to the broadcast path
    (test_crawler.py::test_bucketed_corpus_above_gate_matches_broadcast).
 5. extract text + links, one Arrow pass     (S3/F12 + byte-identical rule)
 6. within-round dedup (groupBy url_sha1, deterministic min) then
    Bloom-prefiltered anti-join vs seen      (J5/S7)
 7. write fetch_log / pages_out / frontier_{N+1} / seen delta; update
    Bloom shards; commit metrics (D9 ExecutionStats analog)

Every counter a round reports rides the write actions as an
``Observation`` (CollectMetrics nodes inside the plans that must execute
anyway), so no Spark job runs just to count. The jobs that are mutually
independent once pages_out is written (fetch_log write, frontier write,
lineage top-k, and the seen write after the frontier) are issued
concurrently from a thread pool, overlapping their fixed scheduling/tail
costs instead of paying them serially.

The Bloom update lands *before* the manifest commit: a crash in between
leaves extra bits set, which only causes false positives — and every
positive is re-checked by the exact anti-join, so correctness holds.
"""

from __future__ import annotations

import time
from concurrent.futures import ThreadPoolExecutor
from typing import TYPE_CHECKING

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from data_collector_spark.crawler.state import (
    FETCH_LOG_SCHEMA,
    FRONTIER_SCHEMA,
    CrawlState,
    RoundMetrics,
)
from data_collector_spark.functions.extract import with_extracted
from data_collector_spark.functions.urls import with_canonical_url
from data_collector_spark.operators.bloom import ShardedBloom
from data_collector_spark.operators.politeness import BudgetSpec, pop_wave_spec
from data_collector_spark.operators.robots import split_robots
from data_collector_spark.operators.seen import dedup_against_seen

if TYPE_CHECKING:
    from data_collector_spark.crawler.driver import CrawlConfig

PAGES_OUT_SCHEMA = (
    "url_canon string, url_sha1 string, host string, depth int, seq_in_host int, "
    "warc_ts timestamp, extracted_text string, links array<string>"
)

FRONTIER_COLS = [
    "url_canon", "url_sha1", "host", "depth", "discovery_ts",
    "priority", "attempt", "not_before_round",
]


def _n(metrics: dict, key: str) -> int:
    v = metrics.get(key)
    return int(v) if v is not None else 0


def _obs_metrics(obs: Observation) -> dict:
    """Observation metrics, tolerating empty executions.

    A branch whose scan had zero input files (an empty committed round)
    runs ZERO tasks, so its CollectMetrics accumulator never registers and
    Observation.get raises (PythonSQLUtils.toPyRow assertion on the empty
    row) instead of returning counts — zero tasks means zero rows. ONLY
    that known signature is mapped to {}; any other failure re-raises —
    swallowing it would zero every counter and make the driver read the
    accounting identity as an empty frontier, silently ending the crawl."""
    try:
        return obs.get
    except Exception as e:  # noqa: BLE001 — py4j surfaces the JVM assertion
        msg = str(e)
        if "toPyRow" in msg or "assertion failed" in msg:
            return {}
        raise


def _retry_not_before(round_n: int, kind: str, base: int, step: int):
    """Next eligible round per D6 backoff family
    (/root/reference/src/dag_schedule/task.rs:263-329: Constant / Linear /
    Exponential; the reference sleeps the computed duration, executors
    defer to the computed round instead). ``attempt`` is the post-increment
    attempt number."""
    a = F.col("attempt")
    if kind == "constant":
        delta = F.lit(step)
    elif kind == "linear":
        delta = F.lit(step) * a
    elif kind == "exponential":
        delta = F.pow(F.lit(base), a - 1).cast("int")
    else:
        raise ValueError(f"unknown retry_backoff family: {kind!r}")
    return F.lit(round_n) + delta


HOST_SPEND_SCHEMA = "host string, spent long"


def daily_host_caps(
    spark: SparkSession,
    state: CrawlState,
    round_n: int,
    daily_budget: int,
    rounds_per_day: int,
) -> DataFrame | None:
    """R2 daily budgets (/root/reference/src/api_keys/api_key.rs:79-106,
    160-168: 250 requests/day/key, reset at a fixed boundary).

    A "day" is ``rounds_per_day`` rounds; requests spent since the window
    opened (fetched + dead statuses — robots blocks never issued a
    request) reduce the remaining allowance. The spend comes from the
    RUNNING ``host_spend/round=N`` table maintained by the previous round
    (one tiny read, O(hosts)) — not from re-scanning every fetch_log round
    of the window, which cost O(window²) scans per day at r2. Returns
    (host, remaining) or None at a window start (no spend yet; the caller
    clamps to the daily budget via ``daily_cap``)."""
    if round_n % rounds_per_day == 0:
        return None
    if not state.has_round("host_spend", round_n):
        return None
    spend = state.read_round(spark, "host_spend", round_n, HOST_SPEND_SCHEMA)
    return spend.select(
        "host", (F.lit(daily_budget) - F.col("spent")).cast("int").alias("remaining")
    )


def update_host_spend(
    spark: SparkSession,
    state: CrawlState,
    round_n: int,
    rounds_per_day: int,
) -> None:
    """Fold round N's request log into the running window-spend table.

    Written as ``host_spend/round=N+1`` (what round N+1's cap read needs);
    skipped entirely when round N+1 opens a fresh window — absent table
    means zero spend. Cost: one bounded groupBy over ONE round's log plus
    a union with the O(hosts) previous table."""
    if (round_n + 1) % rounds_per_day == 0:
        return
    cur = (
        state.read_round(spark, "fetch_log", round_n, FETCH_LOG_SCHEMA)
        .filter(F.col("status").isin("fetched", "dead"))
        .groupBy("host")
        .agg(F.count("*").alias("spent"))
    )
    if round_n % rounds_per_day != 0 and state.has_round("host_spend", round_n):
        prev = state.read_round(spark, "host_spend", round_n, HOST_SPEND_SCHEMA)
        cur = (
            prev.unionByName(cur)
            .groupBy("host")
            .agg(F.sum("spent").cast("long").alias("spent"))
        )
    state.write_round("host_spend", round_n + 1, cur.select("host", F.col("spent").cast("long")))


def run_round(
    spark: SparkSession,
    state: CrawlState,
    pages: DataFrame,
    robots: DataFrame | None,
    budget_spec: BudgetSpec,
    bloom: ShardedBloom | None,
    round_n: int,
    cfg: CrawlConfig,
    est_wave_rows: int | None = None,
    pages_partitions: int | None = None,
    dedup_captures: bool = False,
    link_prededup: bool = False,
    robots_broadcast: bool = True,
) -> RoundMetrics:
    """Execute round N and write (but not commit) all round outputs.

    ``cfg`` is the crawl's ``CrawlConfig``; the keyword arguments are the
    values the driver works out once per crawl or per round.
    ``pages`` must carry url_canon, html, warc_ts.
    ``robots`` is None when the rules table is empty (checked once per
    crawl by the driver, not per round).
    ``est_wave_rows`` gates the wave/fetched broadcasts: above
    ``cfg.wave_broadcast_max_rows`` the joins run as shuffle joins instead
    of multi-GB broadcasts (the 10^7-URL-wave OOM hazard at cluster scale).
    ``dedup_captures=True`` collapses multiple corpus captures of one URL
    (e.g. repeated WARC snapshots) to the latest (warc_ts, md5(html))
    before extraction — detected once per crawl by the driver, so unique
    corpora never pay the extra shuffle.
    ``link_prededup`` collapses duplicate raw link strings before the
    canonicalize pass (the driver's adaptive gate decides it per round).
    """
    t0 = time.monotonic()
    m = RoundMetrics(round=round_n)
    # every cache the round takes; released on success and on failure
    caches: list = []

    def gated_broadcast(df: DataFrame) -> DataFrame:
        if est_wave_rows is not None and est_wave_rows > cfg.wave_broadcast_max_rows:
            return df
        return F.broadcast(df)

    def cache(df: DataFrame) -> DataFrame:
        caches.append(df.persist())
        return df

    try:
        frontier_n = state.read_round(spark, "frontier", round_n, FRONTIER_SCHEMA)
        # D6 backoff hold: entries whose retry window hasn't opened pass
        # through untouched (the reference sleeps between retries,
        # task.rs:277-329; executors never sleep — they defer)
        obs_held = Observation()
        held = frontier_n.filter(F.col("not_before_round") > round_n).observe(
            obs_held, F.count(F.lit(1)).alias("n")
        )
        frontier_n = frontier_n.filter(F.col("not_before_round") <= round_n)
        if robots is not None:
            allowed, blocked = split_robots(frontier_n, robots, broadcast=robots_broadcast)
        else:
            allowed, blocked = frontier_n, None

        daily = cfg.daily_budget > 0 and cfg.rounds_per_day > 0
        host_caps = None
        if daily:
            host_caps = daily_host_caps(
                spark, state, round_n, cfg.daily_budget, cfg.rounds_per_day
            )
        # the salted politeness window feeds BOTH the wave (fetch join) and
        # deferred (frontier write); caching the staged window output runs
        # the full-frontier sort once per round instead of twice
        # (spill-aware: MEMORY_AND_DISK)
        wave, deferred = pop_wave_spec(
            allowed, budget_spec, cfg.skew_salt,
            host_caps=host_caps, default_remaining=cfg.daily_budget,
            daily_cap=cfg.daily_budget, pools=cfg.budget_pools,
            stage_cache=caches,
        )
        wave = cache(wave)

        # fetch + extract, one Arrow pass, written once and re-read for fan-out
        pages_slim = pages.select("url_canon", "warc_ts", "html")
        hits = pages_slim.join(
            gated_broadcast(
                wave.select("url_canon", "url_sha1", "host", "depth", "seq_in_host")
            ),
            "url_canon",
            "inner",
        )
        if dedup_captures:
            # multiple captures of one URL fan the join out; keep the latest
            # (warc_ts, md5(html)) per URL — the group set is wave-bounded,
            # so this shuffle never exceeds the politeness budget x
            # multiplicity
            hits = (
                hits.groupBy("url_canon", "url_sha1", "host", "depth", "seq_in_host")
                .agg(
                    F.max_by(
                        F.struct("warc_ts", "html"),
                        F.struct("warc_ts", F.md5("html")),
                    ).alias("_pg")
                )
                .select(
                    "url_canon", "url_sha1", "host", "depth", "seq_in_host",
                    F.col("_pg.warc_ts").alias("warc_ts"),
                    F.col("_pg.html").alias("html"),
                )
            )
        # extraction parallelism rides on the pages-scan splits (session
        # sets 16 MB maxPartitionBytes); only repartition — a full shuffle
        # of the html payloads — when the scan can't give one split per
        # task slot
        if (
            pages_partitions is not None
            and pages_partitions < spark.sparkContext.defaultParallelism
        ):
            hits = hits.repartition(
                2 * spark.sparkContext.defaultParallelism, "url_sha1"
            )
        # NOTE: with_extracted(canonicalize_links=True) would save one
        # JVM<->Python hop for the link fan-out, but measured SLOWER at 8
        # cores (pandas list-rebuild cost > Arrow hop saved) — keep separate
        extracted = with_extracted(hits).select(
            "url_canon", "url_sha1", "host", "depth", "seq_in_host",
            "warc_ts", "extracted_text", "links",
        )
        obs_pages = Observation()
        extracted = extracted.observe(
            obs_pages,
            F.count(F.lit(1)).alias("n"),
            F.sum(F.size("links")).alias("links"),
        )
        state.write_round("pages_out", round_n, extracted)
        pm = _obs_metrics(obs_pages)
        m.fetched = _n(pm, "n")
        m.links_extracted = _n(pm, "links")
        fetched = state.read_round(spark, "pages_out", round_n, PAGES_OUT_SCHEMA)

        # fetch_log: per-host ordering lineage (replay-equivalence invariant)
        dead = wave.join(
            gated_broadcast(fetched.select("url_sha1")), "url_sha1", "left_anti"
        )
        log = (
            fetched.select("url_canon", "url_sha1", "host", "seq_in_host")
            .withColumn("status", F.lit("fetched"))
            .unionByName(
                dead.select("url_canon", "url_sha1", "host", "seq_in_host").withColumn(
                    "status", F.lit("dead")
                )
            )
        )
        if blocked is not None:
            log = log.unionByName(
                blocked.select("url_canon", "url_sha1", "host")
                .withColumn("seq_in_host", F.lit(None).cast("int"))
                .withColumn("status", F.lit("robots")),
            )
        obs_log = Observation()
        log = log.observe(
            obs_log,
            F.count(F.when(F.col("status") == "dead", 1)).alias("dead"),
            F.count(F.when(F.col("status") == "robots", 1)).alias("robots"),
        )
        # D6: re-enqueue dead URLs, next-eligible round per backoff family
        retries = None
        if cfg.retry_max > 0:
            obs_retry = Observation()
            retries = (
                dead.filter(F.col("attempt") < cfg.retry_max)
                .withColumn("attempt", F.col("attempt") + 1)
                .withColumn(
                    "not_before_round",
                    _retry_not_before(
                        round_n, cfg.retry_backoff, cfg.retry_backoff_base,
                        cfg.retry_backoff_step,
                    ),
                )
                .drop("seq_in_host")
                .observe(obs_retry, F.count(F.lit(1)).alias("n"))
            )

        # link extraction -> next-generation candidates
        links = fetched.select(
            F.col("depth").alias("parent_depth"),
            F.col("warc_ts").alias("parent_ts"),
            F.explode("links").alias("url"),
        )
        # Optionally collapse duplicate RAW link strings before the Python
        # canonicalize pass: on real webgraphs links repeat heavily (nav
        # bars, hubs) and this JVM-side groupBy — whose map-side combine
        # shrinks the shuffle too — cuts the Arrow-UDF input by the
        # duplication factor. At LOW duplication the extra shuffle costs
        # more than the Arrow rows it saves (measured -4% at 8 cores on the
        # 8-links/page bench corpus, SCALING_r03), so the driver gates it on
        # the dup factor observed in the previous round (links_extracted /
        # unique candidates) — see driver.LINK_PREDEDUP_MIN_DUP. Exactly
        # equivalent either way: url_canon is a function of the raw url, so
        # min-per-raw-url then min-per-sha == min-per-sha (two-level min
        # over the same ordering).
        if link_prededup:
            links = (
                links.groupBy("url")
                .agg(F.min(F.struct("parent_depth", "parent_ts")).alias("_lm"))
                .select(
                    "url",
                    F.col("_lm.parent_depth").alias("parent_depth"),
                    F.col("_lm.parent_ts").alias("parent_ts"),
                )
            )
        cand = with_canonical_url(links, "url")
        # within-round dedup: deterministic min over (depth, ts) per key
        # (J5); cached because the Bloom split consumes it twice
        # (definitely-new branch + suspects branch) — without the cache the
        # canonicalize UDF chain would run once per branch
        cand_unique = cache(
            cand.groupBy("url_sha1")
            .agg(
                F.min(F.struct("parent_depth", "parent_ts", "url_canon")).alias("_m"),
            )
            .select(
                F.col("_m.url_canon").alias("url_canon"),
                "url_sha1",
                (F.col("_m.parent_depth") + 1).alias("depth"),
                F.col("_m.parent_ts").alias("discovery_ts"),
            )
            .withColumn(
                "host", F.regexp_extract("url_canon", r"^[a-z0-9+.\-]+://([^/:?#]+)", 1)
            )
            .withColumn("priority", F.lit(1))
            .withColumn("attempt", F.lit(0))
            .withColumn("not_before_round", F.lit(round_n + 1))
        )
        seen_all = state.read_all(spark, "seen")
        cand_count_obs: list = []
        new_entries = cache(dedup_against_seen(
            spark, cand_unique,
            seen_all.select("url_sha1") if seen_all is not None else None,
            bloom, input_count_obs=cand_count_obs,
            # saved shards hold exactly rounds 0..N-1 at probe time (the
            # filter is saved before each commit + at init), so the
            # file-backed probe sees the same state the in-memory broadcast
            # would
            bloom_dir=state.bloom_dir() if cfg.bloom_probe_via_files else None,
        ))

        obs_def = Observation()
        frontier_next = (
            deferred.select(*FRONTIER_COLS)
            .observe(obs_def, F.count(F.lit(1)).alias("n"))
            .unionByName(new_entries.select(*FRONTIER_COLS))
            .unionByName(held.select(*FRONTIER_COLS))
        )
        if retries is not None:
            frontier_next = frontier_next.unionByName(retries.select(*FRONTIER_COLS))
        # host cardinality of the next frontier rides the same write: the
        # driver derives the next round's wave bound as hosts x bmax, so the
        # broadcast gate tracks the BUDGETED wave, not the (possibly huge)
        # deferred backlog
        obs_frontier = Observation()
        frontier_next = frontier_next.observe(
            obs_frontier, F.approx_count_distinct("host").alias("hosts")
        )

        def lineage_top():
            # per-partition lineage: fetched rows per host (bounded: top 50)
            # — a column-pruned scan of the just-written pages_out round
            return (
                fetched.groupBy("host").count()
                .orderBy(F.desc("count"), "host").limit(50).collect()
            )

        obs_seen = Observation()
        seen_out = new_entries.select("url_sha1", "url_canon").observe(
            obs_seen, F.count(F.lit(1)).alias("n")
        )

        # The fetch_log write, the frontier write, and the lineage top-k are
        # INDEPENDENT jobs once pages_out is on disk (the log reads
        # wave+fetched, the frontier reads deferred/new_entries/held, the
        # lineage reads fetched) — issuing them from a thread pool overlaps
        # their fixed per-job costs (scheduling, small-stage tails that
        # leave cores idle). Each write is its own round-dir job, so there
        # is no shared mutable state; the cached new_entries is
        # materialized by the frontier job alone. The seen write (which
        # reads that cache) rides the SAME pool as a dependent
        # continuation: it blocks on the frontier future and then overlaps
        # with the log/lineage tails.
        #
        # inheritable_thread_target(spark): plain pool threads do NOT
        # inherit the parent's JVM-thread-local properties under
        # pinned-thread mode, so the jobs would escape any
        # spark.scheduler.pool / job group / session tag set by a pipeline
        # runner — the wrapper captures the submitting thread's properties
        # and tags and re-applies them inside the worker thread
        inherit = inheritable_thread_target(spark)
        with ThreadPoolExecutor(max_workers=4) as ex:
            f_log = ex.submit(inherit(state.write_round), "fetch_log", round_n, log)
            f_frontier = ex.submit(
                inherit(state.write_round), "frontier", round_n + 1, frontier_next
            )
            f_top = ex.submit(inherit(lineage_top))

            def seen_after_frontier():
                # wait for the frontier job: it alone fills the cached
                # new_entries this write then reads
                f_frontier.result()
                state.write_round("seen", round_n + 1, seen_out)

            f_seen = ex.submit(inherit(seen_after_frontier))
            f_log.result()
            f_frontier.result()
            top = f_top.result()
            f_seen.result()
        if daily:
            update_host_spend(spark, state, round_n, cfg.rounds_per_day)

        lm = _obs_metrics(obs_log)
        m.dead = _n(lm, "dead")
        m.robots_blocked = _n(lm, "robots")
        m.enqueued = _n(_obs_metrics(obs_seen), "n")
        m.deferred_by_politeness = _n(_obs_metrics(obs_def), "n")
        m.held_by_backoff = _n(_obs_metrics(obs_held), "n")
        m.retried = _n(_obs_metrics(obs_retry), "n") if retries is not None else 0
        m.frontier_hosts_next = _n(_obs_metrics(obs_frontier), "hosts")
        # candidate cardinality rode the dedup branches as observations too
        # — zero dedicated counter jobs per round
        uniq = sum(_n(_obs_metrics(o), "n") for o in cand_count_obs)
        m.deduped = uniq - m.enqueued
        m.per_partition = {r["host"]: r["count"] for r in top}

        if bloom is not None and m.enqueued:
            # the delta just written to seen/round=N+1 is exactly
            # new_entries (still cached) — feed the filter build from the
            # cache instead of re-scanning the parquet it produced (the
            # written table stays the durable source of truth for rebuilds)
            cfg.fill_bloom(
                bloom, new_entries.select("url_sha1", "url_canon"), state.bloom_dir()
            )
    finally:
        for df in caches:
            df.unpersist()
    m.wall_sec = round(time.monotonic() - t0, 3)
    return m
