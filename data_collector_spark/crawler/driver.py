"""Crawl driver loop — the reference's DAG scheduler, re-expressed.

The reference validates and Kahn-executes a task DAG
(/root/reference/src/dag_schedule/schedule.rs:106-296). Here the DAG is
control flow, so it becomes an ordered driver-side loop of Spark job chains
(SURVEY.md D1-D9): round N's outputs are round N+1's inputs, each round
commits one snapshot, and execution mode RepeatLimited(count)
(/root/reference/src/dag_schedule/task.rs:49-55) is ``max_rounds``.

Everything that is constant across rounds is resolved ONCE before the
loop — budget compilation, robots emptiness, corpus partition count,
duplicate-capture detection — so the per-round serial fraction is a fixed
handful of Spark jobs (the N-vs-4N scaling-efficiency bar).

Resume: ``run_crawl`` on an existing workdir drops crash debris past the
last committed round and continues — the analog of resuming from
``max(business_date)`` (/root/reference/src/actions/collect/
polygon_grouped_daily.rs:150-156).
"""

from __future__ import annotations

from dataclasses import dataclass
from datetime import datetime

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

import os

from data_collector_spark.crawler.round import _n, _obs_metrics, run_round
from data_collector_spark.crawler.state import (
    FETCH_LOG_SCHEMA,
    CrawlState,
    RoundMetrics,
)
from data_collector_spark.crawler.telemetry import EventLog
from data_collector_spark.functions.urls import with_canonical_url
from data_collector_spark.operators.bloom import BloomSchemeMismatch, ShardedBloom
from data_collector_spark.operators.politeness import compile_budgets

SEED_EPOCH = datetime(2024, 1, 1)

# Adaptive pre-dedup of RAW link strings before the canonicalize UDF.
# Measured (SCALING_r04 link_prededup_ab + 1M-smoke repeats): it wins
# +15-30% whenever the dup factor exceeds ~1.3 — the per-row Python/Arrow
# cost it saves far outweighs the JVM groupBy — and the only observed
# negative (-4%, SCALING_r03 heavy-page corpus) sits inside that session's
# noise band. ON for round 0 (the winning prior), then ON iff the previous
# round observed links_extracted/unique-candidates >= this threshold, so a
# duplicate-free webgraph stops paying the groupBy from round 1. Output is
# identical either way (test_link_prededup_modes_equivalent).
LINK_PREDEDUP_MIN_DUP = 1.3


@dataclass
class CrawlConfig:
    max_rounds: int = 5
    default_budget: int = 2
    skew_salt: int = 16
    use_bloom: bool = True
    bloom_shards: int = 16
    bloom_bits: int = 1 << 22
    bloom_k: int = 7
    # approximate seen-set structure: "bloom" (append-only, smallest) or
    # "cuckoo" (same contract + delete_df for purge/forget-and-recrawl
    # workflows; operators/cuckoo.py)
    seen_filter: str = "bloom"
    cuckoo_buckets: int = 1 << 16
    # D6 retry-with-backoff (/root/reference/src/dag_schedule/task.rs:263-329):
    # a dead URL is re-enqueued up to retry_max times; the family selects
    # the next-eligible round, mirroring the reference's BackoffMode:
    #   constant    -> n + retry_backoff_step           (task.rs:263-276)
    #   linear      -> n + retry_backoff_step * attempt (task.rs:277-299)
    #   exponential -> n + retry_backoff_base^(attempt-1) (task.rs:300-329)
    # retry_max=0 = reference default of no retries (task.rs:250-259)
    retry_max: int = 0
    retry_backoff: str = "exponential"
    retry_backoff_base: int = 2
    retry_backoff_step: int = 1
    # R6/A4 stale re-crawl: URLs last fetched > ttl rounds ago re-enter
    # the frontier at this priority; 0 disables (fetch-once crawl)
    recrawl_ttl_rounds: int = 0
    recrawl_priority: int = 2
    # R2 daily budgets (/root/reference/src/api_keys/api_key.rs:79-106):
    # at most daily_budget requests per host per rounds_per_day-round
    # window, resetting at the window boundary; 0 disables
    daily_budget: int = 0
    rounds_per_day: int = 0
    # R4 key rotation (/root/reference/src/api_keys/key_manager.rs:25-49):
    # k sub-budgets of budget_per_round each per host; the wave drains pool
    # 1, rotates on exhaustion, and tags rows with pool_id. 1 = single key
    budget_pools: int = 1
    # wave-size gate for the fetch/dead broadcasts: above this the joins
    # run as shuffle joins (at cluster scale: storage-partitioned joins on
    # the Iceberg bucket(url_canon) layout) instead of multi-GB broadcasts
    wave_broadcast_max_rows: int = 5_000_000
    # same gate for the per-host robots rules broadcast: the rules table
    # is O(hosts) and ungated would OOM executors at web scale; above this
    # rule count split_robots falls back to a shuffle join on host.
    # Decided ONCE per crawl (the rules table is crawl-constant)
    robots_broadcast_max_rows: int = 5_000_000
    # True = Bloom probes shuffle keys to their shard and read ONLY that
    # shard's bitmap from the checkpoint dir (no whole-filter broadcast —
    # mandatory once the filter outgrows executor memory at 10^10 keys);
    # False = broadcast all shards (cheaper under ~tens of MB)
    bloom_probe_via_files: bool = False
    # seen-size ACTIVATION gate for the approximate filter: below this
    # many seen keys the exact anti-join alone is strictly cheaper and
    # the filter build/probe/save is pure per-round tax (measured at the
    # bench corpus: ~9 s of a 43 s 8-core crawl — SCALING r5 bloom A/B).
    # The filter turns on (built ONCE from the full seen table — the same
    # path a scheme-mismatch rebuild uses) when the seen count crosses
    # the threshold, which is exactly when the anti-join's shuffle starts
    # to need a prefilter; a 10^10-key crawl crosses it in the first
    # rounds and runs filtered for its whole life. 0 = filter always on
    # from round 0 (pre-r5 behavior; the filter-machinery tests pin this)
    bloom_min_seen_rows: int = 2_000_000
    # checkpoint maintenance cadence: every K rounds the seen/fetch_log
    # histories are compacted into one base dir (state.compact), bounding
    # read_all's per-round file-listing cost over long crawls; 0 = never
    compact_every_rounds: int = 0

    def make_bloom(self):
        if not self.use_bloom:
            return None
        if self.seen_filter == "cuckoo":
            from data_collector_spark.operators.cuckoo import ShardedCuckoo

            return ShardedCuckoo(self.bloom_shards, self.cuckoo_buckets)
        return ShardedBloom(self.bloom_shards, self.bloom_bits, self.bloom_k)

    def load_bloom(self, dirpath: str):
        if not self.use_bloom:
            return None
        # file-backed mode keeps the driver bitmap-free: validate the
        # checkpoint's scheme meta but leave the bytes on disk
        if self.seen_filter == "cuckoo":
            from data_collector_spark.operators.cuckoo import ShardedCuckoo

            return ShardedCuckoo.load(
                dirpath, self.bloom_shards, self.cuckoo_buckets,
                load_bitmaps=not self.bloom_probe_via_files,
            )
        return ShardedBloom.load(
            dirpath, self.bloom_shards, self.bloom_bits, self.bloom_k,
            load_bitmaps=not self.bloom_probe_via_files,
        )

    def fill_bloom(self, bloom, df: DataFrame, dirpath: str) -> None:
        """Add ``df``'s keys to ``bloom`` and persist its shards under
        ``dirpath``. File-backed mode ORs each shard group straight into
        its shard file (no bitmap bytes ever reach the driver)."""
        if self.bloom_probe_via_files:
            bloom.add_df_via_files(df, dirpath)
        else:
            bloom.add_df(df)
            bloom.save(dirpath)


def init_crawl(
    spark: SparkSession, state: CrawlState, seeds: DataFrame, cfg: CrawlConfig
) -> None:
    """Round-0 state: canonicalized deduped seeds as frontier and seen."""
    # seed lists often arrive as one partition (limit/collect artifacts);
    # spread them so canonicalization parallelizes
    seeds = seeds.repartition(spark.sparkContext.defaultParallelism)
    f0 = (
        with_canonical_url(seeds, "url")
        .dropDuplicates(["url_sha1"])
        .withColumn("depth", F.lit(0))
        .withColumn("discovery_ts", F.lit(SEED_EPOCH))
        .withColumn(
            "priority",
            F.coalesce(F.col("priority"), F.lit(0)) if "priority" in seeds.columns else F.lit(0),
        )
        .withColumn("attempt", F.lit(0))
        .withColumn("not_before_round", F.lit(0))
        .select(
            "url_canon", "url_sha1", "host", "depth", "discovery_ts",
            "priority", "attempt", "not_before_round",
        )
    )
    state.write_round("frontier", 0, f0)
    obs0 = Observation()
    seen0 = (
        state.read_round(spark, "frontier", 0)
        .select("url_sha1", "url_canon")
        .observe(obs0, F.count(F.lit(1)).alias("n"))
    )
    state.write_round("seen", 0, seen0)
    n_seen0 = _n(_obs_metrics(obs0), "n")
    # below the activation gate the filter build is deferred until the
    # seen set is big enough to need a prefilter (bloom_min_seen_rows);
    # the driver loop builds it from the full seen table at the crossing
    if cfg.bloom_min_seen_rows == 0 or n_seen0 >= cfg.bloom_min_seen_rows:
        bloom = cfg.make_bloom()
        if bloom is not None:
            cfg.fill_bloom(bloom, state.read_round(spark, "seen", 0), state.bloom_dir())
    # seen-row count rides the manifest so resume never re-counts the
    # table (the activation gate reads it O(1) driver-side)
    state.commit(-1, None, extra={"initialized": True, "seen_rows": n_seen0})


def _frontier_rows_estimate(m: RoundMetrics) -> int:
    """Rows written to frontier round N+1 — exact by construction
    (the accounting identity the tests pin)."""
    return (
        m.deferred_by_politeness + m.enqueued + m.held_by_backoff
        + m.retried + m.recrawled
    )


def run_crawl(
    spark: SparkSession,
    workdir: str,
    pages: DataFrame,
    seeds: DataFrame,
    robots: DataFrame,
    budgets: DataFrame,
    cfg: CrawlConfig | None = None,
    state: CrawlState | None = None,
) -> list[RoundMetrics]:
    """Run (or resume) a crawl to max_rounds or frontier exhaustion.

    ``state`` lets a deployment inject a CrawlState carrying a catalog
    adapter (``CrawlState(workdir, io=...)`` — see state.RoundTableIO for
    the Iceberg mapping); default is the parquet round-dir scheme."""
    cfg = cfg or CrawlConfig()
    state = state if state is not None else CrawlState(workdir)
    if state.read() is None:
        init_crawl(spark, state, seeds, cfg)
    else:
        state.drop_uncommitted()
    from data_collector_spark.operators.cuckoo import CuckooSchemeMismatch

    try:
        bloom = cfg.load_bloom(state.bloom_dir())
    except (BloomSchemeMismatch, CuckooSchemeMismatch):
        # checkpoint shards were written under another hash scheme/sizing:
        # probing them would produce false negatives, so rebuild the filter
        # from the exact seen table (the source of truth) before resuming
        import shutil

        shutil.rmtree(state.bloom_dir(), ignore_errors=True)
        bloom = cfg.make_bloom()
        seen_all = state.read_all(spark, "seen")
        if bloom is not None and seen_all is not None:
            cfg.fill_bloom(bloom, seen_all, state.bloom_dir())

    # ---- once-per-crawl setup (never repeated inside the round loop) ----
    # seen-size activation gate (bloom_min_seen_rows): the running count
    # rides the manifest; a legacy checkpoint without it pays ONE count
    # job at crawl start (the host_spend bootstrap pattern), never in the
    # loop. _filter_built tracks whether shards hold content — an already
    # built filter keeps maintaining incrementally regardless of the gate.
    def _filter_has_content() -> bool:
        if bloom is None:
            return False
        if cfg.bloom_probe_via_files:
            return bloom.dir_has_shards(state.bloom_dir())
        return bool(bloom.bitmaps)

    _filter_built = _filter_has_content()
    # None = unknown (legacy checkpoint, count not needed): tracked
    # incrementally only when a trustworthy base exists, so a gate-off
    # crawl can never write a wrong count for a future gated resume
    seen_rows: int | None = (state.read() or {}).get("seen_rows")
    if seen_rows is None and (
        bloom is not None and cfg.bloom_min_seen_rows > 0 and not _filter_built
    ):
        seen_all0 = state.read_all(spark, "seen")
        seen_rows = seen_all0.count() if seen_all0 is not None else 0
    budget_spec = compile_budgets(spark, budgets, cfg.default_budget)
    # rule count drives BOTH the emptiness shortcut and the broadcast
    # gate; once per crawl, never in the round loop — and CAPPED at the
    # gate (ADVICE r5): limit(max+1).count() answers both questions
    # without materializing the whole rules plan when robots is the
    # output of parse_robots_txt over a large corpus
    n_robots_rules = robots.limit(cfg.robots_broadcast_max_rows + 1).count()
    robots_rules = robots if n_robots_rules > 0 else None
    robots_broadcast = n_robots_rules <= cfg.robots_broadcast_max_rows
    pages_partitions = pages.rdd.getNumPartitions()
    # one column-pruned scan: do multiple captures of one URL exist?
    dedup_captures = (
        pages.groupBy("url_canon").count().filter("count > 1").limit(1).count() > 0
    )

    metrics: list[RoundMetrics] = []
    start = state.last_committed_round() + 1  # type: ignore[operator]
    if cfg.daily_budget > 0 and cfg.rounds_per_day > 0 and start > 0:
        # host_spend is a running table maintained by the previous round;
        # a checkpoint that predates it (daily budgets enabled mid-crawl,
        # or a pre-r4 workdir) would resume mid-window with the window's
        # prior spend forgotten and let hosts exceed the daily budget.
        # Bootstrap ONCE from the window's fetch_log rounds — the same
        # one-time pattern last_fetch uses — never inside the steady loop.
        w0 = start - (start % cfg.rounds_per_day)
        if w0 < start and not state.has_round("host_spend", start):
            window_logs = [
                state.read_round(spark, "fetch_log", r, FETCH_LOG_SCHEMA)
                for r in range(w0, start)
                if state.has_round("fetch_log", r)
            ]
            if window_logs:
                hist = window_logs[0]
                for part in window_logs[1:]:
                    hist = hist.unionByName(part)
                state.write_round(
                    "host_spend",
                    start,
                    hist.filter(F.col("status").isin("fetched", "dead"))
                    .groupBy("host")
                    .agg(F.count("*").cast("long").alias("spent")),
                )
    first = state.read_round(spark, "frontier", start).agg(
        F.count("*").alias("n"), F.countDistinct("host").alias("hosts")
    ).collect()[0]
    frontier_rows, frontier_hosts = int(first["n"]), int(first["hosts"])

    def wave_bound() -> int:
        """Upper bound on the next wave: it can never exceed the frontier,
        nor hosts x the largest per-round budget — so a huge DEFERRED
        backlog (bounded-budget hosts) doesn't flip the broadcast gate off
        and shuffle the pages corpus. 1.25x covers approx_count_distinct
        error on the per-round host figure."""
        bmax_eff = budget_spec.bmax * max(cfg.budget_pools, 1)
        return min(frontier_rows, int(1.25 * frontier_hosts * bmax_eff) + 1)
    # structured span trace next to the checkpoint (telemetry.rs analog)
    events = EventLog(os.path.join(workdir, "events.jsonl"))
    events.emit(
        "crawl_resume" if start > 0 else "crawl_start", workdir,
        start_round=start, max_rounds=cfg.max_rounds,
        frontier_rows=frontier_rows, dedup_captures=dedup_captures,
    )
    # adaptive link-prededup: round N gates on round N-1's observed raw
    # link duplication (one driver-side float; no extra jobs); None =
    # no observation yet -> ON (the measured winning prior)
    link_dup_factor: float | None = None
    for n in range(start, cfg.max_rounds):
        # recrawl mode keeps ticking: an empty frontier refills once the
        # TTL elapses; otherwise an empty frontier means the crawl drained
        if cfg.recrawl_ttl_rounds == 0 and frontier_rows == 0:
            break
        link_prededup = (
            link_dup_factor is None or link_dup_factor >= LINK_PREDEDUP_MIN_DUP
        )
        # activation crossing: build the filter ONCE from the full seen
        # table (the scheme-rebuild path), then maintain it incrementally
        if (
            bloom is not None
            and cfg.bloom_min_seen_rows > 0
            and not _filter_built
            and (seen_rows or 0) >= cfg.bloom_min_seen_rows
        ):
            seen_all_b = state.read_all(spark, "seen")
            if seen_all_b is not None:
                cfg.fill_bloom(bloom, seen_all_b, state.bloom_dir())
            _filter_built = True
        bloom_for_round = (
            bloom if (cfg.bloom_min_seen_rows == 0 or _filter_built) else None
        )
        with events.span("round", f"round={n}", round=n):
            m = run_round(
                spark, state, pages, robots_rules, budget_spec, bloom_for_round, n,
                cfg,
                est_wave_rows=wave_bound(),
                pages_partitions=pages_partitions,
                dedup_captures=dedup_captures,
                link_prededup=link_prededup,
                robots_broadcast=robots_broadcast,
            )
            # ADVICE r4, documented limit: the denominator is the
            # POST-canonicalization unique count, so invalid links (NULL
            # canon) and raw variants collapsing to one canonical URL
            # inflate the ratio — the factor OVERESTIMATES raw-string
            # duplication and can hold the gate ON for corpora whose links
            # are dirty rather than repeated. Accepted: a raw-level
            # distinct count would need its own observation under the
            # cand_unique cache (where observes can double-fire), the
            # failure mode is one avoidable groupBy (perf-only — semantics
            # are mode-identical, test_link_prededup_modes_equivalent), and
            # the gate still turns OFF on genuinely unique webgraphs where
            # both measures agree near 1.0
            uniq_cand = m.deduped + m.enqueued
            if uniq_cand > 0:
                link_dup_factor = m.links_extracted / uniq_cand
            recrawl_hosts = 0
            if cfg.recrawl_ttl_rounds > 0:
                from data_collector_spark.operators.recrawl import (
                    LAST_FETCH_SCHEMA,
                    merge_last_fetch,
                    stale_recrawl_candidates,
                )

                # running (url, last_round) state: merge THIS round's log
                # into the previous table — one bounded rewrite, never a
                # full fetch_log-history scan inside the round loop
                prev_lf = (
                    state.read_round(spark, "last_fetch", n, LAST_FETCH_SCHEMA)
                    if state.has_round("last_fetch", n)
                    else None
                )
                if prev_lf is None and n > 0:
                    # checkpoint predates the running table (recrawl just
                    # enabled, or a pre-r3 workdir): bootstrap ONCE from
                    # the full history — never inside the steady loop
                    hist = state.read_all(spark, "fetch_log")
                    if hist is not None:
                        prev_lf = (
                            hist.filter(F.col("status") == "fetched")
                            .groupBy("url_sha1")
                            .agg(
                                F.max_by(
                                    F.struct("url_canon", "host"), "round"
                                ).alias("_u"),
                                F.max("round").cast("int").alias("last_round"),
                            )
                            .select(
                                "url_sha1",
                                F.col("_u.url_canon").alias("url_canon"),
                                F.col("_u.host").alias("host"),
                                "last_round",
                            )
                        )
                log_n = state.read_round(spark, "fetch_log", n, FETCH_LOG_SCHEMA)
                state.write_round(
                    "last_fetch", n + 1, merge_last_fetch(prev_lf, log_n, n)
                )
                fnext = state.read_round(spark, "frontier", n + 1)
                stale = stale_recrawl_candidates(
                    state.read_round(spark, "last_fetch", n + 1, LAST_FETCH_SCHEMA),
                    fnext, n, cfg.recrawl_ttl_rounds, cfg.recrawl_priority,
                )
                # materialize to a side table FIRST: appending into a
                # directory another plan is lazily reading is a
                # read-your-own-writes hazard (Spark snapshots file
                # listings at analysis time). The recrawl counters ride
                # the write as an Observation — no dedicated count job —
                # and the host figure feeds the next wave-bound so a
                # recrawl-heavy round can't slip past the broadcast gate.
                obs_re = Observation()
                state.write_round(
                    "recrawl", n + 1,
                    stale.observe(
                        obs_re,
                        F.count(F.lit(1)).alias("n"),
                        F.approx_count_distinct("host").alias("hosts"),
                    ),
                )
                rm = _obs_metrics(obs_re)
                m.recrawled = rm.get("n") or 0
                recrawl_hosts = rm.get("hosts") or 0
                if m.recrawled:
                    state.append_round(
                        "frontier", n + 1, state.read_round(spark, "recrawl", n + 1)
                    )
            if seen_rows is not None:
                seen_rows += m.enqueued
            state.commit(
                n, m,
                extra=(
                    {"seen_rows": seen_rows} if seen_rows is not None else None
                ),
            )
            # the running tables only need their current dir after commit
            state.prune_rounds("last_fetch", keep_from=n + 1)
            state.prune_rounds("host_spend", keep_from=n + 1)
            if (
                cfg.compact_every_rounds > 0
                and (n + 1) % cfg.compact_every_rounds == 0
            ):
                # seen dirs run to n+1 (written pre-commit), fetch_log to n
                state.compact(spark, "seen", n + 1)
                state.compact(spark, "fetch_log", n)
        events.emit("round_metrics", f"round={n}", **m.as_dict())
        metrics.append(m)
        frontier_rows = _frontier_rows_estimate(m)
        # recrawl rows are appended AFTER obs_frontier fires, so their hosts
        # must be folded in here (sum = upper bound; the gate only needs one)
        frontier_hosts = max(
            m.frontier_hosts_next + recrawl_hosts, 1 if frontier_rows else 0
        )
    events.emit("crawl_end", workdir, rounds_run=len(metrics))
    return metrics
