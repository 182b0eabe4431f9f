"""Politeness-budgeted priority-wave pop.

Re-expresses two reference mechanisms at once (SURVEY.md W1-W3, R1-R5):

- the frontier cursor ``WHERE symbol > $1 ORDER BY symbol LIMIT 1``
  (/root/reference/src/database/master_data_service.rs:77-90) which pops
  one key at a time, and
- the API-key budget manager (5 req/min, /root/reference/src/api_keys/
  api_key.rs:231-238) which *sleeps* when a budget is exhausted
  (key_manager.rs:52-90).

Executors never sleep: each round pops a whole *wave* — per host, the top
``budget_per_round`` frontier URLs by (priority, depth, discovery_ts,
url_sha1) — and everything over budget is deferred to the next round
(counter: deferred_by_politeness, the reference's give-up branch at
key_manager.rs:74-83).

Skew handling (north_rule; the reference never needed it): a hot host may
hold most of the frontier, and a per-host window sorts the whole host in
one task. So stage 1 salts the window — top-Bmax per (host, salt) — which
bounds any window partition to ~|host|/S rows; stage 2 ranks the <= S*Bmax
survivors per host exactly. Both stages are JVM window ops (no UDF).

The deferred set is NOT recovered with a join: it is exactly the rows the
two window stages trimmed (``_rn1 > bmax`` at stage 1, ``seq > budget`` at
stage 2), so both branches re-derive from the same window plans — no
broadcast, no shuffle beyond the windows themselves, safe at any wave size.

Daily budgets (R2, /root/reference/src/api_keys/api_key.rs:79-106,160-168:
250 req/day with a reset boundary) ride the same plan: an optional
``host_caps`` table (host, remaining) — requests already spent in the
current budget window — tightens the per-round budget to
``min(budget_per_round, remaining)``.
"""

from __future__ import annotations

from dataclasses import dataclass

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

ORDER_COLS = ("priority", "depth", "discovery_ts", "url_sha1")


@dataclass(frozen=True)
class BudgetSpec:
    """Compiled per-host budgets — built ONCE per crawl, not per round.

    The reference re-reads its key budgets per request (api_key.rs:160-168);
    a driver-side collect per round would serialize every round on a tiny
    job, so the (small, static) budget table is compiled to a broadcastable
    DataFrame + scalar bounds up front.
    """

    bdf: DataFrame | None  # (host, budget_per_round), default row removed
    default_budget: int
    bmax: int


MAX_BUDGET_ROWS = 1_000_000


def compile_budgets(
    spark: SparkSession, budgets: DataFrame, default_budget: int = 2
) -> BudgetSpec:
    """budgets: (host, budget_per_round); row with host='' sets the default
    (mirrors the per-provider budgets of /root/reference/src/api_keys/
    api_key.rs:164-166,234-236).

    The table is collected driver-side ONCE per crawl — sound for the
    reference-shaped config (a handful of provider budgets), and r7 makes
    the assumption enforced rather than documented (VERDICT r6 #6): a
    caller passing per-host overrides for more than MAX_BUDGET_ROWS hosts
    fails fast instead of silently materializing them on the driver (the
    fix at that scale is a join table, the ``host_caps`` shape).

    One Spark job reads the table (``toArrow`` of the capped limit; a
    ``collect`` would scan one partition first and the rest in a second
    job). The per-host overrides come back as an Arrow-built local
    relation, so the rounds' politeness joins never re-scan the caller's
    table — which may be a Python RDD (``createDataFrame(list)``)."""
    table = (
        budgets.select("host", "budget_per_round")
        .limit(MAX_BUDGET_ROWS + 1)
        .toArrow()
    )
    if table.num_rows > MAX_BUDGET_ROWS:
        raise ValueError(
            f"compile_budgets: budgets table exceeds {MAX_BUDGET_ROWS} rows; "
            "per-host overrides at this scale must stay distributed (use a "
            "host_caps-style join table instead of a driver-compiled budget)"
        )
    bmap = {r["host"]: int(r["budget_per_round"]) for r in table.to_pylist()}
    default_budget = bmap.pop("", default_budget)
    bmax = max([default_budget, *bmap.values()]) if bmap else default_budget
    bdf = None
    if bmap:
        bdf = spark.createDataFrame(
            pa.table({
                "host": pa.array(list(bmap), pa.string()),
                "budget_per_round": pa.array(list(bmap.values()), pa.int32()),
            })
        )
    return BudgetSpec(bdf=bdf, default_budget=default_budget, bmax=bmax)


def pop_wave_spec(
    frontier: DataFrame,
    spec: BudgetSpec,
    skew_salt: int = 16,
    host_caps: DataFrame | None = None,
    default_remaining: int = 0,
    daily_cap: int = 0,
    pools: int = 1,
    stage_cache: list | None = None,
) -> tuple[DataFrame, DataFrame]:
    """-> (wave with seq_in_host, deferred). Deterministic given the inputs.

    host_caps: optional (host, remaining) — per-host requests left in the
    current daily window; effective budget = min(per_round, remaining).
    Hosts absent from host_caps have spent nothing, so they get
    ``default_remaining`` (the full daily allowance).

    daily_cap: when the daily policy is on (> 0), the effective budget is
    additionally clamped to the daily allowance even when ``host_caps`` is
    None — the first round of a window has no spend table yet, and a
    per-round budget larger than the daily one must not leak through.

    pools: R4 key rotation (/root/reference/src/api_keys/key_manager.rs:
    25-49 — several API keys per provider, exchanged on exhaustion). Each
    host gets ``pools`` sub-budgets of ``budget_per_round`` each; the wave
    drains pool 1 first, rotates to pool 2 on exhaustion, and so on — so
    the effective per-round budget is pools x per_round and every wave row
    carries ``pool_id`` (which key served it). pools=1 leaves the plan and
    output schema untouched.

    stage_cache: pass a list to persist() the salted-window stage — both
    returned DataFrames branch from it, and without the cache the heavy
    w1 sort over the FULL frontier runs once for the wave (fetch join)
    and again for deferred (frontier write). The persisted DataFrame is
    appended to the list; the CALLER unpersists after both branches have
    materialized. None keeps the stateless plan (per-call usage, tests).
    """
    f = frontier
    if spec.bdf is not None:
        f = f.join(F.broadcast(spec.bdf), "host", "left").withColumn(
            "_budget", F.coalesce("budget_per_round", F.lit(spec.default_budget))
        ).drop("budget_per_round")
    else:
        f = f.withColumn("_budget", F.lit(spec.default_budget))
    if pools > 1:
        f = f.withColumn("_pool_budget", F.col("_budget")).withColumn(
            "_budget", F.col("_budget") * pools
        )
    if daily_cap > 0:
        f = f.withColumn("_budget", F.least("_budget", F.lit(daily_cap)))
    if host_caps is not None:
        f = f.join(F.broadcast(host_caps), "host", "left").withColumn(
            "_budget",
            F.least(
                "_budget",
                F.greatest(F.coalesce("remaining", F.lit(default_remaining)), F.lit(0)),
            ),
        ).drop("remaining")

    order = [F.col(c).asc() for c in ORDER_COLS]
    out_cols = list(frontier.columns)
    bmax_eff = spec.bmax * max(pools, 1)

    # stage 1: salted pre-trim bounds window-partition size under skew
    salted = f.withColumn("_salt", F.pmod(F.xxhash64("url_sha1"), F.lit(skew_salt)))
    w1 = Window.partitionBy("host", "_salt").orderBy(*order)
    staged1 = salted.withColumn("_rn1", F.row_number().over(w1))
    if stage_cache is not None:
        staged1 = staged1.persist()
        stage_cache.append(staged1)
    cand = staged1.filter(F.col("_rn1") <= bmax_eff).drop("_rn1", "_salt")
    trimmed1 = staged1.filter(F.col("_rn1") > bmax_eff)

    # stage 2: exact per-host rank over the bounded candidate set
    w2 = Window.partitionBy("host").orderBy(*order)
    ranked = cand.withColumn("seq_in_host", F.row_number().over(w2))
    wave = ranked.filter(F.col("seq_in_host") <= F.col("_budget")).drop("_budget")
    trimmed2 = ranked.filter(F.col("seq_in_host") > F.col("_budget"))
    if pools > 1:
        # key rotation: requests 1..b served by pool 1, b+1..2b by pool 2…
        wave = wave.withColumn(
            "pool_id",
            (1 + F.floor((F.col("seq_in_host") - 1) / F.col("_pool_budget")))
            .cast("int"),
        ).drop("_pool_budget")
        trimmed2 = trimmed2.drop("_pool_budget")

    deferred = trimmed1.select(*out_cols).unionByName(trimmed2.select(*out_cols))
    return wave, deferred


def pop_wave(
    frontier: DataFrame,
    budgets: DataFrame,
    default_budget: int = 2,
    skew_salt: int = 16,
) -> tuple[DataFrame, DataFrame]:
    """One-shot convenience wrapper: compile the budget table and pop."""
    spec = compile_budgets(frontier.sparkSession, budgets, default_budget)
    return pop_wave_spec(frontier, spec, skew_salt)
