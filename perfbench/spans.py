"""Outside-in layer spans for the traced benchmark run.

Spans are recorded from the benchmark's own files, around calls into the
engine's public functions; the engine itself is not changed:

- ``driver.init_crawl`` and ``driver.run_round`` are wrapped at the
  driver module's references, which ``run_crawl`` looks up per call;
- every table write goes through the documented ``CrawlState(workdir,
  io=...)`` seam (``RoundTableIO``), so each write is one span and one
  Spark job description the event-log fold can attribute;
- ``ShardedBloom.add_df`` and ``.save`` are wrapped on the class.

Spark operators return lazy plans, so a span around one only times plan
building. Their cost comes from ``operator_pass``: each operator is
forced alone to a ``noop`` sink on frozen inputs taken from the
workload's own checkpoint, and its self time is forced(op(input)) minus
forced(input).
"""

from __future__ import annotations

import functools
import json
import os
import statistics
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass

from pyspark.sql import functions as F

import data_collector_spark.crawler.driver as driver_mod
from data_collector_spark.crawler import CrawlState
from data_collector_spark.crawler.state import FRONTIER_SCHEMA, RoundTableIO
from data_collector_spark.functions.extract import with_extracted
from data_collector_spark.functions.urls import with_canonical_url
from data_collector_spark.operators.bloom import ShardedBloom
from data_collector_spark.operators.politeness import compile_budgets, pop_wave_spec
from data_collector_spark.operators.robots import split_robots
from data_collector_spark.operators.seen import dedup_against_seen

WRITE_TABLES = ("pages_out", "frontier", "fetch_log", "seen")
SPARK_TABLES = ("pages_out", "frontier")
SPARK_FIELDS = ("executor_run_s", "shuffle_write_mb", "spill_mb", "task_skew")
JOB_PREFIX = "perfbench"

# every per-layer metric the traced run prints, with its unit
LAYER_UNITS = {
    "session.start_s": "s",
    "sources.synth_pages_s": "s",
    "driver.init_crawl_s": "s",
    "driver.preamble_s": "s",
    "driver.rounds": "count",
    "round.run_round_s": "s",
    "round.run_round_max_s": "s",
    "round.self_s": "s",
    **{f"state.write_s.{t}": "s" for t in WRITE_TABLES},
    **{f"state.bytes.{t}": "B" for t in WRITE_TABLES},
    "state.read_all_s.seen": "s",
    "state.commit_s": "s",
    "bloom.engine_calls": "count",
    "bloom.build_s": "s",
    "bloom.save_s": "s",
    "bloom.probe_s": "s",
    "bloom.suspect_frac": "ratio",
    "bloom.fp_rate": "ratio",
    "politeness.pop_wave_s": "s",
    "politeness.deferred_rows": "count",
    "politeness.top_host_share": "ratio",
    "robots.split_s": "s",
    "robots.blocked_rows": "count",
    "extract.s": "s",
    "extract.links_per_page": "ratio",
    "urls.canonicalize_s": "s",
    "urls.link_dup_factor": "ratio",
    "seen.dedup_s": "s",
    "seen.dedup_ratio": "ratio",
    **{
        f"spark.{t}.{k}": {"executor_run_s": "s", "task_skew": "ratio"}.get(k, "MB")
        for t in SPARK_TABLES for k in SPARK_FIELDS
    },
    "trace.overhead_frac": "ratio",
    "warmup.first_timed_ratio": "ratio",
    "warmup.warmup_ratio": "ratio",
}


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    run_id: str
    attrs: dict


class Tracer:
    """In-memory spans; parents follow the calling thread's open spans,
    and a pool thread with none open hangs off the main thread's
    innermost span (the round whose writes it runs)."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[Span] = []
        self._local = threading.local()
        self._main_stack: list[int] = []
        self._lock = threading.Lock()
        self._next = 0

    def _stack(self) -> list[int]:
        if threading.current_thread() is threading.main_thread():
            return self._main_stack
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, **attrs):
        stack = self._stack()
        with self._lock:
            span_id = self._next
            self._next += 1
        parent = stack[-1] if stack else (
            self._main_stack[-1] if self._main_stack else None
        )
        stack.append(span_id)
        start = time.monotonic()
        try:
            yield
        finally:
            end = time.monotonic()
            stack.pop()
            with self._lock:
                self.spans.append(
                    Span(span_id, name, start, end, parent, self.run_id, attrs)
                )

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s.start):
                f.write(json.dumps(s.__dict__) + "\n")


class TracingIO(RoundTableIO):
    """The parquet round-dir scheme, with one span and one job
    description per table write."""

    def __init__(self, state, tracer: Tracer, tag: str):
        super().__init__(state)
        self.tracer = tracer
        self.tag = tag

    def _traced(self, write, table, round_n, df):
        sc = df.sparkSession.sparkContext
        sc.setJobDescription(f"{JOB_PREFIX}:{table}:{self.tag}:{round_n}")
        try:
            with self.tracer.span(f"state.write.{table}", round=round_n):
                write(table, round_n, df)
        finally:
            sc.setJobDescription(None)

    def write_round(self, table, round_n, df):
        self._traced(super().write_round, table, round_n, df)

    def append_round(self, table, round_n, df):
        self._traced(super().append_round, table, round_n, df)


class TracingState(CrawlState):
    def __init__(self, workdir: str, tracer: Tracer, tag: str):
        super().__init__(workdir)
        self.io = TracingIO(self, tracer, tag)
        self.tracer = tracer

    def read_all(self, spark, table):
        with self.tracer.span(f"state.read_all.{table}"):
            return super().read_all(spark, table)

    def commit(self, *args, **kwargs):
        with self.tracer.span("state.commit"):
            return super().commit(*args, **kwargs)


class EngineHooks:
    """Install/remove the wrappers on the engine's module references."""

    def __init__(self, tracer: Tracer):
        self.tracer = tracer
        self._saved = []

    def install(self) -> None:
        targets = [
            (driver_mod, "init_crawl", "driver.init_crawl"),
            (driver_mod, "run_round", "round.run_round"),
            (ShardedBloom, "add_df", "bloom.add_df"),
            (ShardedBloom, "save", "bloom.save"),
        ]
        for owner, attr, name in targets:
            orig = getattr(owner, attr)
            self._saved.append((owner, attr, orig))
            setattr(owner, attr, self.tracer.wrap(name, orig))

    def remove(self) -> None:
        while self._saved:
            owner, attr, orig = self._saved.pop()
            setattr(owner, attr, orig)


def _union_len(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of possibly overlapping intervals."""
    total, reach = 0.0, float("-inf")
    for start, end in sorted(intervals):
        if end > reach:
            total += end - max(start, reach)
            reach = end
    return total


def median(xs) -> float:
    """Median of an iterable, 0.0 when it is empty."""
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def span_metrics(tracer: Tracer, crawl_spans: list[Span]) -> dict[str, float]:
    """Per-layer times from the spans of the traced crawls.

    ``run_round``'s self time subtracts the UNION of its writes'
    intervals, not their sum: the writes run concurrently in the pool."""
    out: dict[str, float] = {}
    inits = tracer.named("driver.init_crawl")
    rounds = tracer.named("round.run_round")
    out["driver.init_crawl_s"] = median(s.end - s.start for s in inits)
    preambles, n_rounds = [], []
    for c in crawl_spans:
        inner = [r for r in rounds if c.start <= r.start <= c.end]
        init = [s for s in inits if c.start <= s.start <= c.end]
        n_rounds.append(len(inner))
        if inner:
            first = min(r.start for r in inner)
            preambles.append(first - c.start - sum(s.end - s.start for s in init))
    out["driver.preamble_s"] = median(preambles)
    out["driver.rounds"] = median(n_rounds)
    walls = [r.end - r.start for r in rounds]
    out["round.run_round_s"] = median(walls)
    out["round.run_round_max_s"] = max(walls, default=0.0)
    # init_crawl's own frontier/seen writes are not round writes
    writes = [
        s for s in tracer.spans
        if s.name.startswith("state.write.")
        and not any(i.start <= s.start <= i.end for i in inits)
    ]
    selfs = []
    for r in rounds:
        inner = [(w.start, w.end) for w in writes if r.start <= w.start <= r.end]
        selfs.append((r.end - r.start) - _union_len(inner))
    out["round.self_s"] = median(selfs)
    for t in WRITE_TABLES:
        out[f"state.write_s.{t}"] = median(
            s.end - s.start for s in writes if s.name == f"state.write.{t}"
        )
    out["state.read_all_s.seen"] = median(
        s.end - s.start for s in tracer.named("state.read_all.seen")
    )
    out["state.commit_s"] = median(s.end - s.start for s in tracer.named("state.commit"))
    out["bloom.engine_calls"] = float(
        len(tracer.named("bloom.add_df")) + len(tracer.named("bloom.save"))
    )
    return out


def _force(df) -> float:
    t0 = time.monotonic()
    df.write.format("noop").mode("overwrite").save()
    return time.monotonic() - t0


def _freeze(spark, df, path: str):
    df.write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)


def _self_time(op_df, input_df) -> float:
    """forced(op(input)) - forced(input), the input forced first so its
    scan is as warm as the operator's."""
    base = _force(input_df)
    return max(_force(op_df) - base, 0.0)


def operator_pass(spark, workdir: str, inputs, cfg, scratch: str) -> dict[str, float]:
    """Force each lazy crawl operator alone on frozen inputs taken from
    the last round of one finished crawl's checkpoint."""
    state = CrawlState(workdir)
    last = state.last_committed_round()
    out: dict[str, float] = {}
    spark.sparkContext.setJobDescription(f"{JOB_PREFIX}:operator_pass")
    try:
        frontier = _freeze(
            spark,
            state.read_round(spark, "frontier", last, FRONTIER_SCHEMA)
            .filter(F.col("not_before_round") <= last),
            os.path.join(scratch, "frontier"),
        )
        allowed, _ = split_robots(frontier, inputs.robots)
        out["robots.split_s"] = _self_time(allowed, frontier)

        allowed_f = _freeze(spark, allowed, os.path.join(scratch, "allowed"))
        spec = compile_budgets(spark, inputs.budgets, cfg.default_budget)
        cache: list = []
        wave, deferred = pop_wave_spec(allowed_f, spec, cfg.skew_salt, stage_cache=cache)
        base = _force(allowed_f)
        out["politeness.pop_wave_s"] = max(_force(wave) + _force(deferred) - base, 0.0)
        for df in cache:
            df.unpersist()

        fetched = state.read_round(spark, "pages_out", last)
        hits = _freeze(
            spark,
            inputs.pages.select("url_canon", "warc_ts", "html").join(
                fetched.select("url_canon", "url_sha1", "host", "depth", "seq_in_host"),
                "url_canon",
            ),
            os.path.join(scratch, "hits"),
        )
        out["extract.s"] = _self_time(with_extracted(hits), hits)
        n_pages = fetched.count()

        links = _freeze(
            spark,
            fetched.select(F.col("depth").alias("parent_depth"), F.explode("links").alias("url")),
            os.path.join(scratch, "links"),
        )
        out["urls.canonicalize_s"] = _self_time(with_canonical_url(links, "url"), links)
        n_links = links.count()
        out["extract.links_per_page"] = n_links / n_pages if n_pages else 0.0

        cand = _freeze(
            spark,
            with_canonical_url(links, "url").groupBy("url_sha1").agg(F.min("url_canon").alias("url_canon")),
            os.path.join(scratch, "cand"),
        )
        n_cand = cand.count()
        out["urls.link_dup_factor"] = n_links / n_cand if n_cand else 0.0
        seen = _freeze(
            spark,
            state.read_all(spark, "seen").filter(F.col("round") <= last).select("url_sha1", "url_canon"),
            os.path.join(scratch, "seen"),
        )
        survivors = dedup_against_seen(spark, cand, seen.select("url_sha1"))
        out["seen.dedup_s"] = _self_time(survivors, cand)
        n_new = survivors.count()
        out["seen.dedup_ratio"] = (n_cand - n_new) / n_cand if n_cand else 0.0

        # the default filter, built over this checkpoint's seen table: what
        # the engine's filter would cost and screen here, measured even
        # where the seen set is below the activation gate
        bloom = cfg.make_bloom()
        t0 = time.monotonic()
        bloom.add_df(seen)
        out["bloom.build_s"] = time.monotonic() - t0
        t0 = time.monotonic()
        bloom.save(os.path.join(scratch, "bloom"))
        out["bloom.save_s"] = time.monotonic() - t0
        flagged = bloom.with_maybe_seen(spark, cand)
        out["bloom.probe_s"] = _self_time(flagged, cand)
        suspects = flagged.filter("maybe_seen").drop("maybe_seen")
        n_suspects = suspects.count()
        n_fp = suspects.join(seen.select("url_sha1"), "url_sha1", "left_anti").count()
        out["bloom.suspect_frac"] = n_suspects / n_cand if n_cand else 0.0
        out["bloom.fp_rate"] = n_fp / n_suspects if n_suspects else 0.0
    finally:
        spark.sparkContext.setJobDescription(None)
    return out


def fold_event_log(log_dir: str) -> dict[str, dict[str, float]]:
    """Per table, Spark's own task metrics of each traced write, as the
    median over the writes: executor run time, shuffle bytes written,
    spilled bytes and task skew (max over median task run time)."""
    stage_desc: dict[int, str] = {}
    tasks: dict[str, list[dict]] = {}
    # Spark 4 writes a directory per application: events_<n>_<app> files
    # in order, next to an empty appstatus marker
    paths = [
        os.path.join(d, f) for d, _, fs in os.walk(log_dir) for f in fs
        if f.startswith("events_")
    ]
    for path in sorted(paths, key=lambda p: int(os.path.basename(p).split("_")[1])):
        with open(path) as f:
            for line in f:
                try:
                    ev = json.loads(line)
                except json.JSONDecodeError:
                    continue  # a log cut short by a dying JVM
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    desc = (ev.get("Properties") or {}).get("spark.job.description") or ""
                    if desc.startswith(JOB_PREFIX + ":") and desc.count(":") == 3:
                        for sid in ev.get("Stage IDs", []):
                            stage_desc[sid] = desc
                elif kind == "SparkListenerTaskEnd":
                    desc = stage_desc.get(ev.get("Stage ID"))
                    tm = ev.get("Task Metrics")
                    if desc and tm:
                        tasks.setdefault(desc, []).append(tm)
    per_table: dict[str, list[dict]] = {}
    for desc, tms in tasks.items():
        _, table, _, round_n = desc.split(":")
        if table in ("frontier", "seen") and round_n == "0":
            continue  # written by init_crawl, not by a round
        runs = [t.get("Executor Run Time", 0) / 1000 for t in tms]
        med = statistics.median(runs)
        per_table.setdefault(table, []).append({
            "executor_run_s": sum(runs),
            "shuffle_write_mb": sum(
                (t.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                for t in tms
            ) / 1e6,
            "spill_mb": sum(
                t.get("Memory Bytes Spilled", 0) + t.get("Disk Bytes Spilled", 0)
                for t in tms
            ) / 1e6,
            "task_skew": max(runs) / med if med > 0 else 1.0,
        })
    return {
        table: {k: median(w[k] for w in writes) for k in writes[0]}
        for table, writes in per_table.items()
    }
