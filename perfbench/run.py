#!/usr/bin/env python3
"""Crawl benchmark: drives ``run_crawl`` end to end and checks every output.

Run from the repository root:

    python3 perfbench/run.py --workload crawl_wide --seed 42 --seconds 10 --trace 0

One process per run. It starts a ``local[nproc]`` session, generates the
workload's inputs from ``--seed``, runs untimed warm-up crawls of the
workload's own shape (the first crawl in a JVM runs far slower), then
runs whole crawls for ``--seconds`` seconds. Each crawl is one operation;
its checkpoint is checked after the timed window and a crawl that raises
or fails a check counts as failed. The last stdout line is one JSON
object: ``{"correct", "attempted", "failed", "metrics"}``, with the
end-to-end metrics under ``--trace 0`` and the per-layer metrics under
``--trace 1``. ``--smoke`` shrinks every workload for a fast self-test.

Everything the run writes lives under ``.perfbench_work/`` (deleted at
exit) and, for traced runs, ``.perfbench_trace/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time
import traceback
from contextlib import nullcontext

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
HERE = os.path.join(ROOT, "perfbench")
sys.path[:0] = [ROOT, HERE]

CORES = len(os.sched_getaffinity(0))  # what nproc reports
DRIVER_MEMORY = "2g"
# the engine's own JVM (default JIT and collector) with the heap pinned:
# the whole 2g heap is committed and touched at start, so neither heap
# resizing nor where the collector happens to touch new regions shows in
# the timed crawls or the memory peak; no perf-data file is written
# outside the checkout
JAVA_OPTIONS = "-Xms2g -XX:+AlwaysPreTouch -XX:-UsePerfData"
# the first crawl in a JVM runs about 2x slower than the timed one and
# the second about 1.1x, so two same-shape crawls run before timing; the
# JIT settles only from the fifth crawl on, which a run cannot afford
# (README.md, Warm-up), so every run times the same point of that curve
WARMUP_CRAWLS = 2
# an untraced run times at least one crawl; a traced run at least three
# (untraced, traced, untraced), for the tracing overhead
MIN_TIMED = {0: 1, 1: 3}
E2E_UNITS = {
    "setup_s": "s",
    "pages_per_s": "pages/s",
    "cpu_ms_per_page": "ms",
    "checkpoint_bytes_per_page": "B",
    "peak_rss_mb": "MB",
}


def _process_age_s() -> float:
    """Seconds since this process started, from /proc."""
    from procstat import read_stats

    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - read_stats()[os.getpid()][1] / os.sysconf("SC_CLK_TCK")


T_START = time.monotonic() - _process_age_s()


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def parse_args(argv=None):
    from workloads import SHAPES

    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(SHAPES))
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--seconds", type=float, default=18)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="tiny inputs, for self-tests")
    return ap.parse_args(argv)


def start_session(work: str, trace: bool):
    from data_collector_spark.session import get_spark

    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}/tmp {JAVA_OPTIONS}",
        "spark.sql.warehouse.dir": f"{work}/warehouse",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        os.makedirs(f"{work}/eventlog")
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{work}/eventlog",
            "spark.eventLog.compress": "false",
        })
    return get_spark("perfbench", cores=CORES, extra_conf=conf)


def stop_session(spark) -> None:
    """Stop Spark, end the JVM and wait for every process this run started."""
    from pyspark import SparkContext

    from procstat import read_stats, tree_pids

    gateway = SparkContext._gateway
    try:
        spark.stop()
    except Exception as e:  # noqa: BLE001 — the JVM may already be dead
        log(f"spark.stop() failed: {e!r}")
    finally:
        proc = getattr(gateway, "proc", None)
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits at EOF on stdin
            try:
                proc.wait(timeout=30)
            except Exception:  # noqa: BLE001 — any failure here: kill it
                proc.kill()
                proc.wait()
    deadline = time.monotonic() + 15
    while True:
        left = [p for p in tree_pids(os.getpid(), read_stats()) if p != os.getpid()]
        if not left:
            return
        if time.monotonic() > deadline:
            for p in left:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + 15
        time.sleep(0.2)
        try:
            while os.waitpid(-1, os.WNOHANG)[0] > 0:
                pass
        except ChildProcessError:
            pass


def main(argv=None) -> int:
    args = parse_args(argv)
    # import the engine first: without it there is nothing to measure
    import data_collector_spark.crawler  # noqa: F401

    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    work = os.path.join(ROOT, ".perfbench_work", run_id)
    os.makedirs(f"{work}/tmp")
    try:
        result = run(args, run_id, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run's work dir is still there
    print(json.dumps(result))
    return 0


def run(args, run_id: str, work: str) -> dict:
    from data_collector_spark.crawler import run_crawl
    import spans as tr
    import workloads as wl
    from procstat import TreeSampler

    shape = (wl.SMOKE_SHAPES if args.smoke else wl.SHAPES)[args.workload]
    cfg = wl.config(shape)
    os.environ["TMPDIR"] = f"{work}/tmp"
    os.environ["DCS_SPARK_LOCAL_DIR"] = f"{work}/spark_local"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    log(
        f"settings: local[{CORES}] driver_memory={DRIVER_MEMORY} java={JAVA_OPTIONS!r} "
        f"shape={shape} seed={args.seed} seconds={args.seconds} trace={args.trace}"
    )

    sampler = TreeSampler()
    tracer = tr.Tracer(run_id)
    hooks = tr.EngineHooks(tracer)
    spark = None
    try:
        with sampler:
            t0 = time.monotonic()
            spark = start_session(work, bool(args.trace))
            t_session = time.monotonic() - t0
            t0 = time.monotonic()
            inputs = wl.build_inputs(spark, shape, args.seed, work)
            t_inputs = time.monotonic() - t0
            log(f"session {t_session:.2f} s, inputs {t_inputs:.2f} s")

            def crawl(tag: str, traced: bool):
                wd = os.path.join(work, f"crawl-{tag}")
                state = tr.TracingState(wd, tracer, tag) if traced else None
                span = tracer.span("driver.run_crawl", tag=tag) if traced else nullcontext()
                if traced:
                    hooks.install()
                try:
                    cpu0, t0 = sampler.cpu_s(), time.monotonic()
                    with span:
                        metrics = run_crawl(
                            spark, wd, inputs.pages, inputs.seeds, inputs.robots,
                            inputs.budgets, cfg, state=state,
                        )
                    wall, cpu = time.monotonic() - t0, sampler.cpu_s() - cpu0
                finally:
                    hooks.remove()
                return {"tag": tag, "wd": wd, "traced": traced, "metrics": metrics,
                        "wall": wall, "cpu": cpu}

            warm, ops, attempted, failed, aborted = [], [], 0, 0, False
            try:
                for i in range(WARMUP_CRAWLS):
                    warm.append(crawl(f"warm{i}", False))
                    log(f"warm-up crawl {i}: {warm[-1]['wall']:.2f} s")
            except Exception:  # noqa: BLE001 — reported as a failed operation
                log(f"warm-up crawl failed:\n{traceback.format_exc()}")
                attempted, failed, aborted = 1, 1, True
            setup_s = time.monotonic() - T_START

            # timed window: a new crawl starts only if it is expected to end
            # inside --seconds (at least MIN_TIMED crawls run). A traced run
            # alternates untraced and traced crawls, starting and ending
            # untraced, so each traced crawl is compared with the mean of
            # its two untraced neighbours and a linear trend cancels out.
            t_window = time.monotonic()

            def another_crawl() -> bool:
                if aborted:
                    return False
                if attempted < MIN_TIMED[args.trace] or (args.trace and attempted % 2 == 0):
                    return True
                return bool(ops) and (
                    time.monotonic() - t_window + ops[-1]["wall"] <= args.seconds
                )

            while another_crawl():
                traced = bool(args.trace) and attempted % 2 == 1
                attempted += 1
                try:
                    ops.append(crawl(f"t{attempted}", traced))
                    log(f"timed crawl {attempted}{' (traced)' if traced else ''}: "
                        f"{ops[-1]['wall']:.2f} s")
                except Exception:  # noqa: BLE001 — a failed crawl is a failed operation
                    failed += 1
                    log(f"timed crawl {attempted} failed:\n{traceback.format_exc()}")
                    proc = getattr(spark.sparkContext._gateway, "proc", None)
                    if proc is not None and proc.poll() is not None:
                        aborted = True  # the JVM is gone, e.g. killed for memory
                        log("the JVM exited; ending the run")

            layer = {}
            if args.trace and not aborted and any(o["traced"] for o in ops):
                last_traced = [o for o in ops if o["traced"]][-1]
                layer.update(tr.operator_pass(
                    spark, last_traced["wd"], inputs, cfg, os.path.join(work, "oppass")
                ))

            # output checks, outside the timed window
            t_checks = time.monotonic()
            good = []
            all_totals = [wl.totals(c["metrics"]) for c in warm + ops]
            try:
                problems = wl.check_crawls(
                    spark, {o["tag"]: (o["wd"], o["metrics"]) for o in ops},
                    inputs.pages, shape,
                ) if ops else {}
            except Exception as e:  # noqa: BLE001 — checks that cannot run fail
                problems = {o["tag"]: [f"checks raised {e!r}"] for o in ops}
            for o in ops:
                if problems[o["tag"]]:
                    failed += 1
                    log(f"crawl {o['tag']} failed its checks: {problems[o['tag']]}")
                else:
                    o["bytes"] = wl.dir_bytes(o["wd"])
                    o["table_bytes"] = {
                        t: wl.dir_bytes(os.path.join(o["wd"], t)) for t in tr.WRITE_TABLES
                    }
                    good.append(o)
            counter_problems = wl.check_counters(args.workload, args.seed, args.smoke, all_totals)
            if counter_problems:
                log(f"counter checks failed: {counter_problems}")
                failed, good = attempted, []
            log(f"totals per crawl: {all_totals[0] if all_totals else None}; "
                f"checks took {time.monotonic() - t_checks:.2f} s")
    finally:
        if spark is not None:
            t_stop = time.monotonic()
            stop_session(spark)
            log(f"stopping took {time.monotonic() - t_stop:.2f} s")
        if args.trace:
            os.makedirs(os.path.join(ROOT, ".perfbench_trace"), exist_ok=True)
            tracer.dump(os.path.join(ROOT, ".perfbench_trace", f"{run_id}.jsonl"))

    def per_page(o, value):
        return value / sum(m.fetched for m in o["metrics"])

    plain = [o for o in good if not o["traced"]]
    walls = [o["wall"] for o in plain]
    log(f"warm-up walls {[round(w['wall'], 2) for w in warm]}, timed walls "
        f"{[(round(o['wall'], 2), o['traced']) for o in ops]}")
    if args.trace == 0:
        values = {
            "setup_s": setup_s,
            "pages_per_s": tr.median(1 / per_page(o, o["wall"]) for o in plain),
            "cpu_ms_per_page": tr.median(per_page(o, 1000 * o["cpu"]) for o in plain),
            "checkpoint_bytes_per_page": tr.median(per_page(o, o["bytes"]) for o in plain),
            "peak_rss_mb": sampler.peak_mem_bytes / 1e6,
        }
        units = E2E_UNITS
    else:
        values = dict(layer)
        values.update(tr.span_metrics(tracer, tracer.named("driver.run_crawl")))
        rounds = [m for o in good for m in o["metrics"]]
        values["politeness.deferred_rows"] = tr.median(
            sum(m.deferred_by_politeness for m in o["metrics"]) for o in good
        )
        values["politeness.top_host_share"] = tr.median(
            max(m.per_partition.values()) / m.fetched for m in rounds if m.fetched
        )
        values["robots.blocked_rows"] = tr.median(
            sum(m.robots_blocked for m in o["metrics"]) for o in good
        )
        for t in tr.WRITE_TABLES:
            values[f"state.bytes.{t}"] = tr.median(o["table_bytes"][t] for o in good)
        folded = tr.fold_event_log(os.path.join(work, "eventlog"))
        for t in tr.SPARK_TABLES:
            for k in tr.SPARK_FIELDS:
                values[f"spark.{t}.{k}"] = folded.get(t, {}).get(k, 0.0)
        values["session.start_s"] = t_session
        values["sources.synth_pages_s"] = t_inputs
        values["trace.overhead_frac"] = tr.median(
            b["wall"] / ((a["wall"] + c["wall"]) / 2) - 1
            for a, b, c in zip(ops, ops[1:], ops[2:])
            if b["traced"] and not a["traced"] and not c["traced"]
        )
        values["warmup.first_timed_ratio"] = walls[0] / tr.median(walls) if walls else 0.0
        values["warmup.warmup_ratio"] = warm[0]["wall"] / tr.median(walls) if walls and warm else 0.0
        units = tr.LAYER_UNITS
    return {
        "correct": failed == 0 and bool(ops),
        "attempted": max(attempted, 1),
        "failed": failed,
        "metrics": {k: {"value": values.get(k, 0.0), "unit": u} for k, u in units.items()},
    }


if __name__ == "__main__":
    sys.exit(main())
