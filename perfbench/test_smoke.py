"""Self-tests of the benchmark (not part of the engine's suite).

    python3 -m pytest perfbench/test_smoke.py -q

Every workload runs in ``--smoke`` mode, untraced and traced, and must
print a correct result line carrying exactly the metrics BENCHMARK.json
names. A copy holding only BENCHMARK.json and the benchmark must fail.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    BENCH = json.load(f)


def _run(cwd: str, workload: str, trace: int, seed: int = 3):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", "1", "--trace", str(trace), "--smoke"],
        cwd=cwd, capture_output=True, text=True, timeout=300,
    )


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in BENCH["workloads"]])
def test_smoke_result_line(workload, trace):
    p = _run(ROOT, workload, trace)
    assert p.returncode == 0, p.stderr[-3000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0, p.stderr[-3000:]
    assert result["attempted"] >= (3 if trace else 1)
    want = BENCH["per_layer"] if trace else BENCH["end_to_end"]
    assert {k: v["unit"] for k, v in result["metrics"].items()} == {
        m["name"]: m["unit"] for m in want
    }
    if not trace:
        assert all(v["value"] > 0 for v in result["metrics"].values())
    else:
        # the engine never builds the seen filter below its activation gate
        assert result["metrics"]["bloom.engine_calls"]["value"] == 0
        assert result["metrics"]["bloom.build_s"]["value"] > 0
    work = os.path.join(ROOT, ".perfbench_work")
    prefix = f"{workload}-s3-t{trace}-"
    assert not any(
        d.startswith(prefix) for d in (os.listdir(work) if os.path.isdir(work) else [])
    )


def test_fails_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = _run(str(tmp_path), BENCH["workloads"][0]["name"], 0)
    assert p.returncode != 0
    assert not p.stdout.strip()


def test_sampler_sees_child_cpu():
    from procstat import TreeSampler

    with TreeSampler(interval_s=0.05) as s:
        before = s.cpu_s()
        child = subprocess.Popen([sys.executable, "-c", "while True: pass"])
        try:
            time.sleep(1.0)
            burned = s.cpu_s() - before
        finally:
            child.kill()
            child.wait()
    assert burned > 0.5
    assert s.peak_mem_bytes > 0
