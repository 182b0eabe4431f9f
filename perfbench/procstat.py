"""CPU and resident memory of a whole process tree, read from /proc.

The engine's work is spread over three kinds of process: the driver
Python process, the JVM it launches, and the Python workers the JVM's
daemon forks for Arrow UDFs. ``TreeSampler`` walks every descendant of
the benchmark process, so CPU and memory cover all of them. One
background thread samples at a fixed interval for the memory peak and to
see short-lived processes; ``cpu_s()`` also samples on the spot so
interval boundaries are exact. Memory is the proportional set size
(Pss): the forked workers share most of their pages with the daemon, and
summing plain RSS would count those pages once per worker.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")


def _pss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup", "rb") as f:
            for line in f:
                if line.startswith(b"Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass  # exited, or a kernel thread
    return 0


def read_stats() -> dict[int, tuple[int, int, int]]:
    """pid -> (ppid, start_ticks, cpu_ticks) for every process."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as f:
                data = f.read()
        except OSError:
            continue  # exited between listdir and open
        # fields after "(comm)": state ppid ... utime(11) stime(12) ...
        # starttime(19), counted from state = 0
        fields = data[data.rindex(b")") + 2:].split()
        out[int(name)] = (
            int(fields[1]), int(fields[19]), int(fields[11]) + int(fields[12])
        )
    return out


def tree_pids(root: int, stats: dict) -> list[int]:
    kids: dict[int, list[int]] = {}
    for pid, st in stats.items():
        kids.setdefault(st[0], []).append(pid)
    todo, seen = [root], []
    while todo:
        pid = todo.pop()
        if pid in stats:
            seen.append(pid)
            todo.extend(kids.get(pid, ()))
    return seen


class TreeSampler:
    """Cumulative CPU seconds and peak memory of this process's tree.

    CPU is the sum, over every process seen in the tree, of its last
    observed user+system time, keyed by (pid, start time) so a reused pid
    never merges two processes. A process that exits loses only the CPU
    it burned after its last sample."""

    def __init__(self, interval_s: float = 0.2):
        self.root = os.getpid()
        self.interval_s = interval_s
        self._cpu: dict[tuple[int, int], int] = {}
        self.peak_mem_bytes = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def sample(self, memory: bool = True) -> None:
        stats = read_stats()
        pids = tree_pids(self.root, stats)
        mem = sum(_pss_bytes(pid) for pid in pids) if memory else 0
        with self._lock:
            for pid in pids:
                _, start, cpu = stats[pid]
                self._cpu[(pid, start)] = cpu
            self.peak_mem_bytes = max(self.peak_mem_bytes, mem)

    def cpu_s(self) -> float:
        self.sample(memory=False)
        with self._lock:
            return sum(self._cpu.values()) / _TICK

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.sample()

    def __enter__(self) -> "TreeSampler":
        self.sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
