"""Timing statistics, the host-speed probe and process-tree memory.

Pure Python + numpy: nothing here imports Spark, so the helpers are
unit-testable on their own.
"""

from __future__ import annotations

import os
import signal
import statistics
import threading
import time

import numpy as np

# Percentile ladder searched by ``tail_percentile``, highest first.
_TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
_TAIL_MIN_BEYOND = 10


def median(values) -> float:
    return float(statistics.median(values))


def tail_percentile(samples):
    """The highest percentile of the ladder that has at least ten
    samples beyond it, as ``(percentile, value, n)``.

    ``value`` is the nearest-rank percentile of ``samples``; ``n`` is the
    sample count, stated beside the value whenever it is reported.
    Returns None when even the lowest rung has too few samples beyond
    it (a tail read from fewer samples is noise, not a tail).
    """
    xs = sorted(float(x) for x in samples)
    n = len(xs)
    for p in _TAIL_LADDER:
        rank = max(1, int(np.ceil(p / 100.0 * n)))  # nearest-rank
        if n - rank >= _TAIL_MIN_BEYOND:
            return p, xs[rank - 1], n
    return None


# -- host-speed probe ------------------------------------------------------

_M1 = np.uint64(0xBF58476D1CE4E5B9)
_M2 = np.uint64(0x94D049BB133111EB)
_GOLDEN = np.uint64(0x9E3779B97F4A7C15)


def _splitmix64(x: np.ndarray) -> np.ndarray:
    z = x + _GOLDEN
    z = (z ^ (z >> np.uint64(30))) * _M1
    z = (z ^ (z >> np.uint64(27))) * _M2
    return z ^ (z >> np.uint64(31))


def host_probe(reps: int = 3) -> dict:
    """Wall time of a numpy splitmix64 hash of 1M keys and of a 64 MB
    copy, median of ``reps`` each. Degraded host windows (measured
    slower by up to 150x with zero steal) show up here, so every
    workload run records it next to its own numbers."""
    keys = np.arange(1 << 20, dtype=np.uint64)
    src = np.ones(64 << 20, dtype=np.uint8)
    hash_s, copy_s = [], []
    with np.errstate(over="ignore"):
        for _ in range(reps):
            t = time.perf_counter()
            _splitmix64(keys)
            hash_s.append(time.perf_counter() - t)
            t = time.perf_counter()
            src.copy()
            copy_s.append(time.perf_counter() - t)
    return {"hash1m_ms": 1e3 * median(hash_s),
            "copy64mb_ms": 1e3 * median(copy_s)}


# -- process-tree resident memory -----------------------------------------

def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as f:
                stat = f.read()
        except OSError:
            continue  # exited while listing
        # field 4 (ppid) follows the parenthesised command name
        ppid = int(stat[stat.rfind(b")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree_pids(root: int) -> list[int]:
    """``root`` and every live descendant (driver -> JVM -> Python
    workers in local mode)."""
    kids = _children_map()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def tree_rss(root: int) -> dict[int, int]:
    """Resident bytes of ``root`` and each live descendant, by pid."""
    page = os.sysconf("SC_PAGE_SIZE")
    out = {}
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/statm", "rb") as f:
                out[pid] = int(f.read().split()[1]) * page
        except OSError:
            continue
    return out


def tree_cpu_s(root: int) -> float:
    """CPU seconds (user + system) used so far by ``root`` and its live
    descendants, plus the reaped children each of them has waited for.
    Time the host steals from the guest is in none of these."""
    tick = os.sysconf("SC_CLK_TCK")
    total = 0
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/stat", "rb") as f:
                stat = f.read()
        except OSError:
            continue
        # fields 14-17: utime, stime, cutime, cstime
        total += sum(int(x) for x in stat[stat.rfind(b")") + 2:].split()[11:15])
    return total / tick


def _start_tick(pid: int) -> int | None:
    """Start time of ``pid`` in clock ticks after boot (field 22 of
    ``/proc/<pid>/stat``), or None once it has ended or is a zombie."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            fields = f.read().rsplit(b")", 1)[1].split()
    except OSError:
        return None
    return None if fields[0] == b"Z" else int(fields[19])


def tree_procs(root: int) -> dict[int, int]:
    """``root`` and its live descendants, by pid, with their start times
    (a pid seen again later is the same process only if these agree)."""
    out = {}
    for pid in tree_pids(root):
        start = _start_tick(pid)
        if start is not None:
            out[pid] = start
    return out


def end_processes(procs: dict[int, int], grace_s: float = 10.0) -> list[int]:
    """Stop every process of ``procs`` (as ``tree_procs`` gives them)
    still running and wait until each has ended: SIGTERM, then SIGKILL
    for what is left after ``grace_s``. Returns the pids that had to be
    killed. A process reparented away from this one cannot be reaped
    here; it counts as ended once it is a zombie."""
    def alive():
        return [p for p, start in procs.items() if _start_tick(p) == start]

    killed = []
    for sig, wait_s in ((signal.SIGTERM, grace_s), (signal.SIGKILL, 30.0)):
        left = alive()
        if not left:
            break
        if sig == signal.SIGKILL:
            killed = left
        for pid in left:
            try:
                os.kill(pid, sig)
            except OSError:
                pass
        deadline = time.monotonic() + wait_s
        while alive() and time.monotonic() < deadline:
            time.sleep(0.05)
    left = alive()
    if left:
        raise RuntimeError(f"processes {left} survived SIGKILL")
    return killed


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return "?"


class RssSampler:
    """Background sampler of the process tree's summed RSS. ``peak`` is
    the largest sum seen and ``peak_parts`` its split by process, in
    MB, largest first. Used as a context manager.

    A process counts from its second sample on. A child the JVM has
    forked but not yet exec'd reports all of the JVM's pages as its
    own; it lives for milliseconds, and counting it once read as a
    1.5 GB jump in peak RSS."""

    def __init__(self, root: int | None = None, interval_s: float = 0.2):
        self.root = os.getpid() if root is None else root
        self.interval_s = interval_s
        self.peak = 0
        self.peak_parts: list[tuple[str, float]] = []
        self._seen: set[int] = set()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while True:
            self.sample()
            if self._stop.wait(self.interval_s):
                return

    def sample(self) -> None:
        rss = tree_rss(self.root)
        parts = {pid: b for pid, b in rss.items() if pid in self._seen}
        self._seen = set(rss)
        total = sum(parts.values())
        if total > self.peak:
            self.peak = total
            self.peak_parts = sorted(
                ((_comm(pid), rss / 2 ** 20) for pid, rss in parts.items()),
                key=lambda p: -p[1])

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self.sample()


def physical_memory_bytes() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def usable_cores() -> int:
    return len(os.sched_getaffinity(0))
