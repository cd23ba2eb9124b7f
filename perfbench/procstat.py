"""Out-of-process readings from ``/proc``: resident memory and CPU time
of the JVM and the Python workers the benchmark started, and the
machine facts recorded with every run.

Nothing here rescales a metric: the canary and machine facts are
metadata that let two runs be compared only on a machine of the same
shape.
"""

from __future__ import annotations

import os
import threading
import time

CLK_TCK = os.sysconf("SC_CLK_TCK")
PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> list[str] | None:
    """Fields of ``/proc/<pid>/stat`` after the command name."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    return raw[raw.rfind(")") + 2:].split()


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


def descendants(root: int) -> list[int]:
    """Every live process below ``root`` in the process tree."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        st = _stat(int(entry))
        if st:
            children.setdefault(int(st[1]), []).append(int(entry))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), ()):
            out.append(c)
            todo.append(c)
    return out


def rss_bytes(pids: list[int]) -> int:
    total = 0
    for pid in pids:
        st = _stat(pid)
        if st:
            total += int(st[21]) * PAGE
    return total


def python_cpu_s(root: int) -> float:
    """User plus system CPU seconds of the Python processes below
    ``root`` (the Spark Python workers), including their reaped
    children, so a worker that exits keeps counting through its parent."""
    ticks = 0
    for pid in descendants(root):
        if not _comm(pid).startswith("python"):
            continue
        st = _stat(pid)
        if st:
            ticks += sum(int(x) for x in st[11:15])
    return ticks / CLK_TCK


def cpu_s(pids: list[int]) -> float:
    """User plus system CPU seconds of ``pids`` (all their threads)."""
    ticks = 0
    for pid in pids:
        st = _stat(pid)
        if st:
            ticks += int(st[11]) + int(st[12])
    return ticks / CLK_TCK


def settle(max_s: float = 10.0, window_s: float = 0.5, busy_cores: float = 0.5) -> float:
    """Wait until the processes below this one (the JVM's compiler and
    GC threads after a warm-up) use less than ``busy_cores`` over a
    ``window_s`` window, or ``max_s`` passed; returns the seconds waited."""
    me = os.getpid()
    t0 = time.perf_counter()
    before = cpu_s(descendants(me))
    while time.perf_counter() - t0 < max_s:
        time.sleep(window_s)
        now = cpu_s(descendants(me))
        if now - before < busy_cores * window_s:
            break
        before = now
    return time.perf_counter() - t0


class PeakRss:
    """Samples the summed RSS of every process below this one (the
    Spark JVM and its Python workers) on a background thread."""

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="peak-rss", daemon=True)

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, rss_bytes(descendants(me)))
            self._stop.wait(self.interval_s)

    def reset(self) -> None:
        self.peak = 0

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


def canary_s() -> float:
    """Seconds for a fixed pure-Python loop: a machine-speed reading
    kept as run metadata."""
    t0 = time.perf_counter()
    x = 0x9E3779B9
    for _ in range(300_000):
        x ^= (x << 13) & 0xFFFFFFFF
        x ^= x >> 17
    return time.perf_counter() - t0


def machine() -> dict:
    flags: list[str] = []
    model = ""
    with open("/proc/cpuinfo") as f:
        for line in f:
            if line.startswith("flags") and not flags:
                have = set(line.split(":", 1)[1].split())
                flags = sorted(have & {"avx", "avx2", "avx512f", "sse4_2", "fma"})
            elif line.startswith("model name") and not model:
                model = line.split(":", 1)[1].strip()
    mem_kb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
                break
    return {
        "cores": len(os.sched_getaffinity(0)),
        "mem_gb": round(mem_kb / 1024**2, 1),
        "cpu": model,
        "cpu_flags": flags,
    }
