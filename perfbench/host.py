"""Host-side measurement: process-tree RSS, host load context, and
waiting for the process tree to end.

Everything here reads ``/proc``; nothing touches the program under test.
"""

from __future__ import annotations

import contextlib
import os
import threading
import time

import numpy as np

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _children_map() -> dict:
    """ppid -> [pid] over every live process."""
    kids: dict = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as f:
                stat = f.read()
        except OSError:  # the process ended while we walked /proc
            continue
        # field 2 (comm) may hold spaces; fields after the last ')' are fixed
        ppid = int(stat[stat.rindex(b")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def process_tree(root: int | None = None) -> list:
    """``root`` (default: this process) and all its live descendants."""
    root = os.getpid() if root is None else root
    kids = _children_map()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * _PAGE
    except OSError:
        return 0


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return "?"


def _start_time(pid: int):
    """Start time of a live pid, or None once it has ended (a zombie
    counts as ended: only its parent can still reap it)."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            stat = f.read()
    except OSError:
        return None
    fields = stat[stat.rindex(b")") + 2 :].split()
    return None if fields[0] in (b"Z", b"X") else fields[19]


class RssSampler:
    """One thread that samples the summed RSS of this process tree
    (driver Python + JVM + Python workers) and keeps the peak, overall and
    per executable name. Shared pages are counted once per process that
    maps them. No sample is taken inside ``paused()``."""

    def __init__(self, interval_s: float = 0.1):
        self.interval_s = interval_s
        self.peak_bytes = 0
        self.peak_by_name: dict = {}
        self._stop = threading.Event()
        self._sampling = threading.Lock()
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)

    @contextlib.contextmanager
    def paused(self):
        """Hold off sampling while the benchmark's own reference work
        (brute-force kNN, output checks) allocates in this process."""
        with self._sampling:
            yield

    def _loop(self) -> None:
        while not self._stop.is_set():
            by_name: dict = {}
            with self._sampling:
                for p in process_tree():
                    name = _comm(p)
                    by_name[name] = by_name.get(name, 0) + _rss_bytes(p)
            self.peak_bytes = max(self.peak_bytes, sum(by_name.values()))
            for name, b in by_name.items():
                self.peak_by_name[name] = max(self.peak_by_name.get(name, 0), b)
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


def _cpu_times() -> list:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def _load_between(a: list, b: list) -> dict:
    """busy% and steal% of all host CPUs between two /proc/stat reads
    (fields: user nice system idle iowait irq softirq steal ...)."""
    d = [y - x for x, y in zip(a, b)]
    total = sum(d[:8]) or 1
    idle = d[3] + d[4]
    return {
        "busy_pct": round(100.0 * (total - idle) / total, 1),
        "steal_pct": round(100.0 * d[7] / total, 1),
    }


def gemm_gflops(n: int = 384, reps: int = 7) -> float:
    """Fixed single-process GEMM probe: median GFLOP/s of an n x n f32
    matmul. Tracks how much CPU the host gives this run."""
    rng = np.random.default_rng(0)
    a = rng.random((n, n), dtype=np.float32)
    b = rng.random((n, n), dtype=np.float32)
    a @ b
    times = []
    for _ in range(reps):
        t = time.perf_counter()
        a @ b
        times.append(time.perf_counter() - t)
    return round(2 * n**3 / float(np.median(times)) / 1e9, 2)


class HostContext:
    """GEMM probe plus busy%/steal% at the start and the end of a run,
    and over the whole run. Informational: not a gated metric."""

    def __init__(self, window_s: float = 0.2):
        self.window_s = window_s
        self.record: dict = {}
        self._run_start = None

    def _probe(self) -> dict:
        a = _cpu_times()
        time.sleep(self.window_s)
        out = _load_between(a, _cpu_times())
        out["gemm_gflops"] = gemm_gflops()
        return out

    def start(self) -> None:
        self.record["start"] = self._probe()
        self._run_start = _cpu_times()

    def end(self) -> dict:
        self.record["run"] = _load_between(self._run_start, _cpu_times())
        self.record["end"] = self._probe()
        return self.record


def wait_gone(pids: list, timeout_s: float = 60.0) -> list:
    """Wait until every pid in ``pids`` has ended (start time checked, so
    a recycled pid does not count); SIGKILL what is left at the deadline.
    Returns the pids that had to be killed."""
    import signal

    ident = {p: _start_time(p) for p in pids}
    live = lambda: [p for p, st in ident.items() if st is not None and _start_time(p) == st]
    deadline = time.monotonic() + timeout_s
    while live() and time.monotonic() < deadline:
        time.sleep(0.1)
    killed = live()
    for p in killed:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass
    while live() and time.monotonic() < deadline + 10:
        time.sleep(0.1)
    return killed
