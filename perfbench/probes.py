"""Host and process probes: the fixed-work host probe stamped around each
workload, and the sampler for the summed RSS of the PySpark Python workers.
Neither runs inside a timed region's critical path: the host probe runs
outside it, the RSS sampler on its own thread reading /proc."""

from __future__ import annotations

import os
import threading
import time

PAGE = os.sysconf("SC_PAGE_SIZE")
WORKER_MARK = b"pyspark.daemon"


def host_probe() -> dict:
    """Fixed-work probes so runs are comparable across host phases: cpu is a
    single-thread uint8->f32 convert+sum, membw is large array copies
    (bus-bound). Same method as ``bench.py``'s host probe."""
    import numpy as np

    a = np.random.RandomState(0).randint(0, 256, (4096, 4096), dtype=np.uint8)
    a.astype(np.float32).sum()  # untimed: first-touch/alloc warmup
    t0 = time.time()
    for _ in range(10):
        a.astype(np.float32).sum()
    cpu = time.time() - t0
    big = np.zeros((512, 1 << 20), dtype=np.uint8)  # 512 MB
    big[:] = 1
    big.copy()  # untimed: fault in source+dest pages
    t0 = time.time()
    for _ in range(4):
        big.copy()
    membw = time.time() - t0
    return {"cpu_sec": round(cpu, 3), "membw_sec": round(membw, 3)}


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the command name may hold spaces or parens; fields resume after the last ')'
        ppid = int(stat[stat.rindex(b")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def python_workers(root_pid: int) -> list[int]:
    """PIDs of the PySpark daemon and its forked workers below ``root_pid``."""
    kids, out, stack = _children(), [], [root_pid]
    while stack:
        for pid in kids.get(stack.pop(), []):
            stack.append(pid)
            try:
                with open(f"/proc/{pid}/cmdline", "rb") as fh:
                    if WORKER_MARK in fh.read():
                        out.append(pid)
            except OSError:
                pass
    return out


def rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as fh:
            return int(fh.read().split()[1]) * PAGE
    except (OSError, IndexError, ValueError):
        return 0


class WorkerRss:
    """Samples the summed RSS of the Python workers under ``root_pid`` every
    ``period`` seconds between ``start`` and ``stop``; keeps the peak and
    every worker PID seen (so teardown can wait for them)."""

    def __init__(self, root_pid: int, period: float = 0.1):
        self.root_pid = root_pid
        self.period = period
        self.peak = 0
        self.seen: set[int] = set()
        self._halt = threading.Event()
        self._thread: threading.Thread | None = None

    def sample(self) -> int:
        pids = python_workers(self.root_pid)
        self.seen.update(pids)
        total = sum(rss_bytes(p) for p in pids)
        self.peak = max(self.peak, total)
        return total

    def _loop(self) -> None:
        while not self._halt.wait(self.period):
            self.sample()

    def start(self) -> None:
        self._halt.clear()
        self._thread = threading.Thread(target=self._loop, name="worker-rss", daemon=True)
        self._thread.start()

    def stop(self) -> float:
        """Stop sampling; returns the peak in MB."""
        self._halt.set()
        if self._thread is not None:
            self._thread.join(timeout=10)
        self.sample()
        return self.peak / 2**20
