"""Process-tree accounting and host-health probes (Linux /proc).

The program under test is a process tree: this Python driver, the Spark
JVM it launches, and the JVM's Python daemon and workers.  CPU time is
summed over the live tree, including the time of children the tree has
already reaped; memory is proportional set size (PSS), so pages shared
by forked workers are counted once.
"""

from __future__ import annotations

import glob
import os
import threading
import time

_TCK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int):
    with open(f"/proc/{pid}/stat") as f:
        s = f.read()
    # the comm field may hold spaces; fields resume after its ')'
    return s[s.rindex(")") + 2:].split()


def tree_pids(root: int | None = None) -> list[int]:
    root = root or os.getpid()
    kids: dict[int, list[int]] = {}
    for path in glob.glob("/proc/[0-9]*/stat"):
        try:
            pid = int(path.split("/")[2])
            ppid = int(_stat(pid)[1])
        except (OSError, ValueError, IndexError):
            continue
        kids.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, ()))
    return out


def tree_cpu_s(pids: list[int] | None = None) -> float:
    """utime + stime of the live tree plus its reaped children's time.
    ``pids`` reuses an earlier :func:`tree_pids` instead of scanning /proc."""
    total = 0
    for pid in pids or tree_pids():
        try:
            f = _stat(pid)
        except OSError:
            continue
        total += sum(int(v) for v in f[11:15])
    return total / _TCK


def tree_minflt(pids: list[int] | None = None) -> int:
    """Minor page faults of the live tree plus its reaped children."""
    total = 0
    for pid in pids or tree_pids():
        try:
            f = _stat(pid)
        except OSError:
            continue
        total += int(f[7]) + int(f[8])
    return total


def tree_pss_mb(pids: list[int] | None = None) -> float:
    kb = 0
    for pid in pids or tree_pids():
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return kb / 1024.0


class PeakPss:
    """Background sampler of the tree's PSS; ``peak_mb`` is the maximum.

    The tree is rescanned every ``rescan`` samples.  ``busy_s`` is the
    sampler's own wall time, so its cost to the driver can be checked."""

    def __init__(self, interval: float = 2.0, rescan: int = 1):
        self.interval = interval
        self.rescan = rescan
        self.peak_mb = 0.0
        self.samples = 0
        self.busy_s = 0.0
        self._pids: list[int] = []
        self._stop = threading.Event()
        self._t = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.interval)

    def sample(self) -> float:
        t0 = time.perf_counter()
        if self.samples % self.rescan == 0:
            self._pids = tree_pids()
        mb = tree_pss_mb(self._pids)
        self.peak_mb = max(self.peak_mb, mb)
        self.samples += 1
        self.busy_s += time.perf_counter() - t0
        return mb

    def __enter__(self):
        self._t.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._t.join()
        self.sample()


def process_start_epoch(pid: int | None = None) -> float:
    """Wall-clock start time of a process, from its boot-relative stat."""
    start_ticks = int(_stat(pid or os.getpid())[19])
    with open("/proc/stat") as f:
        btime = next(int(ln.split()[1]) for ln in f if ln.startswith("btime"))
    return btime + start_ticks / _TCK


# ---------------------------------------------------------------------------
# host health (metadata, never metrics)
# ---------------------------------------------------------------------------

def steal_s() -> float:
    """Cumulative CPU time the hypervisor stole from this host."""
    with open("/proc/stat") as f:
        cpu = f.readline().split()
    return int(cpu[8]) / _TCK


def load1() -> float:
    return round(os.getloadavg()[0], 2)


def foreign_spark() -> list[dict]:
    """Spark JVMs or pyspark workers that are not part of this run's tree."""
    mine = set(tree_pids())
    pid = os.getpid()
    while pid > 1:                      # ancestors may quote our command
        mine.add(pid)
        try:
            pid = int(_stat(pid)[1])
        except (OSError, ValueError):
            break
    hits = []
    for path in glob.glob("/proc/[0-9]*/cmdline"):
        try:
            pid = int(path.split("/")[2])
            if pid in mine:
                continue
            with open(path, "rb") as f:
                cmd = f.read().decode("utf-8", "replace").replace("\x00", " ")
        except (OSError, ValueError):
            continue
        low = cmd.lower()
        if any(t in low for t in ("org.apache.spark", "sparksubmit",
                                  "pyspark.daemon", "pyspark.worker")):
            hits.append({"pid": pid, "cmd": cmd.strip()[:120]})
    return hits


def calibrate() -> dict:
    """Best-of-3 host speed probes: a bandwidth-bound numpy pass and a
    frequency-bound pure-Python loop."""
    import numpy as np

    a = np.arange(4_000_000, dtype=np.float64)

    def best(fn):
        vals = []
        for _ in range(3):
            t0 = time.perf_counter()
            fn()
            vals.append(time.perf_counter() - t0)
        return round(min(vals), 5)

    return {"np_s": best(lambda: float(np.sqrt(a).sum())),
            "py_s": best(lambda: sum(range(1_000_000)))}
