"""Host fingerprint, ambient evidence and resident-memory sampling.

The fingerprint and the CPU probe are recorded with every run as
evidence of the conditions it ran under. No metric is scaled by them.
"""

from __future__ import annotations

import hashlib
import math
import os
import platform
import sys
import threading
import time


def nproc() -> int:
    """CPUs this process may run on (what ``nproc`` prints)."""
    return len(os.sched_getaffinity(0))


def _mem_total_kb() -> int | None:
    try:
        with open("/proc/meminfo") as fh:
            for line in fh:
                if line.startswith("MemTotal:"):
                    return int(line.split()[1])
    except OSError:
        return None
    return None


def cpu_probe_s(rounds: int = 3) -> float:
    """Seconds to hash 64 MiB with SHA-256, fastest of ``rounds``: a
    fixed amount of single-core work whose drift shows ambient load."""
    buf = b"\x5a" * (1 << 20)
    best = math.inf
    for _ in range(rounds):
        t0 = time.perf_counter()
        h = hashlib.sha256()
        for _ in range(64):
            h.update(buf)
        h.digest()
        best = min(best, time.perf_counter() - t0)
    return best


def fingerprint() -> dict:
    import pyspark

    cpus = nproc()
    env_cpus = os.environ.get("SPARK_GRAFT_CPUS")
    return {
        "nproc": cpus,
        "mem_total_kb": _mem_total_kb(),
        "python": sys.version.split()[0],
        "pyspark": pyspark.__version__,
        "machine": platform.machine(),
        "loadavg": list(os.getloadavg()),
        "spark_graft_cpus": env_cpus,
        "cpus_mismatch": env_cpus is not None and env_cpus != str(cpus),
    }


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _children(pid: int) -> list[int]:
    out = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as fh:
                out.extend(int(c) for c in fh.read().split())
    except OSError:
        pass
    return out


def tree_rss_kb(root: int) -> int:
    """Resident memory of ``root`` and all its descendants (the driver
    JVM and the Python workers are children of this process)."""
    total, todo, seen = 0, [root], set()
    while todo:
        pid = todo.pop()
        if pid in seen:
            continue
        seen.add(pid)
        total += _rss_kb(pid)
        todo.extend(_children(pid))
    return total


class RssSampler:
    """Samples the process tree's resident memory every ``period_s``
    on a daemon thread and keeps the peak."""

    def __init__(self, period_s: float = 0.1) -> None:
        self.period_s = period_s
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, tree_rss_kb(pid))
            self._stop.wait(self.period_s)

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
