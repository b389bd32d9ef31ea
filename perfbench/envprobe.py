"""The host's state beside each run: memory bandwidth, load, JVM memory.

Memory bandwidth on shared hosts can drop many-fold without warning, so
each run records a probe taken just before its timed region; a run
taken in bad weather can then be recognised.
"""

from __future__ import annotations

import os
import time

import numpy as np


def weather() -> dict:
    """Best-of-3 copy bandwidth over 64 MiB, and the 1-minute loadavg."""
    a = np.ones(8 << 20)  # 64 MiB of float64
    b = np.empty_like(a)
    best = min(_timed_copy(a, b) for _ in range(3))
    with open("/proc/loadavg") as f:
        load1 = float(f.read().split()[0])
    return {"mem_gbps": 2 * a.nbytes / best / 1e9, "loadavg_1m": load1}


def _timed_copy(a, b) -> float:
    t = time.perf_counter()
    np.copyto(b, a)
    return time.perf_counter() - t


def peak_rss_mb(pid: int) -> float:
    """The process's high-water resident set size (VmHWM), in MiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def cpus() -> int:
    return len(os.sched_getaffinity(0))
