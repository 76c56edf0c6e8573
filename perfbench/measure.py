"""Summary statistics, process-tree memory and host fingerprint."""

from __future__ import annotations

import hashlib
import math
import os
import time

MIN_BEYOND = 10  # samples that must lie beyond a reported percentile


class TooFewSamples(ValueError):
    pass


def percentile(samples, p: float) -> float:
    """The ``p``-th percentile (nearest rank) of ``samples``. Refuses a
    percentile with fewer than ``MIN_BEYOND`` samples beyond it: such a
    tail figure is one or two outliers, not a percentile."""
    xs = sorted(samples)
    n = len(xs)
    rank = max(1, math.ceil(p / 100.0 * n))
    if n - rank < MIN_BEYOND:
        raise TooFewSamples(
            f"p{p:g} of {n} samples has {n - rank} beyond it; need {MIN_BEYOND}"
        )
    return xs[rank - 1]


def median(samples) -> float:
    xs = sorted(samples)
    n = len(xs)
    if not n:
        raise ValueError("median of no samples")
    return xs[n // 2] if n % 2 else 0.5 * (xs[n // 2 - 1] + xs[n // 2])


def tail(samples, ps=(99.0, 90.0)) -> tuple[float, float] | None:
    """(p, value) for the highest of ``ps`` the sample count supports."""
    for p in ps:
        try:
            return p, percentile(samples, p)
        except TooFewSamples:
            continue
    return None


# ------------------------------------------------------------- memory


def _children(pid: int) -> list[int]:
    out = []
    for task in os.listdir(f"/proc/{pid}/task"):
        try:
            with open(f"/proc/{pid}/task/{task}/children") as f:
                out.extend(int(c) for c in f.read().split())
        except OSError:
            continue
    return out


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree_peak_rss_mb(root: int | None = None) -> float:
    """Sum of the peak resident sizes (VmHWM) of ``root`` and every live
    descendant — the Python process plus the JVM and its workers."""
    stack = [root or os.getpid()]
    seen = set()
    total = 0
    while stack:
        pid = stack.pop()
        if pid in seen:
            continue
        seen.add(pid)
        total += _hwm_kb(pid)
        try:
            stack.extend(_children(pid))
        except OSError:
            continue
    return total / 1024.0


# ---------------------------------------------------- host fingerprint


def host_probe() -> dict:
    """The fixed-work probes bench.py records: single-thread md5 over
    128 MiB and 24 f64 1024x1024 GEMMs (min and max of three rounds of
    eight), so a run on a slow or loaded host can be told apart."""
    import numpy as np

    buf = b"x" * 65536
    t0 = time.perf_counter()
    for _ in range(2000):
        hashlib.md5(buf).digest()
    md5 = time.perf_counter() - t0
    a = np.ones((1024, 1024))
    b = np.ones((1024, 1024))
    a @ b
    rounds = []
    for _ in range(3):
        t0 = time.perf_counter()
        for _ in range(8):
            a @ b
        rounds.append(time.perf_counter() - t0)
    return {
        "cpu_md5_sec": round(md5, 4),
        "cpu_gemm_sec": round(min(rounds), 4),
        "cpu_gemm_max_sec": round(max(rounds), 4),
        "nproc": os.cpu_count(),
    }


def loadavg() -> list[float]:
    return [round(v, 2) for v in os.getloadavg()]


def cpu_ticks() -> list[int]:
    """The aggregate ``cpu`` line of /proc/stat (user, nice, system,
    idle, iowait, irq, softirq, steal, ...)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests between
    two ``cpu_ticks`` readings: the noisy-neighbour signal."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / max(1, sum(d[:8])) if len(d) > 7 else 0.0
