"""Run-level measurement helpers: percentiles and peak memory."""

from __future__ import annotations

import math
import os
import statistics
import threading


def median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


def _beta_cdf(x: float, a: float, b: float) -> float:
    """Regularised incomplete beta function I_x(a, b), by Lentz's
    continued fraction."""
    if x <= 0.0:
        return 0.0
    if x >= 1.0:
        return 1.0
    if x > (a + 1) / (a + b + 2):  # the fraction converges fast only below the mean
        return 1.0 - _beta_cdf(1.0 - x, b, a)
    front = math.exp(math.lgamma(a + b) - math.lgamma(a) - math.lgamma(b)
                     + a * math.log(x) + b * math.log1p(-x)) / a
    f, c, d = 1.0, 1.0, 0.0
    for i in range(400):
        m = i // 2
        if i == 0:
            num = 1.0
        elif i % 2 == 0:
            num = m * (b - m) * x / ((a + 2 * m - 1) * (a + 2 * m))
        else:
            num = -(a + m) * (a + b + m) * x / ((a + 2 * m) * (a + 2 * m + 1))
        d = 1.0 + num * d
        d = 1.0 / (d if d else 1e-300)  # keep the recurrence off an exact zero
        c = 1.0 + num / c
        c = c if c else 1e-300
        f *= c * d
        if abs(1.0 - c * d) < 1e-12:
            break
    return front * (f - 1.0)


def hd_median(values) -> float:
    """Harrell-Davis estimate of the median: a weighted mean of every
    order statistic, weights peaking at the middle. Where the samples are
    a few dozen unlike operations, the plain median jumps between the two
    operations that happen to sit in the middle; this one moves smoothly."""
    v = sorted(values)
    n = len(v)
    if n == 0:
        return 0.0
    a = (n + 1) / 2
    cdf = [_beta_cdf(i / n, a, a) for i in range(n + 1)]
    return sum((hi - lo) * x for lo, hi, x in zip(cdf, cdf[1:], v))


def tail(values) -> tuple[float, float]:
    """(value, percentile) of the highest percentile that still has at
    least ten samples above it; (0.0, 0.0) with fewer than 11 samples."""
    v = sorted(values)
    if len(v) < 11:
        return 0.0, 0.0
    k = len(v) - 11
    return v[k], 100.0 * (k + 1) / len(v)


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue  # the process ended while we looked
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree_pids(root: int) -> list[int]:
    kids, out, todo = _children(), [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def tree_pss_bytes(root: int) -> int:
    """Resident memory of the process tree, each shared page split
    between the processes that map it (the proportional set size), so
    forked Python workers do not count their parent's pages again."""
    total = 0
    for p in tree_pids(root):
        try:
            with open(f"/proc/{p}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except (OSError, IndexError, ValueError):
            continue
    return total


class PeakRss:
    """Samples the resident memory of this process and all of its
    descendants (the JVM and its Python workers) on a background thread."""

    def __init__(self, interval_s: float = 0.25):
        self.peak = 0
        self._interval = interval_s
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        me = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_pss_bytes(me))
            self._stop.wait(self._interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)
