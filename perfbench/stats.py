"""Order statistics and host/process-tree probes for the benchmark.

Nothing here imports Spark: the tail rule is unit-tested on its own
(``python3 -m pytest perfbench``) and the /proc readers work on any Linux.
"""

from __future__ import annotations

import os
import statistics
import threading

#: A tail percentile needs this many pooled samples strictly beyond it.
TAIL_MIN_BEYOND = 10
#: ... and must sit at or above this percentile.
TAIL_MIN_PCT = 90.0


class TooFewSamples(ValueError):
    """Raised instead of reporting a tail the samples cannot support."""


def median(xs: list[float]) -> float:
    if not xs:
        raise TooFewSamples("median of no samples")
    return statistics.median(xs)


def tail(
    samples: list[float],
    min_beyond: int = TAIL_MIN_BEYOND,
    min_pct: float = TAIL_MIN_PCT,
) -> tuple[float, float, int]:
    """Highest nearest-rank percentile with ``min_beyond`` samples above it.

    Returns ``(value, percentile, n)``. With ``n`` sorted samples the tail
    is the ``n - min_beyond``-th smallest, i.e. percentile
    ``100 * (n - min_beyond) / n``. Raises :class:`TooFewSamples` when that
    percentile is below ``min_pct`` (fewer than ``min_beyond * 100 /
    (100 - min_pct)`` samples: 100 for p90 with ten beyond), so a short
    run can never report a "tail" under its own median.
    """
    n = len(samples)
    rank = n - min_beyond
    if rank < 1:
        raise TooFewSamples(f"{n} samples leave none with {min_beyond} beyond")
    pct = 100.0 * rank / n
    if pct < min_pct:
        need = -(-min_beyond * 100 // int(100 - min_pct))
        raise TooFewSamples(
            f"p{pct:.1f} from {n} samples is below p{min_pct:g}; need {need}"
        )
    return sorted(samples)[rank - 1], pct, n


# ---------------------------------------------------------------------------
# Host probes
# ---------------------------------------------------------------------------
_CLK_TCK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def load1() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of the whole host, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields)


def steal_share(t0: tuple[int, int], t1: tuple[int, int]) -> float:
    total = t1[1] - t0[1]
    return (t1[0] - t0[0]) / total if total > 0 else 0.0


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # comm may hold spaces; fields after the closing paren are positional.
    return raw[raw.rindex(")") + 2 :].split()


def tree_pids(root: int) -> list[int]:
    """``root`` and every live descendant."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                children.setdefault(int(st[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int) -> float:
    """User+system CPU of the live tree plus the reaped children it waited
    for (the Python worker daemon reaps its forks, the JVM its daemon)."""
    total = 0
    for pid in tree_pids(root):
        st = _stat(pid)
        if st is not None:
            total += sum(int(x) for x in st[11:15])  # utime stime cutime cstime
    return total / _CLK_TCK


def tree_rss_mb(root: int) -> float:
    total = 0
    for pid in tree_pids(root):
        st = _stat(pid)
        if st is not None:
            total += int(st[21])
    return total * _PAGE / 2**20


class RssSampler:
    """Samples the process tree's RSS on a daemon thread; keeps the peak."""

    def __init__(self, root: int, interval_s: float = 0.25):
        self.root, self.interval_s, self.peak_mb = root, interval_s, 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_rss_mb(self.root))
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
