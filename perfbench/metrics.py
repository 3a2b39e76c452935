"""Metric math and process counters for the benchmark.

Pure functions only (no Spark), so ``test_metrics.py`` can check them
without a session.
"""

from __future__ import annotations

import math
import os
import statistics

TAIL_MIN_ABOVE = 10


def gmean(values: list[float]) -> float:
    """Geometric mean of positive values."""
    if not values:
        raise ValueError("gmean of no values")
    if min(values) <= 0:
        raise ValueError(f"gmean needs positive values, got {min(values)}")
    return math.exp(sum(math.log(v) for v in values) / len(values))


def nearest_rank(sorted_values: list[float], pct: float) -> tuple[float, int]:
    """Nearest-rank percentile: the value at rank ceil(pct/100 * n)
    (1-based), and how many samples lie above that rank."""
    n = len(sorted_values)
    rank = max(1, math.ceil(pct / 100.0 * n))
    return sorted_values[rank - 1], n - rank


def tail(samples: list[float]) -> dict:
    """The highest percentile with at least ``TAIL_MIN_ABOVE`` samples
    above it: the sample at rank n - 10, which is percentile
    100 * (n - 10) / n. With fewer than 20 samples that rank would lie
    at or below the median, which is no tail; the nearest-rank p90 is
    reported instead (the maximum below 10 samples), with the rank's
    own percentile and the few samples above it."""
    s = sorted(samples)
    if not s:
        raise ValueError("tail of no samples")
    n = len(s)
    if n < 2 * TAIL_MIN_ABOVE:
        value, above = nearest_rank(s, 90.0)
        return {"pct": 100.0 * (n - above) / n, "value": value, "n": n, "above": above}
    rank = n - TAIL_MIN_ABOVE  # 1-based
    return {"pct": 100.0 * rank / n, "value": s[rank - 1], "n": n, "above": TAIL_MIN_ABOVE}


def median(values: list[float]) -> float:
    return statistics.median(values)


class OpLedger:
    """Outcome of every op a run attempted: latencies of the first and
    the warm calls per op name, and the names of failed ops. An op
    that raised or returned a wrong result counts as failed; its
    latency is still kept when it completed."""

    def __init__(self) -> None:
        self.first: dict[str, float] = {}
        self.warm: dict[str, list[float]] = {}
        self.attempted = 0
        self.failures: dict[str, list[str]] = {}

    def record(self, name: str, seconds: float | None, error: str | None = None,
               warmup: bool = False) -> None:
        """One attempt of op ``name``. A warm-up call counts as an
        attempt (and a failure if it failed) but keeps no latency."""
        self.attempted += 1
        if error is not None:
            self.failures.setdefault(name, []).append(error)
        if seconds is None or warmup:
            return
        if name not in self.first:
            self.first[name] = seconds
        else:
            self.warm.setdefault(name, []).append(seconds)

    def fail(self, name: str, error: str) -> None:
        """A failure found after the op ran (a wrong result)."""
        self.failures.setdefault(name, []).append(error)

    @property
    def failed(self) -> int:
        return sum(len(v) for v in self.failures.values())

    def failed_frac(self) -> float:
        return self.failed / self.attempted if self.attempted else 1.0

    def warm_pool(self) -> list[float]:
        return [v for vs in self.warm.values() for v in vs]

    def summary(self) -> dict:
        """End-to-end latency figures. Ops without a warm call (run
        once per run) count in ``first_latency_gmean_s`` only."""
        warm_medians = [median(v) for v in self.warm.values()]
        pool = self.warm_pool()
        return {
            "first_latency_gmean_s": gmean(list(self.first.values())),
            "latency_gmean_s": gmean(warm_medians),
            "latency_p50_s": median(pool),
            "latency_tail": tail(pool),
        }


# ---- /proc counters -------------------------------------------------------

_CLK_TCK = os.sysconf("SC_CLK_TCK") if hasattr(os, "sysconf") else 100


def children(pid: int) -> list[int]:
    """Direct children of ``pid`` (Linux ``/proc/<pid>/task/*/children``)."""
    out: list[int] = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            try:
                with open(f"/proc/{pid}/task/{tid}/children") as f:
                    out.extend(int(x) for x in f.read().split())
            except OSError:
                pass
    except OSError:
        pass
    return out


def tree(pid: int) -> list[int]:
    """``pid`` and all its descendants."""
    seen, todo = [], [pid]
    while todo:
        p = todo.pop()
        seen.append(p)
        todo.extend(children(p))
    return seen


def cpu_s(pid: int) -> float:
    """User + system CPU seconds of one process plus those of the
    children it has reaped (fields 14-17 of ``/proc/<pid>/stat``)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except OSError:
        return 0.0
    return sum(int(x) for x in fields[11:15]) / _CLK_TCK


def _status_kb(pid: int, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def hwm_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of one process, in MB."""
    return _status_kb(pid, "VmHWM") / 1024.0


def write_bytes(pid: int) -> int:
    """Bytes this process and the children it has reaped caused to be
    written to storage (``/proc/<pid>/io`` ``write_bytes``)."""
    try:
        with open(f"/proc/{pid}/io") as f:
            for line in f:
                if line.startswith("write_bytes:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class ProcSampler:
    """Counters of the benchmark's own process tree: the Python driver,
    the JVM it launched, and Spark's Python workers.

    Each live process is read with its reaped children included, so a
    worker that starts and exits between two samples still counts: its
    CPU and writes have moved into its parent's (the pyspark daemon's)
    counters. Totals are sums over the live tree; nothing is carried
    over from exited processes, which would count them twice. The JVM
    figure includes helper processes the JVM itself reaped.
    """

    def __init__(self, root_pid: int, jvm_pid: int | None) -> None:
        self.root = root_pid
        self.jvm = jvm_pid
        self._seen: set[int] = set()

    def sample(self) -> dict:
        cpu = jvm_cpu = 0.0
        written = 0
        for p in tree(self.root):
            self._seen.add(p)
            c = cpu_s(p)
            cpu += c
            written += write_bytes(p)
            if p == self.jvm:
                jvm_cpu = c
        return {
            "jvm_cpu_s": jvm_cpu,
            "py_cpu_s": cpu - jvm_cpu,
            "cpu_s": cpu,
            "write_bytes": written,
            "jvm_hwm_mb": hwm_mb(self.jvm) if self.jvm else 0.0,
            "py_hwm_mb": hwm_mb(self.root),
        }

    def known_pids(self) -> list[int]:
        """Every process of the tree seen so far, plus any alive now."""
        return sorted(self._seen | set(tree(self.root)))
