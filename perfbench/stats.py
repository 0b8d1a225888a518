"""Small measurement helpers: percentiles, machine context, memory."""

from __future__ import annotations

import os
import resource

MIN_BEYOND = 10  # samples that must lie beyond a reported percentile


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated q-th percentile (0 < q < 100) of `values`,
    the same rule as numpy's default ("linear")."""
    if not values:
        raise ValueError("percentile of an empty sample")
    xs = sorted(values)
    pos = (len(xs) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def samples_beyond(n: int, q: float) -> int:
    """How many of n samples lie beyond the q-th percentile."""
    return int(n * (100.0 - q) / 100.0)


def resolvable(n: int, q: float) -> bool:
    """True when a sample of n leaves at least MIN_BEYOND samples
    beyond the q-th percentile, so the percentile is not set by a
    handful of outliers."""
    return samples_beyond(n, q) >= MIN_BEYOND


def median(values: list[float]) -> float:
    return percentile(values, 50.0)


def _cpu_jiffies() -> tuple[int, int]:
    """(total, steal) jiffies from the aggregate /proc/stat cpu line."""
    with open("/proc/stat") as fh:
        parts = fh.readline().split()[1:]
    vals = [int(x) for x in parts[:8]]
    return sum(vals), (vals[7] if len(vals) > 7 else 0)


class MachineContext:
    """Load average, steal share and core count around a run: context
    for spotting a run contaminated by other tenants, not a metric."""

    def __init__(self) -> None:
        self.load_start = os.getloadavg()[0]
        self.jiffies_start = _cpu_jiffies()

    def finish(self) -> dict:
        total, steal = _cpu_jiffies()
        d_total = max(total - self.jiffies_start[0], 1)
        return {
            "load_avg_start": round(self.load_start, 2),
            "load_avg_end": round(os.getloadavg()[0], 2),
            "steal_pct": round(
                100.0 * (steal - self.jiffies_start[1]) / d_total, 2),
            "cpus": os.cpu_count(),
        }


def cpu_seconds(pids) -> float:
    """User + system CPU time of the given processes."""
    total = 0
    for pid in pids:
        with open(f"/proc/{pid}/stat") as fh:
            f = fh.read().rsplit(")", 1)[1].split()
        total += int(f[11]) + int(f[12])
    return total / os.sysconf("SC_CLK_TCK")


def steal_jiffies() -> int:
    """Jiffies stolen from this VM's CPUs since boot."""
    return _cpu_jiffies()[1]


def peak_rss_mb(jvm_pid: int | None) -> float:
    """Peak resident set of this process plus the JVM it launched."""
    kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    if jvm_pid is not None:
        kb += _status_kb(jvm_pid, "VmHWM")
    return kb / 1024.0


def _status_kb(pid: int, field: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith(field + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0
