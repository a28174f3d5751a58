"""Small measurement helpers: percentiles, peak RSS, host context."""

from __future__ import annotations

import math
import os
import statistics
import time

#: a percentile is reported only with at least this many samples beyond it
MIN_BEYOND = 10


class TooFewSamples(ValueError):
    pass


def percentile(samples, q: float) -> float:
    """Nearest-rank ``q``-th percentile (0 < q < 100) of ``samples``.

    Refuses (:class:`TooFewSamples`) unless at least ``MIN_BEYOND``
    samples lie strictly beyond the chosen rank: a p99 needs 1000
    samples, a median 20."""
    if not 0 < q < 100:
        raise ValueError(f"percentile must be in (0, 100), got {q}")
    xs = sorted(samples)
    rank = max(1, math.ceil(q / 100.0 * len(xs)))
    if len(xs) - rank < MIN_BEYOND:
        raise TooFewSamples(
            f"p{q:g} of {len(xs)} samples leaves {len(xs) - rank} beyond it; "
            f"{MIN_BEYOND} are required"
        )
    return xs[rank - 1]


def median(samples) -> float:
    return statistics.median(samples)


def geomean(values) -> float:
    return math.exp(statistics.fmean(math.log(v) for v in values))


def vm_hwm_mb(pid: int | str = "self") -> float:
    """Peak resident set (VmHWM) of a process, in MiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def _cpu_counters() -> tuple[int, int]:
    """(steal, total) jiffies from the aggregate line of /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal [guest guest_nice]
    # guest time is already counted inside user/nice
    return fields[7], sum(fields[:8])


def quietest(measure, attempts: int, steal_limit: float):
    """Run ``measure()`` until one run's CPU steal share is at most
    ``steal_limit``, at most ``attempts`` times. Returns the result of the
    run with the least steal, and ``(steal share, result)`` of every run
    in order."""
    tried = []
    for _ in range(attempts):
        s0, t0 = _cpu_counters()
        result = measure()
        s1, t1 = _cpu_counters()
        tried.append(((s1 - s0) / max(t1 - t0, 1), result))
        if tried[-1][0] <= steal_limit:
            break
    return min(tried, key=lambda x: x[0])[1], tried


def host_sample(interval_s: float = 0.25) -> dict:
    """Steal share of all CPU time over a short interval, and the
    1-minute load average."""
    s0, t0 = _cpu_counters()
    time.sleep(interval_s)
    s1, t1 = _cpu_counters()
    return {
        "steal_share": (s1 - s0) / max(t1 - t0, 1),
        "load_1m": os.getloadavg()[0],
    }


class HostContext:
    """Host conditions at the start and end of a run, plus the steal
    share over the whole run. Context for reading the metrics; not a
    metric itself."""

    def __init__(self):
        self.start = host_sample()
        self._counters = _cpu_counters()

    def finish(self) -> dict:
        s0, t0 = self._counters
        s1, t1 = _cpu_counters()
        return {
            "start": self.start,
            "end": host_sample(),
            "run_steal_share": (s1 - s0) / max(t1 - t0, 1),
        }
