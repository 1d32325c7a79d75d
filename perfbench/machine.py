"""Machine-context record kept beside each run's metrics.

Lets a reader tell a loaded machine from a slow change: core count, load
average at start and end, CPU steal over the run and a fixed single-thread
calibration probe (the same loop as ``bench.py``'s ``_cpu_calibration``).
"""

from __future__ import annotations

import os
import time

_TICKS = os.sysconf("SC_CLK_TCK")


def session_cpu_s() -> float:
    """CPU seconds (user + system) of every live process in the caller's
    session, each with its reaped children: the benchmark process, the
    Spark launcher and driver JVM it starts, and the JVM's Python workers.
    Time spent waiting for a CPU is not counted, so this follows the work
    done far more closely than wall time does when the host is loaded."""
    sid = os.getsid(0)
    total = 0
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                stat = f.read()
        except OSError:  # exited while we looked
            continue
        fields = stat[stat.rindex(")") + 2:].split()
        if int(fields[3]) == sid:
            # utime, stime, cutime, cstime
            total += sum(int(x) for x in fields[11:15])
    return total / _TICKS


def _cpu_times() -> "list[int]":
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def calibration_mops(seconds: float = 0.2) -> float:
    """Single-thread Python loop rate, in millions of ops per second."""
    t0 = time.perf_counter()
    x, n = 0, 0
    while time.perf_counter() - t0 < seconds:
        for i in range(10000):
            x += i * i
        n += 10000
    return n / (time.perf_counter() - t0) / 1e6


class MachineContext:
    def __init__(self):
        self.nproc = len(os.sched_getaffinity(0))
        self.load_start = os.getloadavg()
        self.calib_start = calibration_mops()
        self._cpu0 = _cpu_times()

    def finish(self) -> dict:
        d = [b - a for a, b in zip(self._cpu0, _cpu_times())]
        return {
            "nproc": self.nproc,
            "loadavg_start": [round(x, 2) for x in self.load_start],
            "loadavg_end": [round(x, 2) for x in os.getloadavg()],
            "steal_pct": round(100.0 * d[7] / max(sum(d), 1), 2),
            "calib_mops_start": round(self.calib_start, 2),
            "calib_mops_end": round(calibration_mops(), 2),
        }
