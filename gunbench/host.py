"""Host-noise meters: load average and external CPU beside each op.

External CPU is the machine's busy time (``/proc/stat``) minus the busy
time of this process and all its descendants (the Spark JVM and its
Python workers), in core-seconds: the meter of the repo's ``bench.py``,
imported from there.  An op that ran beside more than ``EXT_CORES_MAX``
external cores (core-seconds per wall second) is *dirty*, the same rule
``bench.py`` applies; each workload states what it does with a dirty op.
"""

from __future__ import annotations

import os

from bench import EXT_CORES_MAX, _subtree_jiffies, _total_busy_jiffies

_HZ = os.sysconf("SC_CLK_TCK")


def loadavg_1m() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


class ExtMeter:
    """External core-seconds over the ops it brackets: per op, and in
    total over the run."""

    def __init__(self):
        self.ext_core_s = 0.0
        self.dirty_ops = 0
        self._mark: tuple[int, int] | None = None

    def start(self) -> None:
        self._mark = (_total_busy_jiffies(), _subtree_jiffies())

    def stop(self) -> float:
        """External core-seconds since :meth:`start`."""
        busy0, own0 = self._mark
        ext = max((_total_busy_jiffies() - busy0) - (_subtree_jiffies() - own0), 0) / _HZ
        self.ext_core_s += ext
        return ext

    def dirty(self, ext_core_s: float, wall_s: float) -> bool:
        bad = ext_core_s > EXT_CORES_MAX * wall_s
        self.dirty_ops += bad
        return bad
