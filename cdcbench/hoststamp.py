"""Host-noise stamp and peak-memory sampling for one benchmark run.

The foreign-CPU figure reuses ``bench.py``'s ``/proc/stat``
accounting: (system busy jiffies) − (this process tree's jiffies),
averaged over the run.  A run above ``bench.FOREIGN_CORES_MAX``
foreign cores is flagged ``polluted`` and kept in the output.
"""

from __future__ import annotations

import os
import threading
import time

from bench import FOREIGN_CORES_MAX, _HZ, _busy_jiffies, _subtree_jiffies


class HostStamp:
    def __init__(self):
        self.t0 = time.time()
        self.load0 = os.getloadavg()
        self.busy0 = _busy_jiffies()
        self.own0 = _subtree_jiffies()

    def finish(self) -> dict:
        wall = max(time.time() - self.t0, 1e-9)
        foreign = max(
            0, (_busy_jiffies() - self.busy0) - (_subtree_jiffies() - self.own0)
        ) / _HZ / wall
        return {
            "nproc": os.cpu_count(),
            "loadavg_start": [round(v, 2) for v in self.load0],
            "loadavg_end": [round(v, 2) for v in os.getloadavg()],
            "foreign_cores_avg": round(foreign, 3),
            "polluted": foreign > FOREIGN_CORES_MAX,
        }


def _pss_bytes(pid: int) -> int:
    """Proportional set size: shared pages are split between the
    processes that map them, so a forked Python worker does not count
    its parent's pages twice."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


def descendants() -> list[int]:
    """PIDs of this process and all its descendants (the Spark JVM
    and the Python workers)."""
    parent: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat", "rb") as f:
                s = f.read().decode("ascii", "replace")
        except OSError:
            continue
        parent[int(d)] = int(s[s.rfind(")") + 2:].split()[1])
    kids: dict[int, list[int]] = {}
    for p, pp in parent.items():
        kids.setdefault(pp, []).append(p)
    out, stack = [], [os.getpid()]
    while stack:
        p = stack.pop()
        out.append(p)
        stack.extend(kids.get(p, []))
    return out


def running(pid: int) -> bool:
    """True while ``pid`` exists and is not a zombie (an orphaned
    worker's zombie waits on a reaper that is not ours)."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            s = f.read().decode("ascii", "replace")
    except OSError:
        return False
    return s[s.rfind(")") + 2] != "Z"


def _kind(pid: int) -> str:
    """``jvm``, ``driver`` (this process) or ``workers`` (Python)."""
    if pid == os.getpid():
        return "driver"
    try:
        with open(f"/proc/{pid}/comm") as f:
            return "jvm" if f.read().strip() == "java" else "workers"
    except OSError:
        return "workers"


def _tree_mem_bytes() -> dict[str, int]:
    out = {"driver": 0, "jvm": 0, "workers": 0}
    for p in descendants():
        out[_kind(p)] += _pss_bytes(p)
    return out


class MemSampler:
    """Samples the process tree's memory (PSS) every ``period``
    seconds on a daemon thread; ``stop()`` joins it and returns the
    peak in MB."""

    def __init__(self, period: float = 0.25):
        self.peak = 0
        self.at_peak: dict[str, int] = {}
        self.kind_peak: dict[str, int] = {}
        self._sample()
        self._stop = threading.Event()
        self._th = threading.Thread(target=self._run, args=(period,), daemon=True)
        self._th.start()

    def _sample(self) -> None:
        by = _tree_mem_bytes()
        total = sum(by.values())
        if total > self.peak:
            self.peak, self.at_peak = total, by
        for k, v in by.items():
            self.kind_peak[k] = max(self.kind_peak.get(k, 0), v)

    def _run(self, period: float) -> None:
        while not self._stop.wait(period):
            self._sample()

    def stop(self) -> float:
        self._stop.set()
        self._th.join()
        self._sample()
        return self.peak / 1e6

    def breakdown(self) -> dict:
        """Per-kind PSS (MB) at the peak, and each kind's own peak."""
        mb = lambda d: {k: round(v / 1e6, 1) for k, v in d.items()}
        return {"at_peak": mb(self.at_peak), "kind_peak": mb(self.kind_peak)}
