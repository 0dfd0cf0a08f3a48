"""Host evidence read from /proc: CPU count, steal, load, and the peak RSS
of this process tree (driver Python, the JVM and its Python workers)."""

from __future__ import annotations

import os
import threading

_PAGE = os.sysconf("SC_PAGE_SIZE")
_TICK = os.sysconf("SC_CLK_TCK")


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def steal_seconds() -> float:
    """Cumulative CPU steal of the host, all CPUs, in seconds."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / _TICK if len(fields) > 8 else 0.0


def loadavg() -> tuple[float, float, float]:
    with open("/proc/loadavg") as fh:
        a, b, c = fh.read().split()[:3]
    return float(a), float(b), float(c)


def _tree_rss_bytes(root: int) -> int:
    parents: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the command name may hold spaces: ppid is the 2nd field after ')'
        parents[int(entry)] = int(stat.rsplit(")", 1)[1].split()[1])
    members = {root}
    grew = True
    while grew:
        grew = False
        for pid, ppid in parents.items():
            if ppid in members and pid not in members:
                members.add(pid)
                grew = True
    total = 0
    for pid in members:
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1]) * _PAGE
        except OSError:
            continue
    return total


class RssSampler:
    """Samples the RSS of this process and all its descendants on a
    background thread; ``peak_mb`` is the largest sum seen."""

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        root = os.getpid()
        while not self._stop.is_set():
            self.peak_bytes = max(self.peak_bytes, _tree_rss_bytes(root))
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    @property
    def peak_mb(self) -> float:
        return self.peak_bytes / 2**20


class HostWindow:
    """Steal and load over one measured window."""

    def __init__(self):
        self.steal0 = steal_seconds()
        self.load0 = loadavg()

    def close(self) -> dict:
        return {
            "nproc": nproc(),
            "steal_s": round(steal_seconds() - self.steal0, 3),
            "loadavg_start": self.load0,
            "loadavg_end": loadavg(),
        }
