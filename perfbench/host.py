"""Host state recorded beside every sample.

``busy_loop_seconds`` times a fixed pure-Python loop: on an idle core it
reads the same every time, so a slow reading next to a slow sample says
the host, not the code, was slow. ``steal_share`` says how much of the
CPU time between two ``cpu_ticks`` readings the hypervisor gave away. ``RssSampler`` follows the resident
memory of this process and everything it started (the JVM and its Python
workers) and keeps the peak of their sum.
"""

from __future__ import annotations

import os
import threading
import time

_BUSY_ITERATIONS = 300_000


def busy_loop_seconds() -> float:
    t0 = time.perf_counter()
    acc = 0
    for i in range(_BUSY_ITERATIONS):
        acc += i * i % 7
    return time.perf_counter() - t0


def loadavg() -> float:
    return os.getloadavg()[0]


def cpu_ticks() -> tuple:
    """(steal, total) CPU ticks since boot from ``/proc/stat``; (0, 0)
    where it is unreadable. Steal is time the hypervisor gave this
    machine's CPUs to someone else."""
    try:
        with open("/proc/stat") as fh:
            fields = [int(v) for v in fh.readline().split()[1:]]
    except (OSError, ValueError):
        return 0, 0
    return (fields[7] if len(fields) > 7 else 0), sum(fields[:8])


def steal_share(before: tuple, after: tuple) -> float:
    total = after[1] - before[1]
    return (after[0] - before[0]) / total if total > 0 else 0.0


def _tree_rss_bytes(root: int) -> int:
    parents = {}
    rss = {}
    page = os.sysconf("SC_PAGE_SIZE")
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # fields after the parenthesised command: state ppid ... rss is 24th
        fields = stat[stat.rfind(")") + 2 :].split()
        pid = int(entry)
        parents[pid] = int(fields[1])
        rss[pid] = int(fields[21]) * page
    members = {root}
    grew = True
    while grew:
        grew = False
        for pid, ppid in parents.items():
            if ppid in members and pid not in members:
                members.add(pid)
                grew = True
    return sum(rss.get(p, 0) for p in members)


class RssSampler:
    """Samples the process tree's summed RSS every ``interval`` seconds on
    a daemon thread until ``stop``; ``peak_mb`` is the largest sum seen."""

    def __init__(self, interval: float = 0.5) -> None:
        self.interval = interval
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        root = os.getpid()
        while not self._stop.is_set():
            self.peak_bytes = max(self.peak_bytes, _tree_rss_bytes(root))
            self._stop.wait(self.interval)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    @property
    def peak_mb(self) -> float:
        return self.peak_bytes / 2**20
