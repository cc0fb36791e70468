"""CPU time and resident memory of this process tree, read from /proc.

The tree is the benchmark's own Python process, the Spark JVM it launches
and the Python workers the JVM forks. CPU time of a process that exits is
not lost: once its parent reaps it, the kernel adds it to the parent's
``cutime``/``cstime``, which are summed here with the live processes'
own ``utime``/``stime``.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")
_RSS_INTERVAL_S = 0.25


def _stat_fields(pid: str) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # the process exited between listing and reading
        return None
    # comm (field 2) may hold spaces; everything after its ')' is split.
    return raw[raw.rindex(")") + 2 :].split()


def _tree(root: int) -> list[str]:
    children: dict[str, list[str]] = {}
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            fields = _stat_fields(pid)
            if fields is not None:
                children.setdefault(fields[1], []).append(pid)
    out, todo = [], [str(root)]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s() -> float:
    """User + system CPU-seconds of the tree, reaped children included."""
    total = 0
    for pid in _tree(os.getpid()):
        fields = _stat_fields(pid)
        if fields is not None:
            # utime, stime, cutime, cstime are stat fields 14-17.
            total += sum(int(v) for v in fields[11:15])
    return total / _TICK


def host_steal() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs since boot: on a virtual machine,
    the share of time the hypervisor ran someone else on our CPUs."""
    with open("/proc/stat") as f:
        ticks = [int(v) for v in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


def tree_rss_bytes() -> int:
    total = 0
    for pid in _tree(os.getpid()):
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * _PAGE
        except OSError:
            continue
    return total


class PeakRss:
    """Samples the tree's summed RSS every 0.25 s on a background thread;
    ``peak`` is the largest sample, taken at least once at start and once
    at stop."""

    def __init__(self):
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        self.peak = max(self.peak, tree_rss_bytes())

    def _run(self) -> None:
        while not self._stop.wait(_RSS_INTERVAL_S):
            self._sample()

    def __enter__(self) -> PeakRss:
        self._sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self._sample()
