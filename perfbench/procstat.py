"""CPU and resident memory of a process tree, read from /proc.

The benchmark's tree is its own Python driver, the Spark JVM it launches and
the JVM's Python workers. CPU includes reaped children (cutime/cstime), so a
worker that exits between two readings still counts against its parent.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> tuple[int, int, int]:
    """(ppid, cpu ticks incl. reaped children, rss pages) of one process."""
    with open(f"/proc/{pid}/stat", "rb") as f:
        data = f.read()
    # field 2 (comm) may hold spaces; everything after the last ')' is fixed
    rest = data[data.rindex(b")") + 2 :].split()
    return int(rest[1]), sum(int(x) for x in rest[11:15]), int(rest[21])


def tree() -> list[tuple[int, int, int]]:
    """(pid, cpu ticks, rss pages) of this process and all its descendants."""
    stats: dict[int, tuple[int, int, int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                stats[int(name)] = _stat(int(name))
            except (FileNotFoundError, ProcessLookupError, ValueError):
                continue  # exited while listing
    children: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in stats.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        if pid in stats:
            out.append((pid, stats[pid][1], stats[pid][2]))
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s() -> float:
    return sum(cpu for _, cpu, _ in tree()) / _TICK


def tree_rss_mb() -> float:
    return sum(rss for _, _, rss in tree()) * _PAGE / (1 << 20)


class RssSampler:
    """Samples the tree's summed RSS on a background thread while active.

    Summed RSS counts a vfork()ed child that has not exec()ed yet at its
    parent's full size, so single samples can spike to twice the JVM; the
    median of the samples is the figure to report."""

    def __init__(self, interval_s: float = 0.1):
        self.interval_s = interval_s
        self.samples_mb: list[float] = []
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _run(self) -> None:
        while not self._stop.is_set():
            self.samples_mb.append(tree_rss_mb())
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "RssSampler":
        self._stop.clear()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
