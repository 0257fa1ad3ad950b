"""Host-side readings from /proc: the memory of this process and its
descendants (the JVM and its Python workers), CPU steal and load."""

from __future__ import annotations

import os
import threading

PAGE = os.sysconf("SC_PAGE_SIZE")


def _process_table() -> dict[int, tuple[int, int]]:
    """pid -> (parent pid, resident bytes) for every readable process."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        fields = stat[stat.rindex(")") + 2:].split()
        out[int(name)] = (int(fields[1]), int(fields[21]) * PAGE)
    return out


def descendants(root: int) -> dict[int, int]:
    """pid -> resident bytes for ``root`` and every process below it."""
    table = _process_table()
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in table.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in table:
            out[pid] = table[pid][1]
            todo.extend(children.get(pid, ()))
    return out


def pss(pid: int) -> int:
    """Proportional set size of ``pid`` in bytes: its resident pages, each
    page shared with other processes counted as its share. Forked Python
    workers share most of their pages with the daemon they came from, so
    a sum of resident sizes would count those pages once per worker."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


class RssSampler:
    """Samples the process tree's total proportional set size every
    ``interval`` seconds on a daemon thread; ``peak`` is the largest."""

    def __init__(self, interval: float = 0.5):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, sum(pss(p) for p in descendants(me)))
            self._stop.wait(self.interval)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


def cpu_ticks() -> tuple[int, int]:
    """(all, steal) jiffies since boot, summed over CPUs."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return sum(vals), vals[7]


def steal_pct(before: tuple[int, int], after: tuple[int, int]) -> float:
    total = after[0] - before[0]
    return 100.0 * (after[1] - before[1]) / total if total > 0 else 0.0


def loadavg() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])
