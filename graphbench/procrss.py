"""Peak resident memory and CPU time of a whole process tree, read from
``/proc``.

The benchmark's own Python process starts the Spark JVM, which starts the
Python workers; the sum over that tree is what the machine pays for."""

from __future__ import annotations

import os
import threading

_PAGE = os.sysconf("SC_PAGE_SIZE")
_TICK = os.sysconf("SC_CLK_TCK")


def _children_map() -> dict:
    kids: dict = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
        except OSError:  # the process ended while we looked
            continue
        # the command name is parenthesised and may hold spaces
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def tree_pids(root: int) -> list:
    kids = _children_map()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def tree_rss_bytes(root: int) -> int:
    total = 0
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1]) * _PAGE
        except OSError:
            continue
    return total


#: thread names (as /proc truncates them) of the JVM's JIT compilers
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def _stat_fields(path: str) -> tuple:
    """(command name, fields after it) of a /proc stat file."""
    with open(path) as fh:
        stat = fh.read()
    close = stat.rindex(")")
    return stat[stat.index("(") + 1:close], stat[close + 2:].split()


def tree_cpu_s(root: int, skip_jit: bool = False) -> float:
    """User plus system CPU seconds of the tree, including reaped children.
    Time the hypervisor steals from the machine is not in it. With
    ``skip_jit`` the JVM's JIT compiler threads are left out: compiling
    is warm-up work that runs for minutes after start, whose CPU would
    otherwise land on whichever requests it overlaps."""
    ticks = 0
    for pid in tree_pids(root):
        try:
            _, fields = _stat_fields(f"/proc/{pid}/stat")
            ticks += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
            if not skip_jit:
                continue
            for tid in os.listdir(f"/proc/{pid}/task"):
                name, tf = _stat_fields(f"/proc/{pid}/task/{tid}/stat")
                if name.startswith(JIT_THREADS):
                    ticks -= int(tf[11]) + int(tf[12])
        except OSError:  # the process or thread ended while we looked
            continue
    return ticks / _TICK


class PeakRss:
    """Samples the tree under ``root`` every ``interval`` seconds on a
    daemon thread between ``start()`` and ``stop()``."""

    # a sample walks all of /proc (a few ms of CPU) inside the measured
    # tree, so it is kept rare
    def __init__(self, root: int | None = None, interval: float = 0.5):
        self.root = os.getpid() if root is None else root
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="peak-rss", daemon=True)

    def _sample(self) -> None:
        self.peak = max(self.peak, tree_rss_bytes(self.root))

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            self._sample()

    def start(self) -> "PeakRss":
        self._sample()
        self._thread.start()
        return self

    def stop(self) -> int:
        self._stop.set()
        self._thread.join(timeout=10)
        self._sample()
        return self.peak
