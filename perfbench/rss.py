"""Peak resident memory of a process tree, sampled from /proc."""

from __future__ import annotations

import os
import threading

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _tree_rss_bytes(root: int) -> int:
    children: dict[int, list[int]] = {}
    statm: dict[int, str] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", encoding="ascii") as fh:
                stat = fh.read()
            with open(f"/proc/{entry}/statm", encoding="ascii") as fh:
                statm[int(entry)] = fh.read()
        except OSError:
            continue  # the process ended between listing and reading
        # The command name in parentheses may hold spaces: split after it.
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    total, todo = 0, [(root, None)]
    while todo:
        pid, parent = todo.pop()
        mem = statm.get(pid)
        # A child whose counters equal its parent's shares the parent's
        # address space: the JVM's spawn of a helper, caught before exec.
        if mem is not None and mem != statm.get(parent):
            total += int(mem.split()[1]) * _PAGE
        todo.extend((child, pid) for child in children.get(pid, ()))
    return total


class PeakRss:
    """Sample the RSS of this process and all its descendants (the JVM
    and the Python workers) every ``interval`` seconds in a thread."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        root = os.getpid()
        while True:
            self.peak = max(self.peak, _tree_rss_bytes(root))
            if self._stop.wait(self.interval):
                return

    def __enter__(self) -> PeakRss:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
