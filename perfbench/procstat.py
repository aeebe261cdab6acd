"""CPU time and memory of this process and all its descendants, from /proc.

The benchmark's process tree is the Python driver, the JVM it launches
and the Python workers the JVM forks.  CPU time counts each live process's
user+system time plus the time of children it has already reaped, so
workers that exit between two readings are still counted by their parent.
Memory is the summed proportional set size (PSS): forked workers share
most of their pages with the daemon they fork from, and summed RSS would
count those pages once per worker.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    # the command name is parenthesised and may contain spaces
    return raw[raw.rindex(")") + 2:].split()


def tree_pids(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                children.setdefault(int(st[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int) -> float:
    """user + system + reaped children's user + system, in seconds."""
    total = 0
    for pid in tree_pids(root):
        st = _stat(pid)
        if st is not None:
            # fields 14-17 of /proc/pid/stat, offset by the 2 stripped fields
            total += sum(int(v) for v in st[11:15])
    return total / _TICK


def _pss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree_pss_mb(root: int) -> float:
    return sum(_pss_kb(pid) for pid in tree_pids(root)) / 1024


class PssSampler:
    """Background sampler of the tree's summed PSS; ``peak_mb`` is the
    largest sum seen between ``start()`` and ``stop()``."""

    def __init__(self, root: int, period_s: float = 0.5):
        self.root = root
        self.period_s = period_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while True:
            self.peak_mb = max(self.peak_mb, tree_pss_mb(self.root))
            if self._stop.wait(self.period_s):
                return

    def start(self) -> "PssSampler":
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak_mb = max(self.peak_mb, tree_pss_mb(self.root))
        return self.peak_mb
