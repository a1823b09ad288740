"""Peak resident memory of a whole process tree, sampled from /proc.

The tree is the benchmark's own Python driver and everything below it:
the driver JVM that pyspark launches, and the Python daemon and worker
processes the JVM forks for Arrow UDFs.

A plain RSS sum counts a page once per process that shares it. Two
kinds of sharing matter here:

- the JVM forks short-lived children that exec a helper; until the
  exec, the child maps every page of the JVM's heap. Those children are
  skipped, or the peak would depend on whether a sample caught a fork;
- pyspark workers are forked from the daemon and share its pages
  copy-on-write. Python processes are counted by their proportional set
  size (``Pss``: a page shared by n processes counts 1/n in each).

The JVM itself is counted by RSS from ``statm``: reading its
``smaps_rollup`` walks a gigabyte of page tables under the JVM's mmap
lock on every sample, which would slow the program being measured.
"""

from __future__ import annotations

import os
import threading

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _parents() -> dict[int, int]:
    out = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:  # the process exited between listdir and open
            continue
        # comm (field 2) may contain spaces; ppid is 2 fields after ')'
        out[int(entry)] = int(stat[stat.rindex(")") + 2 :].split()[1])
    return out


def tree_pids(root: int, parents: dict[int, int] | None = None) -> list[int]:
    children: dict[int, list[int]] = {}
    for pid, ppid in (parents or _parents()).items():
        children.setdefault(ppid, []).append(pid)
    pids, stack = [], [root]
    while stack:
        pid = stack.pop()
        pids.append(pid)
        stack.extend(children.get(pid, ()))
    return pids


def _pss_bytes(pid: int) -> int:
    with open(f"/proc/{pid}/smaps_rollup") as f:
        for line in f:
            if line.startswith("Pss:"):
                return int(line.split()[1]) * 1024
    return 0


def _statm_rss_bytes(pid: int) -> int:
    with open(f"/proc/{pid}/statm") as f:
        return int(f.read().split()[1]) * _PAGE


def tree_rss_bytes(root: int) -> int:
    parents = _parents()
    total = 0
    for pid in tree_pids(root, parents):
        try:
            exe = os.readlink(f"/proc/{pid}/exe")
            if os.path.basename(exe).startswith("python"):
                total += _pss_bytes(pid)
            elif pid == root or os.readlink(f"/proc/{parents[pid]}/exe") != exe:
                total += _statm_rss_bytes(pid)
            # else: a fork of the JVM that has not exec'd yet
        except OSError:  # exited, or a zombie without an address space
            continue
    return total


class PeakRssSampler:
    """Samples the tree's memory (see the module docstring) every ``interval`` seconds on a
    daemon thread until :meth:`stop`; ``peak_bytes`` is the maximum."""

    def __init__(self, root: int, interval: float = 0.05) -> None:
        self.root = root
        self.interval = interval
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while True:
            self.peak_bytes = max(self.peak_bytes, tree_rss_bytes(self.root))
            if self._stop.wait(self.interval):
                return

    def start(self) -> "PeakRssSampler":
        self._thread.start()
        return self

    def stop(self) -> int:
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak_bytes = max(self.peak_bytes, tree_rss_bytes(self.root))
        return self.peak_bytes
