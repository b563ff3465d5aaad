"""Run context from /proc: foreign CPU load and the process tree's RSS.

Foreign cores are measured the way ``bench.py`` does it: busy jiffies of
the whole host (steal included) minus those of this process tree (the
benchmark's Python process, the Spark JVM and its Python workers, found
by a parent-pid walk), per second of wall. Peak RSS is sampled over the same tree by a background thread.

The benchmark's process is made a child subreaper, so a process that its
children leave behind (a Python worker whose Spark JVM has exited) stays
in the tree, where ``descendants()`` sees it until it has ended.
"""

from __future__ import annotations

import ctypes
import os
import threading
import time

_HZ = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _tree(root: int) -> dict[int, list[str]]:
    """pid -> /proc/<pid>/stat fields after the command name, for root
    and all its descendants."""
    fields, ppid = {}, {}
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat", "rb") as f:
                s = f.read().decode("latin1")
        except OSError:
            continue
        fl = s[s.rindex(")") + 2:].split()
        fields[int(pid)] = fl
        ppid[int(pid)] = int(fl[1])
    mine = {root}
    grew = True
    while grew:
        grew = False
        for p, pp in ppid.items():
            if pp in mine and p not in mine:
                mine.add(p)
                grew = True
    return {p: fields[p] for p in mine if p in fields}


def cpu_sample() -> tuple[int, int, float]:
    """(busy jiffies of the host, busy jiffies of this tree, wall time).
    A tree's jiffies include its reaped children (cutime + cstime)."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    busy_all = v[0] + v[1] + v[2] + v[5] + v[6] + (v[7] if len(v) > 7 else 0)
    ours = sum(int(fl[11]) + int(fl[12]) + int(fl[13]) + int(fl[14])
               for fl in _tree(os.getpid()).values())
    return busy_all, ours, time.time()


def foreign_cores(a, b) -> float:
    """Cores busy outside this tree between two cpu_sample() readings."""
    return max(0.0, ((b[0] - a[0]) - (b[1] - a[1])) / _HZ / max(b[2] - a[2], 1e-6))


def tree_cpu_s(a, b) -> float:
    """CPU seconds this tree used between two cpu_sample() readings."""
    return (b[1] - a[1]) / _HZ


def descendants() -> list[int]:
    """Descendants of this process, including exited ones not yet reaped."""
    return [p for p in _tree(os.getpid()) if p != os.getpid()]


def become_subreaper() -> None:
    """Have orphaned descendants re-parented to this process instead of
    to init (Linux prctl PR_SET_CHILD_SUBREAPER)."""
    prctl = ctypes.CDLL(None, use_errno=True).prctl
    prctl.argtypes = [ctypes.c_int] + [ctypes.c_ulong] * 4
    prctl.restype = ctypes.c_int
    if prctl(36, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def reap() -> None:
    """Collect the exit status of every child that has ended."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def tree_rss_bytes() -> int:
    """Resident bytes of this process and all its descendants."""
    return sum(int(fl[21]) for fl in _tree(os.getpid()).values()) * _PAGE


class PeakRss:
    """Samples the tree's RSS every ``period`` seconds until closed."""

    def __init__(self, period: float = 0.2):
        self.peak = tree_rss_bytes()
        self._period = period
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    def _run(self) -> None:
        while not self._stop.wait(self._period):
            self.peak = max(self.peak, tree_rss_bytes())

    def close(self) -> int:
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak = max(self.peak, tree_rss_bytes())
        return self.peak
