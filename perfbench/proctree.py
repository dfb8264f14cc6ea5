"""Process-tree CPU and memory from ``/proc`` (stdlib only).

The crawl runs in three kinds of process: this Python driver, the JVM it
launches, and the Python workers the JVM forks for Arrow UDFs. A
wall-clock timer sees none of the work that background threads and
workers do in parallel; summing the tree's CPU counters does.

CPU of a tree at one instant is the sum, over every live member, of
``utime + stime + cutime + cstime``. Workers that exit are reaped by the
PySpark daemon, which is itself in the tree, so their CPU moves into the
daemon's ``cutime`` and is never lost or counted twice.
"""

from __future__ import annotations

import os
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")
# RSS sampling period; spikes shorter than this are missed, but the JVM
# heap, which dominates, changes slowly
_RSS_INTERVAL_S = 0.2


def stat_fields(pid: int) -> list | None:
    """Fields of ``/proc/<pid>/stat`` after the command name, so index
    0 is the state, 1 the parent pid and 3 the session id; None if the
    process is gone."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    # the command name sits in parentheses and may hold spaces
    return raw[raw.rindex(")") + 2:].split()


def tree_pids(root: int) -> list:
    """``root`` and all its live descendants."""
    children: dict = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        f = stat_fields(int(name))
        if f is not None:
            children.setdefault(int(f[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int) -> float:
    """CPU seconds the tree under ``root`` has used so far."""
    ticks = 0
    for pid in tree_pids(root):
        f = stat_fields(pid)
        if f is not None:
            # fields 14-17 of stat(5), counted from 1 with pid and comm
            ticks += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
    return ticks / _TICK


def tree_rss_bytes(root: int) -> int:
    total = 0
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1]) * _PAGE
        except OSError:
            pass
    return total


def process_age_s(pid: int) -> float:
    """Seconds since ``pid`` started, from its boot-relative start time."""
    start_ticks = int(stat_fields(pid)[19])
    return time.clock_gettime(time.CLOCK_BOOTTIME) - start_ticks / _TICK


class PeakRss:
    """Samples the tree's resident memory on a thread; ``stop`` returns
    the peak in bytes."""

    def __init__(self, root: int):
        self._root = root
        self._peak = tree_rss_bytes(root)
        self._done = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    def _run(self) -> None:
        while not self._done.wait(_RSS_INTERVAL_S):
            self._peak = max(self._peak, tree_rss_bytes(self._root))

    def stop(self) -> int:
        self._done.set()
        self._thread.join()
        return max(self._peak, tree_rss_bytes(self._root))
