"""Process-tree resident memory from ``/proc`` (no psutil needed).

A Spark run is three kinds of process: the Python driver, the JVM it
launches, and the Python workers the JVM forks. ``ru_maxrss`` of the
driver sees only the first, so the sampler walks the tree under the
driver every ``INTERVAL_S`` seconds and keeps the largest summed RSS.
Pages shared between forked workers are counted once per process, as
``ps`` would count them.
"""

from __future__ import annotations

import os
import threading

_PAGE = os.sysconf("SC_PAGE_SIZE")
INTERVAL_S = 0.2


def _ppid_map() -> dict[int, int]:
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as f:
                stat = f.read()
        except OSError:  # the process ended between listdir and open
            continue
        # the command name may hold spaces; fields resume after its ')'
        fields = stat[stat.rindex(b")") + 2 :].split()
        out[int(name)] = int(fields[1])
    return out


def _tree(root: int) -> list[tuple[int, int]]:
    """(pid, parent pid) of every live process below ``root``."""
    children: dict[int, list[int]] = {}
    for pid, ppid in _ppid_map().items():
        children.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        parent = todo.pop()
        for child in children.get(parent, []):
            out.append((child, parent))
            todo.append(child)
    return out


def descendants(root: int) -> list[int]:
    """Every live process below ``root`` (not ``root`` itself)."""
    return [pid for pid, _ in _tree(root)]


def _statm(pid: int) -> list[int] | None:
    try:
        with open(f"/proc/{pid}/statm", "rb") as f:
            return [int(x) for x in f.read().split()]
    except OSError:
        return None


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return "?"


def tree_rss_bytes(root: int) -> dict[str, int]:
    """RSS of every process in the tree, summed per command name.

    A child between ``vfork``/``posix_spawn`` and ``exec`` shares its
    parent's address space; the JVM starts the Python daemon and
    ``chmod`` that way. Its RSS is the parent's memory, not its own, so
    a child whose address-space size equals its parent's counts zero.
    (The size, not the RSS: the RSS of the shared space can change
    between the two reads.)"""
    out: dict[str, int] = {}
    procs = [(root, None)] + _tree(root)
    statm = {pid: _statm(pid) for pid, _ in procs}
    for pid, parent in procs:
        mem = statm[pid]
        pmem = statm.get(parent)
        if mem is None or (pmem is not None and mem[0] == pmem[0]):
            continue
        comm = _comm(pid)
        out[comm] = out.get(comm, 0) + mem[1] * _PAGE
    return out


class TreeRssSampler:
    """Background thread recording the peak RSS of this process's tree."""

    def __init__(self):
        self.peak_bytes = 0
        # per command name (java, python3) at the moment of the peak
        self.peak_split: dict[str, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while True:
            split = tree_rss_bytes(os.getpid())
            if sum(split.values()) > self.peak_bytes:
                self.peak_bytes, self.peak_split = sum(split.values()), split
            if self._stop.wait(INTERVAL_S):
                return

    def __enter__(self) -> TreeRssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()

    @property
    def peak_mb(self) -> float:
        return self.peak_bytes / 2**20
