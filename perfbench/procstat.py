"""Process-tree CPU and memory from ``/proc``, plus the host-weather probe.

The tree is this process and every descendant: the JVM that PySpark
launches and the Python workers that the JVM forks.
"""

from __future__ import annotations

import os
import threading
import time
from typing import NamedTuple

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


class Proc(NamedTuple):
    comm: str
    ppid: int
    cpu_s: float    # user + system CPU of the process and its reaped children
    rss: int        # resident bytes


def _read(pid: int) -> Proc | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:                      # process ended while scanning
        return None
    # fields after the parenthesised command name; index 0 is the state
    comm = raw[raw.index("(") + 1:raw.rindex(")")]
    f = raw[raw.rindex(")") + 2:].split()
    return Proc(comm, int(f[1]), sum(int(v) for v in f[11:15]) / _TICK,
                int(f[21]) * _PAGE)


def tree() -> dict[int, Proc]:
    """{pid: Proc} for this process and all its descendants."""
    procs, children = {}, {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            p = _read(int(name))
            if p is not None:
                procs[int(name)] = p
                children.setdefault(p.ppid, []).append(int(name))
    out, todo = {}, [os.getpid()]
    while todo:
        pid = todo.pop()
        if pid in procs:
            out[pid] = procs[pid]
            todo += children.get(pid, [])
    return out


def tree_cpu_delta(before: dict, after: dict) -> float:
    """CPU seconds the tree used between two ``tree()`` snapshots; a
    process born in between counts from zero."""
    return sum(p.cpu_s - (before[pid].cpu_s if pid in before else 0.0)
               for pid, p in after.items())


def resident(procs: dict[int, Proc]) -> dict[int, int]:
    """Resident bytes per process, leaving out the helpers the JVM spawns
    (anything but the Python worker daemon): until they exec they share
    the JVM's address space and report its whole resident set; after it
    they are small and short-lived."""
    return {pid: p.rss for pid, p in procs.items()
            if not (p.ppid in procs and procs[p.ppid].comm == "java"
                    and not p.comm.startswith("python"))}


def _thread_cpu_s() -> float:
    """User + system CPU seconds of the calling thread."""
    with open("/proc/thread-self/stat") as fh:
        raw = fh.read()
    f = raw[raw.rindex(")") + 2:].split()
    return (int(f[11]) + int(f[12])) / _TICK


class PeakRss:
    """Background sampler of the tree's summed resident set, every 50 ms.
    Keeps the per-process split of the highest sample, to explain a high
    peak, and its own CPU seconds (``cpu_s``), which are part of this
    process's CPU and so must be taken out of the tree's."""

    def __init__(self) -> None:
        self.peak = 0
        self.cpu_s = 0.0
        self.at_peak: dict[str, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            procs = tree()
            per_pid = resident(procs)
            if sum(per_pid.values()) > self.peak:
                self.peak = sum(per_pid.values())
                self.at_peak = {f"{pid}:{procs[pid].comm}": rss
                                for pid, rss in per_pid.items()}
            self._stop.wait(0.05)
        self.cpu_s = _thread_cpu_s()

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


def fault_ms(mb: int = 32) -> float:
    """Host weather: wall ms to first-touch a fresh ``mb`` MiB mapping.
    Page-fault service time is this shared host's main noise source, so
    every timed sample carries this tag."""
    t0 = time.perf_counter()
    fresh = bytearray(mb << 20)
    fresh[::4096] = b"\x01" * len(fresh[::4096])
    return (time.perf_counter() - t0) * 1000
