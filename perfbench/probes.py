"""Memory and session-hygiene probes.

``RssSampler`` samples the resident memory of this process and all of
its descendants (the JVM that spark-submit starts, and the Python
workers the JVM forks) from ``/proc`` on a background thread.
``jvm_storage`` reads what the JVM still holds in persistent RDDs.
"""

from __future__ import annotations

import os
import threading

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:  # the process ended while we listed it
            continue
        # the command name may hold spaces; fields resume after ')'
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _exe(pid: int) -> str:
    try:
        return os.readlink(f"/proc/{pid}/exe")
    except OSError:
        return ""


def tree_rss(root: int) -> tuple[int, list[tuple[str, int]]]:
    """(resident bytes, [(command, resident bytes)] per live process)
    of ``root`` and its descendants.

    A child of the JVM that still runs the JVM's executable is a fork
    that has not exec'ed yet (the JVM spawns ``chmod`` on every file it
    writes). It shares every page with the JVM, so counting it would
    count the JVM twice; it is skipped."""
    kids = _children_map()
    procs, todo = [], [root]
    while todo:
        pid = todo.pop()
        exe = _exe(pid)
        for kid in kids.get(pid, ()):
            if not (os.path.basename(exe) == "java" and _exe(kid) == exe):
                todo.append(kid)
        try:
            with open(f"/proc/{pid}/statm") as f:
                rss = int(f.read().split()[1]) * _PAGE
            with open(f"/proc/{pid}/comm") as f:
                procs.append((f.read().strip(), rss))
        except OSError:  # the process ended while we walked the tree
            pass
    return sum(r for _, r in procs), procs


class RssSampler:
    """Peak resident set of the process tree inside the ``with`` block,
    and the MB of each process at that peak."""

    def __init__(self, interval_s: float = 0.05):
        self.interval_s = interval_s
        self.peak_bytes = 0
        self.peak_procs: list[tuple[str, int]] = []
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        pid = os.getpid()
        while True:
            rss, procs = tree_rss(pid)
            if rss > self.peak_bytes:
                self.peak_bytes = rss
                self.peak_procs = sorted((round(b / 2**20), name) for name, b in procs)
            if self._stop.wait(self.interval_s):
                return

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


def jvm_storage(spark) -> tuple[int, float]:
    """(persistent RDD count, MB they hold in memory and on disk)."""
    sc = spark.sparkContext
    n = sc._jsc.getPersistentRDDs().size()
    infos = sc._jsc.sc().getRDDStorageInfo()
    held = sum(i.memSize() + i.diskSize() for i in infos)
    return n, held / 2**20
