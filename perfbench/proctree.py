"""``/proc`` accounting for one Spark driver's process tree.

The tree is the driver process, the JVM it launched (a direct child whose
``argv[0]`` is ``java``) and every descendant of that JVM (the
``pyspark.daemon`` and the Python workers it forks).  Other children of
the driver are not part of it, so work the benchmark does in helper
processes is never counted.

CPU is ``utime + stime + cutime + cstime`` per process: a Python worker
that exits mid-job is reaped by the daemon, so its CPU moves into the
daemon's ``cutime`` instead of vanishing from the sum.

:func:`become_subreaper` and :func:`stop_descendants` end a benchmark run
without leftovers: ``pyspark.daemon`` moves itself into a process group of
its own, so killing the driver's group does not reach it or its workers.
"""

from __future__ import annotations

import ctypes
import os
import signal
import threading
import time
from typing import Dict, List, Optional

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> Optional[List[str]]:
    """Fields of ``/proc/<pid>/stat`` after ``comm`` (index 0 = state)."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except (FileNotFoundError, ProcessLookupError):
        return None
    return raw[raw.rindex(")") + 2:].split()


def _argv0(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as fh:
            return fh.read().split(b"\0", 1)[0].decode(errors="replace")
    except (FileNotFoundError, ProcessLookupError):
        return ""


def _children() -> Dict[int, List[int]]:
    kids: Dict[int, List[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        st = _stat(int(name))
        if st is not None:
            kids.setdefault(int(st[1]), []).append(int(name))
    return kids


def _descendants(pid: int) -> List[int]:
    kids = _children()
    out: List[int] = []
    todo = list(kids.get(pid, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def become_subreaper() -> None:
    """Make orphaned descendants re-parent to this process (Linux
    ``PR_SET_CHILD_SUBREAPER``), so that :func:`stop_descendants` still
    finds and reaps them after their own parent has died."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(36, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def stop_descendants(timeout_s: float = 30.0) -> None:
    """SIGKILL every descendant of this process, whatever its process group
    or session, and reap each one.  Returns once this process has no child
    left, which (as a subreaper) means no descendant is left."""
    deadline = time.monotonic() + timeout_s
    while True:
        found = _descendants(os.getpid())
        for p in found:
            try:
                os.kill(p, signal.SIGKILL)
            except ProcessLookupError:
                pass
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            if not found:
                return
        if time.monotonic() > deadline:
            raise RuntimeError(f"descendants still running: {found}")
        time.sleep(0.02)


class ProcTree:
    """Driver + JVM + JVM descendants, re-discovered on every read (workers
    come and go during a job)."""

    def __init__(self, driver_pid: int):
        self.driver_pid = driver_pid

    def members(self) -> Dict[str, List[int]]:
        kids = _children()
        jvms = [
            p for p in kids.get(self.driver_pid, [])
            if os.path.basename(_argv0(p)) == "java"
        ]
        workers: List[int] = []
        todo = [c for j in jvms for c in kids.get(j, [])]
        while todo:
            p = todo.pop()
            workers.append(p)
            todo.extend(kids.get(p, []))
        return {"driver": [self.driver_pid], "jvm": jvms, "python": workers}

    def sample(self) -> Dict[str, float]:
        """CPU seconds and resident MB per role (driver / jvm / python),
        plus the totals ``cpu`` and ``rss_mb``."""
        out = dict.fromkeys(("driver", "jvm", "python", "rss_driver", "rss_jvm", "rss_python"), 0.0)
        for role, pids in self.members().items():
            for p in pids:
                st = _stat(p)
                if st is None:
                    continue
                out[role] += sum(int(x) for x in st[11:15]) / _TICK
                out["rss_" + role] += int(st[21]) * _PAGE / 2**20
        out["cpu"] = out["driver"] + out["jvm"] + out["python"]
        out["rss_mb"] = out["rss_driver"] + out["rss_jvm"] + out["rss_python"]
        return out


class PeakRss:
    """Background sampler of the tree's resident memory; ``with`` it around
    a job and read ``peak`` afterwards: the highest summed RSS (``rss_mb``)
    and each role's own highest RSS (``rss_jvm`` ...)."""

    KEYS = ("rss_mb", "rss_driver", "rss_jvm", "rss_python")

    def __init__(self, tree: ProcTree, interval_s: float = 0.05):
        self.tree, self.interval_s = tree, interval_s
        self.peak = dict.fromkeys(self.KEYS, 0.0)
        self._stop = threading.Event()
        self._thread: Optional[threading.Thread] = None

    def _take(self) -> None:
        smp = self.tree.sample()
        for k in self.KEYS:
            self.peak[k] = max(self.peak[k], smp[k])

    def _loop(self) -> None:
        while True:
            self._take()
            if self._stop.wait(self.interval_s):
                return

    def __enter__(self) -> "PeakRss":
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self._take()
