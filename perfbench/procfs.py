"""Readings from ``/proc`` (Linux): hypervisor steal, load average, and the
peak RSS and CPU time of a process tree; and the end of every process a run
started."""

from __future__ import annotations

import ctypes
import os
import signal
import threading
import time


def cpu_times() -> list[int] | None:
    """The aggregate ``cpu`` line of /proc/stat in clock ticks: user, nice,
    system, idle, iowait, irq, softirq, steal (guest time is already
    counted in user/nice)."""
    try:
        with open("/proc/stat") as f:
            first = f.readline().split()
    except OSError:
        return None
    return [int(x) for x in first[1:9]]


def steal_pct(before: list[int] | None, after: list[int] | None) -> float | None:
    """Share of all CPU time between two ``cpu_times`` readings that the
    hypervisor gave to other guests, in percent."""
    if before is None or after is None:
        return None
    delta = [b - a for a, b in zip(before, after)]
    total = sum(delta)
    return 100.0 * delta[7] / total if total > 0 else 0.0


def load1() -> float | None:
    """1-minute load average."""
    try:
        with open("/proc/loadavg") as f:
            return float(f.read().split()[0])
    except (OSError, ValueError, IndexError):
        return None


_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _procs() -> dict[int, tuple[int, str, int, int]]:
    """pid -> (ppid, command name, CPU ticks in user + system mode, resident
    pages) for every process in /proc (see proc(5), /proc/pid/stat)."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; fields resume after its ')'
        close = stat.rindex(")")
        rest = stat[close + 2:].split()
        out[int(name)] = (int(rest[1]), stat[stat.index("(") + 1:close],
                          int(rest[11]) + int(rest[12]), int(rest[21]))
    return out


class ProcTree:
    """Samples a process tree on a background thread while open: the peak
    resident set of ``root`` alone, of its Python descendants together, and
    of both, and the CPU time the whole tree used.

    Other descendants count for CPU but not for RSS: a JVM forks short-lived
    helpers (e.g. ``chmod`` for local file permissions), and a child between
    fork and exec reports its parent's whole RSS.

    ``with ProcTree(pid) as t: ...`` then read ``t.peak_rss_mb``,
    ``t.root_rss_mb``, ``t.python_rss_mb``, ``t.cpu_s`` and
    ``t.root_cpu_s``."""

    def __init__(self, root: int, interval_s: float = 0.02):
        self.root = root
        self.interval_s = interval_s
        self.peak_rss_mb = 0.0
        self.root_rss_mb = 0.0
        self.python_rss_mb = 0.0
        self._first: dict[int, int] = {}
        self._last: dict[int, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    @property
    def cpu_s(self) -> float:
        return sum(t - self._first.get(pid, 0)
                   for pid, t in self._last.items()) / _TICK

    @property
    def root_cpu_s(self) -> float:
        return (self._last.get(self.root, 0)
                - self._first.get(self.root, 0)) / _TICK

    def _sample(self) -> None:
        procs = _procs()
        kids: dict[int, list[int]] = {}
        for pid, (ppid, *_rest) in procs.items():
            kids.setdefault(ppid, []).append(pid)
        todo, root, python = [self.root], 0, 0
        while todo:
            pid = todo.pop()
            if pid not in procs:
                continue
            todo.extend(kids.get(pid, ()))
            _ppid, comm, ticks, rss = procs[pid]
            self._last[pid] = ticks
            if pid == self.root:
                root = rss
            elif comm.startswith("python"):
                python += rss
        mb = _PAGE / 2**20
        self.root_rss_mb = max(self.root_rss_mb, root * mb)
        self.python_rss_mb = max(self.python_rss_mb, python * mb)
        self.peak_rss_mb = max(self.peak_rss_mb, (root + python) * mb)

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            self._sample()

    def __enter__(self) -> ProcTree:
        self._sample()
        # processes alive at the start count from here, new ones from zero
        self._first = dict(self._last)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self._sample()


_PR_SET_CHILD_SUBREAPER = 36


def adopt_orphans() -> None:
    """Make this process the parent of every descendant whose own parent
    ends first (prctl(2) ``PR_SET_CHILD_SUBREAPER``), e.g. a Python worker
    that outlives the JVM which forked it, so ``end_children`` can wait for
    it too."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(_PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def end_children(grace_s: float = 30.0) -> None:
    """Wait until this process has no child left, reaping each one; kill
    the ones still running after ``grace_s`` seconds."""
    deadline = time.monotonic() + grace_s
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            return
        if time.monotonic() > deadline:
            me = os.getpid()
            for pid, (ppid, *_rest) in _procs().items():
                if ppid == me:
                    try:
                        os.kill(pid, signal.SIGKILL)
                    except ProcessLookupError:
                        pass
        time.sleep(0.05)
