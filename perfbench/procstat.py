"""CPU time and resident memory of this process and its descendants.

The program under test runs in three kinds of process: this Python
driver, the Spark JVM it launches, and the Python workers the JVM forks.
All of them are descendants of this process, so ``/proc`` gives the
whole tree's CPU (utime + stime, plus the cutime + cstime of children
already reaped by a tree member) and resident memory. The Python
processes' memory is their proportional set size (PSS, ``smaps_rollup``):
a page shared by k processes counts 1/k in each, so the workers forked
from one daemon are not counted several times over, as summed RSS
would. The JVM shares no pages with them, so its PSS is its RSS, which
is read from ``statm`` instead: ``smaps_rollup`` walks every page table
of the process and takes ~30 ms on a JVM with 3 GB resident.
"""

from __future__ import annotations

import os
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read().decode()
    except OSError:  # the process ended between listing and reading
        return None
    # the command name (field 2) may hold spaces: split after its ')'
    return raw[raw.rindex(")") + 2 :].split()


def tree_pids(root: int | None = None) -> list[int]:
    """``root`` (default: this process) and all its live descendants."""
    root = os.getpid() if root is None else root
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


def cpu_seconds(pids: list[int]) -> float:
    total = 0
    for pid in pids:
        st = _stat(pid)
        if st is not None:  # fields 14-17 of stat, counted from field 3
            total += sum(int(v) for v in st[11:15])
    return total / _TICK


def pss_bytes(pid: int) -> int:
    """Proportional set size of ``pid`` (0 once it has ended)."""
    try:
        with open(f"/proc/{pid}/smaps_rollup", "rb") as f:
            for line in f:
                if line.startswith(b"Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


def rss_bytes(pid: int) -> int:
    """Resident set size of ``pid`` (0 once it has ended)."""
    try:
        with open(f"/proc/{pid}/statm", "rb") as f:
            return int(f.read().split()[1]) * _PAGE
    except OSError:
        return 0


def is_jvm(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/comm", "rb") as f:
            return f.read().strip() == b"java"
    except OSError:
        return False


class Sampler:
    """Background sampler of the process tree's resident memory (JVM RSS
    plus Python PSS), active only between ``start()`` and ``stop()``.
    ``peak`` is the highest sum seen in any active window; ``peak_jvm``
    and ``peak_python`` are the highest sums of the JVM processes and of
    the Python processes (this driver and the workers); ``cpu_s`` is
    the sampler's own CPU time. ``watch_dir``, when set, also records
    every entry name that appears in that directory while active."""

    PERIOD_S = 0.2
    TREE_PERIOD_S = 0.5

    def __init__(self) -> None:
        self.peak = self.peak_jvm = self.peak_python = 0
        self.cpu_s = 0.0
        self.watch_dir: str | None = None
        self.seen: set[str] = set()
        self._active = threading.Event()
        self._done = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def _loop(self) -> None:
        pids: list[tuple[int, bool]] = []
        refreshed = 0.0
        while not self._done.is_set():
            if not self._active.wait(0.2):
                continue
            t0 = time.thread_time()
            now = time.monotonic()
            if now - refreshed > self.TREE_PERIOD_S:
                pids, refreshed = [(p, is_jvm(p)) for p in tree_pids()], now
            jvm = python = 0
            for pid, java in pids:
                if java:
                    jvm += rss_bytes(pid)
                else:
                    python += pss_bytes(pid)
            self.peak = max(self.peak, jvm + python)
            self.peak_jvm = max(self.peak_jvm, jvm)
            self.peak_python = max(self.peak_python, python)
            if self.watch_dir and os.path.isdir(self.watch_dir):
                for root, dirs, _ in os.walk(self.watch_dir):
                    self.seen.update(os.path.join(root, d) for d in dirs)
            self.cpu_s += time.thread_time() - t0
            time.sleep(self.PERIOD_S)

    def start(self) -> None:
        self._active.set()

    def stop(self) -> None:
        self._active.clear()

    def close(self) -> None:
        self._done.set()
        self._active.set()
        self._thread.join(timeout=5)
