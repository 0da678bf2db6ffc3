"""CPU and RSS of the Spark JVM and its Python-worker process tree, read
from ``/proc`` (no psutil).

CPU of a process tree is the sum over its live members of
utime + stime + cutime + cstime: a reaped child's time sits in its
parent's cutime/cstime, a live child's does not, so nothing is counted
twice.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _read(path: str) -> str | None:
    try:
        with open(path) as fh:
            return fh.read()
    except OSError:  # process ended between listing and reading
        return None


def _stat(pid: int) -> list[str] | None:
    data = _read(f"/proc/{pid}/stat")
    if data is None:
        return None
    # the command name (field 2) may hold spaces: split after its ')'
    return data[data.rindex(")") + 2 :].split()


def descendants(root: int) -> list[int]:
    """``root`` and every live process below it."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            f = _stat(int(name))
            if f is not None:
                children.setdefault(int(f[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu(root: int) -> tuple[float, float]:
    """(cpu seconds of ``root`` itself, cpu seconds of its descendants),
    each including reaped children."""
    own = rest = 0.0
    for pid in descendants(root):
        f = _stat(pid)
        if f is None:
            continue
        # fields 14-17 of /proc/<pid>/stat, 0-based 11-14 after the name
        utime, stime, cutime, cstime = (int(x) for x in f[11:15])
        if pid == root:
            own += (utime + stime) / _TICK
            rest += (cutime + cstime) / _TICK
        else:
            rest += (utime + stime + cutime + cstime) / _TICK
    return own, rest


def _exe(pid: int) -> str | None:
    try:
        return os.readlink(f"/proc/{pid}/exe")
    except OSError:
        return None


def tree_rss_bytes(root: int) -> int:
    """Summed RSS of ``root`` and its descendants. A child that still
    runs the root's executable is a fork about to exec a helper (Hadoop's
    local file system spawns ``chmod``, for one); it shares the root's
    pages, so it is skipped rather than counted twice."""
    root_exe = _exe(root)
    total = 0
    for pid in descendants(root):
        if pid != root and _exe(pid) == root_exe:
            continue
        statm = _read(f"/proc/{pid}/statm")
        if statm is not None:
            total += int(statm.split()[1]) * _PAGE
    return total


class RssPeak:
    """Background sampler of the tree's summed RSS; ``peak`` holds the
    largest sample. Use as a context manager around the measured work."""

    def __init__(self, root: int, interval_s: float = 0.1):
        self.root = root
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while True:
            self.peak = max(self.peak, tree_rss_bytes(self.root))
            if self._stop.wait(self.interval_s):
                return

    def __enter__(self) -> RssPeak:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak = max(self.peak, tree_rss_bytes(self.root))
