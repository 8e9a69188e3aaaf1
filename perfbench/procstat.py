"""Process-tree CPU and memory sampler, read from ``/proc``.

While a window is open, one thread samples the driver JVM this process
launched and every process under it (the PySpark daemon and its Python
workers) at a fixed interval. The benchmark opens a window around each
timed pass; a window reports the user+sys CPU the tree spent inside it
and the largest resident set of any Python worker seen while it was
open.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _read_stat(pid: str) -> tuple[int, str, int, int] | None:
    """(ppid, comm, cpu ticks, rss bytes) of one process, or None."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as fh:
            raw = fh.read().decode("ascii", "replace")
    except OSError:
        return None
    # comm may hold spaces or parens: split on the LAST ')'
    lpar, rpar = raw.find("("), raw.rfind(")")
    comm = raw[lpar + 1:rpar]
    f = raw[rpar + 2:].split()
    # fields after comm: state ppid ... utime(12) stime(13) ... rss(22)
    return int(f[1]), comm, int(f[11]) + int(f[12]), int(f[21]) * _PAGE


def tree_snapshot(root: int) -> dict[int, tuple[str, int, int]]:
    """{pid: (comm, cpu ticks, rss bytes)} for every JVM descendant of
    ``root`` and every process under such a JVM."""
    procs = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _read_stat(name)
            if st is not None:
                procs[int(name)] = st
    children: dict[int, list[int]] = {}
    for pid, (ppid, *_rest) in procs.items():
        children.setdefault(ppid, []).append(pid)
    out = {}
    stack = [(pid, False) for pid in children.get(root, ())]
    while stack:
        pid, under_jvm = stack.pop()
        _, comm, cpu, rss = procs[pid]
        under_jvm = under_jvm or comm == "java"
        if under_jvm:
            out[pid] = (comm, cpu, rss)
        stack.extend((c, under_jvm) for c in children.get(pid, ()))
    return out


class TreeSampler:
    """Background sampler of this process's descendants."""

    def __init__(self, interval_s: float = 0.05) -> None:
        self.interval_s = interval_s
        self.root = os.getpid()
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None
        self._last_cpu: dict[int, int] = {}
        self._window_start: dict[int, int] | None = None
        self._peak_worker_rss = 0

    def __enter__(self) -> "TreeSampler":
        self._thread = threading.Thread(target=self._loop, name="procstat",
                                        daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=5)

    def _sample(self) -> None:
        snap = tree_snapshot(self.root)
        with self._lock:
            for pid, (comm, cpu, rss) in snap.items():
                self._last_cpu[pid] = cpu
                if (self._window_start is not None
                        and comm.startswith("python") and rss > self._peak_worker_rss):
                    self._peak_worker_rss = rss

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            if self._window_start is not None:
                self._sample()

    def open_window(self) -> None:
        self._sample()
        with self._lock:
            self._window_start = dict(self._last_cpu)
            self._peak_worker_rss = 0

    def close_window(self) -> tuple[float, float]:
        """(cpu seconds, peak worker rss MiB) since ``open_window``.
        A process that exited inside the window counts up to its last
        sample."""
        self._sample()
        with self._lock:
            start = self._window_start or {}
            ticks = sum(cpu - start.get(pid, 0)
                        for pid, cpu in self._last_cpu.items())
            peak = self._peak_worker_rss
            self._window_start = None
        return ticks / _TICK, peak / 2**20
