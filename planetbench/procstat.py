"""CPU and memory of a process tree, read from /proc.

The benchmark process, the JVM it launches and the JVM's Python workers
form one tree.  :class:`TreeSampler` polls that tree from one thread and
keeps the peak of the summed resident set size; CPU seconds are read at
the edges of a window, so nothing is lost between polls.
"""

from __future__ import annotations

import os
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat", "rb") as fh:
            raw = fh.read().decode("ascii", "replace")
    except OSError:  # the process ended between listing and reading
        return None
    # the command name (field 2) may hold spaces; fields resume after ')'
    return raw[raw.rindex(")") + 2:].split()


class ProcTree:
    """The live descendants of ``root``.  Parent ids are cached, so a poll
    reads the stat file of the tree's own processes and of new processes
    only."""

    def __init__(self, root: int):
        self.root = root
        self._ppid: dict[int, int] = {}
        self._lock = threading.Lock()

    def stats(self) -> tuple[float, int]:
        """(CPU seconds, resident bytes) summed over ``root`` and all its
        descendants.  CPU counts each live process's own time plus the time
        of the children it has reaped, so a worker that exits between two
        reads still counts once, in its parent."""
        with self._lock:
            live = {int(n) for n in os.listdir("/proc") if n.isdigit()}
            for pid in list(self._ppid):
                if pid not in live:
                    del self._ppid[pid]
            tree: dict[int, list[str]] = {}
            for pid in live - self._ppid.keys():
                st = _stat(pid)
                if st is not None:
                    self._ppid[pid] = int(st[1])
                    tree[pid] = st
            children: dict[int, list[int]] = {}
            for pid, ppid in self._ppid.items():
                children.setdefault(ppid, []).append(pid)
            cpu_ticks = rss_pages = 0
            todo = [self.root]
            while todo:
                pid = todo.pop()
                st = tree.get(pid) or _stat(pid)
                if st is None:
                    continue
                # utime, stime, cutime, cstime are fields 14-17; rss is 24
                cpu_ticks += sum(int(x) for x in st[11:15])
                rss_pages += int(st[21])
                todo.extend(children.get(pid, ()))
        return cpu_ticks / _TICK, rss_pages * _PAGE

    def descendants(self) -> list[int]:
        self.stats()
        with self._lock:
            out, frontier = [], {self.root}
            while frontier:
                frontier = {p for p, pp in self._ppid.items() if pp in frontier}
                out.extend(frontier)
        return out


class TreeSampler:
    """Polls the tree of the current process every ``interval`` seconds.

    Bracket one measured job with :meth:`begin` and :meth:`end`, which
    give the job's CPU seconds (minus the sampler's own) and the peak
    summed RSS in bytes."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self.tree = ProcTree(os.getpid())
        self._lock = threading.Lock()
        self._peak = 0
        self._own_cpu = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._poll, daemon=True)

    def __enter__(self) -> "TreeSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)

    def _poll(self) -> None:
        while not self._stop.wait(self.interval):
            t0 = time.thread_time()
            _, rss = self.tree.stats()
            with self._lock:
                self._peak = max(self._peak, rss)
                self._own_cpu += time.thread_time() - t0

    def begin(self) -> tuple[float, float]:
        """Start a window; returns the opaque start mark for :meth:`end`."""
        cpu, rss = self.tree.stats()
        with self._lock:
            self._peak = rss
            own = self._own_cpu
        return cpu, own

    def end(self, mark: tuple[float, float]) -> tuple[float, int]:
        """(CPU seconds, peak RSS bytes) since ``mark``."""
        cpu, rss = self.tree.stats()
        with self._lock:
            peak = max(self._peak, rss)
            own = self._own_cpu - mark[1]
        return cpu - mark[0] - own, peak
