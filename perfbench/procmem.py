"""Peak memory and CPU time of a process tree, read from ``/proc``.

Each process counts its proportional set size (``Pss`` in
``smaps_rollup``): pages shared between forked Python workers are split
between them instead of counted once per worker, so the sum is the
tree's real resident footprint.

The benchmark's own work (this sampler, polling loops, the stream
generator process) is kept out of both figures: excluded processes are
not sampled, and ``CpuWindow`` subtracts the CPU time of the
benchmark's threads and reaped helper processes. ``CpuWindow`` also
leaves out the HotSpot JIT compiler threads and reports them apart."""

from __future__ import annotations

import os
import resource
import threading
import time


def _pss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:  # the process ended while it was read
        pass
    return 0


def _tree_stats(root: int, exclude=frozenset()) -> dict[int, list[str]]:
    """/proc/<pid>/stat fields (from the state field on) of root and its
    descendants, leaving out the subtrees of the pids in exclude."""
    stats: dict[int, list[str]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:  # the process ended between listdir and open
            continue
        stats[int(name)] = stat[stat.rindex(")") + 2:].split()
    parent = {pid: int(fields[1]) for pid, fields in stats.items()}
    mine = {}
    for pid in stats:
        p = pid
        while p > 1 and p != root and p not in exclude:
            p = parent.get(p, 0)
        if p == root:
            mine[pid] = stats[pid]
    return mine


def _tree_pss_kb(root: int, exclude=frozenset()) -> int:
    return sum(_pss_kb(pid) for pid in _tree_stats(root, exclude))


def tree_cpu_s(root: int | None = None) -> float:
    """CPU seconds (user + system) used so far by root's process tree:
    live processes count their own time and that of the children they
    have reaped, so processes that already ended are counted once.
    Time the host gave to other guests (steal) is not in it."""
    tick = os.sysconf("SC_CLK_TCK")
    return sum(sum(int(x) for x in fields[11:15])
               for fields in _tree_stats(root or os.getpid()).values()) / tick


# thread names (15 characters at most) of the HotSpot C1 and C2 compilers
_JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def jit_cpu_s(root: int | None = None) -> float:
    """CPU seconds the JIT compiler threads of root's tree have used so
    far. A compiler thread that exits takes its count with it, so the
    JVM must run with ``-XX:-UseDynamicNumberOfCompilerThreads``."""
    total = 0
    for pid in _tree_stats(root or os.getpid()):
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue
        for tid in tids:
            try:
                with open(f"/proc/{pid}/task/{tid}/stat") as f:
                    stat = f.read()
            except OSError:
                continue
            if stat[stat.index("(") + 1:stat.rindex(")")] in _JIT_THREADS:
                fields = stat[stat.rindex(")") + 2:].split()
                total += int(fields[11]) + int(fields[12])
    return total / os.sysconf("SC_CLK_TCK")


def reaped_children_cpu_s() -> float:
    """CPU seconds of this process's children that have been waited for."""
    r = resource.getrusage(resource.RUSAGE_CHILDREN)
    return r.ru_utime + r.ru_stime


class PeakRss:
    """Samples the tree under this process every ``interval_s`` in a thread."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak_kb = 0
        self.samples_kb: list[int] = []
        self.cpu_s = 0.0  # CPU time the sampling thread has used so far
        self.excluded: set[int] = set()  # benchmark helper processes
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="peak-rss", daemon=True)

    def _loop(self):
        root = os.getpid()
        while True:
            kb = _tree_pss_kb(root, frozenset(self.excluded))
            self.samples_kb.append(kb)
            self.peak_kb = max(self.peak_kb, kb)
            self.cpu_s = time.thread_time()
            if self._stop.wait(self.interval_s):
                return

    def start(self) -> PeakRss:
        self._thread.start()
        return self

    def stop(self) -> float:
        """Stops sampling; returns the peak in MiB."""
        self._stop.set()
        self._thread.join(timeout=5)
        return self.peak_kb / 1024


class CpuWindow:
    """Process-tree CPU time between ``start`` and ``stop``, less the
    sampler's share, the JIT compiler's (kept in ``jit_s``) and whatever
    the caller ``exclude``s.

    JIT compilation is left out because in a window this short its
    amount depends on when compile thresholds happen to be crossed: for
    the same query roster it took 6-14 s of a 30 s pass, while the rest
    of the tree's CPU moved by a few percent."""

    def __init__(self, rss: PeakRss):
        self.rss = rss
        self.jit_s = 0.0
        self._tree0 = self._jit0 = self._rss0 = self._excluded = 0.0

    def start(self) -> None:
        self._excluded = 0.0
        self._rss0 = self.rss.cpu_s
        self._jit0 = jit_cpu_s()
        self._tree0 = tree_cpu_s()

    def exclude(self, seconds: float) -> None:
        self._excluded += seconds

    def stop(self) -> float:
        tree = tree_cpu_s() - self._tree0
        self.jit_s = jit_cpu_s() - self._jit0
        return tree - self.jit_s - (self.rss.cpu_s - self._rss0) - self._excluded
