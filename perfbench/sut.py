"""CPU, memory and steal accounting for the system-under-test process
tree, read from ``/proc``.

The tree is the benchmark's own process (the Spark driver's Python)
and all its descendants — the JVM, Python workers, the streaming
source runner — minus the service process and its descendants. CPU of
a process counts its user and system time plus that of children it
has reaped, so workers that came and went inside a window still count.

The JVM's JIT compiler threads are also counted on their own: on the
catalog mix they use more CPU than the rest of the JVM, because the
queries keep generating classes for it to compile. Traced runs report
them as ``sut.jit_cpu_s``.
"""

from __future__ import annotations

import os
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> tuple[int, str, float, int] | None:
    """(ppid, comm, cpu seconds incl. reaped children, rss bytes)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    comm = raw[raw.index("(") + 1 : raw.rindex(")")]
    fields = raw[raw.rindex(")") + 2 :].split()
    # fields[0] is field 3 (state); utime..cstime are fields 14..17
    ppid = int(fields[1])
    cpu = sum(int(x) for x in fields[11:15]) / _TICK
    rss = int(fields[21]) * _PAGE
    return ppid, comm, cpu, rss


class ProcessTree:
    """Snapshot reader for the tree rooted at ``root`` minus ``exclude``."""

    def __init__(self, root: int | None = None):
        self.root = root or os.getpid()
        self.exclude: set[int] = set()

    def snapshot(self) -> dict[int, tuple[str, float, int]]:
        procs: dict[int, tuple[int, str, float, int]] = {}
        for name in os.listdir("/proc"):
            if name.isdigit():
                st = _stat(int(name))
                if st is not None:
                    procs[int(name)] = st
        children: dict[int, list[int]] = {}
        for pid, st in procs.items():
            children.setdefault(st[0], []).append(pid)
        keep: dict[int, tuple[str, float, int]] = {}
        frontier = [self.root]
        while frontier:
            pid = frontier.pop()
            if pid in self.exclude or pid not in procs:
                continue
            _, comm, cpu, rss = procs[pid]
            keep[pid] = (comm, cpu, rss)
            frontier.extend(children.get(pid, ()))
        return keep

    @staticmethod
    def java_pids(snap: dict[int, tuple[str, float, int]]) -> list[int]:
        return [pid for pid, (comm, _, _) in snap.items() if comm == "java"]

    @staticmethod
    def split_cpu(snap: dict[int, tuple[str, float, int]]) -> dict[str, float]:
        """CPU seconds by kind: ``jvm`` (java) and ``python`` (the rest)."""
        out = {"jvm": 0.0, "python": 0.0}
        for comm, cpu, _ in snap.values():
            out["jvm" if comm == "java" else "python"] += cpu
        return out


def _thread_cpu(path: str) -> tuple[str, float] | None:
    """(comm, cpu seconds) of one thread. A thread's reaped-children
    fields are the whole process's, so they are left out."""
    try:
        with open(f"/proc/{path}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    fields = raw[raw.rindex(")") + 2 :].split()
    return raw[raw.index("(") + 1 : raw.rindex(")")], (int(fields[11]) + int(fields[12])) / _TICK


class JitClock:
    """CPU seconds of the JVMs' JIT compiler threads. The JVM starts and
    retires compiler threads as its queue grows and shrinks: a listing
    of every JVM thread finds new ones, and a retired thread keeps its
    last reading. Reading only the known compiler threads between
    listings keeps the cost of a sample low."""

    _NAMES = ("C1 CompilerThre", "C2 CompilerThre")

    def __init__(self):
        self._seen: dict[str, float] = {}
        self._other: set[str] = set()

    def read(self, java_pids: list[int], list_threads: bool) -> float:
        if list_threads:
            for pid in java_pids:
                try:
                    tids = os.listdir(f"/proc/{pid}/task")
                except OSError:
                    continue
                for tid in tids:
                    key = f"{pid}/task/{tid}"
                    if key not in self._seen and key not in self._other:
                        st = _thread_cpu(key)
                        if st is not None and st[0].startswith(self._NAMES):
                            self._seen[key] = st[1]
                        elif st is not None and st[0] != "java":
                            # a thread too new to have its own name still
                            # shows "java" and is looked at again later
                            self._other.add(key)
        for key in self._seen:
            st = _thread_cpu(key)
            if st is not None and st[0].startswith(self._NAMES):
                self._seen[key] = st[1]
        return sum(self._seen.values())


def steal_jiffies() -> tuple[int, int]:
    """(steal, total) jiffies summed over all CPUs since boot."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields[:8])


def pss_bytes(pid: int) -> int:
    """Proportional set size: shared pages split among their users, so
    forked Python workers do not count their parent's pages again."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


class Sampler:
    """Background thread sampling the tree's CPU split every
    ``period_s``, and its summed PSS and the JVM's thread list every
    ``pss_every`` samples. Its own CPU time is taken out of the Python
    figure."""

    def __init__(self, tree: ProcessTree, period_s: float = 0.25, pss_every: int = 4):
        self._tree = tree
        self._period = period_s
        self._pss_every = pss_every
        self.own_cpu_s = 0.0
        self._jit = JitClock()
        # (t, jvm, python, jit): jvm counts every JVM thread, jit only
        # the JIT compiler threads
        self.series: list[tuple[float, float, float, float]] = []
        self.pss: list[tuple[float, int]] = []
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        c0 = time.thread_time()
        snap = self._tree.snapshot()
        cpu = self._tree.split_cpu(snap)
        every = len(self.series) % self._pss_every == 0
        jit = self._jit.read(self._tree.java_pids(snap), list_threads=every)
        self.series.append((time.time(), cpu["jvm"], cpu["python"] - self.own_cpu_s, jit))
        if every:
            self.pss.append((time.time(), sum(pss_bytes(p) for p in snap)))
        self.own_cpu_s += time.thread_time() - c0

    def _run(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self._period)

    def cpu_at(self, t: float) -> tuple[float, float, float]:
        """(jvm, python, jit) CPU seconds at ``t``, interpolated."""
        s = self.series
        for a, b in zip(s, s[1:]):
            if a[0] <= t <= b[0]:
                f = (t - a[0]) / (b[0] - a[0]) if b[0] > a[0] else 0.0
                return tuple(x + f * (y - x) for x, y in zip(a[1:], b[1:]))
        return (s[0] if t < s[0][0] else s[-1])[1:]

    def peak_pss_mb(self, start: float, end: float) -> float:
        return max(b for t, b in self.pss if start <= t <= end) / 2**20

    def __enter__(self) -> "Sampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self._sample()


class Window:
    """CPU and steal over one timed window of the tree."""

    def __init__(self, tree: ProcessTree):
        self._tree = tree

    def __enter__(self) -> "Window":
        self._cpu0 = self._tree.split_cpu(self._tree.snapshot())
        self._steal0 = steal_jiffies()
        return self

    def close(self) -> None:
        cpu1 = self._tree.split_cpu(self._tree.snapshot())
        steal1 = steal_jiffies()
        self.jvm_cpu_s = cpu1["jvm"] - self._cpu0["jvm"]
        self.python_cpu_s = cpu1["python"] - self._cpu0["python"]
        self.cpu_s = self.jvm_cpu_s + self.python_cpu_s
        total = steal1[1] - self._steal0[1]
        self.steal_share = (steal1[0] - self._steal0[0]) / total if total else 0.0

    def __exit__(self, *exc) -> None:
        self.close()
