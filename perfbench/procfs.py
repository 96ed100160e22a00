"""Process-tree CPU and RSS from /proc, plus the host spin control.

The benchmark's cost metrics cover the driver Python process, the Spark JVM it
launches and every Python worker the JVM forks: the whole process tree rooted
at this process. Exited children are not lost: a parent that reaps a child
adds the child's CPU to its own ``cutime``/``cstime``, which is counted.
"""

from __future__ import annotations

import os
import threading
import time
from dataclasses import dataclass

import numpy as np

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


@dataclass(frozen=True)
class ProcSample:
    pid: int
    ppid: int
    comm: str
    cpu_s: float  # utime + stime + cutime + cstime
    rss_bytes: int


def parse_stat(text: str) -> tuple[int, str, int, float, int]:
    """(pid, comm, ppid, cpu seconds, rss bytes) from one /proc/<pid>/stat line.

    ``comm`` may itself contain spaces and parentheses, so the fields after it
    are split from the LAST closing parenthesis.
    """
    lpar, rpar = text.index("("), text.rindex(")")
    pid = int(text[:lpar])
    comm = text[lpar + 1 : rpar]
    rest = text[rpar + 2 :].split()
    # rest[0] is field 3 (state); utime..cstime are fields 14-17, rss field 24
    ppid = int(rest[1])
    ticks = sum(int(x) for x in rest[11:15])
    rss = int(rest[21]) * _PAGE
    return pid, comm, ppid, ticks / _TICK, rss


def read_all(proc: str = "/proc") -> list[ProcSample]:
    out = []
    for name in os.listdir(proc):
        if not name.isdigit():
            continue
        try:
            with open(f"{proc}/{name}/stat") as f:
                pid, comm, ppid, cpu, rss = parse_stat(f.read())
        except (FileNotFoundError, ProcessLookupError, ValueError):
            continue  # exited between listdir and open
        out.append(ProcSample(pid, ppid, comm, cpu, rss))
    return out


def tree(samples: list[ProcSample], root: int) -> list[ProcSample]:
    """The samples of ``root`` and all its descendants."""
    children: dict[int, list[ProcSample]] = {}
    by_pid = {}
    for s in samples:
        children.setdefault(s.ppid, []).append(s)
        by_pid[s.pid] = s
    out, stack = [], [root]
    while stack:
        pid = stack.pop()
        if pid in by_pid:
            out.append(by_pid[pid])
        stack.extend(c.pid for c in children.get(pid, []))
    return out


def kind(comm: str) -> str:
    """'jvm' for the Spark JVM, 'python' for Python processes, else 'other'."""
    if comm == "java" or comm.startswith("java"):
        return "jvm"
    if comm.startswith("python") or comm.startswith("pyspark"):
        return "python"
    return "other"


@dataclass
class TreeCpu:
    total_s: float
    jvm_s: float
    python_s: float  # Python processes other than the driver itself
    rss_mb: float


def tree_cpu(root: int | None = None, proc: str = "/proc") -> TreeCpu:
    root = os.getpid() if root is None else root
    ts = tree(read_all(proc), root)
    jvm = sum(s.cpu_s for s in ts if kind(s.comm) == "jvm")
    py = sum(s.cpu_s for s in ts if kind(s.comm) == "python" and s.pid != root)
    return TreeCpu(
        total_s=sum(s.cpu_s for s in ts),
        jvm_s=jvm,
        python_s=py,
        rss_mb=sum(s.rss_bytes for s in ts) / 2**20,
    )


def descendants(root: int | None = None, proc: str = "/proc") -> list[int]:
    root = os.getpid() if root is None else root
    return [s.pid for s in tree(read_all(proc), root) if s.pid != root]


class RssPeak:
    """Background sampler of the process tree's summed RSS; ``peak_mb`` is the
    highest sum seen between ``start()`` and ``stop()``."""

    def __init__(self, interval_s: float = 0.1, root: int | None = None):
        self.interval_s = interval_s
        self.root = os.getpid() if root is None else root
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def sample(self) -> None:
        self.peak_mb = max(self.peak_mb, tree_cpu(self.root).rss_mb)

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.sample()

    def start(self) -> "RssPeak":
        self.sample()
        self._thread = threading.Thread(target=self._loop, name="rss-peak", daemon=True)
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=5)
        self.sample()
        return self.peak_mb


def steal_s(stat: str = "/proc/stat") -> float:
    """CPU time the hypervisor gave to other guests, summed over this guest's
    CPUs, in seconds since boot. Task CPU times exclude it; wall times do not."""
    with open(stat) as f:
        fields = f.readline().split()
    return int(fields[8]) / _TICK


def host_spin_s(n: int = 512, reps: int = 30) -> float:
    """Wall time of a fixed single-core numpy job. Elementwise ufuncs run on
    the calling thread only, so the figure tracks one core's speed."""
    a = np.linspace(0.0, 1.0, n * n).reshape(n, n)
    t0 = time.perf_counter()
    for _ in range(reps):
        a = np.sin(a) * 0.5 + np.sqrt(a + 1.0) * 0.25
    a.sum()
    return time.perf_counter() - t0
