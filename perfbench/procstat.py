"""CPU time of a process tree, read from ``/proc`` (no psutil).

A sample sums ``utime + stime + cutime + cstime`` over every live process
in the tree rooted at the benchmark's own process. The ``c*`` fields hold
the CPU of children that already exited and were reaped, so a Python
worker that ends between two samples keeps counting through its parent.
The difference of two samples is the tree's CPU over the interval.

The tree is split into three shares:

- ``driver``: the benchmark process itself (PySpark driver, py4j client);
- ``jvm``: the Spark JVM, a direct child running ``java``;
- ``pyworker``: everything else, i.e. the ``pyspark.daemon`` and the
  Python workers it forks (``pyworker = tree - jvm - driver``).

``jit`` is the part of ``jvm`` spent in the JIT compiler threads, read per
thread from ``/proc/<jvm>/task``; in a run of under a minute it is about
half of the JVM's CPU. A compiler thread that exits between two samples is
missed.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

_TICK = os.sysconf("SC_CLK_TCK")


@dataclass(frozen=True)
class CpuSample:
    driver: float
    jvm: float
    tree: float
    # JIT compiler thread id -> its CPU seconds
    jit_threads: dict = field(default_factory=dict)

    @property
    def pyworker(self) -> float:
        return self.tree - self.jvm - self.driver

    @property
    def jit(self) -> float:
        return sum(self.jit_threads.values())

    def __sub__(self, other: "CpuSample") -> "CpuSample":
        jit = {t: c - other.jit_threads.get(t, 0.0) for t, c in self.jit_threads.items()}
        return CpuSample(self.driver - other.driver, self.jvm - other.jvm,
                         self.tree - other.tree, jit)


def steal_seconds() -> float:
    """CPU time the hypervisor gave to other guests (``/proc/stat``, all
    CPUs). It explains wall-clock noise that the tree's CPU does not show."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / _TICK if len(fields) > 8 else 0.0


def _stat(path: str) -> tuple[int, str, float] | None:
    """(parent pid, command name, cumulative CPU seconds) from a stat file."""
    try:
        with open(path, "rb") as fh:
            raw = fh.read().decode("ascii", "replace")
    except OSError:  # the process or thread ended between listing and reading
        return None
    # comm sits in parentheses and may itself contain spaces or ')'.
    lpar, rpar = raw.index("("), raw.rindex(")")
    fields = raw[rpar + 2:].split()
    # fields[0] is field 3 (state); utime..cstime are fields 14..17.
    ticks = sum(int(x) for x in fields[11:15])
    return int(fields[1]), raw[lpar + 1:rpar], ticks / _TICK


def _jit_threads(pid: int) -> dict[int, float]:
    out = {}
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return out
    for tid in tids:
        st = _stat(f"/proc/{pid}/task/{tid}/stat")
        if st is not None and "Compiler" in st[1]:  # "C1/C2 CompilerThreadN"
            out[int(tid)] = st[2]
    return out


def sample(root: int | None = None) -> CpuSample:
    """CPU seconds of the tree under ``root`` (default: this process)."""
    root = os.getpid() if root is None else root
    procs: dict[int, tuple[int, str, float]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(f"/proc/{name}/stat")
            if st is not None:
                procs[int(name)] = st
    children: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in procs.items():
        children.setdefault(ppid, []).append(pid)
    driver = procs.get(root, (0, "", 0.0))[2]
    jvms = [p for p in children.get(root, ()) if procs[p][1] == "java"]
    jvm = sum(procs[p][2] for p in jvms)
    jit = {t: c for p in jvms for t, c in _jit_threads(p).items()}
    tree, stack = 0.0, [root]
    while stack:
        pid = stack.pop()
        if pid in procs:
            tree += procs[pid][2]
        stack.extend(children.get(pid, ()))
    return CpuSample(driver, jvm, tree, jit)
