"""CPU time of a process tree from ``/proc``, split into the runner, the
JVM and the Python workers.  Hypervisor steal is read with ``bench.py``'s
``cpu_ticks`` and ``steal_pct``.

The parser takes the file's text so the tests can feed it fixed input.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

#: clock ticks per second, the unit of the time fields in /proc/<pid>/stat
CLK_TCK = os.sysconf("SC_CLK_TCK") if hasattr(os, "sysconf") else 100


@dataclass(frozen=True)
class ProcStat:
    pid: int
    comm: str
    ppid: int
    #: utime + stime of the process itself, in seconds
    self_s: float
    #: cutime + cstime: the CPU of children it has already reaped
    children_s: float


def parse_proc_stat(text: str) -> ProcStat:
    """One ``/proc/<pid>/stat`` line.  The command name sits in parentheses
    and may itself hold spaces or parentheses, so split at the LAST ')'."""
    lpar, rpar = text.index("("), text.rindex(")")
    pid = int(text[:lpar])
    comm = text[lpar + 1 : rpar]
    rest = text[rpar + 2 :].split()
    # rest[0] is field 3 (state); utime..cstime are fields 14..17
    ppid = int(rest[1])
    utime, stime, cutime, cstime = (int(x) for x in rest[11:15])
    return ProcStat(pid, comm, ppid, (utime + stime) / CLK_TCK, (cutime + cstime) / CLK_TCK)


def _read_all() -> dict[int, ProcStat]:
    procs: dict[int, ProcStat] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                st = parse_proc_stat(fh.read())
        except (OSError, ValueError, IndexError):
            continue  # the process exited between listdir and open
        procs[st.pid] = st
    return procs


@dataclass(frozen=True)
class TreeCpu:
    """CPU seconds of a process tree, split by part."""

    runner_s: float
    jvm_s: float
    pyworkers_s: float

    @property
    def total_s(self) -> float:
        return self.runner_s + self.jvm_s + self.pyworkers_s

    def __sub__(self, other: TreeCpu) -> TreeCpu:
        return TreeCpu(
            self.runner_s - other.runner_s,
            self.jvm_s - other.jvm_s,
            self.pyworkers_s - other.pyworkers_s,
        )


def tree_cpu(procs: dict[int, ProcStat], root: int) -> TreeCpu:
    """Sum the CPU of ``root`` and every live descendant.  Each process
    contributes its own time plus that of the children it has reaped, so
    a Python worker that already exited still counts through its parent.
    The JVM is the ``java`` process; everything below it is a Python
    worker; everything else (the runner and a launcher shell) is the
    runner's."""
    kids: dict[int, list[int]] = {}
    for st in procs.values():
        kids.setdefault(st.ppid, []).append(st.pid)
    runner = jvm = workers = 0.0
    stack = [(root, "runner")]
    while stack:
        pid, part = stack.pop()
        st = procs.get(pid)
        if st is None:
            continue
        if part == "runner" and st.comm == "java":
            part = "jvm"
        elif part == "jvm" and st.comm != "java":
            part = "workers"
        spent = st.self_s + st.children_s
        if part == "runner":
            runner += spent
        elif part == "jvm":
            jvm += spent
        else:
            workers += spent
        stack.extend((k, part) for k in kids.get(pid, ()))
    return TreeCpu(runner, jvm, workers)


def read_tree_cpu() -> TreeCpu:
    """CPU of this process and every process it started."""
    return tree_cpu(_read_all(), os.getpid())
