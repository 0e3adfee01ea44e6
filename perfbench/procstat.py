"""CPU time and peak memory of this process's descendants (the Spark JVM
and the Python workers it forks), read from ``/proc``.

CPU time leaves out the JVM's JIT compiler threads: a Spark JVM a minute old
still spends about a third of its CPU compiling, and how much of that lands
in a measured window varies from run to run far more than the work does.
The benchmark starts the JVM with a fixed set of compiler threads
(``-XX:-UseDynamicNumberOfCompilerThreads``), so none exits and takes its
CPU time out of view."""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")
_COMPILER_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def _cpu_fields(stat: str) -> list[str]:
    """Fields of a ``stat`` line after the command name; index 0 is the
    state, 1 the parent pid, 11-14 utime, stime, cutime, cstime."""
    return stat[stat.rindex(")") + 2:].split()


def _compiler_cpu_s(pid: int) -> float:
    total = 0.0
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return 0.0
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/comm") as fh:
                if not fh.read().startswith(_COMPILER_THREADS):
                    continue
            with open(f"/proc/{pid}/task/{tid}/stat") as fh:
                fields = _cpu_fields(fh.read())
        except OSError:
            continue
        total += (int(fields[11]) + int(fields[12])) / _TICK
    return total


def _table() -> dict[int, tuple[int, float]]:
    """pid -> (ppid, CPU seconds incl. reaped children) for every process."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                fields = _cpu_fields(fh.read())
        except OSError:
            continue
        out[int(name)] = (int(fields[1]), sum(int(x) for x in fields[11:15]) / _TICK)
    return out


def _descendants(table: dict[int, tuple[int, float]], root: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _) in table.items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = [], list(kids.get(root, []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def children_cpu_s() -> float:
    """CPU seconds used so far by every descendant of this process, less the
    JIT compiler threads; a child that exited is counted through its
    parent's reaped-children time."""
    table = _table()
    return sum(table[p][1] - _compiler_cpu_s(p) for p in _descendants(table, os.getpid()))


def children_peak_rss_mb() -> float:
    """Sum of the peak resident set (VmHWM) of every live descendant."""
    table = _table()
    total_kb = 0
    for pid in _descendants(table, os.getpid()):
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0
