"""Memory high-water marks of the Spark processes under this process.

Reads ``VmHWM`` (the kernel's peak resident set of a process) from
``/proc/<pid>/status`` instead of sampling RSS: a sampled tree RSS depends
on when the sample lands relative to GC and worker churn, a high-water mark
does not. The process tree under a local-mode PySpark program is

    python run.py
      -> java (the JVM: Spark driver + executor threads)
           -> python -m pyspark.daemon (forks workers)
                -> python worker (one per running Python task)

The daemon is told apart from its workers by its parent: workers are
forked by a ``pyspark.daemon`` process, the daemon itself by the JVM.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field


@dataclass
class Proc:
    pid: int
    ppid: int
    comm: str
    cmdline: str


def _read(path: str) -> str:
    with open(path, "rb") as f:
        return f.read().decode(errors="replace")


def process_table(proc_root: str = "/proc") -> dict:
    """pid -> Proc for every process readable under ``proc_root``."""
    table = {}
    for name in os.listdir(proc_root):
        if not name.isdigit():
            continue
        try:
            stat = _read(f"{proc_root}/{name}/stat")
            cmdline = _read(f"{proc_root}/{name}/cmdline").replace("\0", " ")
        except OSError:  # exited while we looked
            continue
        # comm is parenthesised and may contain spaces: split after ')'
        comm = stat[stat.index("(") + 1:stat.rindex(")")]
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        table[int(name)] = Proc(int(name), ppid, comm, cmdline.strip())
    return table


def descendants(table: dict, root: int) -> list:
    children = {}
    for p in table.values():
        children.setdefault(p.ppid, []).append(p.pid)
    out, stack = [], [root]
    while stack:
        for c in children.get(stack.pop(), ()):
            out.append(table[c])
            stack.append(c)
    return out


def alive(pid: int, proc_root: str = "/proc") -> bool:
    """True while ``pid`` runs (an exited, unreaped zombie counts as gone)."""
    try:
        stat = _read(f"{proc_root}/{pid}/stat")
    except OSError:
        return False
    return stat[stat.rindex(")") + 2] != "Z"


def vm_hwm_kib(pid: int, proc_root: str = "/proc") -> int | None:
    try:
        status = _read(f"{proc_root}/{pid}/status")
    except OSError:
        return None
    for line in status.splitlines():
        if line.startswith("VmHWM:"):
            return int(line.split()[1])
    return None


@dataclass
class SparkProcs:
    jvm: list = field(default_factory=list)
    daemons: list = field(default_factory=list)
    workers: list = field(default_factory=list)


def spark_processes(root: int, proc_root: str = "/proc") -> SparkProcs:
    table = process_table(proc_root)
    found = SparkProcs()
    for p in descendants(table, root):
        if p.comm == "java":
            found.jvm.append(p.pid)
        elif "pyspark.daemon" in p.cmdline:
            parent = table.get(p.ppid)
            if parent is not None and "pyspark.daemon" in parent.cmdline:
                found.workers.append(p.pid)
            else:
                found.daemons.append(p.pid)
    return found


def high_water_mib(pids: list, proc_root: str = "/proc") -> float | None:
    """Largest VmHWM over ``pids`` in MiB, or None if none is readable."""
    marks = [m for m in (vm_hwm_kib(p, proc_root) for p in pids)
             if m is not None]
    return max(marks) / 1024.0 if marks else None
