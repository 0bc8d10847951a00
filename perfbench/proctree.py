"""CPU and memory of a process tree, read from ``/proc`` at pass boundaries.

No sampler thread: a snapshot is taken only when the caller asks, so the
reader adds nothing to the timed work. CPU counts ``utime + stime`` of
every live process in the tree plus ``cutime + cstime``, the CPU of
children each process has already reaped, so a Python worker that exits
between two snapshots keeps its CPU in its parent's account.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

_TICK = os.sysconf("SC_CLK_TCK")


@dataclass(frozen=True)
class Proc:
    pid: int
    ppid: int
    name: str
    cpu_s: float  # own user + system
    reaped_cpu_s: float  # reaped children's user + system
    hwm_mb: float  # VmHWM, the kernel's resident high-water mark


def _read_proc(pid: int) -> Proc | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
        with open(f"/proc/{pid}/status") as f:
            status = f.read()
    except (FileNotFoundError, ProcessLookupError):
        return None
    # the command name sits in parentheses and may itself contain spaces
    name = stat[stat.index("(") + 1 : stat.rindex(")")]
    fields = stat[stat.rindex(")") + 2 :].split()
    # fields[0] is field 3 (state); utime..cstime are fields 14..17
    ppid = int(fields[1])
    utime, stime, cutime, cstime = (int(x) for x in fields[11:15])
    hwm_kb = 0
    for line in status.splitlines():
        if line.startswith("VmHWM:"):
            hwm_kb = int(line.split()[1])
            break
    return Proc(pid, ppid, name, (utime + stime) / _TICK, (cutime + cstime) / _TICK, hwm_kb / 1024)


def tree(root: int | None = None) -> list[Proc]:
    """``root`` (default: this process) and all its live descendants."""
    root = os.getpid() if root is None else root
    procs = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            p = _read_proc(int(entry))
            if p is not None:
                procs[p.pid] = p
    if root not in procs:
        return []
    children: dict[int, list[int]] = {}
    for p in procs.values():
        children.setdefault(p.ppid, []).append(p.pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(procs[pid])
        todo.extend(children.get(pid, ()))
    return out


@dataclass(frozen=True)
class Snapshot:
    """CPU seconds by role: the driver (this process), the JVM (the java
    child), and Python workers (everything under the JVM, plus what the JVM
    reaped). ``cpu_s`` is the whole tree."""

    driver_s: float
    jvm_s: float
    pyworker_s: float
    driver_mb: float
    jvm_mb: float
    pyworker_mb: float

    @property
    def cpu_s(self) -> float:
        return self.driver_s + self.jvm_s + self.pyworker_s

    def __sub__(self, other: "Snapshot") -> "Snapshot":
        return Snapshot(
            self.driver_s - other.driver_s,
            self.jvm_s - other.jvm_s,
            self.pyworker_s - other.pyworker_s,
            self.driver_mb,
            self.jvm_mb,
            self.pyworker_mb,
        )


def snapshot(root: int | None = None) -> Snapshot:
    procs = tree(root)
    if not procs:
        raise ProcessLookupError(f"process {root} is gone")
    me = procs[0]
    by_pid = {p.pid: p for p in procs}
    jvms = [p for p in procs if p.ppid == me.pid and p.name == "java"]
    under_jvm = set()
    for jvm in jvms:
        todo = [jvm.pid]
        while todo:
            pid = todo.pop()
            for p in procs:
                if p.ppid == pid:
                    under_jvm.add(p.pid)
                    todo.append(p.pid)
    jvm_ids = {j.pid for j in jvms}
    other = [p for p in procs[1:] if p.pid not in jvm_ids and p.pid not in under_jvm]
    workers = [by_pid[pid] for pid in under_jvm]
    return Snapshot(
        driver_s=me.cpu_s + me.reaped_cpu_s + sum(p.cpu_s + p.reaped_cpu_s for p in other),
        jvm_s=sum(j.cpu_s for j in jvms),
        pyworker_s=sum(j.reaped_cpu_s for j in jvms) + sum(p.cpu_s + p.reaped_cpu_s for p in workers),
        driver_mb=me.hwm_mb,
        jvm_mb=sum(j.hwm_mb for j in jvms),
        pyworker_mb=sum(p.hwm_mb for p in workers),
    )


def descendants(root: int | None = None) -> list[int]:
    """Pids of the live descendants of ``root``, parents before children."""
    return [p.pid for p in tree(root)[1:]]
