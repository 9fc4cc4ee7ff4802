"""CPU and memory of the benchmark's process tree, read from ``/proc``.

The tree is this (driver) Python process, the JVM it launched and the
Python workers the JVM forks.  CPU is attributed per pid and split by
kind; a pid born between two snapshots contributes all its time, a
surviving pid its delta, and a worker that lived and died in between is
counted through its parent's ``cutime`` jump.
"""

from __future__ import annotations

import os

KINDS = ("jvm", "pyworker", "driver_py")


def _stat(pid: str) -> tuple[int, int, int] | None:
    """(ppid, own ticks, reaped-children ticks) of ``pid``."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            rest = fh.read().rsplit(") ", 1)[1].split()
    except OSError:
        return None  # raced a process exit
    # fields after comm (proc(5), 1-indexed): ppid=4 utime=14 stime=15
    # cutime=16 cstime=17 -> rest[1], rest[11:15]
    return int(rest[1]), int(rest[11]) + int(rest[12]), int(rest[13]) + int(rest[14])


def alive(pid: int) -> bool:
    """True while ``pid`` runs (a zombie has ended)."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(") ", 1)[1][0] != "Z"
    except OSError:
        return False


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as fh:
            return fh.read().strip()
    except OSError:
        return ""


def tree_pids() -> dict[int, str]:
    """Every live descendant of this process, mapped to its kind."""
    me = os.getpid()
    parent = {}
    for ent in os.listdir("/proc"):
        if ent.isdigit():
            st = _stat(ent)
            if st is not None:
                parent[int(ent)] = st[0]
    out = {me: "driver_py"}
    for pid in parent:
        p = parent[pid]
        while p > 1 and p != me:
            p = parent.get(p, 0)
        if p == me and pid != me:
            out[pid] = "jvm" if _comm(pid) == "java" else "pyworker"
    return out


def cpu_snapshot() -> dict[int, tuple[str, int]]:
    """pid -> (kind, cpu ticks).  The driver counts only its own time (its
    one child, the JVM, is alive and counted separately); every other
    member also carries the time of children it has reaped."""
    snap = {}
    for pid, kind in tree_pids().items():
        st = _stat(str(pid))
        if st is not None:
            snap[pid] = (kind, st[1] + (0 if kind == "driver_py" else st[2]))
    return snap


def cpu_delta(s0: dict, s1: dict) -> dict[str, float]:
    """CPU seconds per kind between two snapshots."""
    tick = os.sysconf("SC_CLK_TCK")
    out = dict.fromkeys(KINDS, 0.0)
    for pid, (kind, ticks) in s1.items():
        before = s0.get(pid)
        d = ticks if before is None or before[0] != kind else max(0, ticks - before[1])
        out[kind] += d / tick
    return out


def host_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the whole host from ``/proc/stat``:
    time the hypervisor gave this machine's CPUs to someone else."""
    with open("/proc/stat") as fh:
        fields = [int(x) for x in fh.readline().split()[1:9]]
    return fields[7], sum(fields)


def peak_rss_mb() -> float:
    """Sum over the live tree of each process's peak resident set
    (``VmHWM``), in MB."""
    total_kb = 0
    for pid in tree_pids():
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0
