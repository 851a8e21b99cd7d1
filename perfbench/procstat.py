"""Readings from /proc: CPU time of a process tree, which processes are
still running, host steal time and load, and a process's peak resident
memory."""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def stat(pid: int) -> list[str] | None:
    """Fields of /proc/<pid>/stat after the command name, or None once
    the process is gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            s = f.read()
    except OSError:
        return None
    # the command name may contain spaces; fields resume after ')'
    return s[s.rindex(")") + 2:].split()


def children(pid: int) -> list[int]:
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return []
    out = []
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out += [int(c) for c in f.read().split()]
        except OSError:
            pass
    return out


def live(pids: list[int]) -> list[int]:
    """The processes of ``pids`` that are still running (not zombies)."""
    out = []
    for p in pids:
        f = stat(p)
        if f is not None and f[0] != "Z":
            out.append(p)
    return out


def tree(pid: int) -> list[int]:
    """``pid`` and all its live descendants."""
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo += children(p)
    return out


def cpu_s(pids: list[int]) -> float:
    """utime + stime + cutime + cstime of ``pids``, in seconds. Summed
    over a whole live tree this counts every tick once: a dead process's
    time is in its reaping parent's cutime/cstime."""
    total = 0
    for p in pids:
        f = stat(p)
        if f is not None:
            # fields 14..17 of /proc/<pid>/stat, 0-based 11..14 here
            total += sum(int(x) for x in f[11:15])
    return total / _TICK


def comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


def peak_rss_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


def host() -> dict:
    """Host noise record: cumulative steal ticks and load averages."""
    with open("/proc/stat") as f:
        cpu = f.readline().split()
    with open("/proc/loadavg") as f:
        load = [float(x) for x in f.read().split()[:3]]
    return {"steal_ticks": int(cpu[8]), "loadavg": load}
