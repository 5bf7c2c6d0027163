"""The /proc readings the benchmark needs (``psutil`` is not installed):
the processes of one session, their resident memory and CPU time, and the
host's CPU time split (for steal)."""

from __future__ import annotations

import os


def _stat_fields(pid: str) -> list[str] | None:
    """Fields of /proc/<pid>/stat after the parenthesised command: state
    ppid pgrp session ..., then utime stime cutime cstime at offsets 11-14."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            stat = fh.read()
    except OSError:
        return None
    return stat[stat.rfind(")") + 2:].split()


def _session(sid: int) -> list[tuple[int, list[str]]]:
    out = []
    for d in os.listdir("/proc"):
        if d.isdigit():
            f = _stat_fields(d)
            if f is not None and int(f[3]) == sid:
                out.append((int(d), f))
    return out


def session_pids(sid: int) -> list[int]:
    """Every live process of session ``sid``."""
    return [pid for pid, _ in _session(sid)]


def rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as fh:
            return int(fh.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except (OSError, IndexError, ValueError):
        return 0


def session_cpu_s(sid: int) -> float:
    """CPU seconds used so far by every process of session ``sid`` (an
    exited child counts once its parent has reaped it)."""
    ticks = sum(sum(int(x) for x in f[11:15]) for _, f in _session(sid))
    return ticks / os.sysconf("SC_CLK_TCK")


def host_cpu_ticks() -> list[int]:
    """The machine-wide CPU line of /proc/stat: user nice system idle
    iowait irq softirq steal ..."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of the machine's CPU time stolen by the hypervisor between two
    host_cpu_ticks() readings."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / max(1, sum(d))
