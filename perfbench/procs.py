"""The processes of one process session, read from `/proc`.

A benchmark run is one session: the workload's Python driver, the JVM it
launches and the JVM's Python workers. `run.py` uses these helpers to
sample the session's memory and to stop it; `workload.py` to measure the
CPU time it spends.
"""

from __future__ import annotations

import os


def session_stats(sid: int) -> dict[int, list[str]]:
    """pid -> the fields of `/proc/<pid>/stat` after the command name
    (state ppid pgrp session ...), for every process of session `sid`,
    zombies included."""
    stats = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except (OSError, IndexError):
            continue
        if int(fields[3]) == sid:
            stats[int(entry)] = fields
    return stats


def session_pids(sid: int) -> list[int]:
    """Live processes of session `sid`."""
    return [pid for pid, f in session_stats(sid).items() if f[0] != "Z"]


def rss_bytes(pids) -> int:
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1]) * page
        except (OSError, IndexError, ValueError):
            continue
    return total


def session_cpu_s(sid: int) -> float:
    """CPU seconds (user and system) used so far by the processes of
    session `sid`. A process that has ended is still counted through its
    parent's children times once the parent has waited for it, and as a
    zombie until then."""
    # utime stime cutime cstime are fields 11-14 after the command name
    ticks = sum(int(x) for f in session_stats(sid).values() for x in f[11:15])
    return ticks / os.sysconf("SC_CLK_TCK")
