"""Process-session bookkeeping from /proc: which processes belong to a
worker's session, and how much CPU they have used."""

from __future__ import annotations

import os


def _session_stats(sid: int):
    """Yield (pid, stat fields after the command name) for every live
    process of session ``sid``. fields[0] is stat field 3, the state (Z: a
    zombie, already ended); fields[3] is field 6, the session id."""
    for p in os.listdir("/proc"):
        if not p.isdigit():
            continue
        try:
            with open(f"/proc/{p}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # ended while we looked
        if int(fields[3]) == sid and fields[0] != "Z":
            yield int(p), fields


def session_pids(sid: int) -> list[int]:
    return [pid for pid, _ in _session_stats(sid)]


def session_cpu_s(sid: int) -> float:
    """CPU seconds (user + system, including reaped children: stat fields
    14-17) of every process in session ``sid``. Unlike wall time it
    excludes time the virtual CPUs were stolen by the host."""
    ticks = sum(sum(int(x) for x in fields[11:15]) for _, fields in _session_stats(sid))
    return ticks / os.sysconf("SC_CLK_TCK")
