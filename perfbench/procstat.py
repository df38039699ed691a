"""Process-tree CPU, peak memory and host steal time, read from /proc."""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # the process ended between listing and reading
        return None
    # comm (field 2) may hold spaces; everything after its ')' is fixed
    return raw[raw.rindex(")") + 2:].split()


def _all_stats() -> dict[int, list[str]]:
    out = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            fields = _stat_fields(int(entry))
            if fields is not None:
                out[int(entry)] = fields
    return out


def group_members(pgid: int) -> list[int]:
    """Live (not zombie) processes of process group ``pgid``."""
    return [pid for pid, f in _all_stats().items() if int(f[2]) == pgid and f[0] != "Z"]


def tree(root: int) -> list[int]:
    """``root`` and every live descendant."""
    kids: dict[int, list[int]] = {}
    for pid, fields in _all_stats().items():
        kids.setdefault(int(fields[1]), []).append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def tree_cpu_s(root: int) -> float:
    """CPU seconds (user + system) of ``root``'s process tree, counting
    children that already ended and were reaped by a tree member."""
    ticks = 0
    for pid in tree(root):
        fields = _stat_fields(pid)
        if fields is not None:
            # utime stime cutime cstime: fields 14-17 of /proc/<pid>/stat
            ticks += sum(int(x) for x in fields[11:15])
    return ticks / _TICK


def comm(pid: int) -> str:
    """Command name of a process ("" once it has ended)."""
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


def peak_rss_mb(pid: int) -> float:
    """Peak resident set size (VmHWM) of one process, in MiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise ValueError(f"no VmHWM for pid {pid}")


def steal_s() -> float:
    """Host-wide stolen CPU seconds so far (all CPUs, /proc/stat)."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / _TICK if len(fields) > 8 else 0.0
