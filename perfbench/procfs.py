"""Process-tree CPU time and peak RSS, read straight from /proc.

The tree is this Python process plus every descendant: the Spark JVM it
launched and the JVM's Python workers.
"""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # the process exited between listing and reading
        return None
    # comm may hold spaces or parens: fields start after the last ')'
    return raw[raw.rindex(")") + 2:].split()


def tree_pids() -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        fields = _stat_fields(int(name))
        if fields is not None:
            children.setdefault(int(fields[1]), []).append(int(name))
    out, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def cpu_seconds() -> float:
    """User + system CPU of the tree, including reaped children."""
    total = 0
    for pid in tree_pids():
        fields = _stat_fields(pid)
        if fields is not None:
            # utime, stime, cutime, cstime (stat fields 14-17)
            total += sum(int(x) for x in fields[11:15])
    return total / _TICK


def peak_rss_mb() -> float:
    """Sum over the tree of each process's peak resident set (VmHWM)."""
    kb = 0
    for pid in tree_pids():
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return kb / 1024.0


def steal_seconds() -> float:
    """CPU time the hypervisor withheld from this VM, summed over CPUs."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / _TICK if len(fields) > 8 else 0.0
