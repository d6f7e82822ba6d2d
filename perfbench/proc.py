"""CPU time and peak memory of a process tree, read from ``/proc``."""

from __future__ import annotations

import os

_HZ = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except (FileNotFoundError, ProcessLookupError):
        return None
    # the command name may hold spaces; fields after it are fixed
    return raw[raw.rindex(")") + 2 :].split()


def descendants(root: int) -> list[int]:
    """``root`` and every live process below it."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        f = _stat_fields(int(name))
        if f is not None:
            children.setdefault(int(f[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def tree_cpu_s(root: int) -> float:
    """User + system CPU seconds of ``root``'s live tree, including the
    children each member has already reaped."""
    total = 0
    for pid in descendants(root):
        f = _stat_fields(pid)
        if f is not None:
            # utime stime cutime cstime are fields 14-17 (1-based) of stat
            total += sum(int(x) for x in f[11:15])
    return total / _HZ


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set size of ``pid`` in MiB."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def cpu_ticks() -> list[int]:
    """The machine-wide CPU time counters, the first line of ``/proc/stat``."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time between two ``cpu_ticks()`` readings that the
    hypervisor gave to other guests (``steal``, the eighth counter)."""
    delta = [b - a for a, b in zip(before, after)]
    return delta[7] / sum(delta) if sum(delta) else 0.0


def seconds_since_start(pid: int) -> float:
    """Wall seconds since ``pid`` started (10 ms resolution)."""
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - int(_stat_fields(pid)[19]) / _HZ
