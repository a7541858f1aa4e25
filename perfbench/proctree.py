"""CPU time and resident memory of this process and all its descendants
(driver Python, the Spark JVM it launched, and the JVM's Python
workers), read from /proc."""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int):
    with open(f"/proc/{pid}/stat") as fh:
        raw = fh.read()
    # comm may hold spaces and parens: split after the last ')'.
    fields = raw[raw.rindex(")") + 2 :].split()
    return fields


def descendants(root: int) -> list[int]:
    """``root`` and every live process below it."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            ppid = int(_stat(int(entry))[1])
        except (OSError, ValueError, IndexError):
            continue  # exited while scanning
        children.setdefault(ppid, []).append(int(entry))
    tree, todo = [], [root]
    while todo:
        pid = todo.pop()
        tree.append(pid)
        todo.extend(children.get(pid, ()))
    return tree


def cpu_seconds(root: int) -> float:
    """User + system CPU of the live tree, including children each member
    has reaped (so a Python worker that exited still counts)."""
    total = 0
    for pid in descendants(root):
        try:
            f = _stat(pid)
        except OSError:
            continue
        # utime, stime, cutime, cstime are fields 14-17 of stat(5).
        total += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
    return total / _TICK


def peak_rss_mb(root: int) -> float:
    """Sum of each live tree member's resident-set high-water mark."""
    kb = 0
    for pid in descendants(root):
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return kb / 1024


def cpu_steal(since=None):
    """Host CPU counters from /proc/stat as ``(steal, total)`` ticks; with
    ``since``, the share of CPU time stolen by the hypervisor since then.
    A diagnostic for runs slowed by other tenants of the machine."""
    with open("/proc/stat") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:]]
    now = (ticks[7], sum(ticks[:8]))  # steal is the 8th column
    if since is None:
        return now
    total = now[1] - since[1]
    return (now[0] - since[0]) / total if total else 0.0
