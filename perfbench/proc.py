"""Resource use of this process and its descendants (the Spark driver
JVM and its Python workers), read from /proc."""

from __future__ import annotations

import os

CLK_TCK = os.sysconf("SC_CLK_TCK")


def descendants(pid: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def alive(pid: int) -> bool:
    """True while ``pid`` runs (an exited, unreaped zombie is not)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            state = f.read().rsplit(")", 1)[1].split()[0]
    except (OSError, IndexError):
        return False
    return state not in ("Z", "X")


def cpu_s() -> float:
    """CPU seconds (user + system, including reaped children) of this
    process tree.  Time the host steals from the VM is not in it, so it
    stays steady where wall time swings with the neighbours' load."""
    total = 0
    for p in descendants(os.getpid()):
        try:
            with open(f"/proc/{p}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15])
    return total / CLK_TCK


def peak_rss_mb() -> float:
    """Sum of VmHWM over this process and its live descendants (the
    Spark driver JVM, the PySpark daemons and their Python workers)."""
    total_kb = 0
    for p in descendants(os.getpid()):
        try:
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024


def host_jiffies() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs from /proc/stat: the share of
    time the hypervisor ran other guests on this VM's CPUs."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields[:8])
