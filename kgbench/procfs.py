"""Machine size and process memory, read from /proc (no psutil)."""

from __future__ import annotations

import os


def nproc() -> int:
    """CPUs this process may run on."""
    return len(os.sched_getaffinity(0))


def mem_total_bytes() -> int:
    with open("/proc/meminfo") as fp:
        for line in fp:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_memory(ram_bytes: int) -> str:
    """A quarter of physical RAM, between 1 and 8 GiB: the session shares
    the machine, and local mode runs every executor inside the driver."""
    gib = ram_bytes // 4 // (1 << 30)
    return f"{min(max(gib, 1), 8)}g"


def cpu_times() -> list[int]:
    """Machine-wide CPU ticks from /proc/stat: user, nice, system, idle,
    iowait, irq, softirq, steal."""
    with open("/proc/stat") as fp:
        return [int(x) for x in fp.readline().split()[1:9]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time between two ``cpu_times`` samples that the
    hypervisor gave to other guests."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / max(sum(d), 1)


def tree_cpu_s(pids: list[int]) -> float:
    """User plus system CPU seconds used so far by ``pids``."""
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/stat") as fp:
                fields = fp.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += int(fields[11]) + int(fields[12])  # utime, stime
    return total / os.sysconf("SC_CLK_TCK")


def _stats():
    """(pid, state, ppid, pgrp) of every process."""
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fp:
                stat = fp.read()
        except OSError:
            continue
        # fields 3-5 follow the parenthesised command name
        state, ppid, pgrp = stat.rsplit(")", 1)[1].split()[:3]
        yield int(entry), state, int(ppid), int(pgrp)


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for pid, _state, ppid, _pgrp in _stats():
        kids.setdefault(ppid, []).append(pid)
    return kids


def group_running(pgid: int) -> bool:
    """Whether a process of group ``pgid`` has not yet ended."""
    return any(pgrp == pgid and state != "Z" for _pid, state, _ppid, pgrp in _stats())


def process_tree(root: int) -> list[int]:
    """``root`` and all its live descendants."""
    kids = _children_map()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def reset_peak_rss(pids: list[int]) -> None:
    """Restart each process's VmHWM from its current RSS (clear_refs 5)."""
    for pid in pids:
        try:
            with open(f"/proc/{pid}/clear_refs", "w") as fp:
                fp.write("5")
        except OSError:
            pass


def peak_rss_bytes(pids: list[int]) -> int:
    """Sum of VmHWM (peak resident set) over ``pids``."""
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as fp:
                for line in fp:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            pass
    return total
