"""Process-tree and host counters read from /proc (Linux only)."""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _children(pid: int) -> list[int]:
    out: list[int] = []
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return out
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out.extend(int(c) for c in f.read().split())
        except OSError:
            pass
    return out


def tree(root: int | None = None) -> list[int]:
    """`root` (default: this process) and all its live descendants."""
    todo, seen = [root or os.getpid()], []
    while todo:
        pid = todo.pop()
        seen.append(pid)
        todo.extend(_children(pid))
    return seen


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name may hold spaces; fields resume after its ')'
    return raw[raw.rindex(")") + 2:].split()


def tree_cpu_s(root: int | None = None) -> float:
    """CPU seconds of the process tree: user+system of every live process
    plus those of the children each has already reaped."""
    ticks = 0
    for pid in tree(root):
        f = _stat(pid)
        if f is not None:
            # fields 14-17 of stat(5): utime stime cutime cstime
            ticks += sum(int(x) for x in f[11:15])
    return ticks / _TICK


def tree_peak_rss_mb(root: int | None = None) -> float:
    """Sum over the live tree of each process's peak resident set (VmHWM)."""
    kb = 0
    for pid in tree(root):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
                        break
        except OSError:
            pass
    return kb / 1024.0


def host_cpu() -> dict:
    """Host-wide busy and steal CPU seconds from the first /proc/stat line."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    user, nice, system, _idle, _iowait, irq, softirq, steal = v[:8]
    return {"busy_s": (user + nice + system + irq + softirq) / _TICK,
            "steal_s": steal / _TICK}


def alive(pids: list[int]) -> list[int]:
    """The pids of `pids` that still exist and are not zombies."""
    out = []
    for pid in pids:
        f = _stat(pid)
        if f is not None and f[0] != "Z":
            out.append(pid)
    return out
