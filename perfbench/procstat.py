"""CPU and memory of this process and everything it started, from /proc.

The tree is this Python process, the JVM it launched and the JVM's Python
workers.  CPU includes children that have already exited and been
reaped (``cutime``/``cstime``), so short-lived Python workers count.
"""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            text = f.read()
    except OSError:  # exited between listing and reading
        return None
    # the command name may hold spaces; fields resume after its ')'
    return text[text.rindex(")") + 2:].split()


def tree() -> list[int]:
    root = os.getpid()
    parent: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                parent[int(name)] = int(st[1])
    out, frontier = [root], [root]
    while frontier:
        frontier = [p for p, pp in parent.items() if pp in frontier]
        out += frontier
    return out


def cpu_s(pids: list[int]) -> float:
    """utime + stime + reaped children's, in seconds, summed over pids."""
    total = 0
    for pid in pids:
        st = _stat(pid)
        if st is not None:
            total += sum(int(x) for x in st[11:15])
    return total / _TICK


def cmdline(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return f.read().replace(b"\0", b" ").decode(errors="replace")
    except OSError:
        return ""


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of each process's peak resident set (VmHWM)."""
    total_kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0


def du_mb(path) -> float:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        for name in files:
            try:
                total += os.lstat(os.path.join(dirpath, name)).st_size
            except OSError:
                continue
    return total / (1024.0 * 1024.0)
