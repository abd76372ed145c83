"""Process-tree and host counters read from /proc (Linux only)."""

from __future__ import annotations

import os

CLK_TCK = os.sysconf("SC_CLK_TCK")
PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            text = f.read()
    except OSError:  # exited between listing and reading
        return None
    # comm may hold spaces and parentheses: split after the last ')'
    return text[text.rindex(")") + 2:].split()


def tree(root: int) -> list[int]:
    """``root`` and all of its live descendants."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            fields = _stat_fields(int(name))
            if fields:
                children.setdefault(int(fields[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int) -> float:
    """User+system CPU of the tree, including children it has reaped."""
    total = 0
    for pid in tree(root):
        fields = _stat_fields(pid)
        if fields:  # utime stime cutime cstime are fields 14..17
            total += sum(int(x) for x in fields[11:15])
    return total / CLK_TCK


def rss_mb(pids) -> float:
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1])
        except OSError:
            pass
    return total * PAGE / 2 ** 20


def steal_s() -> float:
    """Host steal time summed over all CPUs since boot."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / CLK_TCK
