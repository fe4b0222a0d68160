"""Process-tree readings from /proc: memory (PSS) and CPU time of a
process and all its descendants (the worker, its JVM and the JVM's
Python workers)."""

from __future__ import annotations

import os

TICK_S = 1.0 / os.sysconf("SC_CLK_TCK")


def _stats() -> dict[int, list[str]]:
    """/proc/<pid>/stat fields after the command name, per live pid."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                out[int(name)] = f.read().rsplit(")", 1)[1].split()
        except (OSError, IndexError):
            continue
    return out


def _tree(root: int, stats: dict[int, list[str]]) -> list[int]:
    children: dict[int, list[int]] = {}
    for pid, fields in stats.items():
        children.setdefault(int(fields[1]), []).append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def tree_pss(root: int) -> int:
    """Proportional set size, in bytes, of ``root`` and its descendants.
    PSS splits pages shared between processes (the forked Python workers
    share most of theirs), so the sum counts each page once."""
    total = 0
    for pid in _tree(root, _stats()):
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            continue
    return total


def tree_cpu_s(root: int) -> float:
    """User plus system CPU seconds used so far by ``root`` and its
    descendants. A descendant that has exited counts through its parent's
    reaped-children time, so the difference of two readings is the CPU
    the tree used in between."""
    stats = _stats()
    ticks = 0
    for pid in _tree(root, stats):
        fields = stats.get(pid)
        if fields is not None:
            # utime, stime, cutime, cstime
            ticks += sum(int(v) for v in fields[11:15])
    return ticks * TICK_S
