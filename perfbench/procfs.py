"""The process table, read from /proc (Linux)."""

from __future__ import annotations

import os

# indexes into the /proc/<pid>/stat fields that follow the command name
STATE, PPID, SESSION = 0, 1, 3
CPU_TIMES = slice(11, 15)  # utime, stime, cutime, cstime, in clock ticks
RSS_PAGES = 21

TICK_S = 1.0 / os.sysconf("SC_CLK_TCK")
PAGE_BYTES = os.sysconf("SC_PAGE_SIZE")


def processes() -> dict[int, tuple[str, list[str]]]:
    """pid -> (command name, the stat fields after it), every visible process."""
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                raw = fh.read()
        except OSError:  # the process ended while the table was read
            continue
        out[int(d)] = (raw[raw.index("(") + 1: raw.rindex(")")], raw[raw.rindex(")") + 2:].split())
    return out


def descendants(table: dict[int, tuple[str, list[str]]], root: int) -> list[int]:
    """``root`` and every process below it in ``table``."""
    kids: dict[int, list[int]] = {}
    for pid, (_, f) in table.items():
        kids.setdefault(int(f[PPID]), []).append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return [p for p in out if p in table]
