"""Summary statistics, process-tree memory and on-disk sizes."""

from __future__ import annotations

import math
import os
import re
import statistics

TAIL_PERCENTILES = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
MIN_ABOVE = 10
NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT_RE = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def median(values) -> float:
    return float(statistics.median(values)) if values else 0.0


def tail(samples) -> tuple[float, float] | None:
    """The highest percentile that has at least ten samples above it,
    as (percentile, value) by the nearest-rank rule; None when even the
    median has fewer than ten samples above it."""
    xs = sorted(samples)
    n = len(xs)
    for p in TAIL_PERCENTILES:
        rank = max(1, math.ceil(p / 100.0 * n))
        if n - rank >= MIN_ABOVE:
            return p, xs[rank - 1]
    return None


def valid_name(name: str) -> bool:
    return bool(NAME_RE.match(name))


def valid_unit(unit: str) -> bool:
    return bool(UNIT_RE.match(unit))


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces: ppid follows the last ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def process_tree(root: int | None = None) -> list[int]:
    root = root or os.getpid()
    kids = _children()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def peak_rss_mb() -> float:
    """Sum of the peak resident set (VmHWM) of every live process in this
    process's tree: the driver JVM, this interpreter and the Python
    workers."""
    total_kb = 0
    for pid in process_tree():
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0


def dir_bytes(path: str) -> int:
    total = 0
    for base, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(base, f))
            except OSError:
                pass
    return total


def files_since(path: str, since: float, exclude: str | None = None) -> tuple[int, int]:
    """(files, bytes) under ``path`` modified at or after ``since``,
    skipping the subtree ``exclude``."""
    n = size = 0
    for base, dirs, files in os.walk(path):
        if exclude and os.path.abspath(base).startswith(os.path.abspath(exclude)):
            dirs[:] = []
            continue
        for f in files:
            try:
                st = os.stat(os.path.join(base, f))
            except OSError:
                continue
            if st.st_mtime >= since:
                n += 1
                size += st.st_size
    return n, size
