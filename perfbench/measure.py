"""Measurement helpers that need no Spark session: the output checksum,
percentile rules, job-interval arithmetic and the process-tree CPU reader."""

from __future__ import annotations

import math
import os


def checksum_frame(df):
    """The one-row (n, chk) aggregate that forces every output column: a row
    count plus the xor of a per-row xxhash64 over all columns.  Unlike
    ``count()``, the hash references every column, so column pruning cannot
    drop map-side work.  Complex types go through a string cast so every
    column type hashes; xor (not sum) cannot overflow under ANSI mode."""
    from pyspark.sql import functions as F

    cols = [
        F.col(c).cast("string")
        if dt.startswith(("array", "map", "struct", "binary"))
        else F.col(c)
        for c, dt in df.dtypes
    ]
    return df.agg(
        F.count(F.lit(1)).alias("n"),
        F.bit_xor(F.xxhash64(*cols)).alias("chk"),
    )


def collect_checksum(frame) -> tuple[int, int]:
    row = frame.collect()[0]
    return int(row["n"]), int(row["chk"] or 0)


def tail_percentile(samples: list[float], min_beyond: int = 10) -> tuple[float, float, int] | None:
    """The highest percentile with at least ``min_beyond`` samples above it.

    Returns ``(value, percentile, n_samples)``: the value is the
    ``n - min_beyond``-th smallest sample, so exactly ``min_beyond`` samples
    lie beyond it.  ``None`` when there are too few samples to leave
    ``min_beyond`` beyond any sample.
    """
    n = len(samples)
    if n <= min_beyond:
        return None
    rank = n - min_beyond  # 1-based rank of the reported sample
    return sorted(samples)[rank - 1], 100.0 * rank / n, n


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by a set of possibly overlapping intervals."""
    total = 0.0
    end = -math.inf
    for lo, hi in sorted(intervals):
        if hi <= end:
            continue
        total += hi - max(lo, end)
        end = hi
    return total


def uncovered(span: tuple[float, float], intervals: list[tuple[float, float]]) -> float:
    """Time inside ``span`` that no interval covers (clipped to the span)."""
    lo, hi = span
    clipped = [(max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi]
    return (hi - lo) - union_length(clipped)


_CLK_TCK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name (field 2) may hold spaces; fields resume after ')'
    return raw[raw.rindex(")") + 2 :].split()


def process_tree(root: int) -> list[int]:
    """``root`` and every live descendant, found through each process's
    parent pid in /proc."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            fields = _stat_fields(int(entry))
            if fields:
                children.setdefault(int(fields[1]), []).append(int(entry))
    tree, todo = [], [root]
    while todo:
        pid = todo.pop()
        tree.append(pid)
        todo.extend(children.get(pid, ()))
    return tree


def tree_cpu_seconds(root: int | None = None) -> float:
    """User+system CPU seconds of a process tree: each live process's own
    time plus the time of the children it has already reaped (cutime and
    cstime), so finished Python workers still count."""
    ticks = 0
    for pid in process_tree(root or os.getpid()):
        fields = _stat_fields(pid)
        if fields:
            # after the name: state=0 ppid=1 ... utime=11 stime=12 cutime=13 cstime=14
            ticks += sum(int(x) for x in fields[11:15])
    return ticks / _CLK_TCK
