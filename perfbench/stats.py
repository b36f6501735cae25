"""Arithmetic the benchmark reports with: percentiles, means, interval
unions and lake space amplification. Pure functions, no Spark, so the
tests can pin them on toy inputs."""

from __future__ import annotations

import math
import os
import statistics
from collections.abc import Iterable

#: A tail percentile must leave at least this many samples beyond it.
TAIL_BEYOND = 10


def median(values: Iterable[float]) -> float:
    return statistics.median(list(values))


def tail(values: Iterable[float], beyond: int = TAIL_BEYOND) -> tuple[float, float]:
    """The value at the highest percentile that still has ``beyond``
    samples above it, and that percentile (0-100).

    With ``n`` sorted samples the sample at 0-based rank ``n - beyond - 1``
    has exactly ``beyond`` samples after it; it sits at percentile
    ``100 * (n - beyond) / n``. Fewer than ``beyond + 1`` samples have no
    such percentile, which is an error the caller must size away."""
    xs = sorted(values)
    n = len(xs)
    if n < beyond + 1:
        raise ValueError(f"{n} samples: a tail needs at least {beyond + 1}")
    return xs[n - beyond - 1], 100.0 * (n - beyond) / n


def tail_mean(values: Iterable[float], beyond: int = TAIL_BEYOND) -> tuple[float, float]:
    """Mean of the samples at or above ``tail``'s value (the ``beyond + 1``
    slowest), and ``tail``'s percentile. Unlike the single sample at the
    percentile, it does not jump when two rows' samples swap ranks."""
    xs = sorted(values)
    _, pct = tail(xs, beyond)
    return statistics.fmean(xs[len(xs) - beyond - 1:]), pct


def geomean(values: Iterable[float]) -> float:
    """Geometric mean of positive samples: each query counts by its ratio,
    so a short row moves it as much as a long one."""
    return math.exp(statistics.fmean(math.log(x) for x in values))


def union_length(intervals: Iterable[tuple[float, float]]) -> float:
    """Total length covered by the union of ``[start, end]`` intervals."""
    total = 0.0
    cur_start = cur_end = None
    for s, e in sorted((s, e) for s, e in intervals if e > s):
        if cur_end is None or s > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = s, e
        else:
            cur_end = max(cur_end, e)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def idle_time(
    start: float, end: float, busy: Iterable[tuple[float, float]]
) -> float:
    """Part of ``[start, end]`` that no ``busy`` interval covers: a query's
    wall time minus the union of its Spark job intervals."""
    clipped = [(max(s, start), min(e, end)) for s, e in busy]
    return (end - start) - union_length(clipped)


def tree_bytes(path: str) -> int:
    """Bytes of every regular file under ``path``."""
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def space_amp(table_path: str, live_files: Iterable[str]) -> float:
    """Bytes under a lake table's directory divided by the bytes of the
    data files its live version lists (paths relative to the table)."""
    live = sum(os.path.getsize(os.path.join(table_path, f)) for f in live_files)
    if live == 0:
        raise ValueError(f"{table_path}: live version lists no bytes")
    return tree_bytes(table_path) / live
