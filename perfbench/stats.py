"""Pure helpers behind the benchmark's figures: percentile selection,
interval unions (for the driver gap) and trigger parsing from a
Structured Streaming checkpoint. No Spark import, so the tests run
without a JVM."""

from __future__ import annotations

import json
import os
import statistics

#: the tail is the highest percentile that still has this many samples
#: beyond it
TAIL_BEYOND = 10


def median(values: list[float]) -> float:
    return float(statistics.median(values))


def tail(values: list[float], beyond: int = TAIL_BEYOND) -> tuple[float, float, int]:
    """``(value, percentile, n)``: the highest order statistic that still
    has ``beyond`` samples above it, and the percentile it stands at.

    With n samples that is the ``(n - beyond)``-th smallest, at
    percentile ``100 * (n - beyond) / n``. Fewer than ``2 * beyond``
    samples would put it below the median, which is no tail: ValueError."""
    n = len(values)
    if n < 2 * beyond:
        raise ValueError(f"{n} samples: a tail needs at least {2 * beyond}")
    ordered = sorted(values)
    return float(ordered[n - beyond - 1]), 100.0 * (n - beyond) / n, n


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by ``intervals`` (overlaps counted once)."""
    total = 0.0
    end = None
    start = None
    for lo, hi in sorted(intervals):
        if hi <= lo:
            continue
        if end is None or lo > end:
            if end is not None:
                total += end - start
            start, end = lo, hi
        else:
            end = max(end, hi)
    if end is not None:
        total += end - start
    return total


def clip(intervals: list[tuple[float, float]], lo: float, hi: float) -> list[tuple[float, float]]:
    """``intervals`` cut to the window ``[lo, hi]``; empty ones dropped."""
    out = []
    for a, b in intervals:
        a, b = max(a, lo), min(b, hi)
        if b > a:
            out.append((a, b))
    return out


def driver_gap(wall: tuple[float, float], jobs: list[tuple[float, float]]) -> tuple[float, float]:
    """``(gap, covered)`` for one query: ``covered`` is the union of its
    Spark job intervals inside the query's wall interval, and ``gap`` the
    rest of the wall, so ``gap + covered`` is the wall by construction."""
    lo, hi = wall
    covered = union_length(clip(jobs, lo, hi))
    return (hi - lo) - covered, covered


def self_time(span: tuple[float, float], children: list[tuple[float, float]]) -> float:
    """A span's duration minus the part of it its children cover."""
    lo, hi = span
    return (hi - lo) - union_length(clip(children, lo, hi))


def checkpoint_triggers(ckpt: str) -> list[dict]:
    """Committed triggers of one streaming checkpoint, in batch order.

    Each is ``{"batch", "start_ms", "commit_ms", "latency_ms"}``: the
    trigger's ``batchTimestampMs`` from its ``offsets/<n>`` log entry,
    and the mtime of ``commits/<n>``, which Spark writes when the batch
    has fully landed. Batches without a commit file (a crashed or
    still-running trigger) are left out."""
    offsets, commits = os.path.join(ckpt, "offsets"), os.path.join(ckpt, "commits")
    out = []
    try:
        names = os.listdir(offsets)
    except OSError:
        return out
    for name in sorted((n for n in names if n.isdigit()), key=int):
        commit = os.path.join(commits, name)
        try:
            commit_ms = os.stat(commit).st_mtime_ns / 1e6
        except OSError:
            continue
        with open(os.path.join(offsets, name)) as fh:
            lines = fh.read().splitlines()
        # line 0 is the log version ("v1"), line 1 the batch metadata
        meta = json.loads(lines[1]) if len(lines) > 1 else {}
        if "batchTimestampMs" not in meta:
            continue
        start_ms = float(meta["batchTimestampMs"])
        out.append({
            "batch": int(name),
            "start_ms": start_ms,
            "commit_ms": commit_ms,
            "latency_ms": commit_ms - start_ms,
        })
    return out


def find_checkpoints(root: str) -> list[str]:
    """Every directory under ``root`` that holds both an ``offsets`` and
    a ``commits`` log, i.e. a streaming checkpoint."""
    found = []
    for dirpath, dirnames, _files in os.walk(root):
        if "offsets" in dirnames and "commits" in dirnames:
            found.append(dirpath)
    return sorted(found)


def sql_metric_value(text: str) -> float:
    """A Spark SQL UI metric as a number of seconds, bytes or units.

    Accepts a plain value (``"1.2 s"``, ``"3.4 KiB"``, ``"1,234"``) or the
    per-task form, whose second line starts with the total:
    ``"total (min, med, max ...)"`` then ``"8.3 s (2.0 s, ...)"``."""
    if "\n" in text:
        text = text.split("\n", 1)[1]
    text = text.split(" (", 1)[0].strip()
    num, _, unit = text.partition(" ")
    scale = {"": 1, "ms": 1e-3, "s": 1, "m": 60, "h": 3600, "B": 1,
             "KiB": 2 ** 10, "MiB": 2 ** 20, "GiB": 2 ** 30, "TiB": 2 ** 40}
    return float(num.replace(",", "")) * scale[unit]

