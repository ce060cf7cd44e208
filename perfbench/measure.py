"""Measurement helpers that do not touch Spark: percentiles, the
trigger-to-file map, metric-name validation and the process-tree
memory sampler, so the rules the benchmark reports by can be
unit-tested on their own (``perfbench/tests``).
"""

from __future__ import annotations

import math
import os
import re
import statistics
import threading
import time

# A metric or workload name: starts with a letter or digit, at most 64
# letters, digits, ``_``, ``.`` and ``-``.
NAME_RE = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}\Z")

# Samples the tail percentile must leave beyond it.
TAIL_BEYOND = 10


def valid_name(name: str) -> bool:
    return bool(NAME_RE.match(name))


def nearest_rank(sorted_values: list[float], pct: float) -> float:
    """The ``pct``-th percentile by the nearest-rank rule: the smallest
    sample with at least ``pct`` percent of the samples at or below it."""
    if not sorted_values:
        raise ValueError("no samples")
    rank = max(1, math.ceil(pct / 100 * len(sorted_values)))
    return sorted_values[min(rank, len(sorted_values)) - 1]


def tail_percentile(n: int) -> int:
    """The highest whole percentile (50 to 99) whose nearest-rank sample
    leaves at least ``TAIL_BEYOND`` samples above it among ``n``.

    Below ``2 * TAIL_BEYOND`` samples not even the median qualifies; the
    median is returned then, and the sample count reported beside it
    shows how thin the tail is.
    """
    best = 50
    for pct in range(50, 100):
        if n - math.ceil(pct / 100 * n) >= TAIL_BEYOND:
            best = pct
    return best


def latency_summary(samples: list[float]) -> dict[str, float]:
    """Median and tail of a latency sample, with the tail's percentile
    and the sample count recorded beside it."""
    values = sorted(samples)
    pct = tail_percentile(len(values))
    return {
        "p50": statistics.median(values),
        "tail": nearest_rank(values, pct),
        "tail_pct": pct,
        "n": len(values),
    }


def map_triggers_to_files(file_rows: list[int], trigger_rows: list[int]) -> list[int]:
    """Assign each landed file to the trigger that consumed it.

    The file source consumes files in landing order, so trigger ``k``
    takes the files whose cumulative row range ends inside
    ``(sum(trigger_rows[:k]), sum(trigger_rows[:k + 1])]``. Returns the
    trigger index per file, -1 for a file no trigger has consumed yet.
    A trigger boundary that falls inside a file means the order
    assumption is broken and raises ``ValueError``.
    """
    out = [-1] * len(file_rows)
    f, file_end = 0, 0
    consumed = 0
    for k, rows in enumerate(trigger_rows):
        if rows < 0:
            raise ValueError(f"trigger {k} reports {rows} rows")
        consumed += rows
        while f < len(file_rows) and file_end + file_rows[f] <= consumed:
            file_end += file_rows[f]
            out[f] = k
            f += 1
        if file_end != consumed:
            raise ValueError(
                f"trigger {k} ends at row {consumed}, inside file {f} "
                f"(files end at {file_end})"
            )
    return out


def slope(xs: list[float], ys: list[float]) -> float:
    """Least-squares slope of ``ys`` over ``xs`` (0 for fewer than two
    distinct x)."""
    if len(xs) < 2:
        return 0.0
    mx, my = statistics.fmean(xs), statistics.fmean(ys)
    var = sum((x - mx) ** 2 for x in xs)
    if var == 0:
        return 0.0
    return sum((x - mx) * (y - my) for x, y in zip(xs, ys)) / var


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue  # the process ended while we listed
        # the command name may hold spaces; fields resume after ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def descendants(pid: int) -> list[int]:
    """Every live process below ``pid`` in the process tree."""
    kids = _children()
    out, todo = [], list(kids.get(pid, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def tree_rss_bytes(pid: int) -> int:
    """Resident memory of ``pid`` and all its descendants, from /proc."""
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for p in [pid, *descendants(pid)]:
        try:
            with open(f"/proc/{p}/statm") as f:
                total += int(f.read().split()[1]) * page
        except OSError:
            continue
    return total


class RssSampler:
    """Samples the resident memory of this process's tree every
    ``INTERVAL_S`` on a thread and keeps the peak. Use as a context
    manager around the measured work."""

    INTERVAL_S = 0.2  # one sample costs about 2.5 ms of a core

    def __init__(self) -> None:
        self.pid = os.getpid()
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak_bytes = max(self.peak_bytes, tree_rss_bytes(self.pid))
            self._stop.wait(self.INTERVAL_S)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)

    @property
    def peak_mb(self) -> float:
        return self.peak_bytes / (1024 * 1024)


def wait_for_exit(pids: list[int], timeout_s: float) -> list[int]:
    """Wait until none of ``pids`` is running (zombies count as ended);
    returns those still running at the timeout. Takes the pids rather
    than a parent because workers are re-parented when their parent
    exits first."""
    deadline = time.monotonic() + timeout_s
    while True:
        alive = [p for p in pids if _running(p)]
        if not alive or time.monotonic() > deadline:
            return alive
        time.sleep(0.1)


def _running(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False
