"""The benchmark's own arithmetic: percentiles, span self time, /proc sums.

Everything here is pure Python over plain values or a /proc-shaped
directory, so it is unit-tested without Spark (test_measure.py).
"""

from __future__ import annotations

import math
import os
import statistics
import threading

TAIL_PERCENTILES = (99.9, 99.0, 90.0)
MIN_BEYOND_TAIL = 10
CLK_TCK = os.sysconf("SC_CLK_TCK")
PAGE_SIZE = os.sysconf("SC_PAGE_SIZE")


def summarize(samples: list[float]) -> dict:
    """Median, sample count and the highest tail percentile that has at
    least MIN_BEYOND_TAIL samples beyond it (None when no tail qualifies).

    The tail value is the nearest-rank percentile; "beyond" counts the
    samples ranked above it."""
    if not samples:
        raise ValueError("summarize: no samples")
    ordered = sorted(samples)
    n = len(ordered)
    out = {"p50": statistics.median(ordered), "n": n, "tail": None}
    for p in TAIL_PERCENTILES:
        # the epsilon keeps 99.9% of 10000 at rank 9990, not 9991
        rank = max(1, math.ceil(p * n / 100.0 - 1e-9))
        if n - rank >= MIN_BEYOND_TAIL:
            out["tail"] = {"p": p, "value": ordered[rank - 1],
                           "beyond": n - rank}
            break
    return out


def self_time(span: dict, spans: list[dict]) -> float:
    """A span's duration minus the part of its interval that its direct
    children cover (overlapping children are counted once)."""
    lo, hi = span["start"], span["end"]
    cover = sorted(
        (max(c["start"], lo), min(c["end"], hi))
        for c in spans if c.get("parent") == span["id"]
    )
    covered = 0.0
    cur_lo = cur_hi = None
    for a, b in cover:
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        covered += cur_hi - cur_lo
    return (hi - lo) - covered


def _read_stat(proc: str, pid: int) -> tuple[int, int, int] | None:
    """(ppid, cpu ticks incl. reaped children, rss pages) of one process,
    or None if it exited while the tree was being read."""
    try:
        with open(os.path.join(proc, str(pid), "stat")) as fh:
            raw = fh.read()
    except (FileNotFoundError, ProcessLookupError):
        return None
    # comm (field 2) may hold spaces and parentheses: split after the last ')'
    fields = raw.rsplit(")", 1)[1].split()
    ppid = int(fields[1])
    ticks = sum(int(f) for f in fields[11:15])  # utime stime cutime cstime
    rss = int(fields[21])
    return ppid, ticks, rss


def process_tree(root_pid: int, proc: str = "/proc") -> dict[int, tuple]:
    """{pid: (ppid, ticks, rss_pages)} for root_pid and all descendants."""
    table = {}
    for name in os.listdir(proc):
        if name.isdigit():
            st = _read_stat(proc, int(name))
            if st is not None:
                table[int(name)] = st
    children: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in table.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = {}, [root_pid]
    while todo:
        pid = todo.pop()
        if pid in table and pid not in out:
            out[pid] = table[pid]
            todo.extend(children.get(pid, []))
    return out


def tree_cpu_s(root_pid: int, proc: str = "/proc") -> float:
    """User+system CPU seconds of the live tree plus the children it has
    reaped (cutime/cstime), so a worker that exits between two reads is
    still counted once in the difference."""
    return sum(t for _, t, _ in process_tree(root_pid, proc).values()) / CLK_TCK


def tree_rss_bytes(root_pid: int, proc: str = "/proc") -> int:
    return sum(r for _, _, r in process_tree(root_pid, proc).values()) * PAGE_SIZE


def host_steal_s(proc: str = "/proc") -> float:
    """Cumulative steal time of all CPUs, from the aggregate cpu line."""
    with open(os.path.join(proc, "stat")) as fh:
        fields = fh.readline().split()
    return int(fields[8]) / CLK_TCK


def engine_overhead_ms_per_page(cpu_ms_per_page: float,
                                control: dict) -> float:
    """Process-tree CPU per page under the engine minus the engine-free
    cost of the same per-page Python work (extract, split, tag, vote,
    BIO fold)."""
    return cpu_ms_per_page - control["total_ms"] / control["pages"]


class PeakRss:
    """Samples the RSS summed over a process tree on a background thread
    and keeps the high-water mark."""

    def __init__(self, root_pid: int, period_s: float = 0.2,
                 proc: str = "/proc"):
        self.root_pid, self.period_s, self.proc = root_pid, period_s, proc
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(self.root_pid, self.proc))
            self._stop.wait(self.period_s)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak = max(self.peak, tree_rss_bytes(self.root_pid, self.proc))
