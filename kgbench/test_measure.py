"""Unit tests for the benchmark's own arithmetic (no Spark needed).

    python3 -m pytest kgbench -q
"""

from __future__ import annotations

import json
import os

import pytest

import measure
from workloads import WORKLOADS
from gen import combine, mention_key_hash
from measure import (engine_overhead_ms_per_page, host_steal_s, self_time,
                     summarize, tree_cpu_s, tree_rss_bytes)


def test_summarize_reports_median_and_count_without_tail():
    s = summarize([3.0, 1.0, 2.0, 10.0])
    assert s == {"p50": 2.5, "n": 4, "tail": None}


@pytest.mark.parametrize("n, p, beyond", [
    (99, None, None),     # p90 would leave only 9 beyond
    (100, 90.0, 10),
    (999, 90.0, 99),      # p99 would leave only 9 beyond
    (1000, 99.0, 10),
    (10000, 99.9, 10),
])
def test_summarize_tail_needs_ten_samples_beyond(n, p, beyond):
    s = summarize([float(i) for i in range(1, n + 1)])
    assert s["n"] == n
    if p is None:
        assert s["tail"] is None
    else:
        assert s["tail"]["p"] == p and s["tail"]["beyond"] == beyond
        # nearest rank: exactly `beyond` samples lie above the value
        assert sum(1 for i in range(1, n + 1) if i > s["tail"]["value"]) == beyond


def test_summarize_rejects_empty():
    with pytest.raises(ValueError):
        summarize([])


def _span(i, start, end, parent=None):
    return {"id": i, "start": start, "end": end, "parent": parent}


def test_self_time_subtracts_union_of_direct_children():
    spans = [
        _span(0, 0.0, 10.0),
        _span(1, 1.0, 3.0, 0),
        _span(2, 2.0, 5.0, 0),    # overlaps span 1: [1, 5] counted once
        _span(3, 7.0, 8.0, 0),
        _span(4, 7.2, 7.9, 3),    # grandchild: not subtracted from 0
        _span(5, 9.0, 12.0, 0),   # runs past its parent: clipped to [9, 10]
    ]
    assert self_time(spans[0], spans) == pytest.approx(10 - 4 - 1 - 1)
    assert self_time(spans[3], spans) == pytest.approx(1 - 0.7)
    assert self_time(spans[4], spans) == pytest.approx(0.7)


def _fake_proc(tmp_path, procs, steal=0):
    """procs: {pid: (comm, ppid, utime, stime, cutime, cstime, rss_pages)}"""
    for pid, (comm, ppid, ut, st, cut, cst, rss) in procs.items():
        d = tmp_path / str(pid)
        d.mkdir()
        fields = ["S", ppid, 0, 0, 0, 0, 0, 0, 0, 0, 0, ut, st, cut, cst,
                  20, 0, 1, 0, 12345, 999, rss, 0]
        (d / "stat").write_text(f"{pid} ({comm}) " + " ".join(map(str, fields)))
    (tmp_path / "stat").write_text(
        f"cpu  1 2 3 4 5 6 7 {steal} 0 0\ncpu0 1 2 3 4 5 6 7 {steal} 0 0\n")
    (tmp_path / "self").mkdir()  # non-numeric entries are skipped
    return str(tmp_path)


def test_process_tree_sums_cpu_and_rss_over_descendants_only(tmp_path):
    proc = _fake_proc(tmp_path, {
        100: ("python3", 1, 10, 5, 0, 0, 1000),
        200: ("java", 100, 400, 50, 0, 0, 50000),
        300: ("python -m (daemon) x", 200, 20, 10, 300, 30, 2000),
        400: ("unrelated", 1, 9999, 9999, 0, 0, 99999),
        500: ("orphan child", 400, 7, 7, 0, 0, 7),
    })
    ticks = (10 + 5) + (400 + 50) + (20 + 10 + 300 + 30)
    assert tree_cpu_s(100, proc) == pytest.approx(ticks / measure.CLK_TCK)
    assert tree_rss_bytes(100, proc) == 53000 * measure.PAGE_SIZE
    assert tree_rss_bytes(200, proc) == 52000 * measure.PAGE_SIZE
    assert tree_cpu_s(999, proc) == 0


def test_host_steal_reads_aggregate_cpu_line(tmp_path):
    proc = _fake_proc(tmp_path, {}, steal=250)
    assert host_steal_s(proc) == pytest.approx(250 / measure.CLK_TCK)


def test_engine_overhead_is_cpu_minus_engine_free_cost():
    control = {"pages": 2000, "total_ms": 2600.0}
    assert engine_overhead_ms_per_page(10.0, control) == pytest.approx(8.7)


def test_mention_hash_is_order_independent_and_combines_by_file():
    rows = [("u1", 0, 1, 2, "PER"), ("u1", 3, 0, 1, "ORG"), ("u2", 1, 4, 6, "GPE")]
    assert mention_key_hash(rows) == mention_key_hash(rows[::-1])
    assert mention_key_hash(rows) != mention_key_hash(rows[:2])
    part = lambda rs: {"pages": 1, "sentences": 2, "voted": 1,  # noqa: E731
                       "mentions": len(rs), "mention_hash": mention_key_hash(rs),
                       "ms": {"tag": 1.5}}
    both = combine([part(rows[:1]), part(rows[1:])])
    assert both["mention_hash"] == mention_key_hash(rows)
    assert both["mentions"] == 3 and both["total_ms"] == 3.0


def test_benchmark_json_names_every_metric_the_run_prints():
    import run

    path = os.path.join(os.path.dirname(run.HERE), "BENCHMARK.json")
    with open(path) as fh:
        bench = json.load(fh)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == run.PER_LAYER
    assert [w["name"] for w in bench["workloads"]] == list(WORKLOADS)
