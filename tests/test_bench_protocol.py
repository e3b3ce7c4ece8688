"""bench.py scaling-protocol bookkeeping (no Spark): failed child slots keep
their interleave round, and a level with no successful run fails clearly."""

from __future__ import annotations

import pytest

import bench


def _run(sec: float, eps: float) -> dict:
    return {
        "sec": sec,
        "events_per_sec": eps,
        "all_secs": [sec],
        "host_mem_gbps_before": 5.0,
        "host_mem_gbps_after": 5.0,
    }


def test_failed_slot_does_not_shift_later_pairs():
    runs = {8: [_run(10, 100), None, _run(9, 110)], 32: [_run(4, 250), _run(5, 200), _run(3, 300)]}
    rows, best = bench._pair_analysis(runs, 8, 32)
    # round 1 lost its 8-core run: no pair for it, and round 2 still pairs
    # the two runs that ran back to back
    assert [p["pair"] for p in rows] == [0, 2]
    assert rows[1]["sec_n"] == 9 and rows[1]["sec_4n"] == 3
    assert best["pair"] == 2
    assert bench._best_per_level(runs)[8]["all_secs"] == [9, 10]


def test_level_without_runs_exits_with_message():
    with pytest.raises(SystemExit, match="every run at level 8 failed"):
        bench._best_per_level({8: [None, None], 32: [_run(1, 1)]})
