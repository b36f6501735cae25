"""The benchmark's own arithmetic: the ten-beyond tail and its mean, the
geometric mean, the interval union behind ``driver.idle_ms`` and
``space_amp``.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import stats  # noqa: E402


def test_tail_leaves_exactly_ten_beyond():
    xs = list(range(1, 101))  # 1..100, shuffled order must not matter
    value, pct = stats.tail(reversed(xs))
    assert value == 90
    assert sum(x > value for x in xs) == 10
    assert pct == 90.0


def test_tail_at_the_minimum_sample_count():
    value, pct = stats.tail(range(11))
    assert value == 0
    assert pct == pytest.approx(100 / 11)


def test_tail_refuses_too_few_samples():
    with pytest.raises(ValueError):
        stats.tail(range(10))


def test_tail_mean_averages_the_tail_sample_and_the_ten_beyond():
    value, pct = stats.tail_mean(reversed(range(1, 101)))
    assert value == pytest.approx(sum(range(90, 101)) / 11)
    assert pct == 90.0


def test_tail_mean_refuses_too_few_samples():
    with pytest.raises(ValueError):
        stats.tail_mean(range(10))


def test_geomean_weighs_ratios_not_seconds():
    assert stats.geomean([1.0, 4.0]) == pytest.approx(2.0)
    # halving the short row moves it as much as halving the long one
    assert stats.geomean([0.05, 10.0]) == pytest.approx(stats.geomean([0.1, 5.0]))


def test_union_merges_overlaps_and_skips_gaps():
    assert stats.union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert stats.union_length([(5, 6), (0, 10)]) == 10
    assert stats.union_length([(0, 1), (1, 2)]) == 2
    assert stats.union_length([]) == 0


def test_idle_time_clips_jobs_to_the_query():
    # query 0..10; jobs 2..4 and 3..6 overlap (4 s busy), one job
    # straddles the end (9..12 -> 1 s inside), one lies wholly outside
    busy = [(2, 4), (3, 6), (9, 12), (20, 21)]
    assert stats.idle_time(0, 10, busy) == pytest.approx(10 - 4 - 1)
    assert stats.idle_time(0, 10, []) == 10


def test_space_amp_counts_everything_under_the_table(tmp_path):
    table = tmp_path / "t"
    (table / "data" / "a").mkdir(parents=True)
    (table / "_manifests").mkdir()
    (table / "data" / "a" / "live.parquet").write_bytes(b"x" * 100)
    (table / "data" / "a" / "dead.parquet").write_bytes(b"x" * 50)
    (table / "_manifests" / "v1.json").write_bytes(b"x" * 50)
    assert stats.tree_bytes(str(table)) == 200
    assert stats.space_amp(str(table), ["data/a/live.parquet"]) == 2.0


def test_space_amp_refuses_an_empty_live_version(tmp_path):
    (tmp_path / "f").write_bytes(b"")
    with pytest.raises(ValueError):
        stats.space_amp(str(tmp_path), ["f"])
