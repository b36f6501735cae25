"""The seeded stream backlog generator.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

from stream import generate_backlog  # noqa: E402


def _files(d):
    return sorted(os.path.join(d, f) for f in os.listdir(d))


def _records(d):
    return [json.loads(line) for p in _files(d) for line in open(p)]


def test_same_seed_same_backlog(tmp_path):
    a, b, c = (str(tmp_path / x) for x in "abc")
    assert generate_backlog(a, 7, 3, 20) == 60
    generate_backlog(b, 7, 3, 20)
    generate_backlog(c, 8, 3, 20)
    assert [open(p).read() for p in _files(a)] == [open(p).read() for p in _files(b)]
    assert _records(a) != _records(c)


def test_event_time_only_moves_forward_and_mtimes_increase(tmp_path):
    d = str(tmp_path / "d")
    generate_backlog(d, 1, 4, 25)
    ts = [r["timestamp"] for r in _records(d)]
    assert all(later > earlier for earlier, later in zip(ts, ts[1:]))
    mtimes = [os.stat(p).st_mtime_ns for p in _files(d)]
    assert all(later > earlier for earlier, later in zip(mtimes, mtimes[1:]))
    assert set(_records(d)[0]) == {"city", "country", "temperature", "windspeed", "timestamp"}
