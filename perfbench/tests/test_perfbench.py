"""Tests of the benchmark's own generator, checker and statistics.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import check  # noqa: E402
import gen  # noqa: E402
import stats  # noqa: E402


class FakeClock:
    """Deterministic time for the open-loop writer."""

    def __init__(self):
        self.now = 1_760_000_000.0

    def __call__(self):
        return self.now

    def sleep(self, dt):
        self.now += dt


def written(tmp_path, name, seed, lines=2000):
    path = tmp_path / name
    clock = FakeClock()
    stats_ = gen.write_open_loop(str(path), seed, 300.0, clock=clock, sleep=clock.sleep, max_lines=lines)
    assert stats_["lines"] == lines
    return path.read_bytes()


def test_log_is_byte_identical_for_a_seed(tmp_path):
    a = written(tmp_path, "a.log", seed=7)
    assert a == written(tmp_path, "b.log", seed=7)
    assert a != written(tmp_path, "c.log", seed=8)
    assert a.count(b"\n") == 2000


def test_open_loop_continues_the_sequence(tmp_path):
    """The writer's first line follows the drain's last, byte for byte as
    ``gen.block`` would write it, up to the creation stamp."""
    path = tmp_path / "log"
    clock = FakeClock()
    gen.write_open_loop(str(path), 5, 300.0, first_seq=40, clock=clock, sleep=clock.sleep, max_lines=3)
    first = path.read_text().splitlines()[0]
    assert first.rsplit(" ", 1)[0] == gen.block(5, 40, 1, 0).rstrip("\n").rsplit(" ", 1)[0]


def checker_and_lines(seed=11, n=3000):
    created = [1_000_000 + 3333 * s for s in range(n)]
    chk = check.LiveChecker(seed, created)
    return chk, chk.lines, created


def test_checker_accepts_exact_sliding_windows():
    chk, lines, created = checker_and_lines()
    for lo in range(0, 2000, 250):
        assert chk.check(check.window_rows(lines, created, range(lo, lo + 1000))) is None


def test_checker_flags_a_dropped_batch():
    chk, lines, created = checker_and_lines()
    dropped = [s for s in range(0, 1000) if not 400 <= s < 550]
    assert "expected" in chk.check(check.window_rows(lines, created, dropped))


def test_checker_flags_a_duplicated_batch():
    chk, lines, created = checker_and_lines()
    duplicated = list(range(0, 1000)) + list(range(400, 550))
    assert "expected" in chk.check(check.window_rows(lines, created, duplicated))


def test_checker_flags_a_gap_between_emissions():
    chk, lines, created = checker_and_lines()
    assert chk.check(check.window_rows(lines, created, range(0, 1000))) is None
    assert "gap" in chk.check(check.window_rows(lines, created, range(1200, 2000)))


def test_checker_parses_raw_output():
    rows = check.parse_raw("method n total lo hi newest\nGETM 2 30000 5 9 123\n")
    assert rows == {"GETM": (2, 30000, 5, 9, 123)}


def test_percentile_refuses_fewer_than_ten_beyond():
    values = list(range(100))
    assert stats.percentile(values, 90) == 89.0
    with pytest.raises(ValueError):
        stats.percentile(values, 95)


def test_tail_is_highest_percentile_with_ten_beyond():
    value, pct = stats.tail(list(range(30)))
    assert (value, round(pct, 2)) == (19.0, 66.67)
    with pytest.raises(ValueError):
        stats.tail(list(range(19)))
