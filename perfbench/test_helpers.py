"""Tests of the benchmark's own helpers (no Spark):

    python3 -m pytest perfbench -q
"""

import numpy as np
import pandas as pd
import pytest

from common import (
    backlog_steady,
    compare_state,
    covered,
    cut_segments,
    drain_time,
    index_state,
    lookup_matches,
    percentile,
    samples_beyond,
    self_times,
    state_failures,
)

# ------------------------------------------------------------ percentiles


def test_percentile_needs_ten_samples_beyond():
    assert samples_beyond(200, 95) == 10
    assert samples_beyond(199, 95) == 9
    assert samples_beyond(20, 50) == 10
    assert percentile(range(200), 95) == pytest.approx(0.95 * 199)
    with pytest.raises(ValueError):
        percentile(range(199), 95)
    with pytest.raises(ValueError):
        percentile(range(19), 50)
    with pytest.raises(ValueError):
        percentile([], 50)


def test_percentile_interpolates_between_ranks():
    vals = list(range(1, 21))  # 20 samples: the median has 10 beyond it
    assert percentile(vals, 50) == pytest.approx(10.5)
    assert percentile(reversed(vals), 50) == pytest.approx(10.5)


def test_drain_time_reads_the_commit_that_covers_the_share():
    # backlog LSNs [100, 200): 100 of them, drained in three windows
    commits = [(4.0, 134), (9.0, 167), (15.0, 200)]
    assert drain_time(commits, 100, 200, 0.30) == 4.0
    assert drain_time(commits, 100, 200, 0.34) == 4.0  # boundary 134 covers 100..133
    assert drain_time(commits, 100, 200, 0.35) == 9.0
    assert drain_time(commits, 100, 200, 0.50) == 9.0
    assert drain_time(commits, 100, 200, 0.95) == 15.0
    with pytest.raises(ValueError):
        drain_time(commits[:2], 100, 200, 0.95)


# ----------------------------------------------------------- span arithmetic


def test_covered_merges_overlaps_and_clips():
    assert covered([], 0, 10) == 0
    assert covered([(1, 3), (2, 5)], 0, 10) == pytest.approx(4)
    assert covered([(1, 3), (4, 5)], 0, 10) == pytest.approx(3)
    assert covered([(-5, 2), (8, 20)], 0, 10) == pytest.approx(4)
    assert covered([(11, 12)], 0, 10) == 0


def _span(i, start, end, parent=None):
    return {"id": i, "start": start, "end": end, "parent": parent}


def test_self_time_subtracts_children_once():
    spans = [
        _span(0, 0.0, 10.0),
        _span(1, 1.0, 4.0, parent=0),
        _span(2, 3.0, 6.0, parent=0),  # overlaps child 1 (another thread)
        _span(3, 2.0, 3.0, parent=1),  # grandchild: not subtracted from 0
        _span(4, 20.0, 21.0),
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10 - 5)
    assert st[1] == pytest.approx(3 - 1)
    assert st[2] == pytest.approx(3)
    assert st[3] == pytest.approx(1)
    assert st[4] == pytest.approx(1)
    # self times of a tree add up to the root's duration when children nest
    nested = [_span(0, 0, 10), _span(1, 2, 7, 0), _span(2, 3, 4, 1)]
    assert sum(self_times(nested).values()) == pytest.approx(10)


# ------------------------------------------------------------- segments


def _delivery(n=40, seed=0):
    """A log in delivery order: bounded disorder plus redelivered rows."""
    rng = np.random.default_rng(seed)
    lsn = np.arange(1, n + 1)
    order = np.argsort(lsn + rng.integers(0, 6, n), kind="stable")
    ev = pd.DataFrame({"lsn": lsn[order], "pos": np.arange(n)})
    dups = ev.iloc[[3, 17, 30]].assign(pos=[n, n + 1, n + 2])
    return pd.concat([ev, dups], ignore_index=True)


def test_segments_cut_at_lsn_boundaries():
    ev = _delivery()
    segs = cut_segments(ev, 1, 41, 8)
    assert [(lo, hi) for lo, hi, _ in segs] == [(1, 9), (9, 17), (17, 25), (25, 33), (33, 41)]
    for lo, hi, frame in segs:
        assert frame["lsn"].between(lo, hi - 1).all()
        # delivery order is kept inside a segment
        assert list(frame["pos"]) == sorted(frame["pos"])
    # every delivered row, redeliveries included, lands in exactly one segment
    assert sum(len(f) for _, _, f in segs) == len(ev)
    assert sorted(pd.concat([f for _, _, f in segs])["pos"]) == sorted(ev["pos"])


def test_segments_last_one_is_short_and_range_is_respected():
    ev = _delivery()
    segs = cut_segments(ev, 5, 23, 7)
    assert [(lo, hi) for lo, hi, _ in segs] == [(5, 12), (12, 19), (19, 23)]
    assert sum(len(f) for _, _, f in segs) == int(ev["lsn"].between(5, 22).sum())
    with pytest.raises(ValueError):
        cut_segments(ev, 1, 10, 0)


# ---------------------------------------------------------------- oracles


def test_compare_state_counts_missing_extra_mismatched():
    want = pd.DataFrame({"k": ["a", "b", "c"], "v": [1, None, 3], "w": ["x", "y", "z"]})
    got = pd.DataFrame({"k": ["a", "b", "d"], "v": [1.0, float("nan"), 4.0], "w": ["x", "Y", "q"]})
    cmp = compare_state(got, want, ["k"], ["v", "w"])
    assert cmp == {"compared": 4, "missing": 1, "extra": 1, "mismatched": 1}
    assert state_failures(cmp) == 3
    assert state_failures(compare_state(want, want, ["k"], ["v", "w"])) == 0


def test_index_state_keys_rows_and_normalises_nulls():
    frame = pd.DataFrame({"k": ["a", "b"], "n": [1, 2], "v": [1.5, float("nan")], "w": ["x", None]})
    st = index_state(frame, ["k"], ["n", "v", "w"])
    assert st == {("a",): (1, 1.5, "x"), ("b",): (2, None, None)}
    assert type(st[("a",)][0]) is int  # numpy scalars come back as Python


def test_lookup_must_match_one_visible_commit():
    # the oracle state at two commits
    s3 = {"a": ("a1",), "b": ("b2",)}
    s6 = {"a": ("a5",), "b": ("b2",)}
    s7 = {"a": ("a5",), "b": ("b6",)}
    assert lookup_matches({"a": ("a5",), "b": ("b2",)}, ["a", "b"], [s3, s6])
    # a torn read (a from one commit, b from another) matches no commit
    assert not lookup_matches({"a": ("a1",), "b": ("b6",)}, ["a", "b"], [s3, s6, s7])
    # an absent key must be absent in the oracle too
    assert lookup_matches({}, ["a"], [{}])
    assert not lookup_matches({}, ["a"], [s3])
    assert not lookup_matches({"a": ("a1",)}, ["a"], [s7])
    # no visible commit, no match
    assert not lookup_matches({}, ["a"], [])


# ---------------------------------------------------------------- backlog


def test_backlog_steady_tolerates_compaction_cycles_not_growth():
    assert backlog_steady([])
    assert backlog_steady([4000])
    assert backlog_steady([2475, 4575, 3450, 2625, 4275, 3075])  # compaction on 2 and 5
    assert backlog_steady([4750, 9450])  # the last cycle compacts on a slow host
    assert not backlog_steady([2500, 3000, 4500, 7000, 11000])  # each cycle leaves more
    assert not backlog_steady([3000, 4000, 9001])
