"""The benchmark's pure helpers; no Spark session needed.

    python3 -m pytest perfbench/tests -q
"""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))

from perfbench import stats  # noqa: E402
from perfbench.tracing import Tracer  # noqa: E402
from perfbench.workloads import Outcome, is_poison  # noqa: E402


# ------------------------------------------------------------- percentiles
def test_nearest_rank():
    vals = list(range(1, 101))  # 1..100
    assert stats.nearest_rank(vals, 50) == 50
    assert stats.nearest_rank(vals, 90) == 90
    assert stats.nearest_rank(vals, 100) == 100
    assert stats.nearest_rank([3.0, 1.0, 2.0], 50) == 2.0
    with pytest.raises(ValueError):
        stats.nearest_rank([], 50)


def test_ten_samples_beyond_rule():
    assert stats.beyond(100, 90) == 10
    assert stats.supported(100, 90)
    assert not stats.supported(99, 90)
    assert stats.supported(1000, 99)
    assert not stats.supported(999, 99)
    assert not stats.supported(7, 90)  # tail_maxwell's seven chunks carry no p90 tail
    assert stats.beyond(7, 50) == 3


def test_quartile_spread_matches_statistics_quantiles():
    vals = [1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0, 9.0, 10.0]
    q1, _, q3 = __import__("statistics").quantiles(vals, n=4)
    assert stats.quartile_spread(vals) == pytest.approx((q3 - q1) / 5.5)


# --------------------------------------------------------------------- lag
def test_attribute_commits_maps_offset_max_to_chunks():
    cover = [99, 199, 299, 399]  # largest offset of each chunk
    commits = [(10.0, 150), (12.0, 299), (11.0, 120)]  # out of time order
    visible = stats.attribute_commits(cover, commits)
    # chunk 0 is covered by the t=10 commit (offset_max 150 >= 99); chunk
    # 1 (cover 199) first by t=12; chunk 3 by no commit
    assert visible == [10.0, 12.0, 12.0, None]


def test_attribute_commits_ignores_null_offsets_and_regressions():
    cover = [10, 20]
    commits = [(1.0, None), (2.0, 15), (3.0, 5), (4.0, 25)]
    assert stats.attribute_commits(cover, commits) == [2.0, 4.0]


def test_chunk_lags_from_due_time_and_missing():
    due = [0.0, 1.0, 2.0]
    visible = [1.5, 1.5, None]
    lags, missing = stats.chunk_lags(due, visible)
    assert lags == [1.5, 0.5]
    assert missing == 1


def test_backlog_max():
    published = [0.0, 1.0, 2.0, 3.0]
    visible = [2.5, 2.5, 2.5, 5.0]
    # at t=2.5 chunk 3 is not yet published; at t=5.0 nothing waits
    assert stats.backlog_max(published, visible) == 0
    visible = [2.5, 2.5, 5.0, 5.0]
    assert stats.backlog_max(published, visible) == 1


def test_busy_frac_over_timed_phase():
    due = [10.0, 12.0, 14.0]
    visible = [11.0, 13.5, 16.0]
    # 4.5 s of batches between the first due time and the last commit
    assert stats.busy_frac([1.0, 1.5, 2.0], due, visible) == pytest.approx(4.5 / 6.0)
    assert stats.busy_frac([1.0], due, [None, None, None]) == 0.0


# ------------------------------------------------------------------- spans
def test_self_time_subtracts_children_once():
    spans = [
        {"id": 0, "parent": None, "start": 0.0, "end": 10.0},
        {"id": 1, "parent": 0, "start": 1.0, "end": 4.0},
        {"id": 2, "parent": 0, "start": 3.0, "end": 6.0},  # overlaps child 1
        {"id": 3, "parent": 2, "start": 3.5, "end": 4.5},
        {"id": 4, "parent": 0, "start": 9.0, "end": 12.0},  # runs past parent
    ]
    own = stats.self_times(spans)
    assert own[0] == pytest.approx(10.0 - 5.0 - 1.0)
    assert own[1] == pytest.approx(3.0)
    assert own[2] == pytest.approx(2.0)
    assert own[3] == pytest.approx(1.0)


def test_tracer_nests_restores_and_counts_overhead():
    class Layer:
        def outer(self, batch_id=None):
            return self.inner()

        def inner(self):
            return 7

    original = Layer.__dict__["outer"]
    tracer = Tracer()
    tracer.wrap(Layer, "outer", "outer")
    tracer.wrap(Layer, "inner", "inner")
    assert Layer().outer(batch_id=3) == 7
    tracer.uninstall()
    assert Layer.__dict__["outer"] is original
    outer, inner = tracer.spans
    assert inner["parent"] == outer["id"]
    assert inner["batch"] == outer["batch"] == 3
    assert outer["start"] <= inner["start"] <= inner["end"] <= outer["end"]
    assert tracer.overhead_s > 0


# ---------------------------------------------------------------- failures
def test_ops_failed_frac():
    out = Outcome()
    out.op(True)
    out.op(False)
    out.check("state_equals_oracle", True)
    out.check("exactly_once", False, {"ledger": 3, "applied": 4})
    assert (out.attempted, out.failed) == (4, 2)
    assert stats.failed_frac(out.attempted, out.failed) == 0.5
    assert stats.failed_frac(10, 0) == 0.0
    with pytest.raises(ValueError):
        stats.failed_frac(0, 0)
    with pytest.raises(ValueError):
        stats.failed_frac(3, 4)


# --------------------------------------------------------------------- A/A
def test_agree_respects_direction_and_bound():
    a = [1.0, 1.0, 1.0]
    assert stats.agree(a, [1.1, 1.1, 1.1], 0.15, "lower")["agree"]
    assert not stats.agree(a, [1.3, 1.3, 1.3], 0.15, "lower")["agree"]
    # a set that is better by more than the bound means the other is worse
    assert not stats.agree(a, [0.7, 0.7, 0.7], 0.15, "lower")["agree"]
    assert stats.agree([100.0] * 3, [95.0] * 3, 0.1, "higher")["agree"]


def test_poison_pick_is_seeded_and_sparse():
    picks = [o for o in range(100_000) if is_poison(7, o)]
    assert 50 <= len(picks) <= 150
    assert picks != [o for o in range(100_000) if is_poison(8, o)]
