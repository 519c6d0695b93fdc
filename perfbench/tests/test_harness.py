"""Self-tests for the benchmark's own arithmetic and gate; no Spark needed.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import harness  # noqa: E402
import stats  # noqa: E402
from stats import Span  # noqa: E402


def test_percentile_interpolates_between_ranks():
    xs = [5.0, 1.0, 4.0, 2.0, 3.0]
    assert stats.percentile(xs, 0) == 1.0
    assert stats.percentile(xs, 50) == 3.0
    assert stats.percentile(xs, 75) == 4.0
    assert stats.percentile(xs, 100) == 5.0
    assert stats.percentile([1.0, 2.0, 3.0, 4.0], 75) == pytest.approx(3.25)
    assert stats.median([2.0, 1.0]) == pytest.approx(1.5)
    assert stats.percentile([7.0], 75) == 7.0
    with pytest.raises(ValueError):
        stats.percentile([], 50)


def test_failed_ratio():
    assert stats.failed_ratio(18, 0) == 0.0
    assert stats.failed_ratio(7, 1) == pytest.approx(1 / 7)
    assert stats.failed_ratio(4, 4) == 1.0
    for attempted, failed in ((0, 0), (3, 4), (3, -1)):
        with pytest.raises(ValueError):
            stats.failed_ratio(attempted, failed)


class FakeFrame:
    def __init__(self, cols, rows):
        self.columns = cols
        self._rows = rows

    def collect(self):
        return self._rows

    def count(self):
        return len(self._rows)


def _raise(spark, sf_dir):
    raise RuntimeError("boom")


def test_wrong_and_raising_fake_queries_count_as_failed():
    expected = {"fake": (["k", "v"], [(1, 0.5), (2, 1.5)])}
    calls = [
        # right rows, other column and row order: passes
        harness.Call("right", "query", "fake", lambda s, d: FakeFrame(["v", "k"], [(1.5, 2), (0.5, 1)])),
        # one value off
        harness.Call("wrong", "query", "fake", lambda s, d: FakeFrame(["k", "v"], [(1, 0.5), (2, 1.6)])),
        # a row missing
        harness.Call("short", "query", "fake", lambda s, d: FakeFrame(["k", "v"], [(1, 0.5)])),
        # a column renamed
        harness.Call("renamed", "query", "fake", lambda s, d: FakeFrame(["k", "w"], [(1, 0.5), (2, 1.5)])),
        harness.Call("raises", "query", "fake", _raise),
        # no oracle: only an exception fails it
        harness.Call("ingest", "ingest", None, lambda s, d: FakeFrame([], [(1,)])),
    ]
    records = [harness.run_call(None, c, "unused", 0) for c in calls]
    failed = harness.gate(records, expected, harness._load_compare())
    assert failed == 4
    assert [r.error is None for r in records] == [True, False, False, False, False, True]
    assert records[4].error.startswith("RuntimeError")
    assert stats.failed_ratio(len(records), failed) == pytest.approx(4 / 6)


def test_self_time_subtracts_the_union_of_child_time():
    spans = [
        Span(0, "call", 0.0, 10.0, None, "r"),
        # two concurrent children overlapping on [2, 3]: union 1..5 = 4 s
        Span(1, "a", 1.0, 3.0, 0, "r"),
        Span(2, "b", 2.0, 5.0, 0, "r"),
        # grandchild counts against its parent only
        Span(3, "c", 2.5, 4.5, 2, "r"),
        # a child that outlives its parent is clipped to the parent
        Span(4, "d", 9.0, 12.0, 0, "r"),
    ]
    self_s = stats.self_times(spans)
    assert self_s[0] == pytest.approx(10.0 - 4.0 - 1.0)
    assert self_s[1] == pytest.approx(2.0)
    assert self_s[2] == pytest.approx(3.0 - 2.0)
    assert self_s[3] == pytest.approx(2.0)
    assert self_s[4] == pytest.approx(3.0)


def test_seed_permutes_registry_mix_and_leaves_the_chain_alone():
    def names(workload, seed):
        return [c.name for c in harness.calls_for(workload, seed)]

    assert sorted(names("registry_mix", 1)) == sorted(harness.REGISTRY_MIX)
    assert names("registry_mix", 1) == names("registry_mix", 1)
    assert names("registry_mix", 1) != names("registry_mix", 2)
    assert names("paper_chain", 1) == names("paper_chain", 2)
    assert names("paper_chain", 1)[0] == "ingest"
