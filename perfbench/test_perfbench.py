"""Tests of the benchmark's own code (no Spark needed).

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import os
import statistics
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import plan  # noqa: E402
import stats  # noqa: E402
from spans import attribute_jobs  # noqa: E402


def test_same_seed_same_operation_lists():
    assert plan.query_passes(3, 2) == plan.query_passes(3, 2)
    assert plan.corpus_nights(2, 1200) == plan.corpus_nights(2, 1200)
    assert plan.query_passes(3, 2) != plan.query_passes(4, 2)


def test_query_passes_cover_every_query_once_per_pass():
    ops = plan.query_passes(9, 3)
    k = len(plan.QUERIES)
    for i in range(3):
        assert sorted(ops[i * k : (i + 1) * k]) == sorted(plan.QUERIES)


def test_corpus_nights_mix_and_disjoint_new_docs():
    nights = plan.corpus_nights(3, 1200)
    assert len(nights[0]["new"]) == plan.BOOTSTRAP_DOCS
    seen = set(nights[0]["new"])
    for n in nights[1:]:
        assert len(n["new"]) == 50 and len(n["recrawl"]) == 6 and len(n["edited"]) == 3
        assert set(n["recrawl"]) | set(n["edited"]) <= seen  # copies of corpus docs
        assert not set(n["recrawl"]) & set(n["edited"])
        assert not set(n["new"]) & seen
        seen |= set(n["new"])
    with pytest.raises(ValueError):
        plan.corpus_nights(30, 1200)


def test_units_fill_at_least_the_seconds():
    assert plan.units("query_mix", 1) == 1
    assert plan.units("query_mix", 4 * plan.UNIT_S["query_mix"]) == 4
    assert plan.units("corpus_ingest", 10) * plan.UNIT_S["corpus_ingest"] >= 10


def test_per_op_division():
    assert stats.per_op(1500.0, 3) == 500.0
    assert stats.per_op(10.0, 0) == 0.0


def test_percentile_reports_its_sample_count():
    assert stats.percentile([3.0, 1.0, 2.0], 50) == (2.0, 3)
    p90, n = stats.percentile([1.0, 2.0, 3.0, 4.0, 5.0], 90)
    assert n == 5 and p90 == pytest.approx(4.6)
    assert stats.percentile([], 50) == (0.0, 0)
    assert stats.percentile([7.0], 90) == (7.0, 1)


def test_quartiles_and_spread_match_statistics_module():
    xs = [10.0, 11.0, 9.0, 12.0, 10.5, 9.5, 10.2, 11.1, 9.9, 10.4]
    q1, med, q3 = statistics.quantiles(xs, n=4)
    assert stats.quartiles(xs) == (q1, med, q3)
    assert stats.spread(xs) == pytest.approx((q3 - q1) / med)


def test_self_time_clips_a_child_that_outlives_its_parent():
    spans = [
        {"id": 0, "parent": None, "start": 0.0, "end": 10.0},
        {"id": 1, "parent": 0, "start": 2.0, "end": 5.0},
        {"id": 2, "parent": 0, "start": 4.0, "end": 12.0},  # overlaps 1, outlives 0
        {"id": 3, "parent": 2, "start": 6.0, "end": 7.0},
    ]
    st = stats.self_times(spans)
    assert st[0] == pytest.approx(2.0)  # 10 - union([2,5],[4,10]) = 10 - 8
    assert st[1] == pytest.approx(3.0)
    assert st[2] == pytest.approx(7.0)
    assert st[3] == pytest.approx(1.0)


def test_union_length_merges_overlaps():
    assert stats.union_length([(0, 2), (1, 3), (5, 6), (5.5, 5.6)]) == pytest.approx(4.0)
    assert stats.union_length([]) == 0.0


def test_jobs_go_to_the_innermost_span_of_their_group():
    spans = [
        {"id": 0, "parent": None, "op": "pb0", "start": 100.0, "end": 110.0},
        {"id": 1, "parent": 0, "op": "pb0", "start": 101.0, "end": 104.0},
        {"id": 2, "parent": 1, "op": "pb0", "start": 102.0, "end": 103.0},
        {"id": 3, "parent": None, "op": "pb1", "start": 110.0, "end": 120.0},
    ]
    jobs = [
        {"jobGroup": "pb0", "submissionTime": 102500},  # span 2
        {"jobGroup": "pb0", "submissionTime": 105000},  # span 0 only
        {"jobGroup": "pb1", "submissionTime": 110000},  # span 3, not span 0
        {"jobGroup": None, "submissionTime": 102500},  # outside every op
    ]
    inc = attribute_jobs(spans, jobs)
    assert inc == {0: 2, 1: 1, 2: 1, 3: 1}
