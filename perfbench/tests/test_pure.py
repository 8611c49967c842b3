"""Tests of the benchmark's pure logic: tail percentile, self time and
generator determinism. Run with ``python3 -m pytest perfbench/tests -q``."""

from __future__ import annotations

import statistics
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[2]))

from perfbench import gen, stats, tracing  # noqa: E402


def test_tail_has_ten_samples_above():
    xs = [float(v) for v in range(1, 61)]  # 60 samples
    value, pct, n = stats.tail(list(reversed(xs)))
    assert n == 60
    assert value == 50.0
    assert sum(x > value for x in xs) == 10
    assert pct == pytest.approx(100 * 50 / 60)


def test_tail_smallest_sample_with_a_tail_at_p75():
    xs = [float(v) for v in range(40)]
    value, pct, n = stats.tail(xs)
    assert (value, pct, n) == (29.0, 75.0, 40)
    assert sum(x > value for x in xs) == 10


def test_tail_without_enough_samples_is_interpolated_p75():
    assert stats.tail([3.0, 1.0, 2.0]) == (pytest.approx(2.5), 75.0, 3)
    assert stats.tail([float(v) for v in range(39)]) == (pytest.approx(28.5), 75.0, 39)
    assert stats.tail([8.0, 1.0, 7.0, 2.0, 6.0, 3.0, 5.0, 4.0]) == (pytest.approx(6.25), 75.0, 8)
    assert stats.tail([1.0, 1.0, 1.0, 1.0, 9.0]) == (1.0, 75.0, 5)
    assert stats.tail([4.0]) == (4.0, 75.0, 1)
    with pytest.raises(ValueError):
        stats.tail([])


def test_quartile_spread():
    assert stats.quartile_spread([10.0] * 5) == 0.0
    values = [9.0, 10.0, 10.0, 11.0, 12.0, 10.0, 8.0, 10.0, 11.0, 9.0]
    q1, med, q3 = statistics.quantiles(values, n=4)
    assert stats.quartile_spread(values) == pytest.approx((q3 - q1) / med)


def test_covered_merges_and_clips():
    assert stats.covered([], 0, 10) == 0
    assert stats.covered([(1, 3), (2, 5), (7, 8)], 0, 10) == 5
    assert stats.covered([(-5, 2), (9, 20)], 0, 10) == 3
    assert stats.covered([(1, 4), (1, 4), (4, 6)], 0, 10) == 5
    assert stats.covered([(11, 12)], 0, 10) == 0


def test_self_time_subtracts_overlapping_children_once():
    assert stats.self_time(0.0, 10.0, []) == 10.0
    assert stats.self_time(0.0, 10.0, [(1.0, 4.0), (3.0, 6.0)]) == 5.0
    assert stats.self_time(0.0, 10.0, [(0.0, 10.0)]) == 0.0


def _span(i, parent, start, end, kind="build", jobs=()):
    s = tracing.Span(id=i, name=f"s{i}", kind=kind, parent=parent, job=0, start=start)
    s.end = end
    s.spark_jobs = list(jobs)
    return s


def test_self_times_and_subtree():
    spans = [
        _span(0, None, 0.0, 10.0, "job"),
        _span(1, 0, 1.0, 3.0),
        _span(2, 0, 4.0, 9.0, "action", jobs=[(7, 5.0, 6.0), (8, 5.5, 7.0)]),
        _span(3, 2, 8.0, 8.5),
        _span(4, None, 11.0, 12.0, "job"),
    ]
    selfs = tracing.self_times(spans)
    assert selfs[0] == pytest.approx(10.0 - 2.0 - 5.0)
    assert selfs[2] == pytest.approx(5.0 - 0.5)
    assert [s.id for s in tracing.subtree(spans, spans[0])] == [0, 1, 2, 3]
    # The action span lasts 5 s; its Spark jobs cover 5.0-7.0.
    assert tracing.driver_overhead(tracing.subtree(spans, spans[0])) == pytest.approx(3.0)


def test_hierarchy_is_deterministic_per_seed():
    a, stats_a = gen.hierarchy(3, 5_000)
    b, stats_b = gen.hierarchy(3, 5_000)
    c, _ = gen.hierarchy(4, 5_000)
    assert gen.table_hash(a) == gen.table_hash(b)
    assert stats_a == stats_b
    assert gen.table_hash(a) != gen.table_hash(c)
    assert 0 < stats_a["leaf_rows"] <= 5_000
    assert stats_a["max_leaves_per_root"] > 10 * stats_a["median_leaves_per_root"]


def test_corpus_is_deterministic_per_seed():
    a, planted_a, stats_a = gen.corpus(3, 300, 0.2)
    b, planted_b, _ = gen.corpus(3, 300, 0.2)
    c, _, _ = gen.corpus(4, 300, 0.2)
    assert gen.table_hash(a) == gen.table_hash(b)
    assert planted_a == planted_b
    assert gen.table_hash(a) != gen.table_hash(c)
    assert stats_a["docs"] == 300
    assert len(planted_a) == 60
    assert len(set(a.column("doc_id").to_pylist())) == 300


def test_planted_copies_are_near_duplicates():
    table, planted, _ = gen.corpus(5, 400, 0.25)
    text = dict(zip(table.column("doc_id").to_pylist(), table.column("text").to_pylist()))

    def shingles(t):
        w = t.split()
        return {tuple(w[i : i + 3]) for i in range(len(w) - 2)}

    for base, copy in planted:
        a, b = shingles(text[base]), shingles(text[copy])
        assert len(a & b) / len(a | b) >= 0.8
