"""Span self-time arithmetic, percentiles with their sample count, and
batch entropy."""

import math

import numpy as np
import pytest

from perfbench.trace import Span, Tracer, batch_entropy, median, percentile, self_time


def span(start, end, sid=0, parent=None):
    return Span(sid, "s", parent, start, end)


def test_self_time_without_children_is_the_duration():
    assert self_time(span(1.0, 4.0), []) == pytest.approx(3.0)


def test_self_time_subtracts_disjoint_children():
    kids = [span(1.0, 2.0), span(3.0, 3.5)]
    assert self_time(span(0.0, 5.0), kids) == pytest.approx(3.5)


def test_self_time_counts_overlapping_children_once():
    kids = [span(1.0, 3.0), span(2.0, 4.0), span(3.5, 4.5)]  # union [1, 4.5]
    assert self_time(span(0.0, 5.0), kids) == pytest.approx(1.5)


def test_self_time_clips_children_to_the_parent_interval():
    kids = [span(-1.0, 1.0), span(4.0, 9.0), span(7.0, 8.0)]
    assert self_time(span(0.0, 5.0), kids) == pytest.approx(3.0)


def test_tracer_summary_nests_spans_and_reports_self_time():
    tr = Tracer(enabled=True)  # no Spark session: no job groups
    with tr.span("outer"):
        with tr.span("inner"):
            pass
        tr.call("leaf", lambda: None)
    rows = {r["name"]: r for r in tr.summary()}
    assert rows["inner"]["parent"] == rows["outer"]["id"]
    assert rows["leaf"]["parent"] == rows["outer"]["id"]
    outer = rows["outer"]
    covered = rows["inner"]["wall_s"] + rows["leaf"]["wall_s"]
    assert outer["self_s"] == pytest.approx(outer["wall_s"] - covered, abs=1e-9)
    assert outer["jobs"] == 0


def test_disabled_tracer_records_nothing():
    tr = Tracer(enabled=False)
    with tr.span("x"):
        assert tr.call("y", lambda v: v + 1, 1) == 2
    assert tr.spans == []


def test_percentile_is_nearest_rank_with_its_count():
    xs = list(range(1, 1001))  # 1..1000
    assert percentile(xs, 50) == (500, 1000)
    assert percentile(xs, 99.9) == (999, 1000)
    assert percentile(xs, 100) == (1000, 1000)
    assert percentile([7.0], 99.9) == (7.0, 1)
    with pytest.raises(ValueError):
        percentile([], 50)


def test_median():
    assert median([3, 1, 2]) == 2
    assert median([4, 1, 2, 3]) == 2.5


def test_batch_entropy():
    assert batch_entropy([0, 1, 2, 3] * 4, 4) == pytest.approx(2.0)
    assert batch_entropy([1] * 10, 5) == pytest.approx(0.0)
    # batches [0,0,1,1] -> 1 bit, trailing partial [2] -> 0 bits
    assert batch_entropy([0, 0, 1, 1, 2], 4) == pytest.approx(0.5)
    p = np.array([0.5, 0.25, 0.25])
    assert batch_entropy([0, 0, 1, 2], 4) == pytest.approx(-(p * np.log2(p)).sum())
    assert math.isclose(batch_entropy(np.zeros(3, dtype=int), 64), 0.0)
