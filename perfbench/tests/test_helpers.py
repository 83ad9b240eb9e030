"""Unit tests for the benchmark's pure helpers.

    python3 -m pytest perfbench/tests -q
"""

import math
import os

import pytest

from perfbench.layers import metric_name
from perfbench.stats import canonical, fingerprint, percentile, tail_percentile
from perfbench.trace import Span, Tracer, covered, self_times


# -- fingerprint canonicalization -------------------------------------------

def test_nested_arrays_fingerprint_without_crashing():
    # the k-means centroid column is array<double>; sorting raw rows of
    # lists next to NULLs raises TypeError, canonical text does not
    rows = [(1, 10, [0.5, -0.25]), (0, 12, [1.0, 0.0]), (2, None, None)]
    n, digest = fingerprint(rows)
    assert n == 3
    assert (n, digest) == fingerprint(list(reversed(rows)))


def test_fingerprint_sees_nested_changes():
    a = fingerprint([(0, [1.0, 2.0])])
    assert a != fingerprint([(0, [2.0, 1.0])])
    assert a != fingerprint([(0, [1.0, 2.0, 0.0])])


def test_null_nan_and_signed_zero():
    assert canonical(None) == "N"
    assert canonical(float("nan")) == canonical(math.nan) == "fNaN"
    assert canonical(-0.0) == canonical(0.0)
    assert canonical(float("inf")) != canonical(float("-inf"))
    assert canonical(None) != canonical(float("nan")) != canonical("NaN")
    assert fingerprint([(None,), (math.nan,)]) == fingerprint([(math.nan,), (None,)])


def test_types_and_strings_stay_distinct():
    assert canonical(1) != canonical(1.0) != canonical("1")
    assert canonical(True) != canonical(1)
    # separators inside strings cannot fake a list boundary
    assert canonical(["a,sb"]) != canonical(["a", "b"])
    assert canonical({"b": 1, "a": [None]}) == canonical({"a": [None], "b": 1})


def test_row_like_and_numpy_values():
    np = pytest.importorskip("numpy")
    from pyspark.sql import Row

    assert canonical(np.array([1.5, 2.5])) == canonical([1.5, 2.5])
    assert canonical(Row(x=1, y=[2.0])) == canonical({"x": 1, "y": [2.0]})


# -- span self time ------------------------------------------------------------

def _span(i, parent, start, end, name="s"):
    return Span(i, name, 0, parent, start, end)


def test_self_time_nested_children():
    spans = [
        _span(0, None, 0.0, 10.0),
        _span(1, 0, 1.0, 4.0),
        _span(2, 1, 2.0, 3.0),
        _span(3, 0, 5.0, 9.0),
    ]
    st = self_times(spans)
    assert st == pytest.approx({0: 3.0, 1: 2.0, 2: 1.0, 3: 4.0})
    assert sum(st.values()) == pytest.approx(10.0)


def test_self_time_overlapping_children_count_once():
    spans = [
        _span(0, None, 0.0, 10.0),
        _span(1, 0, 1.0, 6.0),
        _span(2, 0, 4.0, 8.0),  # overlaps [4, 6) with span 1
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(3.0)  # covered [1, 8) once


def test_self_time_child_past_parent_is_clipped():
    spans = [_span(0, None, 0.0, 5.0), _span(1, 0, 4.0, 7.0)]
    assert self_times(spans)[0] == pytest.approx(4.0)
    assert covered([(1.0, 2.0), (1.5, 3.0), (6.0, 9.0)], 0.0, 7.0) == pytest.approx(3.0)
    assert covered([], 0.0, 1.0) == 0.0


def test_untraced_tracer_links_parents():
    tr = Tracer()
    with tr.span("run") as root:
        with tr.span("a") as a:
            with tr.span("b") as b:
                pass
    assert (root.parent, a.parent, b.parent) == (None, root.span_id, a.span_id)
    assert sum(self_times(tr.spans).values()) == pytest.approx(root.duration)
    assert tr.overhead == {}


# -- percentile rule -----------------------------------------------------------

@pytest.mark.parametrize(
    "n,expected",
    [(0, None), (19, None), (20, 50.0), (39, 50.0), (40, 75.0),
     (99, 75.0), (100, 90.0), (200, 95.0), (999, 95.0), (1000, 99.0), (10_000, 99.9)],
)
def test_tail_percentile_needs_ten_samples_beyond(n, expected):
    assert tail_percentile(n) == expected


def test_percentile_interpolates_like_numpy():
    xs = [4.0, 1.0, 3.0, 2.0]
    assert percentile(xs, 50.0) == 2.5
    assert percentile(xs, 0.0) == 1.0 and percentile(xs, 100.0) == 4.0
    assert percentile([7.0], 90.0) == 7.0
    assert percentile(list(range(11)), 90.0) == pytest.approx(9.0)
    with pytest.raises(ValueError):
        percentile([], 50.0)


def test_metric_names_follow_span_names():
    assert metric_name("risk", "s") == "risk.s"
    assert metric_name("profile.build", "jobs") == "profile.build_jobs"
    assert metric_name("clustering.kmeans_fit", "jobs") == "clustering.kmeans_fit.jobs"


# -- process-tree counters -------------------------------------------------------

def test_process_tree_counts_children_cpu():
    import subprocess
    import sys

    from perfbench.spark_stats import _process_tree, process_tree_cpu_s

    before = process_tree_cpu_s()
    child = subprocess.Popen([sys.executable, "-c", "sum(i * i for i in range(10**7))"])
    try:
        assert child.pid in _process_tree(os.getpid())
    finally:
        child.wait()
    # the reaped child's CPU time stays in this process's cutime/cstime
    assert process_tree_cpu_s() - before > 0.1
