import numpy as np
import pytest

from stats import covered, f1, median, percentile, recall_at_k, samples_beyond, self_times
from tracing import Span


@pytest.mark.parametrize("p", [0, 10, 25, 50, 90, 99, 100])
def test_percentile_matches_numpy_linear(p):
    xs = np.random.default_rng(3).normal(size=37).tolist()
    assert percentile(xs, p) == pytest.approx(float(np.percentile(xs, p)))


def test_percentile_edges():
    assert median([5.0]) == 5.0
    assert median([1.0, 3.0]) == 2.0
    with pytest.raises(ValueError):
        percentile([], 50)
    with pytest.raises(ValueError):
        percentile([1.0], 101)


def test_samples_beyond_p90():
    # 100 samples: p90 sits between ranks 89 and 90 (0-based), ten lie above
    assert samples_beyond(100, 90) == 10
    assert samples_beyond(9, 90) == 1
    assert samples_beyond(110, 90) == 11


def test_covered_merges_overlaps():
    assert covered([]) == 0.0
    assert covered([(0, 1), (2, 3)]) == 2.0
    assert covered([(0, 2), (1, 3), (5, 6)]) == 4.0
    assert covered([(0, 10), (2, 3)]) == 10.0


def test_self_time_subtracts_direct_children_only():
    spans = [
        Span(0, "op", None, 0, 0.0, 10.0),
        Span(1, "sql", 0, 0, 1.0, 9.0),
        Span(2, "engine", 1, 0, 2.0, 8.0),
        Span(3, "index", 2, 0, 3.0, 4.0),
        Span(4, "spark.exec", 0, 0, 9.0, 9.5),
    ]
    st = self_times(spans)
    assert st == {0: pytest.approx(1.5), 1: pytest.approx(2.0), 2: pytest.approx(5.0),
                  3: pytest.approx(1.0), 4: pytest.approx(0.5)}
    # self times of one op partition its wall time
    assert sum(st.values()) == pytest.approx(10.0)


def test_recall_and_f1():
    assert recall_at_k([1, 2, 3], [3, 2, 1]) == 1.0
    assert recall_at_k([1, 2, 9], [1, 2, 3, 4]) == 0.5
    assert recall_at_k([], []) == 1.0
    assert f1(0, 0, 0) == 1.0
    assert f1(0, 3, 0) == 0.0
    assert f1(8, 2, 2) == pytest.approx(0.8)
    assert f1(10, 0, 0) == 1.0
