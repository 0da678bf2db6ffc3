"""Contingency P/R against brute-force pair enumeration on a hand-built
6-resource clustering."""

from collections import Counter
from itertools import combinations

import pytest

from quality import pair_quality

ENTITY = {"r1": "A", "r2": "A", "r3": "A", "r4": "B", "r5": "B", "r6": "C"}


def cells(cluster_of):
    return [(c, e, n) for (c, e), n in
            Counter((cluster_of[r], ENTITY[r]) for r in ENTITY).items()]


def brute_force(cluster_of):
    pairs = list(combinations(sorted(ENTITY), 2))
    predicted = {p for p in pairs if cluster_of[p[0]] == cluster_of[p[1]]}
    true = {p for p in pairs if ENTITY[p[0]] == ENTITY[p[1]]}
    return len(predicted & true) / len(predicted), len(predicted & true) / len(true)


@pytest.mark.parametrize("cluster_of, expected", [
    # A split in two, its third doc merged with B: 2 of 4 pairs right both ways
    ({"r1": "c1", "r2": "c1", "r3": "c2", "r4": "c2", "r5": "c2", "r6": "c3"},
     (0.5, 0.5)),
    # everything but r6 in one cluster: all 4 true pairs found among 10
    ({"r1": "c1", "r2": "c1", "r3": "c1", "r4": "c1", "r5": "c1", "r6": "c2"},
     (0.4, 1.0)),
    # the true clustering
    ({r: e for r, e in ENTITY.items()}, (1.0, 1.0)),
])
def test_pair_quality(cluster_of, expected):
    assert pair_quality(cells(cluster_of)) == pytest.approx(expected)
    assert pair_quality(cells(cluster_of)) == pytest.approx(brute_force(cluster_of))


def test_no_pairs_counts_as_perfect():
    assert pair_quality([("c1", "A", 1), ("c2", "B", 1)]) == (1.0, 1.0)
