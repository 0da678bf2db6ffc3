"""Pairwise link quality from cluster × entity contingency counts.

A predicted pair is two docs in one canonical cluster; a true pair is two
docs of one generated entity. Both pair totals and their intersection
follow from the (cluster, entity) cell counts, so no pairwise join is
needed.
"""

from __future__ import annotations

from collections import Counter
from collections.abc import Iterable


def _pairs(n: int) -> int:
    return n * (n - 1) // 2


def pair_quality(cells: Iterable[tuple[object, object, int]]) -> tuple[float, float]:
    """(precision, recall) from ``(cluster, entity, n_docs)`` cells that
    cover every doc once. With no predicted (or true) pairs the
    corresponding ratio is 1.0."""
    by_cluster: Counter = Counter()
    by_entity: Counter = Counter()
    correct = 0
    for cluster, entity, n in cells:
        by_cluster[cluster] += n
        by_entity[entity] += n
        correct += _pairs(n)
    predicted = sum(_pairs(n) for n in by_cluster.values())
    true = sum(_pairs(n) for n in by_entity.values())
    precision = correct / predicted if predicted else 1.0
    recall = correct / true if true else 1.0
    return precision, recall
