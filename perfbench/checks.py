"""Output checks, run outside the timed region."""

from __future__ import annotations

from collections import Counter


def _pairs(n: int) -> int:
    return n * (n - 1) // 2


def link_precision_recall(canonical, truth) -> tuple[float, float]:
    """Pair-count link precision and recall, the math of
    ``tests/test_pipeline.py::test_link_precision_recall``.

    ``canonical``: (resource, canonical_id) rows of the S3 snapshot;
    ``truth``: (doc_id, entity_id) rows for every generated doc.
    Predicted pairs are resource pairs sharing a canonical id, correct
    pairs also share the true entity, and true pairs are doc pairs of one
    entity over the whole truth table (unlinked docs count as misses)."""
    entity = dict(truth)
    joined = [(c, entity[r]) for r, c in canonical if r in entity]
    pred = sum(_pairs(n) for n in Counter(c for c, _ in joined).values())
    correct = sum(_pairs(n) for n in Counter(joined).values())
    true = sum(_pairs(n) for n in Counter(entity.values()).values())
    precision = correct / pred if pred else 1.0
    recall = correct / true if true else 1.0
    return precision, recall
