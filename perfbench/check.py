"""Correctness gate: a top-k result against the exhaustive result of the
same query on the same index state (``search(..., k=None)``).

Tie rule: the i-th returned score equals the i-th true score within
1e-9, and every returned doc's true score is at least the true k-th
score (less 1e-9). Plans add per-term scores in different orders, so
equal-score docs may swap at the k boundary; any such order is correct.
"""

from __future__ import annotations

EPS = 1e-9


def topk_ok(got: list[tuple[int, float]], full: list[tuple[int, float]],
            k: int) -> bool:
    """``got`` and ``full`` are (doc_id, score) pairs; ``full`` is every
    matching doc."""
    truth = sorted(full, key=lambda r: (-r[1], r[0]))[:k]
    if len(got) != len(truth):
        return False
    if not truth:
        return True
    scores = dict(full)
    kth = truth[-1][1]
    seen = set()
    for (doc, score), (_, true_score) in zip(got, truth):
        if doc in seen or doc not in scores:
            return False
        seen.add(doc)
        if abs(score - true_score) >= EPS:
            return False
        if scores[doc] < kth - EPS:
            return False
    return True
