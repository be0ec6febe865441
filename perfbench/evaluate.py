"""Pairwise clustering scores from the (predicted, truth) contingency table.

Linear in the number of documents: with n_ij the documents in predicted
cluster i and true cluster j,

    TP         = sum_ij C(n_ij, 2)
    pred_pairs = sum_i  C(n_i., 2)
    true_pairs = sum_j  C(n_.j, 2)

which equals the within-cluster pair enumeration of
``plans.pipeline.pairwise_f1`` exactly, without its per-cluster self-join
(quadratic in cluster size, so one giant false component would make
evaluation the slowest step).
"""

from __future__ import annotations

from collections import Counter


def _c2(n: int) -> int:
    return n * (n - 1) // 2


def contingency(pred: dict, truth: dict) -> Counter:
    """Cell counts n_ij over documents. Both labelings must cover exactly
    the same document ids."""
    if pred.keys() != truth.keys():
        missing = len(truth.keys() - pred.keys())
        extra = len(pred.keys() - truth.keys())
        raise ValueError(f"labelings differ in ids: {missing} missing, {extra} extra")
    return Counter((pred[d], truth[d]) for d in truth)


def pairwise_scores(pred: dict, truth: dict) -> dict:
    cells = contingency(pred, truth)
    rows, cols = Counter(), Counter()
    for (i, j), n in cells.items():
        rows[i] += n
        cols[j] += n
    tp = sum(_c2(n) for n in cells.values())
    n_pred = sum(_c2(n) for n in rows.values())
    n_true = sum(_c2(n) for n in cols.values())
    precision = tp / n_pred if n_pred else 1.0
    recall = tp / n_true if n_true else 1.0
    f1 = 2 * precision * recall / (precision + recall) if precision + recall else 0.0
    return {
        "tp": tp,
        "pred_pairs": n_pred,
        "true_pairs": n_true,
        "precision": precision,
        "recall": recall,
        "f1": f1,
        "n_clusters": len(rows),
        "max_cluster_size": max(rows.values(), default=0),
    }


def same_partition(a: dict, b: dict) -> bool:
    """True when two labelings group the documents identically (cluster
    ids may differ): every nonempty cell is a whole row and a whole column."""
    cells = contingency(a, b)
    return len(cells) == len(set(a.values())) == len(set(b.values()))
