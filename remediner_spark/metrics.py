"""Evaluation operators (M10) — distributed, join-based.

Triple-level P/R: semi joins of predicted vs gold triple sets.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

TRIPLE_KEYS = ["url", "sent_idx", "subj", "pred", "obj"]


def triple_precision_recall(
    predicted: DataFrame, gold: DataFrame
) -> dict[str, float]:
    """Exact-match triple P/R/F1 on (url, sent_idx, subj, pred, obj)."""
    p = predicted.select(*TRIPLE_KEYS).dropDuplicates()
    g = gold.select(*TRIPLE_KEYS).dropDuplicates()
    n_pred = p.count()
    n_gold = g.count()
    n_hit = p.join(g, TRIPLE_KEYS, "left_semi").count()
    precision = n_hit / n_pred if n_pred else 0.0
    recall = n_hit / n_gold if n_gold else 0.0
    f1 = (
        2 * precision * recall / (precision + recall)
        if precision + recall
        else 0.0
    )
    return {
        "n_pred": n_pred,
        "n_gold": n_gold,
        "n_hit": n_hit,
        "precision": precision,
        "recall": recall,
        "f1": f1,
    }
