"""Evaluation: pair-level recall/precision and cluster agreement.

Maps suricate/metrics/metrics.py:4-23 (precision/recall on index-intersected
label sets) onto DataFrame joins.  The headline number is the north rule's
dup-pair recall >= 0.99 vs the planted truth at the pinned config.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from webdedup.scope import Scope


def canonical_pairs(df: DataFrame, a: str = "url_a", b: str = "url_b") -> DataFrame:
    """Order-insensitive pair canonicalization: (least, greatest), distinct."""
    return df.select(
        F.least(F.col(a), F.col(b)).alias("url_a"),
        F.greatest(F.col(a), F.col(b)).alias("url_b"),
    ).distinct()


def pairs_from_clusters(clusters: DataFrame, id_col: str = "url", gid_col: str = "gid") -> DataFrame:
    """All intra-cluster pairs implied by a (url, gid) assignment.

    Self-join per gid — test/eval scale only (quadratic per cluster); the
    engine itself never materializes this at production scale.
    """
    a = clusters.select(F.col(gid_col).alias("g"), F.col(id_col).alias("url_a"))
    b = clusters.select(F.col(gid_col).alias("g"), F.col(id_col).alias("url_b"))
    return (
        a.join(b, "g")
        .where(F.col("url_a") < F.col("url_b"))
        .select("url_a", "url_b")
        .distinct()
    )


def pair_metrics(predicted: DataFrame, truth: DataFrame) -> dict:
    """Recall/precision/F1 of predicted dup pairs vs planted truth pairs."""
    with Scope() as scope:
        pred = scope.persist(canonical_pairs(predicted))
        true = scope.persist(canonical_pairs(truth))
        tp = pred.join(true, ["url_a", "url_b"], "inner").count()
        n_pred = pred.count()
        n_true = true.count()
    recall = tp / n_true if n_true else 1.0
    precision = tp / n_pred if n_pred else 1.0
    f1 = 2 * precision * recall / (precision + recall) if (precision + recall) else 0.0
    return {
        "tp": tp,
        "n_pred": n_pred,
        "n_true": n_true,
        "recall": recall,
        "precision": precision,
        "f1": f1,
    }


def recall_by_type(predicted: DataFrame, truth_typed: DataFrame) -> DataFrame:
    """Per-dup-type recall: truth_typed(url_a, url_b, dup_type) vs predictions."""
    pred = canonical_pairs(predicted).withColumn("hit", F.lit(1))
    return (
        truth_typed.join(pred, ["url_a", "url_b"], "left")
        .groupBy("dup_type")
        .agg(
            F.count("*").alias("n_true"),
            F.sum(F.coalesce(F.col("hit"), F.lit(0))).alias("n_hit"),
        )
        .withColumn("recall", F.col("n_hit") / F.col("n_true"))
    )


def classification_metrics(
    scored: DataFrame, pred_col: str = "is_dup", label_col: str = "y_true"
) -> dict:
    """Precision/recall/f1/accuracy/balanced accuracy on label-intersected
    pairs (suricate/metrics/metrics.py:4-23 surface)."""
    agg = scored.agg(
        F.sum(((F.col(pred_col) == 1) & (F.col(label_col) == 1)).cast("long")).alias("tp"),
        F.sum(((F.col(pred_col) == 1) & (F.col(label_col) == 0)).cast("long")).alias("fp"),
        F.sum(((F.col(pred_col) == 0) & (F.col(label_col) == 1)).cast("long")).alias("fn"),
        F.sum(((F.col(pred_col) == 0) & (F.col(label_col) == 0)).cast("long")).alias("tn"),
    ).collect()[0]
    tp, fp, fn, tn = (int(agg[k]) for k in ("tp", "fp", "fn", "tn"))
    precision = tp / (tp + fp) if tp + fp else 1.0
    recall = tp / (tp + fn) if tp + fn else 1.0
    specificity = tn / (tn + fp) if tn + fp else 1.0
    return {
        "tp": tp, "fp": fp, "fn": fn, "tn": tn,
        "precision": precision,
        "recall": recall,
        "f1": 2 * precision * recall / (precision + recall) if precision + recall else 0.0,
        "accuracy": (tp + tn) / (tp + fp + fn + tn) if tp + fp + fn + tn else 1.0,
        "balanced_accuracy": (recall + specificity) / 2,
    }


def text_invariant_violations(pages_before: DataFrame, pages_after: DataFrame) -> int:
    """Count urls whose extracted text changed between two stages — the
    byte-identical-text-per-url invariant (BASELINE.json input_hint).
    Compares sha256 of the UTF-8 bytes."""
    def hashed(df):
        return df.select(
            "url", F.sha2(F.encode(F.coalesce(F.col("text"), F.lit("")), "UTF-8"), 256).alias("h")
        )

    return (
        hashed(pages_before)
        .join(hashed(pages_after).withColumnRenamed("h", "h2"), "url", "inner")
        .where(F.col("h") != F.col("h2"))
        .count()
    )
