"""Model-evaluation operators: exact ROC AUC, threshold reports,
calibration.

Scoring a classifier over billions of rows is a warehouse job, not a
scikit-learn job — but the textbook implementations don't distribute:
AUC-by-ranks needs a GLOBAL sort of the scores, and a reliability
diagram needs quantile cuts. The shapes here:

- `roc_auc`: exact (ties-averaged, Mann–Whitney) AUC with NO global
  sort. Scores collapse to per-distinct-value (n_pos, n_neg) counts;
  the cumulative negatives-below-each-score come from
  operators.windows.segmented_prefix over score order (fixed-width
  score ranges, zero construction-time jobs); AUC is then one
  aggregate: Σ n_pos·(cum_neg_below + n_neg/2) / (N⁺·N⁻).
- `threshold_report`: TP/FP/FN/TN + precision/recall/F1 for a literal
  threshold list — ONE conditional-sum aggregate pass over the rows,
  k thresholds = k expressions, not k scans.
- `calibration_table`: equal-width score bins → (n, mean_score,
  positive_rate) + the |confidence − accuracy| gap, and `ece` folds
  the table into the Expected Calibration Error scalar. One bin-keyed
  aggregate.
"""

from __future__ import annotations

import math
from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def roc_auc_df(
    df: DataFrame, score_col: str, label_col: str, score_buckets: int = 4096
) -> DataFrame:
    """Exact ROC AUC as a ONE-ROW DataFrame (auc, n_pos, n_neg) — the
    lazy, pipeline-composable variant of `roc_auc`. auc is NULL when a
    class is absent (undefined), with the class counts visible so the
    caller can see why. Distributed shape per module docstring; nothing
    runs until the caller acts."""
    inner = roc_auc(df, score_col, label_col, score_buckets, _as_df=True)
    assert isinstance(inner, DataFrame)
    return inner


def roc_auc(
    df: DataFrame,
    score_col: str,
    label_col: str,
    score_buckets: int = 4096,
    _as_df: bool = False,
) -> float | DataFrame:
    """Exact ROC AUC (probability a random positive outscores a random
    negative, ties counting half). Distributed shape per module
    docstring; the driver sees only the final scalar.
    Raises when either class is absent (AUC undefined). Use
    `roc_auc_df` for a frame-returning variant that composes inside
    pipelines without breaking laziness."""
    s = F.col(score_col).cast("double")
    y = F.col(label_col).cast("int")
    per_score = (
        df.select(s.alias("s"), y.alias("y"))
        .filter(F.col("s").isNotNull() & F.col("y").isNotNull())
        .groupBy("s")
        .agg(
            F.sum("y").cast("long").alias("np"),
            F.sum(1 - F.col("y")).cast("long").alias("nn"),
        )
    )
    # cumulative negatives at or below each score: one lazy prefix over
    # score order (no global sort, no construction-time job); an empty
    # input falls out of the final aggregate as the (NULL, 0, 0) row
    # the df contract promises
    from distributedqueryengine_spark.operators.windows import segmented_prefix

    contrib_df = (
        segmented_prefix(
            per_score, [], "s", measure="nn", n_buckets=score_buckets,
            out="__cum_nn",
        )
        .withColumn("__cum_nn_below", F.col("__cum_nn") - F.col("nn"))
        .agg(
            F.sum(F.col("np") * (F.col("__cum_nn_below") + F.col("nn") / 2.0)).alias(
                "u"
            ),
            F.sum("np").alias("tp"),
            F.sum("nn").alias("tn"),
        )
    )
    if _as_df:
        return contrib_df.select(
            F.when(
                (F.col("tp") > 0) & (F.col("tn") > 0),
                F.col("u") / (F.col("tp") * F.col("tn")),
            ).alias("auc"),
            F.coalesce(F.col("tp"), F.lit(0)).cast("long").alias("n_pos"),
            F.coalesce(F.col("tn"), F.lit(0)).cast("long").alias("n_neg"),
        )
    contrib = contrib_df.collect()[0]
    if contrib["tp"] is None and contrib["tn"] is None:
        raise ValueError("no scored rows")
    if not contrib["tp"] or not contrib["tn"]:
        raise ValueError("AUC undefined: one class is absent")
    return float(contrib["u"]) / (contrib["tp"] * contrib["tn"])


def threshold_report(
    df: DataFrame,
    score_col: str,
    label_col: str,
    thresholds: Sequence[float],
) -> DataFrame:
    """(threshold, tp, fp, fn, tn, precision, recall, f1) for each
    literal threshold (predict positive when score >= t) — ONE
    aggregate pass regardless of how many thresholds."""
    if not thresholds:
        raise ValueError("thresholds must be non-empty")
    s = F.col(score_col).cast("double")
    y = F.col(label_col).cast("int")
    aggs = []
    for i, t in enumerate(thresholds):
        pred = (s >= F.lit(float(t))).cast("int")
        aggs += [
            F.sum(pred * y).cast("long").alias(f"tp_{i}"),
            F.sum(pred * (1 - y)).cast("long").alias(f"fp_{i}"),
            F.sum((1 - pred) * y).cast("long").alias(f"fn_{i}"),
            F.sum((1 - pred) * (1 - y)).cast("long").alias(f"tn_{i}"),
        ]
    row = df.filter(s.isNotNull() & y.isNotNull()).agg(*aggs).collect()[0]
    out = []
    for i, t in enumerate(thresholds):
        tp, fp, fn, tn = (row[f"{m}_{i}"] for m in ("tp", "fp", "fn", "tn"))
        prec = tp / (tp + fp) if tp + fp else None
        rec = tp / (tp + fn) if tp + fn else None
        f1 = (
            2 * prec * rec / (prec + rec)
            if prec is not None and rec is not None and (prec + rec)
            else None
        )
        out.append(
            (
                float(t), tp, fp, fn, tn,
                round(prec, 6) if prec is not None else None,
                round(rec, 6) if rec is not None else None,
                round(f1, 6) if f1 is not None else None,
            )
        )
    return df.sparkSession.createDataFrame(
        out,
        "threshold double, tp long, fp long, fn long, tn long, "
        "precision double, recall double, f1 double",
    )


def calibration_table(
    df: DataFrame, score_col: str, label_col: str, n_bins: int = 10
) -> DataFrame:
    """(bin, n, mean_score, positive_rate, gap) over equal-width score
    bins in [0, 1] — the reliability-diagram substrate. Scores outside
    [0, 1] are clamped into the edge bins (they are already a
    calibration bug worth seeing)."""
    if n_bins < 2:
        raise ValueError(f"n_bins must be >= 2, got {n_bins}")
    s = F.col(score_col).cast("double")
    y = F.col(label_col).cast("double")
    bin_ = F.least(
        F.greatest(F.floor(s * n_bins), F.lit(0)), F.lit(n_bins - 1)
    ).cast("int")
    return (
        df.filter(s.isNotNull() & y.isNotNull())
        .groupBy(bin_.alias("bin"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg(s), 6).alias("mean_score"),
            F.round(F.avg(y), 6).alias("positive_rate"),
        )
        .withColumn(
            "gap", F.round(F.abs(F.col("mean_score") - F.col("positive_rate")), 6)
        )
        .orderBy("bin")
    )


def ece_df(
    df: DataFrame, score_col: str, label_col: str, n_bins: int = 10
) -> DataFrame:
    """Expected Calibration Error as a ONE-ROW DataFrame (ece, n) — the
    lazy, pipeline-composable variant of `ece` (which raises on empty
    input; here ece is NULL with n=0 visible). One aggregate over the
    bin-sized calibration table, entirely in-plan."""
    ct = calibration_table(df, score_col, label_col, n_bins)
    return ct.agg(
        F.round(
            F.sum(F.col("n") * F.col("gap")) / F.sum("n"), 6
        ).alias("ece"),
        F.coalesce(F.sum("n"), F.lit(0)).cast("long").alias("n"),
    )


def ece(df: DataFrame, score_col: str, label_col: str, n_bins: int = 10) -> float:
    """Expected Calibration Error: Σ (n_b/N)·|conf_b − acc_b| over the
    calibration table's bins. Scalar convenience over `ece_df` (a
    bounded 1-row collect); raises on empty input."""
    row = ece_df(df, score_col, label_col, n_bins).collect()[0]
    if not row["n"]:
        raise ValueError("no scored rows")
    return float(row["ece"])
