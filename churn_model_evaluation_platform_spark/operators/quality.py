"""Classification-quality statistics (SURVEY §2.D).

Reproduces the reference's Evidently ``ClassificationPreset`` consumption:
accuracy / precision / recall / f1 of ``churn_prediction`` vs ``churn``
(churn_prediction_pipeline.py:452-457), plus per-label variants flattened
like the dict-valued metrics at churn_prediction_pipeline.py:513-523.

Spark-first design: ONE conditional-aggregation pass produces the whole
confusion matrix (4 longs) — map-side partial aggregation means the shuffle
carries 4 numbers per partition regardless of input size, so this is
scale-optimal at 100 TB. All scores are then derived column expressions on
that single row; the long (metric_name, value) shape falls out of a stack.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..schema import TARGET_COLUMN, TARGET_PREDICTION_COLUMN


def confusion_matrix(
    df: DataFrame,
    actual_col: str = TARGET_COLUMN,
    predicted_col: str = TARGET_PREDICTION_COLUMN,
    positive: int = 1,
) -> DataFrame:
    """Single-row DataFrame ``(tp, fp, fn, tn, n)`` via conditional agg."""
    a = F.col(actual_col)
    p = F.col(predicted_col)
    pos = F.lit(positive)
    flag = lambda c: F.sum(c.cast("long"))  # noqa: E731
    return df.agg(
        flag((a == pos) & (p == pos)).alias("tp"),
        flag((a != pos) & (p == pos)).alias("fp"),
        flag((a == pos) & (p != pos)).alias("fn"),
        flag((a != pos) & (p != pos)).alias("tn"),
        F.count(F.lit(1)).alias("n"),
    )


def _safe_div(num, den):
    """num/den with 0.0 when the denominator is 0 (sklearn zero_division=0)."""
    return F.when(den == 0, F.lit(0.0)).otherwise(num / den)


def _scores_from_cm(tp, fp, fn, tn, n):
    accuracy = _safe_div((tp + tn).cast("double"), n.cast("double"))
    precision = _safe_div(tp.cast("double"), (tp + fp).cast("double"))
    recall = _safe_div(tp.cast("double"), (tp + fn).cast("double"))
    f1 = _safe_div(2.0 * precision * recall, precision + recall)
    return accuracy, precision, recall, f1


def _overall_columns() -> list[Column]:
    """The four overall scores over a ``confusion_matrix`` row."""
    tp, fp, fn, tn, n = (F.col(c) for c in ("tp", "fp", "fn", "tn", "n"))
    names = ("accuracy", "precision", "recall", "f1score")
    return [s.alias(name) for s, name in zip(_scores_from_cm(tp, fp, fn, tn, n), names)]


def _per_label_columns(labels: tuple[int, int]) -> list[Column]:
    """Per-label precision/recall/f1 over a ``confusion_matrix`` row with
    ``labels[1]`` positive: treating the other label as positive just
    transposes the matrix (tp<->tn, fp<->fn)."""
    neg, pos = labels
    tp, fp, fn, tn, n = (F.col(c) for c in ("tp", "fp", "fn", "tn", "n"))
    cols = []
    for label, cells in ((pos, (tp, fp, fn, tn)), (neg, (tn, fn, fp, tp))):
        _, *prf = _scores_from_cm(*cells, n)
        names = ("precision", "recall", "f1")
        cols += [s.alias(f"{name}bylabel_{label}") for s, name in zip(prf, names)]
    return cols


def _long(cm: DataFrame, columns: list[Column]) -> DataFrame:
    wide = cm.select(*columns)
    return wide.unpivot([], wide.columns, "metric_name", "value")


def classification_scores(
    df: DataFrame,
    actual_col: str = TARGET_COLUMN,
    predicted_col: str = TARGET_PREDICTION_COLUMN,
    positive: int = 1,
) -> DataFrame:
    """Long-format scores: rows ``(metric_name, value)`` for ``accuracy``,
    ``precision``, ``recall``, ``f1score`` (the simplified names the
    reference's dashboard consumes — churn_prediction_pipeline.py:533-553).
    """
    cm = confusion_matrix(df, actual_col, predicted_col, positive)
    return _long(cm, _overall_columns())


def quality_scores(
    df: DataFrame,
    actual_col: str = TARGET_COLUMN,
    predicted_col: str = TARGET_PREDICTION_COLUMN,
) -> DataFrame:
    """The rows of ``classification_scores`` then ``per_label_scores``
    (labels 0/1) from ONE confusion-matrix aggregation. A union of the two
    frames aggregates the batch twice: when both read one cached frame,
    Spark cannot reuse one aggregation for the other."""
    cm = confusion_matrix(df, actual_col, predicted_col)
    return _long(cm, _overall_columns() + _per_label_columns((0, 1)))


def classification_scores_by_segment(
    df: DataFrame,
    segment_col: str,
    actual_col: str = TARGET_COLUMN,
    predicted_col: str = TARGET_PREDICTION_COLUMN,
    positive: int = 1,
) -> DataFrame:
    """SLICING ANALYSIS (r9): the four classification scores PER
    SEGMENT — ``(segment, n, accuracy, precision, recall, f1score)``,
    one row per segment value. The model-monitoring question behind it
    ("which cohort is the model failing on?") is the standard follow-up
    to a global score drop. One grouped conditional aggregation — the
    shuffle carries one partial CM row per segment after map-side
    combine, never the scored rows; zero_division=0 semantics match
    the global ``classification_scores``."""
    a = F.col(actual_col)
    p = F.col(predicted_col)
    pos = F.lit(positive)
    flag = lambda c: F.sum(c.cast("long"))  # noqa: E731
    cm = df.groupBy(F.col(segment_col).alias("segment")).agg(
        flag((a == pos) & (p == pos)).alias("tp"),
        flag((a != pos) & (p == pos)).alias("fp"),
        flag((a == pos) & (p != pos)).alias("fn"),
        flag((a != pos) & (p != pos)).alias("tn"),
        F.count(F.lit(1)).alias("n"),
    )
    tp, fp, fn, tn, n = (F.col(c) for c in ("tp", "fp", "fn", "tn", "n"))
    accuracy, precision, recall, f1 = _scores_from_cm(tp, fp, fn, tn, n)
    return cm.select(
        "segment",
        "n",
        accuracy.alias("accuracy"),
        precision.alias("precision"),
        recall.alias("recall"),
        f1.alias("f1score"),
    )


def per_label_scores(
    df: DataFrame,
    actual_col: str = TARGET_COLUMN,
    predicted_col: str = TARGET_PREDICTION_COLUMN,
    labels: tuple[int, int] = (0, 1),
) -> DataFrame:
    """Binary per-label scores flattened to ``f1bylabel_<label>`` etc.
    (name shape per churn_prediction_pipeline.py:519,541).

    Derived from the SAME single confusion-matrix row, so no second pass
    over the data is needed.
    """
    cm = confusion_matrix(df, actual_col, predicted_col, positive=labels[1])
    return _long(cm, _per_label_columns(labels))
