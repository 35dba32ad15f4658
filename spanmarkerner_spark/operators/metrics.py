"""Evaluation aggregations (SURVEY.md §2.4).

seqeval-equivalent micro P/R/F1 (A6, span_marker/evaluation.py:75-106):
pure Spark aggregations over (gold spans, predicted spans) — a span
counts as TP iff (start, end, label) all match, seqeval's strict mode.
No UDF, no seqeval dependency. The dataset statistics and widget
examples of the model card are `model_card.card_stats`.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def seqeval_f1(
    gold: DataFrame, pred: DataFrame, keys: list[str] | None = None
) -> tuple[DataFrame, DataFrame]:
    """gold/pred: (key..., label, word_start, word_end) span tables.

    Returns (per_label, overall) metric DataFrames with columns
    (label,) precision, recall, f1, tp, fp, fn.
    """
    keys = keys or ["sentence_key"]
    g = gold.select(*keys, "label", "word_start", "word_end").withColumn(
        "_g", F.lit(1)
    )
    p = pred.select(*keys, "label", "word_start", "word_end").withColumn(
        "_p", F.lit(1)
    )
    full = g.join(p, keys + ["label", "word_start", "word_end"], "full")
    per_label = (
        full.groupBy("label")
        .agg(
            F.sum(
                F.when(F.col("_g").isNotNull() & F.col("_p").isNotNull(), 1).otherwise(0)
            ).alias("tp"),
            F.sum(F.when(F.col("_g").isNull(), 1).otherwise(0)).alias("fp"),
            F.sum(F.when(F.col("_p").isNull(), 1).otherwise(0)).alias("fn"),
        )
        .withColumn("precision", F.round(F.col("tp") / F.greatest(F.col("tp") + F.col("fp"), F.lit(1)), 6))
        .withColumn("recall", F.round(F.col("tp") / F.greatest(F.col("tp") + F.col("fn"), F.lit(1)), 6))
        .withColumn(
            "f1",
            F.round(
                2 * F.col("tp") / F.greatest(2 * F.col("tp") + F.col("fp") + F.col("fn"), F.lit(1)),
                6,
            ),
        )
    )
    overall = (
        per_label.agg(
            F.sum("tp").alias("tp"), F.sum("fp").alias("fp"), F.sum("fn").alias("fn")
        )
        .withColumn("precision", F.round(F.col("tp") / F.greatest(F.col("tp") + F.col("fp"), F.lit(1)), 6))
        .withColumn("recall", F.round(F.col("tp") / F.greatest(F.col("tp") + F.col("fn"), F.lit(1)), 6))
        .withColumn(
            "f1",
            F.round(
                2 * F.col("tp") / F.greatest(2 * F.col("tp") + F.col("fp") + F.col("fn"), F.lit(1)),
                6,
            ),
        )
    )
    return per_label, overall
