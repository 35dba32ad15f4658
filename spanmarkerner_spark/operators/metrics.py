"""Evaluation + dataset-statistics aggregations (SURVEY.md §2.4).

- seqeval-equivalent micro P/R/F1 (A6, span_marker/evaluation.py:75-106):
  pure Spark aggregations over (gold spans, predicted spans) — a span
  counts as TP iff (start, end, label) all match, seqeval's strict
  mode. No UDF, no seqeval dependency.
- dataset statistics (A1/A3/A5, model_card.py:287-316), widget-example
  top-k (O3, model_card.py:277-300), entity-tracker histogram (A2,
  tokenizer.py:66-133).
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


def dataset_statistics(fixture: DataFrame) -> DataFrame:
    """min/avg/max of word_count & entity_count (A3 — the reference
    labels avg 'Median' but computes the mean, model_card.py:302-316;
    we keep the mean and name it honestly)."""
    sized = fixture.select(
        F.size("tokens").alias("word_count"),
        F.size("entities").alias("entity_count"),
    )
    return sized.agg(
        F.min("word_count").alias("min_words"),
        F.round(F.avg("word_count"), 6).alias("avg_words"),
        F.max("word_count").alias("max_words"),
        F.min("entity_count").alias("min_entities"),
        F.round(F.avg("entity_count"), 6).alias("avg_entities"),
        F.max("entity_count").alias("max_entities"),
    )


def entity_tracker_histogram(
    gold_spans: DataFrame, kept_spans: DataFrame, keys: list[str]
) -> DataFrame:
    """A2: how many gold entities were lost (e.g. to truncation or the
    entity_max_length cap), grouped by span length — the reference's
    EntityTracker warning as an aggregation. kept = anti-join residue."""
    missed = gold_spans.join(
        kept_spans, keys + ["label", "word_start", "word_end"], "left_anti"
    )
    return (
        missed.withColumn("span_length", F.col("word_end") - F.col("word_start"))
        .groupBy("span_length")
        .agg(F.count(F.lit(1)).alias("missed"))
        .orderBy("span_length")
    )


def entity_tracker_report(
    histogram: DataFrame,
    total_num_entities: int,
    entity_max_length: int,
    model_max_length: int,
    split: str = "train",
) -> str | None:
    """Driver-side render of entity_tracker_histogram into the
    reference's human-readable warning (tokenizer.py:66-117, golden
    regexes in the reference's tests/test_trainer.py:155-228): missed
    entities LONGER than entity_max_length are itemized per length;
    missed entities within the cap were lost to the model input
    length and are reported as one total. Returns None when nothing
    was missed (the reference just resets the tracker)."""
    rows = histogram.collect()  # tiny: one row per distinct span length
    if not rows or total_num_entities <= 0:
        return None
    entity_missed = sorted(
        (r["span_length"], r["missed"])
        for r in rows
        if r["span_length"] > entity_max_length
    )
    model_missed = sum(
        r["missed"] for r in rows if r["span_length"] <= entity_max_length
    )
    total_missed = sum(r["missed"] for r in rows)
    if total_missed == 0:
        return None
    if split == "train":
        message = "This SpanMarker model will ignore"
    else:
        message = "This SpanMarker model won't be able to predict"
    message += (
        f" {total_missed / total_num_entities:%} of all annotated entities in "
        f"the {split} dataset. This is caused by the SpanMarkerModel "
    )
    if entity_missed:
        message += (
            f"maximum entity length of {entity_max_length} "
            f"word{'s' if entity_max_length > 1 else ''}"
        )
        if model_missed:
            message += " and the "
    if model_missed:
        message += (
            f"maximum model input length of {model_max_length} "
            f"token{'s' if model_max_length > 1 else ''}"
        )
    message += "."
    if entity_missed:
        message += (
            "\nThese are the frequencies of the missed entities due to "
            f"maximum entity length out of {total_num_entities} total entities:\n"
        )
        message += "\n".join(
            f"- {freq} missed entities with {length} "
            f"word{'s' if length > 1 else ''} ({freq / total_num_entities:%})"
            for length, freq in entity_missed
        )
    if model_missed:
        message += "\nAdditionally, a " if entity_missed else "\nA "
        message += (
            f"total of {model_missed} ({model_missed / total_num_entities:%})"
            " entities were missed due to the maximum input length."
        )
    return message


def widget_examples(fixture: DataFrame, k: int = 5) -> DataFrame:
    """O3: top-k sentences by (distinct entity labels, entity count)
    desc with a deterministic tie-break."""
    scored = fixture.select(
        "tokens",
        F.size(F.array_distinct(F.col("entities.label_id"))).alias("uniq_labels"),
        F.size("entities").alias("entity_count"),
        F.xxhash64(F.array_join("tokens", " ")).alias("tiebreak"),
    )
    return scored.orderBy(
        F.desc("uniq_labels"), F.desc("entity_count"), F.asc("tiebreak")
    ).limit(k)

