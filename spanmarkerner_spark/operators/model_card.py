"""Model-card statistics (SURVEY.md §2 A3/A4/A5/O3 composed; reference
span_marker/model_card.py:262-334).

The reference's SpanMarkerModelCardData gathers, from the training
fixture:
  - train-set metrics: min/mean/max sentence length and entities per
    sentence (set_train_set_metrics, model_card.py:302-316 — the
    reference labels the mean 'Median'; we keep the mean and name it
    honestly),
  - up to 3 example surface forms per label
    (set_label_examples, model_card.py:318-334),
  - widget examples: top sentences by (distinct entity classes,
    entity count) plus the shortest of those as the predict example
    (set_widget_examples, model_card.py:262-300).

Here the gathering is ONE Spark job producing a long-format stats
table (section, item, value_num, value_str) — every row is a plain
scalar, so the driver can hash it and a DuckDB oracle can reproduce it.

Determinism: the reference samples 100 random sentences and keeps
first-seen label examples (order-dependent); we impose total orders
(lexicographic examples, portable-hash tiebreaks) so the table is
byte-stable across cluster runs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from spanmarkerner_spark.functions.hashing import portable_hash64


def card_stats(
    fixture: DataFrame,
    labels: list[str],
    k_examples: int = 3,
    k_widget: int = 5,
) -> DataFrame:
    """fixture: (tokens array<string>, entities
    array<struct<label_id:int,word_start:int,word_end:int>>) — the
    normalize_fixture output shape. Returns the long-format card
    stats table."""
    sized = fixture.select(
        "tokens",
        "entities",
        F.size("tokens").alias("word_count"),
        F.size("entities").alias("entity_count"),
    )

    def _stat_rows(col: str, section: str):
        return [
            F.min(col).cast("double").alias(f"{section}_min"),
            (F.sum(col) * F.lit(1.0) / F.count(F.lit(1))).alias(f"{section}_mean"),
            F.max(col).cast("double").alias(f"{section}_max"),
        ]

    agg = sized.agg(
        *_stat_rows("word_count", "sentence_length"),
        *_stat_rows("entity_count", "entities_per_sentence"),
    )
    # one row per metric: unpivot the 1-row aggregate
    metrics = agg.selectExpr(
        "stack(6, "
        + ", ".join(
            f"'{s}_{m}', {s}_{m}"
            for s in ("sentence_length", "entities_per_sentence")
            for m in ("min", "mean", "max")
        )
        + ") as (item, value_num)"
    ).select(
        F.lit("training_set").alias("section"),
        "item",
        "value_num",
        F.lit(None).cast("string").alias("value_str"),
    )

    # label examples: k lexicographically-first distinct surface forms
    label_map = F.array(*[F.lit(x) for x in labels])
    spans = sized.select(
        F.explode("entities").alias("e"), "tokens"
    ).select(
        F.element_at(label_map, F.col("e.label_id") + 1).alias("label"),
        F.array_join(
            F.slice(
                "tokens",
                F.col("e.word_start") + 1,
                F.col("e.word_end") - F.col("e.word_start"),
            ),
            " ",
        ).alias("span"),
    )
    examples = (
        spans.groupBy("label")
        .agg(
            F.array_join(
                F.transform(
                    F.slice(
                        F.array_sort(F.array_distinct(F.collect_list("span"))),
                        1,
                        k_examples,
                    ),
                    lambda s: F.concat(F.lit('"'), s, F.lit('"')),
                ),
                ", ",
            ).alias("value_str")
        )
        .select(
            F.lit("label_examples").alias("section"),
            F.col("label").alias("item"),
            F.lit(None).cast("double").alias("value_num"),
            "value_str",
        )
    )

    # widget examples: top-k by (distinct labels, entity count) desc,
    # portable-hash tiebreak; plus the shortest as the predict example
    text = F.array_join("tokens", " ")
    widget_base = sized.select(
        text.alias("text"),
        F.size(F.array_distinct(F.col("entities.label_id"))).alias("uniq_labels"),
        "entity_count",
        "word_count",
        portable_hash64(text).alias("tiebreak"),
    )
    # distributed top-k (TakeOrdered: per-partition heaps, no global
    # sort/shuffle) — the global-window row_number alternative would
    # funnel every sentence through one partition at scale
    order = [F.desc("uniq_labels"), F.desc("entity_count"), F.asc("tiebreak")]
    w = Window.orderBy(*order)
    topk = widget_base.orderBy(*order).limit(k_widget).withColumn(
        "rank", F.row_number().over(w)
    )
    widget = topk.select(
        F.lit("widget").alias("section"),
        F.col("rank").cast("string").alias("item"),
        F.lit(None).cast("double").alias("value_num"),
        F.col("text").alias("value_str"),
    )
    wp = Window.orderBy(F.asc("word_count"), F.asc("tiebreak"))
    predict = (
        topk.withColumn("prank", F.row_number().over(wp))
        .filter(F.col("prank") == 1)
        .select(
            F.lit("widget").alias("section"),
            F.lit("predict_example").alias("item"),
            F.lit(None).cast("double").alias("value_num"),
            F.col("text").alias("value_str"),
        )
    )
    return metrics.unionByName(examples).unionByName(widget).unionByName(predict)
