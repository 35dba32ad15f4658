"""card_stats (reference model_card.py:262-334,
golden-tested there by tests/test_model_card.py)."""

from __future__ import annotations

from pyspark.sql import functions as F

from spanmarkerner_spark.operators.model_card import card_stats

_ENT = "array<struct<label_id:int,word_start:int,word_end:int>>"


def _fixture(spark):
    rows = [
        (["Tom", "visited", "Big", "Corp"], [(0, 0, 1), (1, 2, 4)]),
        (["Anna", "slept"], [(0, 0, 1)]),
        (["nothing", "here"], []),
    ]
    return spark.createDataFrame(
        rows, schema=f"tokens array<string>, entities {_ENT}"
    )


def test_card_stats_values(spark):
    stats = card_stats(_fixture(spark), labels=["PER", "ORG"], k_widget=2)
    got = {(r["section"], r["item"]): r for r in stats.collect()}
    ts = {k[1]: v["value_num"] for k, v in got.items() if k[0] == "training_set"}
    assert ts["sentence_length_min"] == 2.0
    assert ts["sentence_length_max"] == 4.0
    assert abs(ts["sentence_length_mean"] - 8 / 3) < 1e-12
    assert ts["entities_per_sentence_min"] == 0.0
    assert ts["entities_per_sentence_max"] == 2.0
    assert got[("label_examples", "PER")]["value_str"] == '"Anna", "Tom"'
    assert got[("label_examples", "ORG")]["value_str"] == '"Big Corp"'
    # widget rank 1 = the two-label sentence
    assert got[("widget", "1")]["value_str"] == "Tom visited Big Corp"
    # predict example = shortest of the top-k
    assert got[("widget", "predict_example")]["value_str"] in (
        "Anna slept",
        "nothing here",
    )


def test_trainer_eval_flow_composes(spark):
    """normalize_fixture -> gold_span_assignment -> seqeval_f1 with a
    perfect prediction set: per-label P/R/F1 must be exactly 1."""
    from spanmarkerner_spark.config import SpanMarkerConfig
    from spanmarkerner_spark.operators.labels import (
        gold_span_assignment,
        normalize_fixture,
    )
    from spanmarkerner_spark.operators.metrics import seqeval_f1

    cfg = SpanMarkerConfig(labels=["O", "PER", "ORG"])
    rows = [
        (1, ["tom", "works", "at", "big", "corp"], [1, 0, 0, 2, 2]),
        (2, ["anna"], [1]),
    ]
    fixture = spark.createDataFrame(
        rows, schema="doc_id long, tokens array<string>, ner_tags array<int>"
    )
    normalized = normalize_fixture(fixture, cfg)
    assigned, missed = gold_span_assignment(normalized, cfg, ["doc_id"])
    assert missed.count() == 0
    label_arr = F.array(*[F.lit(x) for x in cfg.reduced_labels])
    gold = assigned.filter(F.col("label_id") != cfg.outside_id).select(
        "doc_id",
        F.element_at(label_arr, F.col("label_id") + 1).alias("label"),
        "word_start",
        "word_end",
    )
    assert gold.count() == 3  # tom, big corp (merged run), anna
    per_label, overall = seqeval_f1(gold, gold, keys=["doc_id"])
    for r in per_label.collect():
        assert (r["precision"], r["recall"], r["f1"]) == (1.0, 1.0, 1.0)
    o = overall.collect()[0]
    assert (o["tp"], o["fp"], o["fn"]) == (3, 0, 0)
