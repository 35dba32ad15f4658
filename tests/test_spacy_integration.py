"""doc_entities_flat: the doc-level word-offset re-mapping of the
reference's spaCy component (span_marker/spacy_integration.py:120-170).
"""

from __future__ import annotations

from spanmarkerner_spark import schemas
from spanmarkerner_spark.config import KG_LABELS, SpanMarkerConfig
from spanmarkerner_spark.datagen import gazetteer
from spanmarkerner_spark.spacy_integration import doc_entities_flat

CFG = SpanMarkerConfig(labels=KG_LABELS)

DOC = "amsterdam hosts acme corp . stark labs opened in paris"


def test_doc_entities_plan_scores_once(spark):
    """The NER UDF (the expensive stage) must appear exactly once in
    the doc_entities plan — the offsets branch is codegen-only."""
    rows = [("u1", None, None, DOC, "en")]
    pages = spark.createDataFrame(rows, schema=schemas.PAGES)
    plan = (
        doc_entities_flat(pages, CFG, gazetteer(CFG))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("MapInPandas") == 1, plan


def test_blank_segments_contribute_zero_words(spark):
    # a blank middle segment is not a sentence and adds no words
    rows = [("u1", None, None, "tokyo .   . paris", "en")]
    pages = spark.createDataFrame(rows, schema=schemas.PAGES)
    flat = doc_entities_flat(pages, CFG, gazetteer(CFG))
    got = [
        (r["span"], r["doc_word_start"], r["doc_word_end"])
        for r in flat.orderBy("doc_word_start").collect()
    ]
    assert got == [("tokyo", 0, 1), ("paris", 1, 2)]
