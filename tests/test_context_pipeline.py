"""Document-context scoring (W1) wired into the production path.

Parity: run_pipeline(doc_context_window=2) must emit exactly the
mentions of the single-process context oracle (the reference's
predict() with document_id present, span_marker/modeling.py:474-492,
exercised by the reference's tests/test_modeling.py doc-context
cases). Also pins that context actually changes the computation (the
no-context run differs) and that the neighbour gather adds no extra
shuffle beyond the pipeline's single url repartition.
"""

from __future__ import annotations

import pytest

from spanmarkerner_spark import schemas
from spanmarkerner_spark.config import KG_LABELS, SpanMarkerConfig
from spanmarkerner_spark.datagen import gen_pages
from spanmarkerner_spark.oracle import oracle_mentions
from spanmarkerner_spark.pipeline import run_pipeline

N_PAGES = 40
SEED = 42

_KEY = [
    "url", "sentence_id", "span", "label",
    "word_start_index", "word_end_index",
    "char_start_index", "char_end_index",
]


def _mention_set(rows):
    return {tuple(m[k] for k in _KEY) for m in rows}


@pytest.fixture(scope="module")
def pages_rows():
    return gen_pages(N_PAGES, seed=SEED)


@pytest.fixture(scope="module")
def pages_df(spark, pages_rows):
    return spark.createDataFrame(pages_rows, schema=schemas.PAGES)


@pytest.fixture(scope="module")
def ctx_mentions(pages_df):
    res = run_pipeline(pages_df, num_partitions=8, doc_context_window=2)
    return [r.asDict() for r in res["mentions"].collect()]


def test_context_matches_oracle(ctx_mentions, pages_rows):
    cfg = SpanMarkerConfig(labels=KG_LABELS)
    oracle = oracle_mentions(pages_rows, cfg, context_window=2)
    assert _mention_set(ctx_mentions) == _mention_set(oracle)
    # scores agree to float tolerance (the pipeline scores chunks in
    # large collated batches, the oracle row-by-row — numpy reduction
    # order differs in the last ulps)
    spark_scores = {tuple(m[k] for k in _KEY): m["score"] for m in ctx_mentions}
    for m in oracle:
        assert abs(spark_scores[tuple(m[k] for k in _KEY)] - m["score"]) < 1e-6


def test_context_changes_scores(ctx_mentions, pages_df):
    """Context mode must not silently no-op: the merged encodings
    shift marker positions, so at least some scores differ from the
    context-free run."""
    base = [
        r.asDict()
        for r in run_pipeline(pages_df, num_partitions=8)["mentions"].collect()
    ]
    base_scores = {tuple(m[k] for k in _KEY): m["score"] for m in base}
    ctx_scores = {tuple(m[k] for k in _KEY): m["score"] for m in ctx_mentions}
    common = set(base_scores) & set(ctx_scores)
    assert common
    assert any(base_scores[k] != ctx_scores[k] for k in common)


def test_context_adds_no_shuffle(pages_df):
    """The lag/lead neighbour gather must ride the pipeline's single
    url repartition: exactly as many Exchange nodes with context as
    without."""
    base_plan = run_pipeline(pages_df, num_partitions=8)[
        "mentions"
    ]._jdf.queryExecution().executedPlan().toString()
    ctx_plan = run_pipeline(pages_df, num_partitions=8, doc_context_window=2)[
        "mentions"
    ]._jdf.queryExecution().executedPlan().toString()
    assert ctx_plan.count("Exchange") == base_plan.count("Exchange")
    # and both run NER as one Python UDF (one worker per task)
    assert base_plan.count("MapInPandas") == 1
    assert ctx_plan.count("MapInPandas") == 1

