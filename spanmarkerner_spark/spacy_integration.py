"""spaCy-style doc-level entities: documents in, one row per entity
out, with sentence-level word indices re-mapped to DOC-level word
offsets.

The reference's spaCy component (span_marker/spacy_integration.py:
120-170) predicts per sentence, then shifts each entity's word indices
by the total word count of the doc's PRIOR sentences
(`offset = len(sum(tokens[idx - num_prior_sentences : idx], []))`).
Here the offset is the same W4 running sum done as a partition-local
window over the existing url partitioning — no extra shuffle.

Sentence boundaries are the engine's ' . ' convention (spaCy's
sentencizer stands in for nothing here — the container has no spaCy;
the segmentation contract is segment_sentences'). Blank segments are
not sentences and contribute 0 words to doc-level indexing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from spanmarkerner_spark.config import SpanMarkerConfig
from spanmarkerner_spark.functions.text import segment_sentences
from spanmarkerner_spark.operators.ner import ner_mentions


def doc_entities_flat(
    pages: DataFrame,
    cfg: SpanMarkerConfig,
    gaz: dict[str, int],
    text_col: str = "text",
    context_window: int = 0,
    mentions: DataFrame | None = None,
) -> DataFrame:
    """pages -> one row per entity with DOC-level word indices:
    (url, doc_word_start, doc_word_end, span, label, score,
    char_start_index, char_end_index).

    Plan shape (audited, pinned by tests/test_spacy_integration.py):
    the expensive NER UDF runs exactly ONCE (mentions branch only);
    the offsets branch is pure codegen (segment + window) over the
    same url repartition, whose exchange AQE reuses at runtime; the
    final (url, sentence_id) equi-join shuffles only THIN rows —
    one per entity and one (url, sid, int) per sentence — never the
    token arrays or the scoring work.

    ``mentions`` injects an already-computed (e.g. persisted) mentions
    frame for the same pages, skipping the NER UDF entirely — the
    offsets branch is still derived here (cheap codegen). Caller owns
    the equivalence (same pages, same config, context_window).
    """
    num_partitions = pages.sparkSession.sparkContext.defaultParallelism
    pages = pages.repartition(num_partitions, "url")
    sents = segment_sentences(pages, text_col=text_col)
    # W4 running sum of prior sentences' word counts within the doc
    w = (
        Window.partitionBy("url")
        .orderBy("sentence_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = sents.select(
        "url",
        "sentence_id",
        F.coalesce(F.sum(F.size("tokens")).over(w), F.lit(0))
        .cast("int")
        .alias("word_offset"),
    )
    if mentions is None:
        mentions = ner_mentions(sents, cfg, gaz, context_window=context_window)
    return mentions.join(offsets, ["url", "sentence_id"]).select(
        "url",
        (F.col("word_start_index") + F.col("word_offset")).alias("doc_word_start"),
        (F.col("word_end_index") + F.col("word_offset")).alias("doc_word_end"),
        "span",
        "label",
        "score",
        "char_start_index",
        "char_end_index",
    )
