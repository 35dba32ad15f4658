"""spaCy-pipe-shaped facade: documents in, per-document grouped entity
lists out, with sentence-level word indices re-mapped to DOC-level
word offsets.

Mirrors the reference's SpacySpanMarkerWrapper
(span_marker/spacy_integration.py:120-170): `pipe()` batches a doc
stream, predicts per sentence, then shifts each entity's word indices
by the total word count of the doc's PRIOR sentences
(`offset = len(sum(tokens[idx - num_prior_sentences : idx], []))`)
and groups the shifted entities per doc. Here the offset is the same
W4 running sum done as a partition-local window over the existing
url partitioning — no extra shuffle — and the grouping is a
sort_array(collect_list(struct)) per url.

Sentence boundaries are the engine's ' . ' convention (spaCy's
sentencizer stands in for nothing here — the container has no spaCy;
the segmentation contract is segment_sentences'). Blank segments are
not sentences and contribute 0 words to doc-level indexing.
"""

from __future__ import annotations

from collections.abc import Iterable, Iterator

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from spanmarkerner_spark import schemas
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


def doc_entities(
    pages: DataFrame,
    cfg: SpanMarkerConfig,
    gaz: dict[str, int],
    text_col: str = "text",
    context_window: int = 0,
) -> DataFrame:
    """pages -> (url, ents) with ents the doc-ordered entity array —
    the doc.ents analogue (spacy_integration.py:163-170)."""
    flat = doc_entities_flat(pages, cfg, gaz, text_col, context_window)
    return flat.groupBy("url").agg(
        F.sort_array(
            F.collect_list(
                F.struct("doc_word_start", "doc_word_end", "span", "label")
            )
        ).alias("ents")
    )


class SpacySpanMarkerWrapper:
    """Driver-facing stand-in for the reference's spaCy component:
    __call__(doc) and pipe(stream) fill per-doc entity lists shaped
    like [(span_text, label, doc_word_start, doc_word_end), ...]."""

    def __init__(
        self,
        cfg: SpanMarkerConfig,
        gaz: dict[str, int],
        spark: SparkSession | None = None,
        batch_size: int = 128,
        context_window: int = 0,
    ):
        self.cfg = cfg
        self.gaz = dict(gaz)
        self.batch_size = batch_size
        self.context_window = context_window
        self._spark = spark

    def _predict_docs(self, docs: list[str]) -> list[list[tuple]]:
        spark = self._spark or SparkSession.active()
        rows = [(f"doc://{i}", None, None, d, "en") for i, d in enumerate(docs)]
        df = spark.createDataFrame(rows, schema=schemas.PAGES)
        flat = doc_entities_flat(
            df, self.cfg, self.gaz, context_window=self.context_window
        )
        out: list[list[tuple]] = [[] for _ in docs]
        for r in flat.collect():
            i = int(r["url"].split("//")[1])
            out[i].append(
                (r["span"], r["label"], r["doc_word_start"], r["doc_word_end"])
            )
        for lst in out:
            lst.sort(key=lambda e: (e[2], e[3]))
        return out

    def __call__(self, doc: str) -> list[tuple]:
        return self._predict_docs([doc])[0]

    def pipe(self, stream: Iterable[str] | str, batch_size: int | None = None) -> Iterator[list[tuple]]:
        """Minibatched doc stream -> per-doc entity lists, in order
        (spacy_integration.py:120-170's minibatch loop)."""
        if isinstance(stream, str):
            stream = [stream]
        batch_size = batch_size or self.batch_size
        batch: list[str] = []
        for doc in stream:
            batch.append(doc)
            if len(batch) >= batch_size:
                yield from self._predict_docs(batch)
                batch = []
        if batch:
            yield from self._predict_docs(batch)
