"""End-to-end KG construction pipeline.

pages(url, warc_ts, html, text, lang)
  -> extract (JVM expr, byte-identical per url)
  -> segment (posexplode + window offset)
  -> ner_mentions (one Arrow UDF: tokenize, score spans, decode)
  -> link_mentions (broadcast alias join + rerank)
  -> canonicalize (connected components over shared-entity edges)
  -> extract_relations (pair self-join + broadcast pattern join)
  -> triples

Partitioning: one explicit repartition on hash(url) on the PAGES
frame, before segmentation — the segmentation window (partitionBy
url) runs on that exchange instead of adding its own, its (url,
sentence_id) sort doubles as the document-context window's order, and
every later stage is either narrow (the NER UDF) or joins on keys
prefixed by url. The whole mentions plan is exactly one Exchange;
its two partition-local Sorts (the url dedupe window and the
segmentation window) ride it (pinned by tests). At 100 TB the same plan
holds: url-hash is ~uniform (no hot key), AQE splits stragglers, and
the O(n*L) span blow-up happens after the shuffle, never through it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from spanmarkerner_spark.config import KG_LABELS, SpanMarkerConfig
from spanmarkerner_spark.datagen import RELATION_PATTERNS, alias_rows, gazetteer
from spanmarkerner_spark.functions.text import segment_sentences, with_extracted_text
from spanmarkerner_spark.operators.components import connected_components
from spanmarkerner_spark.operators.linking import link_mentions
from spanmarkerner_spark.operators.ner import ner_mentions
from spanmarkerner_spark.operators.relations import extract_relations
from spanmarkerner_spark import schemas


def default_config() -> SpanMarkerConfig:
    return SpanMarkerConfig(labels=KG_LABELS)


def alias_dict_df(spark) -> DataFrame:
    return spark.createDataFrame(alias_rows(), schema=schemas.ALIAS_DICT)


def apply_canonicalize(linked: DataFrame, alias_df: DataFrame) -> DataFrame:
    """Rewrite entity ids through connected components over
    alias-ambiguity edges: two entity ids sharing an alias in the
    dictionary are the same real-world entity candidate set, so they
    collapse to one canonical (min) id. (Edges come from the
    DICTIONARY, not mention surfaces — linking already resolved each
    mention to its best candidate, so surface-sharing among linked
    mentions is blind to the ambiguity.) The alias dict is small; the
    self-join broadcasts. On web-scale dictionaries, pre-filter to
    aliases observed in mentions and salt the hot aliases (split each
    into N sub-keys on one side of the self-join, replicate the other
    side N times)."""
    a = alias_df.select("alias", "entity_id")
    edges = (
        a.alias("x")
        .join(F.broadcast(a.alias("y")), "alias")
        .select(
            F.col("x.entity_id").alias("src"),
            F.col("y.entity_id").alias("dst"),
        )
    )
    comp = connected_components(edges)
    return (
        linked.join(
            comp.withColumnRenamed("node", "entity_id"), "entity_id", "left"
        )
        .withColumn("entity_id", F.coalesce("component", "entity_id"))
        .drop("component")
    )


def run_pipeline(
    pages: DataFrame,
    alias_df: DataFrame | None = None,
    lang_filter: str | None = None,
    use_extracted: bool = True,
    canonicalize: bool = False,
    persist_stages: bool = False,
    gaz: dict[str, int] | None = None,
    doc_context_window: int = 0,
) -> dict[str, DataFrame]:
    """Returns the named intermediate tables; 'triples' is the output.

    lang_filter pushes a partition-prunable predicate to the scan.
    canonicalize=True additionally rewrites entity ids through
    connected components over co-sentence co-reference edges (same
    canonical id for entities sharing an alias cluster).
    doc_context_window>0 scores each sentence with up to that many
    neighbouring sentences spliced into its encoding (the reference's
    document-context predict mode); the neighbour gather rides the
    existing url repartition — no extra shuffle.
    """
    spark = pages.sparkSession
    cfg = default_config()
    alias_df = alias_df if alias_df is not None else alias_dict_df(spark)
    gaz = gaz if gaz is not None else gazetteer(cfg)

    # PAGES declares url non-null, and every stage keys on it: a
    # null-url page would have no triples (the relations join drops
    # it). The filter goes before the url repartition so that both
    # scans of the pages (mentions and the relations' sentence side)
    # carry it and the second reuses the first's exchange; otherwise
    # the optimizer infers isnotnull(url) on the relations side only
    # and the pages are scanned and shuffled twice.
    pages = pages.filter(F.col("url").isNotNull())
    if lang_filter:
        pages = pages.filter(F.col("lang") == lang_filter)

    if use_extracted:
        pages = with_extracted_text(pages)
        text_col = "extracted_text"
    else:
        text_col = "text"

    # the single deliberate shuffle, BEFORE segmentation, at FULL WIDTH
    # (defaultParallelism): AQE would coalesce the (byte-small) sentence
    # shuffle down to 1-2 partitions and serialize the compute-dense UDF
    # chain, and an explicit repartition is exempt from AQE coalescing
    # (page text bytes vastly underestimate the O(words *
    # entity_max_length) scoring work per row). Full width won at every
    # probed size (local[32], best-of-2: 10k sentences 16w 2.50s / 32w
    # 2.19s; 55k 14.2s / 7.5s; 106k 5.95s / 4.35s — OPTIMIZATION_r06.md).
    # The segment window (partitionBy url) then runs on this exchange
    # instead of adding its own, and the window's (url, sentence_id)
    # sort doubles as the document-context window's order — one shuffle
    # + one sort total where the previous plan had two of each (segment
    # window exchange+sort, then repartition + sortWithinPartitions)
    pages = pages.repartition(spark.sparkContext.defaultParallelism, "url")
    # url is the document key (north_rule: byte-identical text PER
    # URL) — but raw crawls re-crawl urls, and two pages sharing a url
    # collide in every (url, sentence_id)-keyed stage (found by a
    # duplicate-url stress input). Keep exactly one row per url,
    # deterministically: newest warc_ts, content-hash tiebreak. The
    # window partitionBy url rides the repartition above — no extra
    # shuffle.
    w = Window.partitionBy("url").orderBy(
        F.desc_nulls_last("warc_ts"), F.asc(F.xxhash64(F.col(text_col)))
    )
    pages = (
        pages.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    sentences = segment_sentences(pages, text_col=text_col)

    mentions = ner_mentions(
        sentences, cfg, gaz, context_window=doc_context_window
    )
    linked = link_mentions(mentions, alias_df)
    if persist_stages:
        # persist ONLY the post-NER diamond point. Do NOT persist
        # sentences: an InMemoryTableScan feeding mapInPandas degrades
        # the Arrow batch granularity and measured 2-18x slower than
        # recomputing the (cheap, codegen'd) segmentation; relations
        # re-derives sentence tokens instead.
        linked = linked.persist()

    if canonicalize:
        linked = apply_canonicalize(linked, alias_df)

    triples = extract_relations(linked, sentences, RELATION_PATTERNS)
    return {
        "pages": pages,
        "sentences": sentences,
        "mentions": mentions,
        "linked": linked,
        "triples": triples,
    }
