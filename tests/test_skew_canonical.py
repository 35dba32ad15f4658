"""Canonicalization merges ambiguous aliases via connected components."""

from __future__ import annotations

from pyspark.sql import functions as F

from spanmarkerner_spark import schemas
from spanmarkerner_spark.datagen import gen_pages


def test_canonicalization_merges_shared_aliases(spark):
    """Two entity ids sharing an alias surface form collapse to one
    canonical id in the linked output."""
    from spanmarkerner_spark.pipeline import run_pipeline, default_config

    cfg = default_config()
    # alias dict with an ambiguous alias 'acme' pointing to 2 entities
    alias_rows = [
        ("acme", 2001, "acme gmbh", 0.6),
        ("acme", 2002, "acme inc", 0.4),
        ("acme gmbh", 2001, "acme gmbh", 0.9),
        ("acme inc", 2002, "acme inc", 0.9),
        ("paris", 2003, "paris", 0.9),
    ]
    alias_df = spark.createDataFrame(alias_rows, schema=schemas.ALIAS_DICT)
    text = "acme gmbh works for paris . acme inc moved to paris . acme makes paris"
    from spanmarkerner_spark.datagen import text_to_html

    pages = spark.createDataFrame(
        [("u://amb", None, text_to_html(text, "u"), text, "en")], schema=schemas.PAGES
    )
    org = cfg.reduced_labels.index("organization")
    loc = cfg.reduced_labels.index("location")
    gaz = {"acme": org, "acme gmbh": org, "acme inc": org, "paris": loc}
    res = run_pipeline(pages, alias_df=alias_df, canonicalize=True, gaz=gaz)
    linked = res["linked"].filter(F.col("entity_id").isNotNull()).collect()
    by_span = {}
    for r in linked:
        by_span.setdefault(r["span"].lower(), set()).add(r["entity_id"])
    # all acme variants collapse to ONE canonical id (min of component)
    acme_ids = set().union(
        *[v for k, v in by_span.items() if k.startswith("acme")]
    )
    assert len(acme_ids) == 1, by_span
    assert acme_ids == {2001}
    res_plain = run_pipeline(pages, alias_df=alias_df, canonicalize=False, gaz=gaz)
    plain_ids = {
        r["entity_id"]
        for r in res_plain["linked"].filter(
            F.lower("span").startswith("acme")
        ).collect()
    }
    assert len(plain_ids) == 2  # without CC they stay distinct


def test_canonicalize_noop_on_unambiguous(spark):
    """With every cross-entity alias removed from the dictionary,
    canonicalize must be an exact no-op. (The BUILTIN dict now carries
    the deliberate 'apex' ambiguity so the driver fixtures can
    discriminate the mode — tests/test_fixture_discrimination.py pins
    the non-noop direction.)"""
    from spanmarkerner_spark.pipeline import alias_dict_df, run_pipeline

    pages = spark.createDataFrame(gen_pages(15, seed=3), schema=schemas.PAGES)
    unambiguous = alias_dict_df(spark).filter(F.col("alias") != "apex")
    t1 = {
        tuple(r)
        for r in run_pipeline(pages, alias_df=unambiguous)["triples"].collect()
    }
    t2 = {
        tuple(r)
        for r in run_pipeline(
            pages, alias_df=unambiguous, canonicalize=True
        )["triples"].collect()
    }
    assert t1 == t2


def test_extract_relations_rich_inverse_and_adverbs(spark):
    """Spark rich extractor vs the single-process twin on a page mix
    of plain, inverse ('was acquired by' -> swapped args), and
    adverb-injected ('was quickly acquired by') phrases."""
    from spanmarkerner_spark.datagen import (
        RELATION_ADVERBS,
        RELATION_PATTERNS_RICH,
    )
    from spanmarkerner_spark.operators.relations import extract_relations_rich
    from spanmarkerner_spark.oracle import oracle_triples_rich, run_oracle
    from spanmarkerner_spark.pipeline import default_config, run_pipeline

    pages = spark.createDataFrame(gen_pages(40, seed=77), schema=schemas.PAGES)
    res = run_pipeline(pages, use_extracted=False)
    got = {
        tuple(r)
        for r in extract_relations_rich(
            res["linked"], res["sentences"],
            dict(RELATION_PATTERNS_RICH), list(RELATION_ADVERBS),
        ).collect()
    }
    o = run_oracle(gen_pages(40, seed=77), default_config(), use_extracted=False)
    expected = oracle_triples_rich(
        o["linked"], dict(RELATION_PATTERNS_RICH), list(RELATION_ADVERBS)
    )
    assert got == expected
    plain = {tuple(r) for r in res["triples"].collect()}
    assert plain < got  # inverse/adverb matches add triples


def test_aqe_skew_join_splits_hot_partition(spark):
    """AQE skew handling (north_star: 'AQE skew handling' on the hot
    paths): a join with one massively hot key is re-planned at
    runtime as SortMergeJoin(skew=true) with AQEShuffleRead skewed —
    the runtime complement to the explicit salting operators above.
    Thresholds are lowered so the local-mode shuffle qualifies; on a
    real cluster the defaults (factor 5 / 256MB) trigger on genuinely
    pathological keys only."""
    keys = [
        "spark.sql.adaptive.skewJoin.enabled",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes",
        "spark.sql.autoBroadcastJoinThreshold",
    ]
    saved = {k: spark.conf.get(k, None) for k in keys}
    try:
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
        spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1")
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "10KB"
        )
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "10KB")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        heavy = spark.range(0, 200_000).select(
            F.when(F.col("id") < 190_000, 0)
            .otherwise(F.col("id") % 50)
            .alias("k"),
            F.sha2(F.col("id").cast("string"), 256).alias("pay"),
        )
        light = spark.range(0, 50).select(
            F.col("id").alias("k"), F.lit("t").alias("tag")
        )
        j = heavy.join(light.hint("merge"), "k")
        n = len(j.collect())
        assert n == 200_000  # correctness unchanged by the skew split
        plan = (
            j._jdf.queryExecution().executedPlan().toString()
            .split("== Initial Plan ==")[0]
        )
        assert "skew=true" in plan, plan
        assert "AQEShuffleRead skewed" in plan
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
