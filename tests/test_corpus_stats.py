"""Tests: decontamination, repetition signals, tf-idf, quantiles —
semantics plus the plan shapes the 100-TB designs depend on."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def corpus(spark):
    rows = [
        (1, "alpha beta gamma delta epsilon zeta"),
        (2, "one two three four five six seven"),
        (3, "alpha beta gamma totally different tail"),   # shares 'alpha beta gamma'
        (4, "spam spam spam spam spam spam"),
        (5, "no overlap here at all friends"),
        (6, "ab"),                                        # < 3 words: no trigrams
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


@pytest.fixture(scope="module")
def bench_docs(spark):
    rows = [
        (100, "the eval set says alpha beta gamma end"),
        (101, "held out one two three probes"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


# ---------------- decontam ----------------

def test_contaminated_docs_exact(corpus, bench_docs):
    from spanmarkerner_spark.operators.decontam import contaminated_docs

    got = {
        r["doc_id"]: r["n_hits"]
        for r in contaminated_docs(corpus, bench_docs, n=3).collect()
    }
    # doc1+doc3 share 'alpha beta gamma'; doc2 shares 'one two three'
    assert got == {1: 1, 2: 1, 3: 1}


def test_decontam_corpus_side_never_shuffled(corpus, bench_docs):
    """Scale pin: the contamination check must be a broadcast
    LeftSemi — the (100 TB) corpus side must not hit an Exchange
    before the semi-join."""
    from spanmarkerner_spark.operators.decontam import contaminated_docs

    plan = (
        contaminated_docs(corpus, bench_docs, n=3, exact=False)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "LeftSemi" in plan and "BroadcastExchange" in plan, plan
    # the corpus gram stream is never hash-partitioned on the join
    # key — the only shuffles are the benchmark distinct and the tiny
    # post-semi-join per-doc aggregate
    assert "hashpartitioning(gram" not in plan.split("LeftSemi")[0], plan


# ---------------- repetition ----------------

def test_dup_ngram_ppm(spark):
    from spanmarkerner_spark.operators.corpus_stats import dup_ngram_ppm

    rows = [
        (1, "a b c a b c a b c"),    # 7 trigrams, 3 distinct -> 4/7
        (2, "all words unique here today"),
        (3, "x y"),                  # no trigrams -> 0
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: r["d"]
        for r in df.select("doc_id", dup_ngram_ppm("text", 3).alias("d")).collect()
    }
    assert got[1] == 4 * 1_000_000 // 7
    assert got[2] == 0 and got[3] == 0


def test_top_ngram_stats(spark):
    from spanmarkerner_spark.operators.corpus_stats import top_ngram_stats

    rows = [(1, "go go go go stop"), (2, "x")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in top_ngram_stats(df, n=2).collect()}
    # bigrams: 'go go' x3, 'go stop' x1 -> top share 3/4
    assert got[1]["total_grams"] == 4
    assert got[1]["top_gram_ppm"] == 750_000
    assert 2 not in got  # single-word doc has no bigrams


# ---------------- tf-idf ----------------

def test_tfidf_topk_ranks_rare_terms_first(spark):
    from spanmarkerner_spark.operators.corpus_stats import tfidf_topk

    rows = [
        (1, "common rare1 common common"),
        (2, "common rare2"),
        (3, "common other"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = tfidf_topk(df, k=2).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append((r["rnk"], r["term"]))
    # df(common)=3 -> idf 1e6; df(rare1)=1 -> idf 3e6; tf(common in 1)=3
    # score(rare1)=3e6 vs score(common)=3*1e6 -> tie broken by term asc
    assert sorted(by_doc[1]) == [(1, "common"), (2, "rare1")]
    assert sorted(by_doc[2]) == [(1, "rare2"), (2, "common")]


# ---------------- quantiles ----------------

def test_exact_quantiles_small(spark):
    from spanmarkerner_spark.operators.quantiles import exact_quantiles

    rows = [("a", i, float(v)) for i, v in enumerate([5, 1, 4, 2, 3])]
    df = spark.createDataFrame(rows, "k string, id long, v double")
    got = {
        r["p"]: r["q"]
        for r in exact_quantiles(df, ["k"], "v", "id", ps=(0.25, 0.5, 1.0)).collect()
    }
    # sorted values 1..5, n=5: ceil(.25*5)=2 -> 2.0; ceil(.5*5)=3 -> 3.0
    assert got == {0.25: 2.0, 0.5: 3.0, 1.0: 5.0}


# ---------------- composed curation ----------------

def test_curate_precedence_and_split(spark, corpus, bench_docs):
    from spanmarkerner_spark.operators.curation import curate

    # add an exact dup of doc 4 so the duplicate branch fires
    dup = corpus.filter("doc_id = 4").withColumn("doc_id", F.col("doc_id") + 100)
    got = {
        r["doc_id"]: r
        for r in curate(
            corpus.unionByName(dup), bench_docs, quality_min=0.0
        ).collect()
    }
    assert got[104]["disposition"] == "duplicate"
    assert got[104]["canonical_id"] == 4
    assert got[4]["disposition"] == "kept"          # canonical survives
    for cid in (1, 2, 3):                            # share grams with bench
        assert got[cid]["disposition"] == "contaminated"
        assert got[cid]["split"] is None
    for cid in (5, 6):
        assert got[cid]["disposition"] == "kept"
        assert got[cid]["split"] in ("train", "val", "test")


def test_curate_quality_threshold(spark, corpus, bench_docs):
    from spanmarkerner_spark.operators.curation import curate

    got = {
        r["doc_id"]: r["disposition"]
        for r in curate(corpus, bench_docs, quality_min=1.1).collect()
    }
    # impossible threshold: everything uncontaminated becomes low_quality
    assert got[5] == "low_quality" and got[6] == "low_quality"
    assert got[1] == "contaminated"  # precedence beats quality


def test_exact_quantiles_ignores_nulls(spark):
    from spanmarkerner_spark.operators.quantiles import exact_quantiles

    rows = [("a", 0, None), ("a", 1, 1.0), ("a", 2, 2.0), ("a", 3, None)]
    df = spark.createDataFrame(rows, "k string, id long, v double")
    got = {r["p"]: r["q"] for r in exact_quantiles(df, ["k"], "v", "id", ps=(0.5, 1.0)).collect()}
    assert got == {0.5: 1.0, 1.0: 2.0}   # nulls neither rank nor count


# ---------------- line dedup / quality classifier / LM fluency ----------------

def test_line_dedup_drops_cross_doc_chunks_only(spark):
    """A chunk repeated across DISTINCT docs is boilerplate and
    dropped everywhere; the same chunk repeated inside one doc is
    repetition, not boilerplate, and survives (the predicate that
    separates line_dedup_stats from repeated_window_stats)."""
    from spanmarkerner_spark.operators.dedup import line_dedup_stats

    rows = [
        (1, "a b c d a b"),   # chunks: "a b", "c d", "a b"
        (2, "c d x y"),       # chunks: "c d", "x y"
        (3, "zz ww"),         # chunk:  "zz ww"
        (4, "solo"),          # < k words: no chunks, absent
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["n_chunks"], r["n_dropped"], r["kept_ppm"])
        for r in line_dedup_stats(docs, k=2).collect()
    }
    assert got == {
        1: (3, 1, 666666),   # only "c d" is cross-doc; "a b" x2 kept
        2: (2, 1, 500000),
        3: (1, 0, 1000000),
    }


def test_quality_classifier_score_matches_hash_weights(spark):
    """Score must equal the sum of md5-derived feature weights the
    docstring promises (the weight table a trained model would
    replace) — replicated bit-for-bit in plain python."""
    import hashlib

    from spanmarkerner_spark.operators.corpus_stats import (
        quality_classifier_scores,
    )

    def w(g):
        h = int(hashlib.md5(("qw|" + g).encode()).hexdigest()[:15], 16)
        return h % 2001 - 1000

    text = "alpha beta gamma"
    feats = ["alpha", "beta", "gamma", "alpha beta", "beta gamma"]
    docs = spark.createDataFrame([(7, text)], "doc_id long, text string")
    [row] = quality_classifier_scores(docs).collect()
    assert row["n_feats"] == len(feats)
    assert row["score"] == sum(w(g) for g in feats)
    assert row["keep"] == (row["score"] > 0)


def test_quality_classifier_zero_shuffle_plan(spark):
    """Scale pin: the classifier is a pure map — no hash exchange,
    no aggregate node anywhere in the physical plan."""
    from spanmarkerner_spark.operators.corpus_stats import (
        quality_classifier_scores,
    )

    docs = spark.createDataFrame(
        [(i, "w x y z") for i in range(64)], "doc_id long, text string"
    )
    plan = quality_classifier_scores(docs)._jdf.queryExecution().executedPlan().toString()
    assert "hashpartitioning" not in plan
    assert "HashAggregate" not in plan


def test_lm_fluency_bigram_mle(spark):
    """fluency_ppm = mean over bigram instances of
    c(w1 w2) * 1e6 div c(w1), counts from the corpus itself."""
    from spanmarkerner_spark.operators.corpus_stats import lm_fluency

    rows = [(1, "a b"), (2, "a b"), (3, "a c")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["n_bigrams"], r["fluency_ppm"])
        for r in lm_fluency(docs).collect()
    }
    # uni: a=3 b=2 c=1; bi: "a b"=2, "a c"=1
    assert got == {
        1: (1, 666666),
        2: (1, 666666),
        3: (1, 333333),
    }
