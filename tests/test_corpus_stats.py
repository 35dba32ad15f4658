"""Tests: decontamination, repetition signals, tf-idf, quantiles —
semantics plus the plan shapes the 100-TB designs depend on."""

from __future__ import annotations

import hashlib

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


# ---------------- n-gram layer ----------------

def _md5_60(s):
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def _py_windows(toks, n, stride=1):
    return [" ".join(toks[i:i + n]) for i in range(0, len(toks) - n + 1, stride)]


def test_tokenizer_matches_its_duckdb_rendering(spark):
    """Tokens, 1- and 3-shingles and 8-word chunk hashes of the Spark
    n-gram layer equal what _SHINGLE_TOKENS_SQL yields in DuckDB —
    the tokens every dedup and corpus oracle reads. Texts with a
    trailing newline, a leading tab, or no text at all must give no
    '' token (F.trim strips only spaces)."""
    import duckdb

    from __spark_entry__ import _SHINGLE_TOKENS_SQL
    from spanmarkerner_spark.functions.hashing import portable_hash64_sql
    from spanmarkerner_spark.operators.dedup import (
        _tok_col,
        shingle_tokens,
        windows_of,
    )

    texts = [
        "foo bar baz\n",
        "\tfoo bar baz",
        "",
        " \n\t ",
        "One  two\tthree four five six seven eight\nnine ten \r\n",
        "\ta b c d e f g h i j k l m n o p q\n",
    ]
    df = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    got = {
        r["doc_id"]: (r["t"], r["s1"], r["s3"], r["c8"])
        for r in df.select(
            "doc_id",
            _tok_col(F.col("text")).alias("t"),
            shingle_tokens("text", 1).alias("s1"),
            shingle_tokens("text", 3).alias("s3"),
        )
        .withColumn("c8", windows_of(F.col("t"), 8, 8, hashed=True))
        .collect()
    }

    def windows_sql(n, stride):
        return (
            f"CASE WHEN len(t) >= {n} THEN list_transform("
            f"range(0, len(t) - {n - 1}, {stride}), "
            f"i -> array_to_string(list_slice(t, i + 1, i + {n}), ' ')) "
            f"ELSE [] END"
        )

    con = duckdb.connect()
    con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", list(enumerate(texts)))
    want = {
        r[0]: tuple(r[1:])
        for r in con.execute(
            f"""
            WITH toks AS (
              SELECT doc_id, {_SHINGLE_TOKENS_SQL} AS t FROM documents
            )
            SELECT doc_id, t, {windows_sql(1, 1)}, {windows_sql(3, 1)},
                   list_transform({windows_sql(8, 8)},
                                  w -> {portable_hash64_sql("w")})
            FROM toks
            """
        ).fetchall()
    }
    assert want[0][:3] == (["foo", "bar", "baz"], ["foo", "bar", "baz"], ["foo bar baz"])
    assert want[2] == ([], [], [], [])
    assert len(want[5][3]) == 2
    assert got == want


@pytest.mark.parametrize(
    "text",
    [
        "",                        # no tokens
        "a b",                     # fewer than n
        "a b c",                   # exactly n
        "a b c d e f g",           # 2k + 1 (one trailing token past the last chunk)
        "x y x y x y x y z",       # repeated windows
    ],
)
def test_window_builder_matches_python_twin(spark, text):
    """windows_of at stride 1 (strings and hashes) and stride k
    (hashes) equals the Python windows of the same tokens, and the
    let-bound form (_let over the text) equals the bound-column form."""
    from spanmarkerner_spark.operators.dedup import (
        _let,
        _tok_col,
        shingle_tokens,
        windows_of,
    )

    n = k = 3
    toks = text.split()
    df = spark.createDataFrame([(text,)], "text string").select(
        "text", _tok_col(F.col("text")).alias("_toks")
    )
    [r] = df.select(
        windows_of(F.col("_toks"), n).alias("s1"),
        windows_of(F.col("_toks"), n, hashed=True).alias("h1"),
        windows_of(F.col("_toks"), k, k, hashed=True).alias("hk"),
        shingle_tokens(F.col("text"), n).alias("let_s1"),
        _let(
            _tok_col(F.col("text")), lambda t: windows_of(t, k, k, hashed=True)
        ).alias("let_hk"),
    ).collect()
    assert r["s1"] == _py_windows(toks, n)
    assert r["h1"] == [_md5_60(w) for w in _py_windows(toks, n)]
    assert r["hk"] == [_md5_60(w) for w in _py_windows(toks, k, k)]
    assert r["let_s1"] == r["s1"]
    assert r["let_hk"] == r["hk"]


def test_window_lambdas_stay_out_of_filters(spark, corpus, bench_docs):
    """Plan pin: no optimized Filter evaluates a lambda. Exploding a
    window-array ATTRIBUTE lets the optimizer infer size(arr) > 0 and
    push it below the projection that binds the tokens, where the
    window lambda re-tokenizes the text once per element (the
    windows_of contract, broken by the optimizer instead of the
    caller)."""
    from spanmarkerner_spark.operators.corpus_stats import site_boilerplate
    from spanmarkerner_spark.operators.decontam import contaminated_docs
    from spanmarkerner_spark.operators.dedup import (
        line_dedup_stats,
        ngram_jaccard_pairs,
        repeated_window_stats,
    )

    hosted = corpus.withColumn("source", F.lit("h"))
    for df in (
        repeated_window_stats(corpus, k=3),
        line_dedup_stats(corpus, k=3),
        ngram_jaccard_pairs(corpus, shingle_n=3),
        site_boilerplate(hosted, k=3),
        contaminated_docs(corpus, bench_docs, n=3),
    ):
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        bad = [ln for ln in plan.splitlines() if "Filter" in ln and "lambda" in ln]
        assert bad == [], bad


def test_ngram_layer_is_written_once():
    """Static guard: across the text operators, one window builder
    (F.sequence), one let-binding (F.transform(F.array(...))) and one
    tokenizer regex (F.regexp_replace)."""
    import ast
    from pathlib import Path

    def is_f(node, attr):
        return (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == attr
            and isinstance(node.func.value, ast.Name)
            and node.func.value.id == "F"
        )

    ops = Path(__file__).resolve().parents[1] / "spanmarkerner_spark" / "operators"
    counts = {"sequence": [], "let": [], "regexp_replace": []}
    for name in ("dedup.py", "corpus_stats.py", "decontam.py"):
        for node in ast.walk(ast.parse((ops / name).read_text())):
            site = f"{name}:{getattr(node, 'lineno', '?')}"
            if is_f(node, "sequence"):
                counts["sequence"].append(site)
            if is_f(node, "regexp_replace"):
                counts["regexp_replace"].append(site)
            if is_f(node, "transform") and node.args and is_f(node.args[0], "array"):
                counts["let"].append(site)
    assert {k: len(v) for k, v in counts.items()} == {
        "sequence": 1, "let": 1, "regexp_replace": 1
    }, counts


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
