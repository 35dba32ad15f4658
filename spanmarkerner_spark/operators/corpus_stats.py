"""Corpus-level text statistics for training-data curation:
TF-IDF term weighting and Gopher-style repetition signals.

Repetition signals (Rae et al. 2021, "Scaling Language Models" —
the Gopher quality filters, table A1): documents dominated by a few
repeated n-grams are boilerplate/spam; the filters threshold on
"fraction of characters in the most common n-gram" and "fraction of
duplicated n-grams". Both are reproduced here over word n-grams.

Cross-engine exactness: every ratio is emitted as parts-per-million
via INTEGER arithmetic (`x * 1_000_000 DIV total`) — the DuckDB
oracle computes bit-identical values with `//`, sidestepping
float-division repr drift (see __spark_entry__ docstring recipe).

Scale notes (100 TB):
- `top_ngram_stats` is two keyed aggregations — (doc_id, gram) then
  doc_id — both with map-side partial aggregation; no global stage.
- `dup_ngram_ppm` is a pure whole-stage-codegen expression (no
  shuffle at all).
- `tfidf_topk`'s df table is vocabulary-sized (zipf-thin after
  partial agg); the tf←df join shuffles only (term, count) pairs,
  never text. The final per-doc top-k is one window over doc_id —
  the same partitioning the tf aggregation just produced, which AQE
  reuses.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.hashing import portable_hash64
from ..functions.text import tokens_ws
from ..session import ensure_min_parallelism
from .dedup import _let, _tok_col, _window_hashes, shingle_tokens, windows_of

PPM = 1_000_000


def dup_ngram_ppm(text_col: Column | str, n: int = 3) -> Column:
    """Fraction (ppm) of n-gram occurrences that are repeats of an
    earlier occurrence: (total - distinct) * 1e6 DIV total. Pure
    expression — usable inside any select, zero shuffle. The gram
    array is let-bound (dedup._let) so the three uses below share ONE
    shingle construction per row instead of re-deriving it per
    reference."""

    def _ppm(grams):
        total = F.size(grams)
        dup = total - F.size(F.array_distinct(grams))
        # floor(double /) is exact here: dup*PPM is per-document
        # bounded (<= tokens * 1e6, far under 2^53) and the quotient
        # sits >= 1/total away from any integer when not exact — no
        # div/oracle divergence
        return (
            F.when(total > 0, F.floor(dup.cast("long") * PPM / total))
            .otherwise(F.lit(0))
            .cast("long")
        )

    return _let(shingle_tokens(text_col, n), _ppm)


def top_ngram_stats(
    docs: DataFrame, n: int = 2, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(doc_id, total_grams, top_gram_ppm): the most-frequent word
    n-gram's share of all n-gram occurrences, integer ppm. Docs with
    zero n-grams (fewer than n words) are omitted — no denominator."""
    grams = ensure_min_parallelism(docs).select(
        F.col(id_col), F.explode(shingle_tokens(text_col, n)).alias("gram")
    )
    per_gram = grams.groupBy(id_col, "gram").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    return per_gram.groupBy(id_col).agg(
        F.sum("cnt").cast("long").alias("total_grams"),
        F.max("cnt").cast("long").alias("_mx"),
    ).select(
        id_col,
        "total_grams",
        # `div` keeps the ppm exact for any per-doc gram count
        F.expr(f"(_mx * {PPM}) div total_grams").cast("long").alias("top_gram_ppm"),
    )


def tfidf_topk(
    docs: DataFrame,
    k: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Top-k terms per document by quantized TF-IDF.

    Weighting: score = tf * idf_ppm with idf_ppm = N * 1e6 DIV df —
    a rational-inverse-document-frequency variant kept in pure
    integer arithmetic so the DuckDB oracle reproduces it exactly
    (log-idf ranks terms identically for top-k since log is
    monotone in N/df). Ties break on term ascending (total order).

    Output: (doc_id, term, tf, df, score, rnk), rnk in 1..k.
    """
    terms = ensure_min_parallelism(docs).select(
        F.col(id_col),
        F.explode(F.transform(tokens_ws(text_col), lambda t: F.lower(t))).alias(
            "term"
        ),
    )
    tf = terms.groupBy(id_col, "term").agg(F.count(F.lit(1)).cast("long").alias("tf"))
    df_tbl = tf.groupBy("term").agg(F.count(F.lit(1)).cast("long").alias("df"))
    n_docs = docs.select(F.count(F.lit(1)).alias("n")).withColumn("_j", F.lit(1))
    scored = (
        tf.join(df_tbl, "term")
        .withColumn("_j", F.lit(1))
        .join(F.broadcast(n_docs), "_j")
        .drop("_j")
        .withColumn(
            # TRUE integer division (`div`), not floor(double /): at
            # 10^10 docs n*PPM exceeds 2^53 and the double quotient
            # can round across an integer boundary, diverging from the
            # oracle's `//` (counterexample: n=10_000_000_013, df=17)
            "score",
            F.expr(f"tf * ((n * {PPM}) div df)").cast("long"),
        )
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("score"), F.asc("term"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select(id_col, "term", "tf", "df", "score", F.col("rnk").cast("long").alias("rnk"))
    )


def quality_classifier_scores(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    salt: str = "qw",
    buckets: int = 2001,
) -> DataFrame:
    """fastText-style hashed linear quality classifier — the document
    filter CCNet / LLaMA-era pipelines run as "is this page
    wiki-like?" (Joulin et al. 2017 fastText; Touvron et al. 2023
    §2): a linear model over hashed unigram+bigram features,
    score = sum_g weight[hash(g)]. Here the weight table is derived
    deterministically from the feature hash itself
    (weight = h % buckets - buckets//2, uniform in [-1000, 1000] for
    the default), standing in for trained weights the sandbox cannot
    ship — the dataflow (feature hashing, weight lookup, linear
    score, threshold) is the production shape; swapping real weights
    means broadcasting a weight array and indexing it with the same
    hash.

    Output: (doc_id, n_feats, score, keep) — keep = score > 0.

    Scale design (100 TB): ZERO shuffle — feature extraction,
    hashing, weight lookup and the linear sum are all higher-order
    array expressions inside whole-stage codegen; the operator is a
    pure map over the corpus scan, embarrassingly parallel at any
    scale. A trained-weight variant broadcasts one float array
    (2 MB at 2^19 buckets) to every executor.
    """
    half = buckets // 2

    def _score(feats):
        return F.aggregate(
            feats,
            F.lit(0).cast("long"),
            lambda acc, g: acc
            + portable_hash64(g, salt=salt) % buckets
            - F.lit(half),
        )

    # feature array and score each bound to a real column: the old
    # single-select form evaluated the feature build 3x and the md5
    # scoring aggregate 2x per row (n_feats / score / keep each
    # re-derived them); multi-referenced non-cheap aliases are not
    # collapsed by the optimizer, so these projections survive
    return (
        ensure_min_parallelism(docs)
        .select(
            F.col(id_col),
            # unigrams are the tokens themselves; one tokenize per row
            _let(
                _tok_col(F.col(text_col)),
                lambda t: F.concat(t, windows_of(t, 2)),
            ).alias("_feats"),
        )
        .select(
            F.col(id_col),
            F.size("_feats").cast("long").alias("n_feats"),
            _score(F.col("_feats")).cast("long").alias("score"),
        )
        .select(
            F.col(id_col),
            "n_feats",
            "score",
            (F.col("score") > 0).alias("keep"),
        )
    )


def lm_fluency(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    scale: int = PPM,
) -> DataFrame:
    """Corpus-trained bigram language-model fluency score — the
    KenLM-perplexity quality filter of CCNet (Wenzek et al. 2020)
    re-expressed in exact integer arithmetic: the bigram MLE
    P(w2|w1) = c(w1 w2)/c(w1) is estimated from the corpus itself,
    each document is scored by the mean quantized conditional
    probability of its bigram instances, and low scores mark
    disfluent / unnatural pages. (True ppl is the *geometric* mean;
    the arithmetic mean of quantized conditionals is the
    cross-engine-exact stand-in — both are monotone fluency signals,
    and log-free BIGINT math is what the value oracle can pin.
    Denominator is the plain unigram count, the standard MLE.)

    Output: (doc_id, n_bigrams, fluency_ppm) for docs with >= 1
    bigram; fluency_ppm = (sum over instances of
    c(w1 w2)*1e6 DIV c(w1)) DIV n_bigrams.

    Scale design (100 TB): the two count tables are vocabulary-sized
    (zipf-thin after map-side partial aggregation); the count-back
    joins shuffle only (gram)/(w1) keyed rows, never text, and both
    count tables broadcast when the vocabulary fits (AQE decides
    from exact sizes). Hot grams ("of the") collapse map-side in the
    count aggregations; the instance-side join key skew is AQE
    skew-split. Per-doc scoring is one keyed agg on doc_id.
    """
    docs = ensure_min_parallelism(docs)
    inst = docs.select(
        F.col(id_col),
        F.explode(shingle_tokens(F.col(text_col), 2)).alias("gram"),
    ).withColumn("w1", F.split("gram", " ")[0])
    uni = (
        docs.select(
            F.explode(shingle_tokens(F.col(text_col), 1)).alias("w1")
        )
        .groupBy("w1")
        .agg(F.count(F.lit(1)).cast("long").alias("c1"))
    )
    bi = inst.groupBy("gram").agg(
        F.count(F.lit(1)).cast("long").alias("c2")
    )
    return (
        inst.join(bi, "gram")
        .join(uni, "w1")
        .withColumn("cond_q", F.expr(f"(c2 * {scale}) div c1"))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_bigrams"),
            F.sum("cond_q").cast("long").alias("_s"),
        )
        .select(
            id_col,
            "n_bigrams",
            F.expr("_s div n_bigrams").cast("long").alias("fluency_ppm"),
        )
    )


def pmi_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    vocab_k: int = 64,
    min_cooc: int = 5,
    scale: int = PPM,
) -> DataFrame:
    """Quantized pointwise-mutual-information word association over
    document co-occurrence — the collocation / entity-affinity signal
    (KG builders rank candidate relation pairs by it; phrase-mining
    and word2vec-era embeddings factorize exactly this matrix).

    PMI = log P(x,y)/(P(x)P(y)); log is monotone in the rational
    inside, so the quantized rational
        pmi_scaled = cooc * N * scale DIV (df_x * df_y)
    ranks pairs identically while staying in BIGINT end-to-end
    (bit-identical cross-engine; same trick as tfidf_topk's idf).
    Document-level co-occurrence with per-doc distinct words.

    Scale design (10^12 docs): the pair blow-up is capped BEFORE the
    self-join by restricting to the top `vocab_k` words by document
    frequency (deterministic (df DESC, word ASC) order) — the
    vocabulary table is tiny and broadcast, so the per-doc pair
    expansion is <= C(vocab_k, 2) regardless of document length, and
    the only wide shuffles are vocabulary-thin aggregations. The
    global top-k window runs on the already-aggregated df table
    (vocabulary-sized), not the corpus. BIGINT bound: cooc * N *
    scale must stay under 2^63 — lower `scale` at extreme N.

    Returns (w1, w2, cooc, df1, df2, pmi_scaled) for pairs with
    cooc >= min_cooc, w1 < w2.
    """
    words = (
        ensure_min_parallelism(docs)
        .select(
            F.col(id_col),
            F.explode(
                F.transform(tokens_ws(text_col), lambda t: F.lower(t))
            ).alias("w"),
        )
        .distinct()
    )
    dfreq = words.groupBy("w").agg(F.count(F.lit(1)).cast("long").alias("df"))
    vocab = (
        dfreq.withColumn(
            "_rn",
            F.row_number().over(Window.orderBy(F.desc("df"), F.asc("w"))),
        )
        .filter(F.col("_rn") <= vocab_k)
        .drop("_rn")
    )
    wv = words.join(F.broadcast(vocab.select("w")), "w")
    a = wv.select(F.col(id_col), F.col("w").alias("w1"))
    b = wv.select(F.col(id_col), F.col("w").alias("w2"))
    pairs = (
        a.join(b, id_col)
        .filter(F.col("w1") < F.col("w2"))
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).cast("long").alias("cooc"))
        .filter(F.col("cooc") >= min_cooc)
    )
    n_docs = docs.agg(F.count(F.lit(1)).alias("n"))
    v1 = vocab.select(F.col("w").alias("w1"), F.col("df").alias("df1"))
    v2 = vocab.select(F.col("w").alias("w2"), F.col("df").alias("df2"))
    return (
        pairs.join(F.broadcast(v1), "w1")
        .join(F.broadcast(v2), "w2")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "w1", "w2", "cooc", "df1", "df2",
            F.expr(f"(cooc * n * {scale}) div (df1 * df2)")
            .cast("long")
            .alias("pmi_scaled"),
        )
    )


def ppl_buckets(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    lang_col: str = "lang",
    n_buckets: int = 3,
) -> DataFrame:
    """CCNet head/middle/tail perplexity bucketing (Wenzek et al.
    2020, §4.3): per language, rank documents by LM fluency and cut
    the ranking into ``n_buckets`` equal-frequency buckets — CCNet's
    defining curation operation (training corpora are then drawn
    head-first). Composes lm_fluency (the exact-BIGINT KenLM-ppl
    stand-in, value-oracled by text_lm_fluency) so the bucket
    boundaries inherit its cross-engine determinism.

    Output per doc: (doc_id, lang, n_bigrams, fluency_ppm, bucket)
    with bucket in {'head','middle','tail'} (or 'b<k>' beyond 3),
    assigned by ntile over the TOTAL order (fluency desc, doc_id
    asc) within language — deterministic under ties by construction.

    Scale design (100 TB): lm_fluency's joins are vocabulary-thin
    (see its docstring); the bucketing adds ONE per-language window
    sort over (doc_id, score) pairs — thin rows, never text. ntile
    per language is the one global-ish sort this operator genuinely
    needs (equal-frequency cuts are order statistics); at extreme
    per-language cardinality the drop-in replacement is
    approx-quantile thresholds (quantiles.py sketch path) at the
    cost of exactness — documented trade, same output schema.
    """
    fl = lm_fluency(docs, id_col=id_col, text_col=text_col)
    langs = docs.select(F.col(id_col), F.col(lang_col).alias("lang"))
    w = Window.partitionBy("lang").orderBy(
        F.desc("fluency_ppm"), F.asc(id_col)
    )
    named = F.when(F.col("_nt") == 1, F.lit("head"))
    if n_buckets >= 2:
        named = named.when(F.col("_nt") == n_buckets, F.lit("tail"))
    if n_buckets == 3:
        named = named.when(F.col("_nt") == 2, F.lit("middle"))
    return (
        fl.join(langs, id_col)
        .withColumn("_nt", F.ntile(n_buckets).over(w))
        .withColumn(
            "bucket",
            named.otherwise(F.concat(F.lit("b"), F.col("_nt"))),
        )
        .select(id_col, "lang", "n_bigrams", "fluency_ppm", "bucket")
    )


def site_boilerplate(
    docs: DataFrame,
    host_col: str = "source",
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    min_docs: int = 2,
    min_frac_ppm: int = 50_000,
) -> DataFrame:
    """Host-conditioned boilerplate detection — the CCNet/trafilatura
    site-template cut that GLOBAL line dedup (dedup.line_dedup_stats)
    cannot express: a text unit is boilerplate only when it recurs
    across >= min_docs distinct documents *of the same host* AND
    covers >= min_frac_ppm of that host's documents (nav bars, legal
    footers, cookie banners are per-site templates; two news sites
    quoting the same sentence is content, not boilerplate). On the
    synthetic corpus the two signals diverge sharply (sf0.01: 135
    chunk hashes flagged globally, only 4 host-conditioned), which is
    exactly the false-positive class this operator exists to avoid.

    Unit: the same non-overlapping k-word chunk as line_dedup_stats
    (dedup._window_hashes at stride k, so the two signals flag
    identical units and differ ONLY in the conditioning).

    Output per document with >= 1 full chunk:
      (doc_id, host, n_chunks, n_boiler, kept_ppm)
    kept_ppm = exact BIGINT ppm of chunks surviving the site cut.

    Scale design (100 TB): text bytes never shuffle — the explode
    emits thin (host, id, 8-byte hash) rows. Three keyed exchanges,
    each on a finer-is-fine key: (host,id,h) partial-aggregates
    map-side (a footer repeated inside one page collapses before the
    shuffle); the (host,h) distinct-doc count is a window over rows
    already unique per (host,id,h), so hot template hashes carry at
    most one row per affected document (the same skew bound as
    line_dedup_stats); per-host doc totals are a host-vocabulary
    table, broadcast. At 10^8-page hosts the (host,h) partitions are
    bounded by that host's doc count and AQE splits what remains.
    """
    docs = ensure_min_parallelism(docs).select(
        F.col(host_col).alias("host"), id_col, text_col
    )
    ex = _window_hashes(docs, ["host", id_col], text_col, k, k)
    per = ex.groupBy("host", id_col, "h").agg(
        F.count(F.lit(1)).cast("long").alias("c_inst")
    )
    host_docs = docs.groupBy("host").agg(
        F.count(F.lit(1)).cast("long").alias("host_docs")
    )
    # rows of `per` are unique per (host, id, h): a plain count over
    # the (host, h) partition IS the distinct-document count
    flagged = per.withColumn(
        "_hdc",
        F.count(F.lit(1)).over(Window.partitionBy("host", "h")),
    ).join(F.broadcast(host_docs), "host")
    is_boiler = (F.col("_hdc") >= F.lit(min_docs)) & (
        F.expr(f"_hdc * {PPM} div host_docs") >= F.lit(min_frac_ppm)
    )
    return (
        flagged.groupBy(id_col, "host")
        .agg(
            F.sum("c_inst").cast("long").alias("n_chunks"),
            F.sum(F.when(is_boiler, F.col("c_inst")).otherwise(0))
            .cast("long")
            .alias("n_boiler"),
        )
        .select(
            id_col,
            "host",
            "n_chunks",
            "n_boiler",
            F.expr(f"((n_chunks - n_boiler) * {PPM}) div n_chunks")
            .cast("long")
            .alias("kept_ppm"),
        )
    )


def bpe_pair_counts(
    docs: DataFrame,
    text_col: str = "text",
    top_k: int = 50,
) -> DataFrame:
    """Tokenizer-training prep: the first merge iteration of BPE
    (Sennrich et al. 2016) over the corpus — corpus-weighted adjacent
    character-pair frequencies, whose argmax is the first merge rule.
    Training a tokenizer on the data it will serve is standard LLM
    pipeline practice, and the count table this emits is the whole
    interface between the corpus and the (driver-side, vocab-sized)
    merge loop: iteration k+1 re-runs the same aggregation over the
    re-segmented vocabulary, so ONE oracle-checked iteration pins the
    distributed part of the algorithm. (The end-of-word marker is
    omitted — interior pairs only, a documented simplification that
    keeps the pair a fixed-width substring in both engines.)

    Output: top_k pairs by corpus-weighted count —
      (pair, n_words, total_count, rank)
    n_words = distinct vocabulary words containing the pair;
    total_count = sum over words of (occurrences-in-word x word
    frequency); rank = row_number by (total_count desc, pair asc).

    Scale design (100 TB): the ONLY corpus-scale exchange is the word
    count (map-side partial agg, zipf-thin output). Everything after
    runs on the VOCABULARY: the pair explode is ~word-length rows per
    distinct word, the pair agg is alphabet^2-sized, and the final
    rank orders a table of a few thousand rows — the classic
    corpus-to-vocabulary reduction that makes distributed BPE cheap.
    """
    words = docs.select(F.explode(_tok_col(F.col(text_col))).alias("w"))
    wf = words.groupBy("w").agg(F.count(F.lit(1)).cast("long").alias("wf"))
    pairs = wf.select(
        "w",
        "wf",
        F.explode(
            F.when(
                F.length("w") >= 2,
                F.expr("transform(sequence(1, length(w) - 1), i -> substr(w, i, 2))"),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("pair"),
    )
    agg = pairs.groupBy("pair").agg(
        F.countDistinct("w").cast("long").alias("n_words"),
        F.sum("wf").cast("long").alias("total_count"),
    )
    w_rank = Window.orderBy(F.desc("total_count"), F.asc("pair"))
    return (
        agg.withColumn("rank", F.row_number().over(w_rank).cast("long"))
        .filter(F.col("rank") <= top_k)
        .select("pair", "n_words", "total_count", "rank")
    )


#: Gopher rule stopword probe set (Rae et al. 2021 §A1.1 use a
#: similar tiny function-word list; presence of >= `stop_min`
#: DISTINCT members is the "natural language" check).
GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with", "a")


def gopher_quality_flags(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    **rules,
) -> DataFrame:
    """Gopher rule-based quality filter (Rae et al. 2021 §A1.1) — the
    OTHER standard curation cut beside classifier scoring
    (quality_classifier_scores): hard rules, each independently
    reported so downstream can audit which rule fired. Implemented
    rules (the subset meaningful on whitespace-token corpora;
    symbol-ratio and bullet-line rules need the raw-line grain and
    live with the chunk operators), thresholds as `rules` keywords
    (defaults in _gopher_rows):

      flag_word_count   min_words <= n_words <= max_words
      flag_mean_wl      mean word length in [3, 10] chars
                        (min_mean_wl_ppm / max_mean_wl_ppm) — computed
                        as exact BIGINT ppm (sum-of-word-lengths *
                        1e6 div n_words), bit-identical cross-engine
      flag_stopwords    >= stop_min DISTINCT members of
                        GOPHER_STOPWORDS present
      pass_gopher       all of the above

    Output: (doc_id, n_words, mean_wl_ppm, n_stop_distinct,
    flag_word_count, flag_mean_wl, flag_stopwords, pass_gopher) with
    flags as 0/1 BIGINT.

    Scale design (100 TB): zero shuffles — every column is a pure
    per-row codegen expression over one pruned scan of (id, text);
    the stopword probe is a bounded array intersection against a
    9-element literal, not a join.
    """
    return _gopher_rows(docs, text_col, id_col, **rules).drop("_swl")


def _gopher_rows(
    docs: DataFrame,
    text_col: str,
    key: str,
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_wl_ppm: int = 3_000_000,
    max_mean_wl_ppm: int = 10_000_000,
    stop_min: int = 2,
) -> DataFrame:
    """Per-doc Gopher word stats and flags from ONE projection of
    docs, carrying the `key` column and the summed word length
    `_swl`."""
    toks = tokens_ws(text_col)
    sum_wl = F.aggregate(
        toks, F.lit(0).cast("long"), lambda acc, t: acc + F.length(t)
    )
    stops = F.array(*[F.lit(s) for s in GOPHER_STOPWORDS])
    n_stop = F.size(F.array_intersect(F.array_distinct(toks), stops))
    base = docs.select(
        F.col(key),
        F.size(toks).cast("long").alias("n_words"),
        sum_wl.cast("long").alias("_swl"),
        n_stop.cast("long").alias("n_stop_distinct"),
    )
    mean_wl_ppm = (
        F.when(F.col("n_words") > 0, F.expr("_swl * 1000000 div n_words"))
        .otherwise(F.lit(0))
        .cast("long")
    )
    f_wc = (
        (F.col("n_words") >= min_words) & (F.col("n_words") <= max_words)
    ).cast("long")
    f_wl = (
        (F.col("mean_wl_ppm") >= min_mean_wl_ppm)
        & (F.col("mean_wl_ppm") <= max_mean_wl_ppm)
    ).cast("long")
    f_st = (F.col("n_stop_distinct") >= stop_min).cast("long")
    return (
        base.select(
            key,
            "n_words",
            "_swl",
            mean_wl_ppm.alias("mean_wl_ppm"),
            "n_stop_distinct",
        )
        .withColumn("flag_word_count", f_wc)
        .withColumn("flag_mean_wl", f_wl)
        .withColumn("flag_stopwords", f_st)
        .withColumn(
            "pass_gopher",
            (
                F.col("flag_word_count")
                * F.col("flag_mean_wl")
                * F.col("flag_stopwords")
            ).cast("long"),
        )
    )


def source_rollup(
    docs: DataFrame,
    source_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Per-source curation dashboard rollup — the domain-grain
    aggregation CCNet-style pipelines publish per crawl (docs, token
    mass, rule pass-rate, mean word length per domain) to pick
    per-source caps and spot degenerate feeds before training.

    The gopher_quality_flags rows, keyed by source instead of doc,
    rolled up to the source:
      (source, n_docs, n_pass, pass_ppm, sum_words, mean_wl_ppm)
    pass_ppm / mean_wl_ppm exact BIGINT (single floor division over
    exact integer sums — bit-identical cross-engine).

    Scale design (100 TB): flags are zero-shuffle per-row
    expressions over one projection of docs; the ONLY exchange is the
    source groupBy — source-vocabulary-thin, map-side-combinable. The
    text column never shuffles. The corpus-wide mean re-derives from
    summed integer word lengths, not from averaging per-doc ratios
    (which would weight short docs equally and round twice).
    """
    return (
        _gopher_rows(docs, text_col, source_col)
        .groupBy(F.col(source_col).alias("source"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("pass_gopher").cast("long").alias("n_pass"),
            F.sum("n_words").cast("long").alias("sum_words"),
            F.sum("_swl").cast("long").alias("_sswl"),
        )
        .select(
            "source",
            "n_docs",
            "n_pass",
            F.expr("n_pass * 1000000 div n_docs").cast("long").alias("pass_ppm"),
            "sum_words",
            F.when(
                F.col("sum_words") > 0,
                F.expr("_sswl * 1000000 div sum_words"),
            )
            .otherwise(F.lit(0))
            .cast("long")
            .alias("mean_wl_ppm"),
        )
    )
