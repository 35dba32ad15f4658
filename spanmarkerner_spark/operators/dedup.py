"""Deduplication operators for web-scale training-data pipelines.

All of these run over a documents table (id + text). Hash choices are
*portable* (md5-derived, see functions/hashing.py) so every operator
can be verified value-for-value against a DuckDB oracle.

One n-gram layer serves this module, corpus_stats and decontam:
`_tok_col` is the tokenizer, `windows_of` the window builder
(shingles, ExactSubstr windows and CCNet chunks, as strings or
hashes) and `_let` the let-binding of the Column-returning forms.

Scale design:
- exact dedup: one groupBy on a 60-bit content hash — partial
  aggregation map-side, no row data shuffled beyond (hash, id).
- MinHash+LSH: signatures are computed per row with higher-order
  array expressions (explode only the shingles that matter), bands
  become join keys; candidate pairs are verified with the true
  Jaccard before being called duplicates. Only rows sharing a band
  bucket are ever joined — never an all-pairs product.
- SimHash: 64-bit signature via per-bit majority over token hashes;
  near-dup = same signature band (hamming-adjacent buckets can be
  added by re-keying on signature with k bits masked).
- n-gram Jaccard: candidate pairs from a shared-shingle inverted
  index, exact verify. Quadratic only within a posting list, so hot
  shingles are capped (stop-shingle cut), the standard trick.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from spanmarkerner_spark.functions.hashing import portable_hash64
from spanmarkerner_spark.session import cut, ensure_min_parallelism


def _norm_text(col):
    return F.lower(F.regexp_replace(F.trim(col), "\\s+", " "))


def _tok_col(text_col):
    """The n-gram tokenizer: normalized whitespace tokens of a text
    column (array<string>), empty tokens dropped — F.trim strips only
    spaces, so a leading tab or trailing newline would otherwise leave
    a '' token. DuckDB twin: __spark_entry__._SHINGLE_TOKENS_SQL."""
    return F.array_remove(F.split(_norm_text(text_col), " "), "")


def windows_of(toks, n: int, stride: int = 1, hashed: bool = False):
    """The ' '-joined n-token windows of a BOUND token array, one every
    `stride` tokens: stride 1 gives shingles and ExactSubstr windows,
    stride n the non-overlapping CCNet chunks. hashed=True returns
    their portable_hash64 instead, computed inside the same lambda.
    Fewer than n tokens give an empty array (without the size guard
    sequence() would DESCEND and emit null windows).

    PERFORMANCE CONTRACT: `toks` must be a real column (attribute) or
    a lambda variable (_let), never an inline expression subtree.
    Spark's higher-order functions are not whole-stage-codegen'd; a
    non-attribute subtree referenced inside a lambda body is
    re-evaluated PER ELEMENT by the interpreted evaluator, turning an
    O(words) shingle pass into O(words * tokenize) — measured 42s ->
    1.0s on the sf1.0 documents table (OPTIMIZATION_r06.md). Frame
    callers bind tokens with df.select(..., _tok_col(col).alias("_toks")).
    The optimizer can break the contract too: explode() of an ATTRIBUTE
    holding the windows makes it infer size(attr) > 0
    (InferFiltersFromGenerate) and push that filter below the token
    binding, inlining the tokenizer into the lambda. Explode the
    windows_of expression itself, or use explode_outer."""

    def window(start):
        parts = []
        for j in range(n):
            if j:
                parts.append(F.lit(" "))
            parts.append(F.get(toks, start + j))
        # split() tokens are never null, so concat == array_join
        w = F.concat(*parts)
        return portable_hash64(w) if hashed else w

    return F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - n, F.lit(stride)), window
        ),
    ).otherwise(F.array().cast("array<long>" if hashed else "array<string>"))


def _window_hashes(docs: DataFrame, keys: list[str], text_col: str,
                   n: int, stride: int = 1) -> DataFrame:
    """(keys..., h): one row per hashed n-token window of each doc, the
    tokens bound to a column and the windows_of expression exploded
    directly (its contract). A doc shorter than n has no rows."""
    return docs.select(*keys, _tok_col(F.col(text_col)).alias("_toks")).select(
        *keys,
        F.explode(windows_of(F.col("_toks"), n, stride, hashed=True)).alias("h"),
    )


def _let(value, body):
    """body(v) with v bound to `value` once per row — the
    single-element transform(array(value), body)[0] trick. A lambda
    that reads `value` inline re-evaluates it per element (windows_of
    contract); through _let it reads a lambda variable."""
    return F.transform(F.array(value), body)[0]


def exact_duplicates(docs: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text") -> DataFrame:
    """One row per duplicate-set member with the set's canonical
    (min) id. Rows with unique content keep themselves as canonical.
    Output: (doc_id, canonical_id, dup_count)."""
    h = docs.select(
        F.col(id_col),
        portable_hash64(_norm_text(F.col(text_col))).alias("content_hash"),
    )
    w = Window.partitionBy("content_hash")
    return (
        h.withColumn("canonical_id", F.min(id_col).over(w))
        .withColumn("dup_count", F.count(F.lit(1)).over(w))
        .select(id_col, "canonical_id", "dup_count")
    )


def shingle_tokens(text_col, n: int = 3):
    """Word n-gram shingles of a text column as strings (empty array if
    < n words), the token array let-bound (_let)."""
    return _let(_tok_col(text_col), lambda t: windows_of(t, n))


def minhash_signature_from(sh_col, num_hashes: int = 16,
                           hash_fn: str = "portable"):
    """MinHash signature as array<bigint> from a distinct-shingle array
    column: for seed k, min over shingles of hash(k, shingle). ONE
    aggregate pass over the shingles computing all k mins together —
    the shingle column is referenced exactly once, so Catalyst
    project-collapsing can never duplicate the (expensive) shingle
    construction into per-hash copies.

    hash_fn:
      'portable' — md5-derived 60-bit hash, reproducible in DuckDB;
        used by the oracle-pinned driver entry. ~16 md5 evaluations
        per shingle.
      'xxhash'   — seeded xxhash64, the PRODUCTION path: one cheap
        JVM hash per (seed, shingle), measured ~5-10x faster at equal
        signature quality. Not DuckDB-reproducible (no xxhash64
        there), so correctness is pinned by the recall test against
        the exact-verified n-gram Jaccard pairs instead.
    """

    def step(acc, s):
        if hash_fn == "xxhash":
            hashes = F.array(
                *[F.xxhash64(F.lit(k), s) for k in range(num_hashes)]
            )
        else:
            hashes = F.array(
                *[
                    F.conv(
                        F.substring(F.md5(F.concat(F.lit(f"{k}|"), s)), 1, 15),
                        16, 10,
                    ).cast("long")
                    for k in range(num_hashes)
                ]
            )
        return F.zip_with(acc, hashes, lambda a, b: F.least(a, b))

    # Long.MAX_VALUE, not 2**62: xxhash64 is uniform over the full
    # signed 64-bit range, so a 2**62 sentinel would clamp ~25% of
    # hashes per position and leave short docs sharing saturated band
    # keys (inflated LSH candidates; ADVICE r4). The portable 60-bit
    # md5 path is unaffected (its hashes are always < 2**60).
    init = F.array_repeat(F.lit(9223372036854775807).cast("long"), num_hashes)
    return F.aggregate(sh_col, init, step)


def _doc_shingles(docs: DataFrame, id_col: str, text_col: str,
                  n: int) -> DataFrame:
    """(id, sh): distinct n-gram shingle sets per doc, with the token
    array bound to a column first (windows_of performance contract).
    Docs with fewer than n tokens have no shingles and are dropped, so
    `sh` is never empty: explode it with explode_outer (windows_of
    contract), which gives the same rows."""
    return (
        docs.select(
            F.col(id_col).alias("id"),
            _tok_col(F.col(text_col)).alias("_toks"),
        )
        .filter(F.size("_toks") >= n)
        .select(
            "id", F.array_distinct(windows_of(F.col("_toks"), n)).alias("sh")
        )
    )


def _jaccard_verify(
    raw_docs: DataFrame,
    pairs: DataFrame,
    id_col: str,
    text_col: str,
    shingle_n: int,
    threshold: float,
) -> DataFrame:
    """(id_a, id_b, jaccard >= threshold): exact shingle-set Jaccard of
    candidate pairs (id_a < id_b).

    The thin, cap-bounded pairs are MATERIALIZED once: the verify step
    references the docs' shingle sets twice (id_a, id_b), and pruning
    those recomputes to the candidate docs needs the pair ids, so
    without the cut the full shingle pass over the corpus ran THREE
    times per query (measured: it dominates minhash wall time at
    sf1.0). Then (guide-§8 re-attach) shingle sets are recomputed ONLY
    for docs in a candidate pair: a broadcast semi-join on the pair
    ids prunes the RAW scan (not the ensure_min_parallelism frame,
    which would shuffle every doc's text for nothing) before the
    shingle expressions run."""
    pairs, _ = cut(pairs)
    member_ids = (
        pairs.select(F.col("id_a").alias("id"))
        .union(pairs.select(F.col("id_b").alias("id")))
        .distinct()
    )
    sets = _doc_shingles(
        raw_docs.select(F.col(id_col).alias("id"), F.col(text_col).alias("_t"))
        .join(F.broadcast(member_ids), "id", "left_semi"),
        "id", "_t", shingle_n,
    )
    joined = pairs.join(
        sets.withColumnRenamed("id", "id_a").withColumnRenamed("sh", "sh_a"), "id_a"
    ).join(
        sets.withColumnRenamed("id", "id_b").withColumnRenamed("sh", "sh_b"), "id_b"
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    return (
        joined.withColumn("jaccard", F.round(inter / union, 6))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    jaccard_threshold: float = 0.7,
    max_bucket: int = 50,
    hash_fn: str = "portable",
) -> DataFrame:
    """Near-duplicate pairs (id_a < id_b, jaccard >= threshold).
    hash_fn='xxhash' selects the fast production signature (see
    minhash_signature_from); verification is exact either way.

    LSH: signature split into `bands` bands of num_hashes/bands rows;
    docs sharing any band land in the same bucket; only bucket-mates
    are pair-joined, then verified with exact shingle-set Jaccard.
    Buckets larger than max_bucket are dropped (hot-bucket cut) — at
    100 TB a popular boilerplate bucket would otherwise go quadratic;
    dropped buckets are by definition near-identical boilerplate
    better handled by exact dedup upstream.
    """
    rows_per_band = num_hashes // bands
    raw_docs = docs
    docs = ensure_min_parallelism(docs)
    base = _doc_shingles(docs, id_col, text_col, shingle_n).withColumn(
        "sig", minhash_signature_from(F.col("sh"), num_hashes, hash_fn)
    )

    # the banded frame carries ONLY (id, bucket) — round 1 shipped the
    # full shingle array through this exchange `bands` times per doc,
    # which dominates shuffle bytes at scale; shingles are re-attached
    # below for just the docs that survive into candidate pairs.
    # The band slices are an explicit python-built array, NOT a
    # transform lambda: `sig` referenced from a lambda body would be
    # re-evaluated per band by the interpreted HOF path.
    banded = base.select(
        "id",
        F.posexplode(
            F.array(
                *[
                    F.slice("sig", b * rows_per_band + 1, rows_per_band)
                    for b in range(bands)
                ]
            )
        ).alias("band", "band_sig"),
    ).withColumn("bucket", F.xxhash64("band", F.col("band_sig").cast("string")))

    # cap hot buckets before the pair join; the window sees only the
    # thin (id, bucket) rows — band_sig must not ride the exchange
    sized = banded.select("id", "bucket").withColumn(
        "bsz", F.count(F.lit(1)).over(Window.partitionBy("bucket"))
    ).filter(F.col("bsz") <= max_bucket)

    a = sized.select("bucket", F.col("id").alias("id_a"))
    b = sized.select("bucket", F.col("id").alias("id_b"))
    pairs = (
        a.join(b, "bucket")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    return _jaccard_verify(
        raw_docs, pairs, id_col, text_col, shingle_n, jaccard_threshold
    )


def token_hashes(text_col):
    """Per-token 60-bit portable hashes of the normalized whitespace
    tokens (the SimHash input). Bind the RESULT to a column before
    feeding it to simhash64_from_hashes — see windows_of contract."""
    toks = _tok_col(text_col)
    return F.transform(
        toks,
        lambda t: F.conv(F.substring(F.md5(t), 1, 15), 16, 10).cast("long"),
    )


def simhash64_from_hashes(th):
    """64-bit SimHash from a BOUND token-hash array attribute: bit i of
    the signature is the majority vote of bit i across the hashes.
    Bit extraction uses shiftright (integer) — NOT `/`, which is
    double division in Spark and mangles the low bits of 60-bit
    hashes past the 53-bit mantissa.

    `th` must be a real column (attribute): the 60 per-bit filters
    each reference it, and an inline subtree there is re-evaluated
    once per filter (60x the md5 work per row, the dominant cost of
    the old simhash64(text) form — OPTIMIZATION_r06.md)."""
    bits = []
    for i in range(60):
        ones = F.size(
            F.filter(th, lambda h: (F.shiftright(h, i) % 2) == 1)
        )
        bits.append(
            F.when(ones * 2 >= F.size(th), F.lit(2 ** i).cast("long")).otherwise(
                F.lit(0).cast("long")
            )
        )
    out = bits[0]
    for b in bits[1:]:
        out = out + b
    return out


def simhash64(text_col):
    """64-bit SimHash directly from text — convenience form for
    single-use plans and the unit tests. The token-hash array is
    let-bound (_let) so the 60 per-bit filters see a lambda variable;
    inline they would each re-run the md5 transform (60x the hash
    work per row)."""
    return _let(token_hashes(text_col), simhash64_from_hashes)


def ngram_jaccard_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_n: int = 3,
    threshold: float = 0.5,
    max_posting: int = 100,
) -> DataFrame:
    """Near-dup pairs via a shared-shingle inverted index + exact
    Jaccard verify. Posting lists longer than max_posting are dropped
    (stop-shingle cut) to bound the pair blow-up."""
    raw_docs = docs
    docs = ensure_min_parallelism(docs)
    base = _doc_shingles(docs, id_col, text_col, shingle_n)
    posting = base.select("id", F.explode_outer("sh").alias("shingle"))
    capped = posting.withColumn(
        "psz", F.count(F.lit(1)).over(Window.partitionBy("shingle"))
    ).filter(F.col("psz") <= max_posting)
    cand = (
        capped.alias("x")
        .join(capped.alias("y"), "shingle")
        .filter(F.col("x.id") < F.col("y.id"))
        .select(F.col("x.id").alias("id_a"), F.col("y.id").alias("id_b"))
        .distinct()
    )
    return _jaccard_verify(raw_docs, cand, id_col, text_col, shingle_n, threshold)


def simhash_near_dup_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    bands: int = 4,
    max_bucket: int = 200,
) -> DataFrame:
    """SimHash near-dup pairs: 60-bit signatures banded into `bands`
    equal bit-slices; docs sharing ANY band bucket are candidates;
    verify hamming(sig_a, sig_b) <= max_hamming with bit_count(xor).

    Completeness: a pair at hamming <= bands-1 differs in fewer bits
    than there are bands, so (pigeonhole) at least one band is
    IDENTICAL — banding finds every such pair. max_hamming must
    therefore be < bands for exact recall; the hot-bucket cap bounds
    the quadratic inside any one bucket (same rationale as
    minhash_lsh_pairs).
    """
    docs = ensure_min_parallelism(docs)
    bits_per_band = 60 // bands
    base = (
        docs.select(F.col(id_col).alias("id"), F.col(text_col).alias("_t"))
        # split('',' ') returns [''] so size>0 was a no-op, and
        # F.trim strips ONLY ascii spaces (tab/newline-only docs slip
        # through and share the md5('') signature, flooding hamming-0
        # "pairs") — require at least one NON-whitespace character
        .filter(F.col("_t").rlike("\\S"))
        # token hashes bound to a column BEFORE the 60-bit majority:
        # inline, each of the 60 per-bit filters re-evaluates the md5
        # transform (60x the hash work per row — the dominant cost of
        # the old plan, see simhash64_from_hashes)
        .select("id", token_hashes(F.col("_t")).alias("_th"))
        .select("id", simhash64_from_hashes(F.col("_th")).alias("sig"))
    )
    # explicit python-built band array (no transform lambda): `sig`
    # referenced from a lambda body would be re-evaluated per band
    banded = base.select(
        "id",
        "sig",
        F.explode(
            F.array(
                *[
                    F.expr(
                        f"struct({b} as band, "
                        f"(sig div CAST({2 ** (b * bits_per_band)} AS BIGINT)) "
                        f"% {2 ** bits_per_band} as band_bits)"
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("id", "sig", F.col("bb.band"), F.col("bb.band_bits"))
    sized = banded.withColumn(
        "bsz", F.count(F.lit(1)).over(Window.partitionBy("band", "band_bits"))
    ).filter(F.col("bsz") <= max_bucket)
    a = sized.select("band", "band_bits", F.col("id").alias("id_a"), F.col("sig").alias("sig_a"))
    b = sized.select("band", "band_bits", F.col("id").alias("id_b"), F.col("sig").alias("sig_b"))
    pairs = (
        a.join(b, ["band", "band_bits"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "sig_a", "sig_b")
        .distinct()
    )
    ham = F.bit_count(F.expr("sig_a ^ sig_b"))
    return (
        pairs.withColumn("hamming", ham.cast("long"))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def repeated_window_stats(
    docs: DataFrame,
    k: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Repeated-substring detection, the ExactSubstr signal of Lee et
    al. 2022 ("Deduplicating Training Data Makes Language Models
    Better") at fixed window grain: every k-word window (stride 1)
    of every document is hashed; a window position is REPEATED if its
    content occurs anywhere else in the corpus (another doc, or the
    same doc twice). Output per document:
      (doc_id, n_windows, n_repeated, repeated_ratio)
    — the per-doc fraction of memorization-prone span positions, the
    signal trainers use to drop or slice boilerplate-heavy pages.
    Documents with fewer than k words have no windows and are absent.

    Scale design (100 TB): window rows are THIN (id, 8-byte hash);
    the corpus-wide occurrence count is one keyed groupBy with
    map-side partial aggregation, and the count-back join re-keys the
    same exchange. Hot windows (site boilerplate) skew the count key:
    AQE skew-join splits them, and their counts collapse map-side
    (millions of equal hashes -> one partial row per partition).
    At petabyte scale, run with stride k/2 and a count-min prefilter
    to cut candidate volume ~k/2x at bounded recall loss — the
    stride-1 grain here is the exact published semantic, which is
    what the DuckDB value oracle pins.
    """
    # every k-word stride-1 window hashed (positions kept, no distinct)
    ex = _window_hashes(ensure_min_parallelism(docs), [id_col], text_col, k)
    # corpus-wide occurrence count via a window over the ONE exchange
    # on h — a groupBy+join-back would build two independent subplans
    # from `ex` and re-run the tokenize + per-window md5 work (the
    # dominant cost) twice per run (round-5 review)
    counted = ex.withColumn(
        "_c", F.count(F.lit(1)).over(Window.partitionBy("h"))
    )
    return (
        counted
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_windows"),
            F.sum(F.when(F.col("_c") > 1, 1).otherwise(0))
            .cast("long")
            .alias("n_repeated"),
        )
        .select(
            id_col,
            "n_windows",
            "n_repeated",
            F.round(F.col("n_repeated") / F.col("n_windows"), 6).alias(
                "repeated_ratio"
            ),
        )
    )


def semantic_dedup_pairs(
    emb: DataFrame,
    dim: int,
    k_cells: int = 16,
    iters: int = 2,
    threshold: float = 0.9,
    max_cell: int = 200,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning
    at web-scale through semantic deduplication"): k-means clusters
    the embedding space, then exact cosine is verified only WITHIN a
    cluster — near-dup pairs (id_a < id_b, cosine >= threshold) that
    a sign-bucket LSH misses when near-dups straddle a sign boundary
    fall out naturally here, because the learned cells follow the
    data.

    Uses the SAME integer Lloyd's as cluster_kmeans / the ANN family
    (clustering.train) and the same quantized cosine, so the whole
    chain — training, assignment, cell cap, pair verify — carries one
    unrolled-CTE DuckDB value oracle.

    Scale (10^10 vectors): candidate generation is the zero-shuffle
    broadcast-argmin assignment; the pair join is quadratic only
    within a cell, and hot cells are capped (max_cell — the same cut
    as the minhash/simhash hot-bucket caps; an over-full cell means
    the quantizer is too coarse there, re-run with larger k_cells).
    """
    from spanmarkerner_spark.operators.clustering import quantized, train
    from spanmarkerner_spark.operators.similarity import (
        _int_cosine_pre,
        _sqnorm,
    )

    _, assigned = train(
        quantized(emb, id_col, vec_col), dim, k=k_cells, iters=iters,
        id_col=id_col,
    )
    sized = assigned.withColumn(
        "_csz", F.count(F.lit(1)).over(Window.partitionBy("cluster"))
    ).filter(F.col("_csz") <= max_cell).withColumn("_nn", _sqnorm(F.col("qv")))
    a = sized.select(
        "cluster", F.col(id_col).alias("id_a"), F.col("qv").alias("va"),
        F.col("_nn").alias("na"),
    )
    b = sized.select(
        "cluster", F.col(id_col).alias("id_b"), F.col("qv").alias("vb"),
        F.col("_nn").alias("nb"),
    )
    return (
        a.join(b, "cluster")
        .filter(F.col("id_a") < F.col("id_b"))
        # norms once per vector (similarity._sqnorm), dot per pair
        .withColumn(
            "cosine",
            _int_cosine_pre(F.col("va"), F.col("vb"), F.col("na"), F.col("nb")),
        )
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def line_dedup_stats(
    docs: DataFrame,
    k: int = 8,
    min_docs: int = 2,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Cross-document line/paragraph dedup at fixed chunk grain — the
    CCNet paragraph-dedup / RefinedWeb line-dedup signal (Wenzek et
    al. 2020; Penedo et al. 2023): a text unit that recurs across
    *distinct* documents is boilerplate (headers, navigation, legal
    footers) and is dropped from every document that carries it.
    Since the reference corpus has no newline structure, the unit
    here is the non-overlapping k-word chunk (documented stand-in;
    the operator is unit-agnostic — swap the chunker for
    split('\\n') on real pages).

    Differs from repeated_window_stats (ExactSubstr) in both grain
    (non-overlapping chunks vs stride-1 windows) and predicate
    (>= min_docs DISTINCT docs vs total occurrences > 1 anywhere —
    a chunk repeated 5x inside one doc is repetition, not
    boilerplate, and is NOT dropped here).

    Output per document with >= 1 full chunk:
      (doc_id, n_chunks, n_dropped, kept_ppm)
    kept_ppm is integer parts-per-million of chunks surviving the
    drop — exact cross-engine (BIGINT div).

    Scale design (100 TB): chunk rows are thin (id, 8-byte hash);
    the distinct-doc count is a (doc_id, hash) pre-aggregation (so a
    within-doc repeat collapses map-side before the hash-keyed
    count) followed by one window over the hash exchange. Hot
    boilerplate hashes (the same footer on 10^8 pages) collapse to
    one row per (doc, hash) before the count — the count key sees at
    most one row per affected document, and AQE splits what skew
    remains. Text bytes never shuffle.
    """
    ex = _window_hashes(ensure_min_parallelism(docs), [id_col], text_col, k, k)
    per_doc_h = ex.groupBy(id_col, "h").agg(
        F.count(F.lit(1)).alias("c_inst")
    )
    # rows of per_doc_h are unique per (doc, hash), so a plain count
    # over the hash partition IS the distinct-document count — no
    # unsupported DISTINCT window needed
    flagged = per_doc_h.withColumn(
        "_dc", F.count(F.lit(1)).over(Window.partitionBy("h"))
    )
    return (
        flagged.groupBy(id_col)
        .agg(
            F.sum("c_inst").cast("long").alias("n_chunks"),
            F.sum(
                F.when(F.col("_dc") >= min_docs, F.col("c_inst")).otherwise(0)
            )
            .cast("long")
            .alias("n_dropped"),
        )
        .select(
            id_col,
            "n_chunks",
            "n_dropped",
            F.expr("((n_chunks - n_dropped) * 1000000) div n_chunks")
            .cast("long")
            .alias("kept_ppm"),
        )
    )


def near_dup_keep(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    bands: int = 4,
    max_bucket: int = 200,
) -> DataFrame:
    """Keep-one-per-cluster near-dup resolution: the step AFTER pair
    finding that production dedup actually ships. SimHash pairs
    (simhash_near_dup_pairs) become an undirected graph, connected
    components merge transitive near-dups into clusters (A~B, B~C
    must not keep both A and C), and ONE survivor per cluster is
    chosen by the deterministic total order (longest text, then
    smallest id) — the longest-member rule of RefinedWeb/SlimPajama
    style curation.

    Returns (doc_id, cluster, cluster_size, keep) for every doc that
    belongs to a near-dup cluster; docs with no near-dup never enter
    the component computation (pair-graph nodes only), so the output
    is proportional to the duplicated subset, not the corpus.

    Scale design (10^12 docs): the pair graph is the banded-LSH
    output (bounded by the bucket cap), orders of magnitude smaller
    than the corpus; connected_components runs pointer-jumping rounds
    over THAT graph only, and the final survivor window shuffles one
    thin (id, cluster, len) row per clustered doc. The corpus is
    touched exactly twice: once to hash (map-side), once to join the
    per-doc length onto clustered ids — broadcastable whenever the
    clustered subset is small, and AQE decides from the exact
    post-shuffle size.
    """
    from spanmarkerner_spark.operators.components import (
        connected_components,
    )

    pairs = simhash_near_dup_pairs(
        docs,
        id_col=id_col,
        text_col=text_col,
        max_hamming=max_hamming,
        bands=bands,
        max_bucket=max_bucket,
    )
    comp = connected_components(
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    )
    stats = docs.select(
        F.col(id_col).alias("node"), F.length(text_col).alias("_len")
    )
    members = comp.join(stats, "node").withColumnRenamed(
        "component", "cluster"
    )
    w = Window.partitionBy("cluster").orderBy(
        F.desc("_len"), F.asc("node")
    )
    return (
        members.withColumn(
            "cluster_size",
            F.count(F.lit(1)).over(Window.partitionBy("cluster")),
        )
        .withColumn("_rn", F.row_number().over(w))
        .select(
            F.col("node").alias(id_col),
            "cluster",
            "cluster_size",
            (F.col("_rn") == 1).alias("keep"),
        )
    )


def resolve_captures(
    captures: DataFrame,
    url_col: str = "url",
    ts_col: str = "warc_ts",
) -> DataFrame:
    """URL-grain capture resolution — the FIRST dedup stage of any
    Common-Crawl-style pipeline (north-rule input shape
    (url, warc_ts, html, text, lang)): collapse the many captures of
    one page to its single newest capture, keyed by *canonical* URL
    (functions/url.py: fragment/tracking-param/scheme-case/www/
    trailing-slash normalization).

    Output: (canonical_url, kept_url, kept_ts, n_captures) — one row
    per canonical URL; ``kept_*`` identify the newest capture
    (tie-break: max raw url, total and deterministic).

    Scale design (100 TB): canonicalization is a map-side codegen
    projection; the only shuffle is ONE keyed exchange on
    canonical_url carrying thin (canonical_url, url, ts) rows — the
    html/text payload should be joined back AFTER resolution by
    (kept_url, kept_ts), so the wide columns move once for survivors
    only, never for superseded captures. Captures-per-URL fan-out is
    small and bounded by recrawl policy; pathological hot URLs are
    AQE skew-split. A window (not max_by groupBy) is used because
    n_captures and the argmax want the same single sort.
    """
    from spanmarkerner_spark.functions.url import with_canonical_url

    canon = with_canonical_url(
        ensure_min_parallelism(captures), url_col=url_col
    )
    w = Window.partitionBy("canonical_url")
    return (
        canon.withColumn(
            "_rn",
            F.row_number().over(
                w.orderBy(F.desc(ts_col), F.desc(url_col))
            ),
        )
        .withColumn("n_captures", F.count(F.lit(1)).over(w))
        .filter(F.col("_rn") == 1)
        .select(
            "canonical_url",
            F.col(url_col).alias("kept_url"),
            F.col(ts_col).alias("kept_ts"),
            F.col("n_captures").cast("long").alias("n_captures"),
        )
    )
