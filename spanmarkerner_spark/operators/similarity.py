"""Similarity search over an embedding column (array<float>).

- brute-force cosine top-k: correctness baseline. The query set is
  broadcast (it's small by construction); the corpus is streamed once;
  per-partition partial top-k via groupBy + slice(sort_array(...))
  keeps the shuffle at k rows per query, not |corpus|.
- sign buckets (`sign_bucket` / `probe_buckets`): the training-free
  coarse quantizer of knn_graph_mutual.
- the FAISS IVF / PQ family (Jégou et al., "Product Quantization for
  Nearest Neighbor Search", TPAMI 2011): ivf_kmeans_topk, pq_topk,
  ivf_pq_topk, ivf_pq_residual_topk and sq_topk. Each step is written
  once and shared: `_pq_base` (the dim check and the one cut,
  quantized corpus scan every training chain slices), `_queries` (the
  lowest-id self-search queries), `_probe` (a query's nprobe nearest
  k-means cells), `_adc_top_k` (the per-subspace ADC distance sum)
  and `_top_k` (the per-query rank). Training is clustering.train,
  the integer Lloyd's every entry shares with its unrolled-CTE
  oracle, so all arithmetic is exact BIGINT.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from spanmarkerner_spark.session import cut, ensure_min_parallelism

from .clustering import _sq_dist, quantized, train


def _train_subspaces(
    src: DataFrame,
    dim: int,
    m_sub: int,
    k_codes: int,
    iters: int,
    id_col: str,
    slice_col: str,
):
    """Train the m_sub per-subspace PQ codebooks CONCURRENTLY.

    The subspace trainings are independent of each other, but each
    one runs an EAGER centroid cut job per Lloyd's iteration
    (clustering.train) — sequentially, that serializes m_sub small
    aggregation jobs whose fixed per-job overhead dominates wall time
    until the corpus is huge
    (guide §2.6: overlap independent jobs so the next job's tasks
    back-fill the tail). A small driver-side thread pool submits all
    m_sub chains at once; each returned (cent, assigned) pair is the
    same lazy plan the sequential loop built, in the same m order, so
    downstream plans and values are identical.

    The centroid updates run at the session width, keeping their
    map-side partial aggregation, which shuffles only about k rows
    per map partition (a narrowing repartition would shuffle the
    whole assigned corpus every iteration, see session.narrow). No
    session conf is touched: the pool threads share the session.
    """
    from concurrent.futures import ThreadPoolExecutor

    sub = dim // m_sub

    def one(m: int):
        sub_vecs = src.select(
            F.col(id_col),
            F.slice(F.col(slice_col), m * sub + 1, sub).alias("qv"),
        )
        return train(sub_vecs, sub, k=k_codes, iters=iters, id_col=id_col)

    with ThreadPoolExecutor(max_workers=m_sub) as pool:
        return list(pool.map(one, range(m_sub)))


def _sqnorm_f(v):
    """Double sum of squares of a float vector, precomputed per SIDE
    before a pair join so only the dot product remains per-pair work."""
    return F.aggregate(
        v, F.lit(0.0).cast("double"), lambda acc, x: acc + x * x
    )


def _cosine_pre(va, vb, na, nb):
    """Float cosine with the two _sqnorm_f sums precomputed per side."""
    dot = F.aggregate(
        F.zip_with(va, vb, lambda a, b: a * b),
        F.lit(0.0).cast("double"),
        lambda acc, x: acc + x,
    )
    return dot / (F.sqrt(na) * F.sqrt(nb))


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """(query_id, neighbor_id, cosine, rank) — exact top-k by cosine,
    deterministic tie-break on neighbor id. queries: (query_id, vec)."""
    q = F.broadcast(
        queries.select(F.col(query_id_col).alias("query_id"), F.col(vec_col).alias("qv"))
        .withColumn("qn", _sqnorm_f(F.col("qv")))
    )
    corpus = ensure_min_parallelism(corpus)
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cv")
    ).withColumn("cn", _sqnorm_f(F.col("cv")))
    scored = q.crossJoin(c).select(
        "query_id",
        "neighbor_id",
        # norms per side (not per pair); same double sums, same bits
        F.round(
            _cosine_pre(F.col("qv"), F.col("cv"), F.col("qn"), F.col("cn")), 6
        ).alias("cosine"),
    )
    # partial top-k per partition would need a window anyway; a single
    # groupBy with slice(sort_array(collect_list(struct))) gives one
    # shuffle of (query, neighbor, score) tuples with map-side combine
    agg = (
        scored.groupBy("query_id")
        .agg(
            F.slice(
                F.sort_array(
                    F.collect_list(
                        F.struct(
                            (-F.col("cosine")).alias("neg"),
                            F.col("neighbor_id").alias("nid"),
                            F.col("cosine").alias("cos"),
                        )
                    )
                ),
                1,
                k,
            ).alias("top")
        )
    )
    return agg.select(
        "query_id", F.posexplode("top").alias("pos", "t")
    ).select(
        "query_id",
        F.col("t.nid").alias("neighbor_id"),
        F.col("t.cos").alias("cosine"),
        (F.col("pos") + 1).alias("rank"),
    )


def sign_bucket(vec_col, dims: int = 4):
    """Deterministic coarse quantizer: sign pattern of leading dims."""
    return F.concat_ws(
        "",
        *[
            F.when(F.element_at(vec_col, i + 1) >= 0, "1").otherwise("0")
            for i in range(dims)
        ],
    )


def probe_buckets(vec_col, dims: int = 4, hamming: int = 1):
    """Multi-probe bucket set: the query's sign bucket plus every
    bucket at hamming distance <= `hamming` (flipping one bit).
    Dimensions whose value is near 0 are the ones most likely
    misassigned — flipping each of the `dims` bits covers them.
    Returns an array<string> of buckets to probe."""
    base = sign_bucket(vec_col, dims)
    probes = [base]
    if hamming >= 1:
        for i in range(dims):
            flipped = F.concat_ws(
                "",
                *[
                    (
                        F.when(F.element_at(vec_col, j + 1) >= 0, "0").otherwise("1")
                        if j == i
                        else F.when(F.element_at(vec_col, j + 1) >= 0, "1").otherwise("0")
                    )
                    for j in range(dims)
                ],
            )
            probes.append(flipped)
    return F.array(*probes)


# ---- IVF with a LEARNED coarse quantizer (k-means cells) -------------

def _sqnorm(v):
    """Exact long sum of squares of a quantized integer vector —
    compute ONCE PER SIDE before a pair join (8 bytes per row through
    the exchange) instead of once per pair inside the scoring
    expression; sqrt of the same integer sum gives bit-identical
    cosines."""
    return F.aggregate(
        v, F.lit(0).cast("long"), lambda acc, x: acc + x * x
    )


def _int_cosine_pre(va, vb, na, nb):
    """Integer cosine, rounded to 6 places, with the two _sqnorm sums
    precomputed: only the dot product remains per-pair work."""
    dot = F.aggregate(
        F.zip_with(va, vb, lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    ).cast("double")
    return F.round(
        dot / (F.sqrt(na.cast("double")) * F.sqrt(nb.cast("double"))), 6
    )


def _floor_q(vec_col: str):
    """floor(x * 1e6) per element: the integer vectors sq_topk,
    knn_graph_mutual and rand_proj score (the SQ/k-means contract)."""
    return F.transform(
        F.col(vec_col), lambda x: F.floor(x.cast("double") * 1000000).cast("long")
    )


def _pq_base(
    corpus: DataFrame, dim: int, m_sub: int, id_col: str, vec_col: str
) -> DataFrame:
    """The PQ operators' (id, qv) corpus: quantized once and cut, so
    the coarse and every per-subspace training chain, and the query
    pick, read one scan (quantizing is element-wise, so slices of it
    equal per-chain quantization). A cut, not a persist: its blocks go
    when the frame is garbage, a persisted frame would stay in the
    session's cache until clearCache()."""
    if dim % m_sub:
        # FAISS asserts the same; a silent dim // m_sub would drop the
        # trailing dims from every ADC distance (degraded recall with
        # no error) — fail loudly instead (ADVICE r4)
        raise ValueError(f"dim={dim} not divisible by m_sub={m_sub}")
    base, _ = cut(quantized(corpus, id_col, vec_col))
    return base


def _queries(
    qvecs: DataFrame, n_queries: int, id_col: str, vec: str = "qv",
    alias: str = "qq",
) -> DataFrame:
    """(query_id, alias): the lowest n_queries ACTUAL ids
    (TakeOrderedAndProject) as self-search queries — an `id < n`
    filter silently returns an EMPTY result on id ranges not starting
    at 0, the same degenerate-silence the round-4 kmeans seeding fix
    removed."""
    return qvecs.orderBy(F.col(id_col).asc()).limit(n_queries).select(
        F.col(id_col).alias("query_id"), F.col(vec).alias(alias)
    )


def _probe(queries: DataFrame, cent: DataFrame, nprobe: int) -> DataFrame:
    """Each query's `nprobe` nearest k-means cells: the (query_id, qq)
    x centroid (cid, cvec) rows ranked by (distance, cid)."""
    d = queries.crossJoin(F.broadcast(cent)).withColumn(
        "_d", _sq_dist(F.col("qq"), F.col("cvec"))
    )
    wp = Window.partitionBy("query_id").orderBy(F.asc("_d"), F.asc("cid"))
    return d.withColumn("_pr", F.row_number().over(wp)).filter(
        F.col("_pr") <= nprobe
    )


def _top_k(
    scored: DataFrame, k: int, score: str, desc: bool = False
) -> DataFrame:
    """(query_id, neighbor_id, score, rank): the first k neighbors per
    query by score, ties broken by neighbor id."""
    wr = Window.partitionBy("query_id").orderBy(
        F.desc(score) if desc else F.asc(score), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(wr).cast("long"))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", score, "rank")
    )


def _adc_top_k(parts: list[DataFrame], k: int) -> DataFrame:
    """Asymmetric Distance Computation: sum the per-subspace
    (query_id, neighbor_id, dist) parts per pair, then rank by it."""
    allm = parts[0]
    for p in parts[1:]:
        allm = allm.unionByName(p)
    adc = allm.groupBy("query_id", "neighbor_id").agg(
        F.sum("dist").cast("long").alias("dist")
    )
    return _top_k(adc, k, "dist")


def ivf_kmeans_topk(
    corpus: DataFrame,
    dim: int,
    k_cells: int = 8,
    iters: int = 3,
    nprobe: int = 2,
    k: int = 5,
    n_queries: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF ANN with k-means cells (the classic FAISS IVF layout, vs
    sign_bucket's training-free quantizer): centroids from
    clustering.train become the cell table; every corpus vector is
    assigned to its nearest cell (zero-shuffle broadcast argmin); a
    query probes its `nprobe` nearest cells and ranks exact quantized
    cosine within them. Queries = the first n_queries corpus ids
    (self-search, mirroring ann_brute_topk's driver entry).

    Scale: the assignment IS the index — write it partitioned by
    `cluster` (one directory per cell) and the probe join prunes to
    nprobe partitions per query; the probe side is broadcast (tiny),
    so the corpus assignment is never shuffled.
    """
    # ONE Lloyd's implementation (clustering.train) feeds both
    # cluster_kmeans and this entry — they share the unrolled CTE
    # oracle, so the quantizer must be the literal same code
    qvecs = quantized(corpus, id_col, vec_col)
    cent, assigned = train(qvecs, dim, k=k_cells, iters=iters, id_col=id_col)
    probe = _probe(_queries(qvecs, n_queries, id_col), cent, nprobe).select(
        "query_id", "qq", "cid"
    )
    cand = F.broadcast(
        probe.withColumn("qn", _sqnorm(F.col("qq")))
    ).join(
        assigned.select(
            F.col(id_col).alias("neighbor_id"),
            F.col("qv"),
            F.col("cluster").alias("cid"),
        ).withColumn("nn", _sqnorm(F.col("qv"))),
        "cid",
    )
    scored = cand.select(
        "query_id",
        "neighbor_id",
        # norms once per query / per corpus vector, not per pair
        _int_cosine_pre(
            F.col("qq"), F.col("qv"), F.col("qn"), F.col("nn")
        ).alias("cosine"),
    )
    return _top_k(scored, k, "cosine", desc=True)


def pq_topk(
    corpus: DataFrame,
    dim: int,
    m_sub: int = 4,
    k_codes: int = 8,
    iters: int = 2,
    k: int = 5,
    n_queries: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Product-quantization ANN (FAISS PQ / ADC layout): the vector
    space is split into `m_sub` subspaces; clustering.train learns an
    independent `k_codes`-entry codebook per subspace (the SAME
    integer Lloyd's shared by cluster_kmeans / ivf_kmeans_topk, so
    the unrolled-CTE oracle covers the training too); each corpus
    vector compresses to m_sub code ids; a query scores candidates by
    Asymmetric Distance Computation — sum over subspaces of the
    (query-subvector -> assigned-code-centroid) squared distance,
    exact BIGINT arithmetic throughout.

    Returns (query_id, neighbor_id, dist, rank), rank by (dist asc,
    neighbor_id asc), queries = first n_queries corpus ids.

    Scale design (10^10 vectors): codes are the stored index —
    m_sub * log2(k_codes) bits per vector instead of dim floats (64x
    compression at these defaults). The per-subspace distance table
    (n_queries x k_codes, tiny) is BROADCAST against the code table,
    so the corpus side is never shuffled until the final
    (query, neighbor) aggregation — and a production deployment
    composes this with IVF pruning (ivf_kmeans_topk) so that
    aggregation only sees nprobe cells' candidates, not the corpus.
    """
    base = _pq_base(corpus, dim, m_sub, id_col, vec_col)
    sub = dim // m_sub
    # per-subspace query vectors are slices of the full ones
    queries_full = _queries(base, n_queries, id_col, alias="qfull")
    pair_parts = []
    trained = _train_subspaces(
        base, dim, m_sub, k_codes, iters, id_col, "qv"
    )
    for m, (cent_m, assigned_m) in enumerate(trained):
        queries_m = queries_full.select(
            "query_id", F.slice(F.col("qfull"), m * sub + 1, sub).alias("qq")
        )
        # ADC distance table: n_queries x k_codes rows, tiny
        dtab = queries_m.crossJoin(F.broadcast(cent_m)).select(
            "query_id",
            "cid",
            _sq_dist(F.col("qq"), F.col("cvec")).alias("dist"),
        )
        codes_m = assigned_m.select(
            F.col(id_col).alias("neighbor_id"), F.col("cluster").alias("cid")
        )
        # broadcast the table; the (thin) code column streams map-side
        pair_parts.append(codes_m.join(F.broadcast(dtab), "cid").select(
            "query_id", "neighbor_id", "dist"
        ))
    return _adc_top_k(pair_parts, k)


def ivf_pq_residual_topk(
    corpus: DataFrame,
    dim: int,
    k_cells: int = 8,
    m_sub: int = 4,
    k_codes: int = 8,
    iters: int = 2,
    nprobe: int = 2,
    k: int = 5,
    n_queries: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF + PQ with RESIDUAL encoding — the FAISS IVFPQ default
    (faiss IndexIVFPQ encodes r = x - centroid(cell), not x): PQ
    codebooks are trained on coarse-cell residuals, which have far
    less variance than raw vectors, so the same code budget buys
    better recall. The ADC table becomes per (query, probed cell,
    code) — the query's residual differs per probed cell — still a
    tiny broadcast: n_queries * nprobe * k_codes rows per subspace.

    Everything stays exact BIGINT (residual subtraction of quantized
    integers), so the full chain — coarse training, residual
    computation, per-subspace residual codebooks, probe, per-cell
    ADC — carries one unrolled-CTE DuckDB value oracle
    (_ivf_pq_residual_sql in __spark_entry__.py).

    Scale: same shape as ivf_pq_topk — candidates are nprobe/k_cells
    of the corpus, the corpus is never shuffled before the final
    pruned aggregation, and the residual join is against the
    broadcast k_cells-row centroid table.
    """
    base = _pq_base(corpus, dim, m_sub, id_col, vec_col)
    cent, assigned = train(base, dim, k=k_cells, iters=iters, id_col=id_col)
    # residual vectors: rv = qv - centroid(assigned cell); centroids
    # broadcast (k_cells rows), corpus side map-only; cut, because the
    # candidate join and every subspace chain read it
    resid, _ = cut(
        assigned.join(
            F.broadcast(cent.select(F.col("cid").alias("cluster"), "cvec")),
            "cluster",
        )
        .select(
            F.col(id_col),
            F.col("cluster").alias("gcid"),
            F.zip_with("qv", "cvec", lambda a, b: a - b).alias("rv"),
        )
    )
    # probe keeps the probed cell's centroid: the query residual wrt
    # THAT cell is what ADC compares against
    probe = _probe(_queries(base, n_queries, id_col), cent, nprobe).select(
        "query_id",
        F.col("cid").alias("gcid"),
        F.zip_with("qq", "cvec", lambda a, b: a - b).alias("qr"),
    )
    cand = F.broadcast(probe.select("query_id", "gcid")).join(
        resid.select(F.col(id_col).alias("neighbor_id"), "gcid"), "gcid"
    ).select("query_id", "neighbor_id", "gcid")

    sub = dim // m_sub
    pair_parts = []
    trained = _train_subspaces(
        resid, dim, m_sub, k_codes, iters, id_col, "rv"
    )
    for m, (cent_m, assigned_m) in enumerate(trained):
        # per-(query, probed-cell) ADC table over this subspace's
        # residual codebook: n_queries * nprobe * k_codes rows
        dtab = probe.select(
            "query_id", "gcid",
            F.slice(F.col("qr"), m * sub + 1, sub).alias("qrs"),
        ).crossJoin(F.broadcast(cent_m)).select(
            "query_id", "gcid", "cid",
            _sq_dist(F.col("qrs"), F.col("cvec")).alias("dist"),
        )
        codes_m = assigned_m.select(
            F.col(id_col).alias("neighbor_id"), F.col("cluster").alias("cid")
        )
        pair_parts.append(
            cand.join(codes_m, "neighbor_id")
            .join(F.broadcast(dtab), ["query_id", "gcid", "cid"])
            .select("query_id", "neighbor_id", "dist")
        )
    return _adc_top_k(pair_parts, k)


def ivf_pq_topk(
    corpus: DataFrame,
    dim: int,
    k_cells: int = 8,
    m_sub: int = 4,
    k_codes: int = 8,
    iters: int = 2,
    nprobe: int = 2,
    k: int = 5,
    n_queries: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF + PQ composed (the production FAISS-style layout this
    module's pq_topk docstring promises): a coarse k-means quantizer
    prunes the corpus to each query's `nprobe` nearest cells, and the
    surviving candidates are ranked by PQ Asymmetric Distance
    Computation over `m_sub` per-subspace codebooks. Non-residual
    variant (codes encode the raw subvectors, not cell residuals) —
    simpler, and every stage stays exact-integer so the whole thing
    carries one unrolled-CTE value oracle (coarse training + coarse
    assignment + per-subspace training + encoding + probe + ADC).

    Scale: the candidate set is nprobe/k_cells of the corpus instead
    of all of it — the final (query, neighbor) aggregation sees only
    pruned pairs; everything broadcast is O(n_queries * k) tables.
    All 1 + m_sub training chains derive from ONE quantized corpus
    scan (`_pq_base`).
    """
    base = _pq_base(corpus, dim, m_sub, id_col, vec_col)
    # coarse quantizer over FULL vectors
    cent, assigned = train(base, dim, k=k_cells, iters=iters, id_col=id_col)
    queries = _queries(base, n_queries, id_col)
    probe = _probe(queries, cent, nprobe).select(
        "query_id", F.col("cid").alias("gcid")
    )
    cand = F.broadcast(probe).join(
        assigned.select(
            F.col(id_col).alias("neighbor_id"), F.col("cluster").alias("gcid")
        ),
        "gcid",
    ).select("query_id", "neighbor_id")

    # PQ codebooks + ADC tables per subspace — sliced from `base`
    sub = dim // m_sub
    pair_parts = []
    trained = _train_subspaces(
        base, dim, m_sub, k_codes, iters, id_col, "qv"
    )
    for m, (cent_m, assigned_m) in enumerate(trained):
        queries_m = queries.select(
            "query_id", F.slice(F.col("qq"), m * sub + 1, sub).alias("qq")
        )
        dtab = queries_m.crossJoin(F.broadcast(cent_m)).select(
            "query_id", "cid", _sq_dist(F.col("qq"), F.col("cvec")).alias("dist")
        )
        codes_m = assigned_m.select(
            F.col(id_col).alias("neighbor_id"), F.col("cluster").alias("cid")
        )
        pair_parts.append(
            cand.join(codes_m, "neighbor_id")
            .join(F.broadcast(dtab), ["query_id", "cid"])
            .select("query_id", "neighbor_id", "dist")
        )
    return _adc_top_k(pair_parts, k)


def sq_topk(
    corpus: DataFrame,
    k: int = 5,
    n_queries: int = 8,
    levels: int = 255,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Scalar-quantized flat ANN (FAISS IndexScalarQuantizer / SQ8
    semantics): each dimension is independently affine-mapped to an
    8-bit code via per-dimension corpus min/max, and search ranks by
    the symmetric L2 distance between code vectors — exact BIGINT
    end-to-end (the quantize -> code -> distance chain never touches
    a float), so the whole index build + search carries a DuckDB
    value oracle. Queries = the lowest n_queries corpus ids
    (self-search, as the other ANN entries).

    Output: (query_id, neighbor_id, dist, rank), rank by
    (dist ASC, neighbor_id ASC).

    Scale design (10^10 vectors): SQ is the *compression* leg of the
    ANN trade — the scan stays flat but reads 1 byte/dim instead of
    4 (float32), so the memory-bandwidth-bound exhaustive scan gets
    ~4-8x cheaper, with none of PQ's codebook training. Per-dim
    min/max is one tiny aggregation (dim rows, map-side partials);
    the code computation is a pure map under a broadcast 2xdim stats
    row; nothing shuffles the corpus. For sub-linear scan, compose
    with IVF cells exactly as ivf_pq_topk composes PQ — the coarse
    quantizer prunes, SQ compresses the residual scan.
    """
    corpus = ensure_min_parallelism(corpus)
    qvecs = corpus.select(
        F.col(id_col),
        _floor_q(vec_col).alias("qi"),
    ).filter(F.col("qi").isNotNull())
    per_dim = qvecs.select(
        F.posexplode("qi").alias("d", "x")
    ).groupBy("d").agg(F.min("x").alias("mn"), F.max("x").alias("mx"))
    stats = per_dim.groupBy().agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("d", "mn"))), lambda s: s.mn
        ).alias("mns"),
        F.transform(
            F.array_sort(F.collect_list(F.struct("d", "mx"))), lambda s: s.mx
        ).alias("mxs"),
    )
    coded = qvecs.crossJoin(F.broadcast(stats)).select(
        F.col(id_col),
        F.expr(
            "transform(sequence(0, size(qi) - 1), d -> "
            f"CASE WHEN mxs[d] > mns[d] THEN ((qi[d] - mns[d]) * {levels})"
            " div (mxs[d] - mns[d]) ELSE CAST(0 AS BIGINT) END)"
        ).alias("code"),
    )
    queries = _queries(coded, n_queries, id_col, vec="code", alias="qc")
    scored = F.broadcast(queries).crossJoin(
        coded.select(F.col(id_col).alias("neighbor_id"), "code")
    ).select(
        "query_id",
        "neighbor_id",
        F.aggregate(
            F.zip_with(F.col("qc"), F.col("code"), lambda a, b: (a - b) * (a - b)),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias("dist"),
    )
    return _top_k(scored, k, "dist")


def knn_graph_mutual(
    corpus: DataFrame,
    k: int = 5,
    bucket_dims: int = 4,
    max_bucket: int = 1000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Mutual k-nearest-neighbor graph over an embedding column —
    the edge set semantic-clustering and SemDeDup-style curation
    pipelines build before community detection: node A connects to
    node B iff each is in the other's k nearest neighbors (the
    mutual filter kills hub nodes' asymmetric fan-in, the standard
    robustification of kNN graphs).

    Candidates come from the sign-bucket coarse quantizer (single
    probe: each vector's own `sign_bucket`), so neighbor search is
    quadratic only WITHIN a bucket — never all-pairs — and buckets
    hotter than max_bucket are dropped (the minhash/simhash hot-bucket
    cap; recall there is governed by bucket_dims).
    Cosine is the quantized-integer cosine shared with the ANN
    entries, so the whole chain is DuckDB-value-oracled.

    Output: (id_a, id_b, cosine) with id_a < id_b, one row per
    mutual edge.

    Scale design (10^10 vectors): per-node top-k is one window over
    the bucket equi-join output (bounded by max_bucket per node);
    the mutual check is a self-join of the n*k edge list on the
    REVERSED pair key — thin (id, id, score) rows, nothing touches
    vectors after scoring. At petabyte scale swap sign buckets for
    learned IVF cells (ivf_kmeans_topk's assignment) and keep the
    rest of the chain unchanged.
    """
    corpus = ensure_min_parallelism(corpus)
    base = corpus.select(
        F.col(id_col).alias("nid"),
        _floor_q(vec_col).alias("vi"),
        sign_bucket(F.col(vec_col), bucket_dims).alias("bucket"),
    ).withColumn("nn", _sqnorm(F.col("vi")))
    sized = base.withColumn(
        "_bsz", F.count(F.lit(1)).over(Window.partitionBy("bucket"))
    ).filter(F.col("_bsz") <= max_bucket)
    a = sized.select(
        "bucket", F.col("nid").alias("src"),
        F.col("vi").alias("va"), F.col("nn").alias("na"),
    )
    b = sized.select(
        "bucket", F.col("nid").alias("dst"),
        F.col("vi").alias("vb"), F.col("nn").alias("nb"),
    )
    scored = (
        a.join(b, "bucket")
        .filter(F.col("src") != F.col("dst"))
        .select(
            "src",
            "dst",
            # per-side norms precomputed in `base` (8 extra bytes per
            # row); only the dot remains per-pair — same cosine bits
            _int_cosine_pre(
                F.col("va"), F.col("vb"), F.col("na"), F.col("nb")
            ).alias("cosine"),
        )
    )
    wr = Window.partitionBy("src").orderBy(F.desc("cosine"), F.asc("dst"))
    knn = (
        scored.withColumn("_rn", F.row_number().over(wr))
        .filter(F.col("_rn") <= k)
        .select("src", "dst", "cosine")
    )
    back = knn.select(
        F.col("dst").alias("src"), F.col("src").alias("dst")
    )
    return (
        knn.join(back, ["src", "dst"])
        .filter(F.col("src") < F.col("dst"))
        .select(
            F.col("src").alias("id_a"),
            F.col("dst").alias("id_b"),
            "cosine",
        )
    )


def rand_proj(
    corpus: DataFrame,
    k: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    salt: str = "rp",
) -> DataFrame:
    """Johnson-Lindenstrauss random projection with hash-derived
    Rademacher (+-1) signs (Achlioptas 2003: +-1 entries satisfy the
    JL lemma; the sign matrix never materializes — each cell derives
    from a hash of its coordinates, so the projection is reproducible
    across engines, executors, and epochs without shipping state).
    The workhorse dimensionality reducer in front of LSH / clustering
    at 10^10-vector scale: 64 float dims -> k exact-integer coords.

    Each vector is first quantized to integers (floor(x * 1e6), the
    SQ/k-means contract), then proj_j = sum_d qi[d] * sign(j, d) with
    sign(j, d) = +1 if portable_hash64('{salt}|j|d') is even else -1.
    Exact BIGINT end-to-end — full DuckDB value oracle.

    Output: one row per (vec_id, j): (vec_id, j, proj, sign_bit)
    where sign_bit = 1 if proj >= 0 (the k-bit SRP-LSH bucket key is
    the concatenation of sign bits).

    Scale design: ZERO shuffle — quantize, project, and explode are
    per-row codegen expressions; k*dim hash evaluations per vector,
    embarrassingly parallel. The k-dim output is 8x thinner than the
    input, which is the point.
    """
    corpus = ensure_min_parallelism(corpus)
    qvecs = corpus.select(
        F.col(id_col),
        _floor_q(vec_col).alias("qi"),
    ).filter(F.col("qi").isNotNull())
    sign = (
        f"CASE WHEN conv(substr(md5(concat('{salt}|', cast(j as string),"
        " '|', cast(d as string))), 1, 15), 16, 10) % 2 = 0"
        " THEN 1 ELSE -1 END"
    )
    projected = qvecs.select(
        F.col(id_col),
        F.expr(
            f"transform(sequence(0, {k - 1}), j -> "
            "aggregate(sequence(0, size(qi) - 1), CAST(0 AS BIGINT),"
            f" (acc, d) -> acc + qi[d] * ({sign})))"
        ).alias("pj"),
    )
    return projected.select(
        id_col, F.posexplode("pj").alias("j", "proj")
    ).select(
        id_col,
        F.col("j").cast("long").alias("j"),
        F.col("proj").cast("long").alias("proj"),
        (F.col("proj") >= 0).cast("long").alias("sign_bit"),
    )
