"""Distributed k-means over an embedding column — the iterative-ML
companion to the ANN/IVF operators (similarity.py's quantizer is one
assignment step of this loop).

Integer-quantized Lloyd's algorithm: `quantized` scales vectors to
BIGINT (floor(x * SCALE + 0.5), SCALE = 1e6 — floor(+0.5) because
Spark and DuckDB round ties differently but floor identically), and
`train` runs on those integer vectors only, so the PQ / IVF operators
share one quantized scan across their training chains (quantizing is
element-wise, so it commutes with slicing). Distances are exact integer
sums of squares, and centroid updates are floor-divided integer
means. Every iteration is therefore EXACTLY reproducible cross-engine
— the DuckDB oracle unrolls the same fixed number of iterations as
CTEs and must match bit-for-bit (no float accumulation order
dependence anywhere).

Scale design (10^10 vectors, 1000 executors):
- Assignment is ZERO-shuffle: the k centroids collapse to ONE
  broadcast row (an array<struct<cid,cvec>>), and the argmin is a
  pure F.aggregate expression over that array — the vector table
  streams through map-side only.
- The centroid update is the only shuffle per iteration: a keyed
  groupBy(cluster) whose map-side partial aggregation reduces each
  partition to ≤ k rows of (count, dim sums) before the exchange —
  bytes shuffled per iteration ≈ k * dim * 8 * num_partitions,
  independent of the table size.
- Each iteration's k-row centroid table is cut (session.cut), so
  every iteration's plan starts from the materialized centroids
  instead of re-embedding the whole previous chain; the vector side
  stays lazy (no driver-side data movement).
- Empty clusters simply drop out (k shrinks) — deterministic in both
  engines; seed with spread-out ids if that matters.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import cut, ensure_min_parallelism

SCALE = 1_000_000
BIG = 1 << 62


def quantized(
    vecs: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """(id, qv): the quantized scan every Lloyd's chain trains on,
    array<float> -> array<long> floor(x*SCALE + 0.5). NULL vectors
    can't be ranked consistently cross-engine (Spark sorts null
    distances first, DuckDB last) and have no cluster anyway — they
    are dropped up front (the oracle CTE filters them too)."""
    return (
        ensure_min_parallelism(vecs)
        .filter(F.col(vec_col).isNotNull())
        .select(
            F.col(id_col),
            F.transform(
                F.col(vec_col),
                lambda x: F.floor(x.cast("double") * SCALE + F.lit(0.5)).cast("long"),
            ).alias("qv"),
        )
    )


def _sq_dist(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"),
        lambda acc, d: acc + d,
    )


def _assign(qvecs: DataFrame, centroids: DataFrame) -> DataFrame:
    """(id, qv) x centroids(cid, cvec) -> (id, qv, cluster, dist).

    Centroids collapse to one broadcast row; argmin over the array is
    a pure expression with a total (dist, cid) tie-break — independent
    of collect_list order. Zero shuffle of the vector side."""
    packed = centroids.agg(
        F.collect_list(F.struct("cid", "cvec")).alias("cs")
    )
    acc0 = F.struct(
        F.lit(-1).cast("long").alias("cid"), F.lit(BIG).cast("long").alias("dist")
    )

    def best(acc, c):
        d = _sq_dist(F.col("qv"), c["cvec"])
        better = (d < acc["dist"]) | ((d == acc["dist"]) & (c["cid"] < acc["cid"]))
        return F.when(
            better, F.struct(c["cid"].alias("cid"), d.alias("dist"))
        ).otherwise(acc)

    return (
        qvecs.crossJoin(F.broadcast(packed))
        .withColumn("_b", F.aggregate("cs", acc0, best))
        .select(
            *qvecs.columns,
            F.col("_b.cid").alias("cluster"),
            F.col("_b.dist").alias("dist"),
        )
    )


def _update(assigned: DataFrame, dim: int) -> DataFrame:
    """New integer centroids: per-dimension floor(sum/count). The sums
    are exact BIGINT, the single division is correctly rounded, and
    |true quotient - integer| >= 1/count >> ulp, so floor matches
    DuckDB's integer // exactly."""
    sums = [
        F.sum(F.element_at("qv", i + 1)).alias(f"_s{i}") for i in range(dim)
    ]
    agg = assigned.groupBy(F.col("cluster").alias("cid")).agg(
        F.count(F.lit(1)).alias("_n"), *sums
    )
    return agg.select(
        "cid",
        F.array(
            *[F.floor(F.col(f"_s{i}") / F.col("_n")).cast("long") for i in range(dim)]
        ).alias("cvec"),
    )


def train(
    qvecs: DataFrame,
    dim: int,
    k: int = 8,
    iters: int = 3,
    id_col: str = "vec_id",
):
    """The Lloyd's loop shared by kmeans(), dedup's semantic cells and
    the similarity ANN operators (ONE implementation, so the driver
    entries pinned by the same unrolled CTE oracle can never drift
    apart). `qvecs` holds (id_col, qv) integer vectors — `quantized`
    output or a slice of it. Seeds = the k lowest ids' vectors.
    Returns (centroids, assigned) after `iters` assignment rounds.
    Each updated k-row centroid table is cut (module docstring): one
    k-row materialization per iteration."""
    # seed = the k LOWEST ACTUAL ids' vectors (TakeOrderedAndProject —
    # a driver-cheap global top-k, never a full sort). A plain
    # `id < k` filter silently seeds an EMPTY set on tables whose ids
    # start above k, making every row cluster=-1 (ADVICE r3).
    centroids = (
        qvecs.orderBy(F.col(id_col).asc())
        .limit(k)
        .select(F.col(id_col).cast("long").alias("cid"), F.col("qv").alias("cvec"))
    )
    assigned = _assign(qvecs, centroids)
    for _ in range(iters - 1):
        centroids, _ = cut(_update(assigned, dim))
        assigned = _assign(qvecs, centroids)
    return centroids, assigned


def kmeans(
    vecs: DataFrame,
    dim: int,
    k: int = 8,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Fixed-iteration Lloyd's: (id, cluster_id, dist) after `iters`
    assignment rounds (assign -> update repeated, final kept)."""
    _, assigned = train(
        quantized(vecs, id_col, vec_col), dim, k=k, iters=iters, id_col=id_col
    )
    return assigned.select(
        id_col, F.col("cluster").alias("cluster_id"), "dist"
    )
