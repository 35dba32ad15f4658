"""k-means: semantics vs a python twin of the same integer Lloyd's,
determinism across parallelism, and the zero-shuffle assignment pin."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def _py_kmeans(vecs, k, iters, scale=1_000_000):
    """Driver-side twin with the identical integer arithmetic."""
    import math

    q = {i: [math.floor(x * scale + 0.5) for x in v] for i, v in vecs}
    cent = {i: q[i][:] for i, _ in vecs if i < k}

    def assign():
        out = {}
        for i, qv in q.items():
            best = None
            for cid in sorted(cent):
                d = sum((a - b) * (a - b) for a, b in zip(qv, cent[cid]))
                if best is None or d < best[1] or (d == best[1] and cid < best[0]):
                    best = (cid, d)
            out[i] = best
        return out

    a = assign()
    for _ in range(iters - 1):
        newc = {}
        for cid in {c for c, _ in a.values()}:
            members = [q[i] for i, (c, _) in a.items() if c == cid]
            n = len(members)
            newc[cid] = [
                math.floor(sum(m[j] for m in members) / n)
                for j in range(len(members[0]))
            ]
        cent = newc
        a = assign()
    return a


@pytest.fixture(scope="module")
def blobs(spark):
    # three tight blobs in 4-d + one straggler
    base = {0: [0.9, 0.0, 0.0, 0.1], 1: [0.0, 0.9, 0.1, 0.0], 2: [0.0, 0.0, 0.0, 0.9]}
    rows = []
    for i in range(30):
        b = base[i % 3]
        rows.append((i, [x + (0.001 * ((i * 7) % 5)) for x in b]))
    rows.append((30, [0.5, 0.5, 0.5, 0.5]))
    return rows


def test_kmeans_matches_python_twin(spark, blobs):
    from spanmarkerner_spark.operators.clustering import kmeans

    df = spark.createDataFrame(blobs, "vec_id long, embedding array<double>")
    got = {
        r["vec_id"]: (r["cluster_id"], r["dist"])
        for r in kmeans(df, dim=4, k=3, iters=3).collect()
    }
    want = _py_kmeans(blobs, k=3, iters=3)
    assert got == want
    # blobs separate: members of each blob share a cluster
    for i in range(3, 30):
        assert got[i][0] == got[i % 3][0]


def test_kmeans_deterministic_across_parallelism(spark, blobs):
    from spanmarkerner_spark.operators.clustering import kmeans

    a = spark.createDataFrame(blobs, "vec_id long, embedding array<double>")
    got2 = sorted(map(tuple, kmeans(a.repartition(2), dim=4, k=3, iters=3).collect()))
    got8 = sorted(map(tuple, kmeans(a.repartition(8), dim=4, k=3, iters=3).collect()))
    assert got2 == got8


def test_kmeans_vectors_never_shuffled(spark, blobs):
    """Scale pin: no Exchange keyed on vec_id anywhere — assignment is
    broadcast-only; the only exchanges are the k-row centroid updates
    (keyed on cluster) and their single-row packing."""
    from spanmarkerner_spark.operators.clustering import kmeans

    df = spark.createDataFrame(blobs, "vec_id long, embedding array<double>")
    plan = (
        kmeans(df, dim=4, k=3, iters=3)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "hashpartitioning(vec_id" not in plan, plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_kmeans_seeds_from_lowest_actual_ids(spark, blobs):
    """ADVICE r3: ids that don't start at 0 must still seed k
    centroids (the old `id < k` filter seeded an EMPTY set and
    silently assigned every row cluster=-1). Shifting every id by
    +1000 must produce the same clustering shifted by +1000."""
    from spanmarkerner_spark.operators.clustering import kmeans

    df = spark.createDataFrame(blobs, "vec_id long, embedding array<double>")
    base = {r["vec_id"]: r["cluster_id"] for r in kmeans(df, dim=4, k=3, iters=3).collect()}
    shifted_df = df.withColumn("vec_id", F.col("vec_id") + 1000)
    shifted = {
        r["vec_id"]: r["cluster_id"]
        for r in kmeans(shifted_df, dim=4, k=3, iters=3).collect()
    }
    assert all(c >= 0 for c in shifted.values()), "degenerate -1 clusters"
    assert shifted == {i + 1000: c + 1000 for i, c in base.items()}


def test_pq_topk_deterministic_across_parallelism(spark):
    """PQ/ADC ranking is pure integer arithmetic: identical output at
    2 and 8 input partitions."""
    import numpy as np

    from spanmarkerner_spark.operators.similarity import pq_topk

    rng = np.random.RandomState(11)
    rows = [(i, rng.randn(16).tolist()) for i in range(60)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got2 = sorted(map(tuple, pq_topk(
        df.repartition(2), dim=16, m_sub=4, k_codes=4, iters=2, k=3,
        n_queries=4).collect()))
    got8 = sorted(map(tuple, pq_topk(
        df.repartition(8), dim=16, m_sub=4, k_codes=4, iters=2, k=3,
        n_queries=4).collect()))
    assert got2 == got8
    assert {q for q, *_ in got2} == {0, 1, 2, 3}
    assert all(r <= 3 for *_, r in got2)


def test_pq_and_ivf_queries_from_lowest_actual_ids(spark):
    """Round-4 review: query selection must be the n lowest ACTUAL
    ids, not `id < n` (which silently returns empty on offset id
    ranges)."""
    import numpy as np

    from spanmarkerner_spark.operators.similarity import ivf_kmeans_topk, pq_topk

    rng = np.random.RandomState(12)
    rows = [(1000 + i, rng.randn(16).tolist()) for i in range(40)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    pq = pq_topk(df, dim=16, m_sub=4, k_codes=4, iters=2, k=3, n_queries=4)
    got_q = {r["query_id"] for r in pq.collect()}
    assert got_q == {1000, 1001, 1002, 1003}
    ivf = ivf_kmeans_topk(df, dim=16, k_cells=4, iters=2, nprobe=2, k=3,
                          n_queries=4)
    assert {r["query_id"] for r in ivf.collect()} == {1000, 1001, 1002, 1003}


def test_ivf_pq_subset_of_pq_ranking(spark):
    """IVF+PQ returns, per query, the PQ-ADC ranking RESTRICTED to
    the probed cells' candidates: every (query, neighbor, dist) it
    emits must carry the same ADC distance pq_topk computes, and
    neighbors it drops must be outside the probed cells."""
    import numpy as np

    from spanmarkerner_spark.operators.similarity import ivf_pq_topk, pq_topk

    rng = np.random.RandomState(13)
    rows = [(i, rng.randn(16).tolist()) for i in range(60)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    # k >= corpus size so `full` holds EVERY neighbor distance
    kw = dict(dim=16, m_sub=4, k_codes=4, iters=2, k=60, n_queries=3)
    full = {(r["query_id"], r["neighbor_id"]): r["dist"]
            for r in pq_topk(df, **kw).collect()}
    pruned = ivf_pq_topk(df, k_cells=4, nprobe=2, **kw).collect()
    assert len(pruned) > 0
    for r in pruned:
        assert full[(r["query_id"], r["neighbor_id"])] == r["dist"]
    # pruning is real: fewer candidates than the full ADC ranking
    assert len(pruned) < len(full)


def test_ivf_pq_residual_deterministic_across_parallelism(spark):
    """Residual IVF+PQ is exact integer arithmetic end-to-end:
    identical output at 2 and 8 input partitions."""
    import numpy as np

    from spanmarkerner_spark.operators.similarity import ivf_pq_residual_topk

    rng = np.random.RandomState(17)
    rows = [(i, rng.randn(16).tolist()) for i in range(60)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    kw = dict(dim=16, k_cells=4, m_sub=4, k_codes=4, iters=2, nprobe=2,
              k=3, n_queries=4)
    got2 = sorted(map(tuple, ivf_pq_residual_topk(df.repartition(2), **kw).collect()))
    got8 = sorted(map(tuple, ivf_pq_residual_topk(df.repartition(8), **kw).collect()))
    assert got2 == got8
    assert {q for q, *_ in got2} == {0, 1, 2, 3}


def test_ivf_pq_residual_zero_residuals(spark):
    """When every vector in a cell equals its centroid (duplicated
    vectors), residuals are exactly zero, the residual codebooks are
    zero, and every ADC distance must be 0 — pins the residual
    subtraction on both the corpus and the query path."""
    import numpy as np

    from spanmarkerner_spark.operators.similarity import ivf_pq_residual_topk

    rng = np.random.RandomState(19)
    protos = [rng.randn(16).tolist() for _ in range(4)]
    rows = [(i, protos[i % 4]) for i in range(40)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = ivf_pq_residual_topk(
        df, dim=16, k_cells=4, m_sub=4, k_codes=4, iters=2, nprobe=2,
        k=5, n_queries=4,
    ).collect()
    assert len(out) > 0
    assert all(r["dist"] == 0 for r in out)


def test_pq_rejects_indivisible_subspaces(spark):
    """dim % m_sub != 0 must fail loudly (FAISS does the same) — a
    silent floor-divide would drop trailing dims from every ADC
    distance (ADVICE r4)."""
    import pytest

    from spanmarkerner_spark.operators.similarity import (
        ivf_pq_residual_topk,
        ivf_pq_topk,
        pq_topk,
    )

    df = spark.createDataFrame(
        [(0, [0.0] * 10)], "vec_id long, embedding array<double>"
    )
    for fn in (pq_topk, ivf_pq_topk, ivf_pq_residual_topk):
        with pytest.raises(ValueError, match="not divisible"):
            fn(df, dim=10, m_sub=4)


def test_ann_recall_residual_beats_raw_pq(spark):
    """Recall@5 vs brute force on clustered data (8 gaussian clusters,
    fixed seed -> fully deterministic values): exact-in-cell IVF is
    lossless on this layout; residual PQ recovers a large recall
    margin over raw PQ at the SAME code budget (the reason FAISS
    IndexIVFPQ encodes residuals). Measured at seed 31:
    ivf_kmeans 1.0, pq 0.275, ivf_pq 0.275, ivf_pq_residual 0.575."""
    import numpy as np

    from spanmarkerner_spark.operators.similarity import (
        brute_force_topk,
        ivf_kmeans_topk,
        ivf_pq_residual_topk,
        ivf_pq_topk,
        pq_topk,
    )

    rng = np.random.RandomState(31)
    cents = rng.randn(8, 16) * 3
    vecs = [
        (i, (cents[i % 8] + rng.randn(16) * 0.5).tolist()) for i in range(200)
    ]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    queries = spark.createDataFrame(
        [(i, v) for i, v in vecs[:8]], "vec_id long, embedding array<double>"
    ).withColumnRenamed("vec_id", "query_id")
    truth = {}
    for r in brute_force_topk(df, queries, k=5).collect():
        truth.setdefault(r["query_id"], set()).add(r["neighbor_id"])

    def recall(res):
        got = {}
        for r in res.collect():
            got.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        return sum(
            len(got.get(q, set()) & t) / len(t) for q, t in truth.items()
        ) / len(truth)

    kw = dict(dim=16, k=5, n_queries=8)
    r_ivf = recall(ivf_kmeans_topk(df, k_cells=8, iters=3, nprobe=2, **kw))
    r_pq = recall(pq_topk(df, m_sub=4, k_codes=8, iters=2, **kw))
    r_ivfpq = recall(
        ivf_pq_topk(df, k_cells=8, m_sub=4, k_codes=8, iters=2, nprobe=2, **kw)
    )
    r_res = recall(ivf_pq_residual_topk(
        df, k_cells=8, m_sub=4, k_codes=8, iters=2, nprobe=2, **kw
    ))
    assert r_ivf >= 0.99
    assert r_pq >= 0.2 and r_ivfpq >= 0.2
    assert r_res >= r_ivfpq + 0.2, (r_res, r_ivfpq)


def test_pq_training_never_writes_shuffle_width(
    spark, blobs, frozen_shuffle_width
):
    """The concurrent per-subspace PQ training sizes its centroid
    updates in the plan: with every write of
    spark.sql.shuffle.partitions raising, each subspace's codes and
    distances equal the python k-means twin over that slice."""
    from spanmarkerner_spark.operators.clustering import quantized
    from spanmarkerner_spark.operators.similarity import _train_subspaces

    df = spark.createDataFrame(blobs, "vec_id long, embedding array<double>")
    trained = _train_subspaces(
        quantized(df), dim=4, m_sub=2, k_codes=3, iters=3, id_col="vec_id",
        slice_col="qv",
    )
    for m, (_, assigned) in enumerate(trained):
        got = {
            r["vec_id"]: (r["cluster"], r["dist"])
            for r in assigned.collect()
        }
        want = _py_kmeans(
            [(i, v[2 * m:2 * m + 2]) for i, v in blobs], k=3, iters=3
        )
        assert got == want
