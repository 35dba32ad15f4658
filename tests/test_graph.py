"""PageRank + co-occurrence graph construction."""

from __future__ import annotations


def _py_pagerank(edges, iters=3, damping_pct=85, scale=10**12):
    from collections import defaultdict

    deg = defaultdict(int)
    for s, _ in edges:
        deg[s] += 1
    n = len(deg)
    r = {v: scale // n for v in deg}
    base = (100 - damping_pct) * (scale // n) // 100
    for _ in range(iters):
        inr = defaultdict(int)
        for s, d in edges:
            inr[d] += r[s] // deg[s]
        r = {v: base + damping_pct * inr[v] // 100 for v in inr}
    return r


def test_cooccurrence_edges(spark):
    from spanmarkerner_spark.operators.graph import cooccurrence_edges

    rows = [(1, "a"), (1, "b"), (1, "b"), (2, "b"), (2, "c"), (3, "d")]
    df = spark.createDataFrame(rows, "k long, node string")
    got = {(r["src"], r["dst"]) for r in cooccurrence_edges(df, "k", "node").collect()}
    assert got == {("a", "b"), ("b", "a"), ("b", "c"), ("c", "b")}


def test_pagerank_matches_python_twin(spark):
    from spanmarkerner_spark.operators.graph import pagerank

    # star: hub 0 connected to 1..4, plus a 5-6 pair
    pairs = [(0, i) for i in range(1, 5)] + [(5, 6)]
    edges = pairs + [(b, a) for a, b in pairs]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r["node"]: r["rank"] for r in pagerank(df, iters=3).collect()}
    want = _py_pagerank(edges, iters=3)
    assert got == want
    # the hub out-ranks every leaf
    assert all(got[0] > got[i] for i in range(1, 5))


def test_pagerank_deterministic_across_parallelism(spark):
    from spanmarkerner_spark.operators.graph import pagerank

    pairs = [(i, (i * 3 + 1) % 11) for i in range(11)]
    edges = [e for a, b in pairs if a != b for e in [(a, b), (b, a)]]
    df = spark.createDataFrame(edges, "src long, dst long")
    a = sorted(map(tuple, pagerank(df.repartition(2), iters=3).collect()))
    b = sorted(map(tuple, pagerank(df.repartition(16), iters=3).collect()))
    assert a == b


def test_label_propagation_two_communities(spark):
    """Two 4-cliques joined by one bridge edge: after 3 rounds every
    clique member carries its clique's minimum node id; determinism
    across input parallelism."""
    from spanmarkerner_spark.operators.graph import label_propagation

    c1 = [(a, b) for a in range(1, 5) for b in range(1, 5) if a != b]
    c2 = [(a, b) for a in range(10, 14) for b in range(10, 14) if a != b]
    bridge = [(4, 10), (10, 4)]
    edges = spark.createDataFrame(c1 + c2 + bridge, "src long, dst long")
    got = {r["node"]: r["label"]
           for r in label_propagation(edges, iters=3).collect()}
    assert all(got[n] == 1 for n in range(1, 5))
    assert all(got[n] == 10 for n in range(11, 14))
    got8 = {r["node"]: r["label"]
            for r in label_propagation(edges.repartition(8), iters=3).collect()}
    assert got8 == got


def test_k_core_peels_tail_cascade(spark):
    """Triangle + pendant chain, k=2: the chain peels in cascade
    (5 first, then 4), leaving exactly the triangle with in-core
    degree 2 each. Edges given one-direction-only — k_core must
    symmetrize internally."""
    from spanmarkerner_spark.operators.graph import k_core

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5)], "src long, dst long"
    )
    got = {r["node"]: r["degree"] for r in k_core(edges, k=2).collect()}
    assert got == {1: 2, 2: 2, 3: 2}


def test_k_core_path_graph_empties(spark):
    """A pure path has no 2-core: peeling eats it from both ends —
    more rounds than nodes/2 never needed, early-stop must still
    terminate with an empty result."""
    from spanmarkerner_spark.operators.graph import k_core

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(9)], "src long, dst long"
    )
    assert k_core(edges, k=2, max_rounds=16).count() == 0


def test_k_core_fixed_rounds_is_converged_at_fixture_scale(spark):
    """The driver oracle unrolls 16 rounds; pin that 16 rounds IS the
    fixed point on the sf0.001 mutual-kNN graph (so the fixed-grain
    result equals the true k-core there)."""
    from spanmarkerner_spark.operators.graph import k_core
    from spanmarkerner_spark.operators.similarity import knn_graph_mutual
    from pyspark.sql import functions as F

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    edges = knn_graph_mutual(emb, k=5, bucket_dims=4).select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    ).localCheckpoint(eager=True)
    a = {(r["node"], r["degree"]) for r in k_core(edges, k=3, max_rounds=16).collect()}
    b = {(r["node"], r["degree"]) for r in k_core(edges, k=3, max_rounds=24).collect()}
    assert a == b and len(a) > 0


def test_bfs_distances_hand_computed_path(spark):
    from spanmarkerner_spark.operators.graph import bfs_distances

    # path 0->1->2->3->4 plus an unreachable 9->8 component
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (3, 4), (9, 8)], "src long, dst long"
    )
    seeds = spark.createDataFrame([(0,)], "node long")
    got = {
        r["node"]: r["dist"]
        for r in bfs_distances(edges, seeds, max_dist=3).collect()
    }
    # 4 is beyond the 3-hop budget; 8/9 unreachable from the seed
    assert got == {0: 0, 1: 1, 2: 2, 3: 3}


def test_bfs_distances_min_merge_on_diamond(spark):
    from spanmarkerner_spark.operators.graph import bfs_distances

    # diamond: two routes to 3 (0->1->3 and 0->2->3), plus 3->1 back
    # edge that must NOT overwrite 1's earlier distance
    edges = spark.createDataFrame(
        [(0, 1), (0, 2), (1, 3), (2, 3), (3, 1)], "src long, dst long"
    )
    seeds = spark.createDataFrame([(0,)], "node long")
    got = {
        r["node"]: r["dist"]
        for r in bfs_distances(edges, seeds, max_dist=3).collect()
    }
    assert got == {0: 0, 1: 1, 2: 1, 3: 2}


def _py_ppr(edges, seed_nodes, iters=3, damping_pct=85, scale=10**12):
    from collections import defaultdict

    deg = defaultdict(int)
    for s, _ in edges:
        deg[s] += 1
    ns = len(seed_nodes)
    base = (100 - damping_pct) * (scale // ns) // 100
    r = {v: scale // ns for v in seed_nodes}
    for _ in range(iters):
        inr = defaultdict(int)
        for s, d in edges:
            if s in r:
                inr[d] += r[s] // deg[s]
        nxt = defaultdict(int)
        for v, x in inr.items():
            nxt[v] += damping_pct * x // 100
        for v in seed_nodes:
            nxt[v] += base
        r = {v: x for v, x in nxt.items() if x > 0}
    return r


def test_personalized_pagerank_matches_python_twin(spark):
    from spanmarkerner_spark.operators.graph import personalized_pagerank

    # two components: seeds live in the first; the second must get 0 mass
    pairs = [(0, 1), (1, 2), (2, 0), (1, 3), (5, 6), (6, 5)]
    edges = pairs + [(b, a) for a, b in pairs]
    df = spark.createDataFrame(edges, "src long, dst long")
    seeds = spark.createDataFrame([(0,)], "node long")
    got = {
        r["node"]: r["rank"]
        for r in personalized_pagerank(df, seeds, iters=3).collect()
    }
    want = _py_ppr(edges, {0}, iters=3)
    assert got == want
    assert 5 not in got and 6 not in got  # mass stays seed-local


def test_dense_ids_match_global_rank_and_parallelism_invariant(spark):
    from spanmarkerner_spark.plans.dict_store import dense_ids

    vals = [f"t{i:03d}" for i in range(199)]
    import random

    rnd = random.Random(7)
    shuffled = vals[:]
    rnd.shuffle(shuffled)
    df = spark.createDataFrame([(v,) for v in shuffled], "term string")
    for buckets in (1, 4, 64):
        got = {
            r["term"]: r["tid"]
            for r in dense_ids(df, "term", buckets=buckets).collect()
        }
        want = {v: i + 1 for i, v in enumerate(sorted(vals))}
        assert got == want, f"buckets={buckets}"


def test_dict_encode_shared_node_dictionary(spark):
    from spanmarkerner_spark.plans.dict_store import dict_encode_triples

    tri = spark.createDataFrame(
        [
            ("a", "p", "b"),
            ("b", "q", "c"),  # b is subj here, obj above: ONE id
        ],
        "subj string, pred string, obj string",
    )
    store = dict_encode_triples(tri)
    terms = {r["term"]: r["tid"] for r in store["terms"].collect()}
    assert terms == {"a": 1, "b": 2, "c": 3}
    enc = {
        (r["s_id"], r["p_id"], r["o_id"])
        for r in store["encoded"].collect()
    }
    assert enc == {(1, 1, 2), (2, 2, 3)}


def test_star_join_resolved_counts(spark):
    from spanmarkerner_spark.plans.dict_store import (
        dict_encode_triples,
        star_join_resolved,
    )

    tri = spark.createDataFrame(
        [
            ("s1", "supplies", "p1"),
            ("s1", "supplies", "p2"),
            ("s1", "in_nation", "n1"),
            ("s2", "supplies", "p1"),
            ("s2", "in_nation", "n2"),  # wrong nation: excluded
            ("s3", "in_nation", "n1"),  # no supplies edges: excluded
        ],
        "subj string, pred string, obj string",
    )
    store = dict_encode_triples(tri)
    got = {
        (r["s_id"], r["n_a"])
        for r in star_join_resolved(
            store, "supplies", "in_nation", "n1"
        ).collect()
    }
    terms = {r["term"]: r["tid"] for r in store["terms"].collect()}
    assert got == {(terms["s1"], 2)}


def test_random_walks_match_python_twin_and_end_early(spark):
    import hashlib

    from spanmarkerner_spark.operators.graph import random_walks

    edges = [(0, 1), (0, 2), (1, 3), (2, 3), (3, 4)]  # 4 is a sink
    df = spark.createDataFrame(edges, "src long, dst long")
    seeds = spark.createDataFrame([(0,)], "node long")
    got = sorted(
        (r["walk_id"], r["step"], r["node"])
        for r in random_walks(df, seeds, walk_len=6).collect()
    )

    def h(walk_id, t):
        s = f"walk|{walk_id}:{t}".encode()
        return int(hashlib.md5(s).hexdigest()[:15], 16)

    nbrs = {}
    for s, d in edges:
        nbrs.setdefault(s, []).append(d)
    for s in nbrs:
        nbrs[s].sort()
    want, cur = [(0, 0, 0)], 0
    for t in range(1, 7):
        if cur not in nbrs:
            break  # walk ends at the sink
        cur = nbrs[cur][h(0, t) % len(nbrs[cur])]
        want.append((0, t, cur))
    assert got == sorted(want)
    # the walk must actually end early: node 4 has no out-edges and
    # the graph is a DAG of depth 3, so a 6-step walk cannot be full
    assert len(got) < 7
    # deterministic across parallelism
    got2 = sorted(
        (r["walk_id"], r["step"], r["node"])
        for r in random_walks(df.repartition(8), seeds, walk_len=6).collect()
    )
    assert got2 == got


def test_ppr_support_within_bfs_radius_randomized(spark):
    """Cross-operator invariant: after k rounds, personalized-PageRank
    mass can only sit on nodes within k hops of the seed set — PPR's
    support must be a subset of the BFS-reachable ball. Randomized
    graph, fixed seed."""
    import random

    from spanmarkerner_spark.operators.graph import (
        bfs_distances,
        personalized_pagerank,
    )

    rnd = random.Random(20260818)
    n = 40
    edges = list({
        (rnd.randrange(n), rnd.randrange(n)) for _ in range(120)
    })
    edges = [(a, b) for a, b in edges if a != b]
    df = spark.createDataFrame(edges, "src long, dst long")
    seeds = spark.createDataFrame([(0,), (7,)], "node long")
    dist = {
        r["node"]: r["dist"]
        for r in bfs_distances(df, seeds, max_dist=3).collect()
    }
    ranks = {
        r["node"]: r["rank"]
        for r in personalized_pagerank(df, seeds, iters=3).collect()
    }
    assert set(ranks) <= set(dist), (
        "PPR mass outside the 3-hop BFS ball"
    )
    # and BFS itself agrees with a python twin
    import collections

    adj = collections.defaultdict(list)
    for a, b in edges:
        adj[a].append(b)
    want, frontier = {0: 0, 7: 0}, [0, 7]
    for d in range(1, 4):
        nxt = []
        for u in frontier:
            for v in adj[u]:
                if v not in want:
                    want[v] = d
                    nxt.append(v)
        frontier = nxt
    assert dist == want


def test_dense_ids_randomized_against_sorted_rank(spark):
    import random

    from spanmarkerner_spark.plans.dict_store import dense_ids

    rnd = random.Random(99)
    vals = list({f"w{rnd.randrange(10**6):06d}" for _ in range(700)})
    # include duplicates in the INPUT (dense_ids must distinct first)
    rows = [(v,) for v in vals] + [(v,) for v in rnd.sample(vals, 50)]
    rnd.shuffle(rows)
    df = spark.createDataFrame(rows, "term string").repartition(13)
    got = {
        r["term"]: r["tid"]
        for r in dense_ids(df, "term", buckets=7).collect()
    }
    want = {v: i + 1 for i, v in enumerate(sorted(vals))}
    assert got == want


def test_dense_ids_single_shared_range_exchange(spark):
    """dense_ids' counts branch and rank branch must read ONE shared
    range exchange (module docstring: duplicated exchanges would
    re-sample their own boundaries and corrupt the offsets). Pin:
    the executed plan contains a ReusedExchange and exactly one
    EXECUTED rangepartitioning exchange."""
    from spanmarkerner_spark.plans.dict_store import dense_ids

    df = spark.createDataFrame(
        [(f"t{i:04d}",) for i in range(300)], "term string"
    ).repartition(5)
    out = dense_ids(df, "term", buckets=8)
    out.collect()
    jplan = out._jdf.queryExecution().executedPlan()

    def walk(jp):
        cls = jp.getClass().getSimpleName()
        yield cls, jp
        if cls == "AdaptiveSparkPlanExec":
            yield from walk(jp.executedPlan())
        elif cls.endswith("QueryStageExec"):
            yield from walk(jp.plan())
        elif cls == "ReusedExchangeExec":
            return
        ch = jp.children()
        for i in range(ch.size()):
            yield from walk(ch.apply(i))

    nodes = list(walk(jplan))
    names = [c for c, _ in nodes]
    range_exchanges = [
        jp for c, jp in nodes
        if c == "ShuffleExchangeExec"
        and "rangepartitioning" in jp.toString().splitlines()[0].lower()
    ]
    assert names.count("ReusedExchangeExec") >= 1, names
    assert len(range_exchanges) == 1, [
        jp.toString().splitlines()[0] for jp in range_exchanges
    ]


def _shuffles(df):
    """(partitioning, origin, stacked) of every shuffle exchange in
    df's executed plan, reading through the adaptive query stages;
    stacked = the exchange reads another exchange's output directly.
    Reused exchanges are not counted again."""
    wrappers = {
        "AdaptiveSparkPlanExec": lambda p: p.executedPlan(),
        "ShuffleQueryStageExec": lambda p: p.plan(),
        "BroadcastQueryStageExec": lambda p: p.plan(),
        "ResultQueryStageExec": lambda p: p.plan(),
        "AQEShuffleReadExec": lambda p: p.child(),
        "InputAdapter": lambda p: p.child(),
        "WholeStageCodegenExec": lambda p: p.child(),
    }

    def unwrap(p):
        while p.getClass().getSimpleName() in wrappers:
            p = wrappers[p.getClass().getSimpleName()](p)
        return p

    out = []

    def walk(p, under_exchange):
        p = unwrap(p)
        name = p.getClass().getSimpleName()
        if name == "ReusedExchangeExec":
            return
        is_shuffle = name == "ShuffleExchangeExec"
        if is_shuffle:
            out.append((
                p.outputPartitioning().toString(),
                p.shuffleOrigin().toString(),
                under_exchange,
            ))
        children = p.children()
        for i in range(children.size()):
            walk(children.apply(i), is_shuffle)

    walk(df._jdf.queryExecution().executedPlan(), False)
    return out


def test_pagerank_rounds_shuffle_once_at_derived_width(spark, monkeypatch):
    """On a small graph pagerank's round outputs — the degree
    aggregation, and each round's contribution join and sum — are
    coalesced to the derived width 1 (session.narrow): every narrowed
    frame has one partition, narrow adds no exchange of its own, and
    no exchange is stacked on another. The joins and aggregations keep
    the exchanges Spark plans for them. Values match the python
    twin."""
    import spanmarkerner_spark.operators.graph as graph
    from spanmarkerner_spark.session import narrow

    outputs = []

    def recording(df, n_rows):
        outputs.append(narrow(df, n_rows))
        return outputs[-1]

    monkeypatch.setattr(graph, "narrow", recording)
    pairs = [(0, i) for i in range(1, 5)] + [(5, 6)]
    edges = pairs + [(b, a) for a, b in pairs]
    df = graph.pagerank(
        spark.createDataFrame(edges, "src long, dst long"), iters=3
    )
    assert {r["node"]: r["rank"] for r in df.collect()} == _py_pagerank(edges)
    assert len(outputs) == 1 + 2 * 3
    assert {o.rdd.getNumPartitions() for o in outputs} == {1}
    shuffles = _shuffles(df)
    assert not any(stacked for *_, stacked in shuffles)
    assert {o for _, o, _ in shuffles} <= {"ENSURE_REQUIREMENTS"}


def test_narrow_sizes_a_join_without_a_shuffle(spark):
    """narrow on a join's output coalesces the join's reduce side into
    w partitions and adds no shuffle exchange: the sort-merge join
    keeps its two session-width exchanges, and nothing is
    re-partitioned on top of it."""
    from spanmarkerner_spark.session import narrow

    width = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert width > 2
    a = spark.range(0, 1000).selectExpr("id AS k", "id % 7 AS v")
    b = spark.range(0, 1000).selectExpr("id AS k", "id % 5 AS u")
    joined = a.hint("merge").join(b, "k")
    sized = narrow(joined, 50_000)
    assert len(_shuffles(joined)) == 2
    assert _shuffles(sized) == _shuffles(joined)
    assert joined.rdd.getNumPartitions() == width
    assert sized.rdd.getNumPartitions() == 2
    assert sorted(sized.collect()) == sorted(joined.collect())


def test_graph_operators_never_write_shuffle_width(spark, frozen_shuffle_width):
    """pagerank, label_propagation, bfs_distances,
    connected_components and k_core size their rounds in the plan:
    with every write of spark.sql.shuffle.partitions raising, they
    still return the python-twin / hand-computed values."""
    from spanmarkerner_spark.operators.components import connected_components
    from spanmarkerner_spark.operators.graph import (
        bfs_distances,
        k_core,
        label_propagation,
        pagerank,
    )

    pairs = [(0, i) for i in range(1, 5)] + [(5, 6)]
    star = pairs + [(b, a) for a, b in pairs]
    got = pagerank(spark.createDataFrame(star, "src long, dst long"), iters=3)
    assert {r["node"]: r["rank"] for r in got.collect()} == _py_pagerank(star)

    c1 = [(a, b) for a in range(1, 5) for b in range(1, 5) if a != b]
    c2 = [(a, b) for a in range(10, 14) for b in range(10, 14) if a != b]
    cliques = spark.createDataFrame(
        c1 + c2 + [(4, 10), (10, 4)], "src long, dst long"
    )
    got = label_propagation(cliques, iters=3).collect()
    got = {r["node"]: r["label"] for r in got}
    assert all(got[n] == 1 for n in range(1, 5))
    assert all(got[n] == 10 for n in range(11, 14))

    path = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (3, 4), (9, 8)], "src long, dst long"
    )
    seeds = spark.createDataFrame([(0,)], "node long")
    got = bfs_distances(path, seeds, max_dist=3).collect()
    got = {r["node"]: r["dist"] for r in got}
    assert got == {0: 0, 1: 1, 2: 2, 3: 3}

    assert {tuple(r) for r in connected_components(path).collect()} == {
        (0, 0), (1, 0), (2, 0), (3, 0), (4, 0), (8, 8), (9, 8)
    }

    tail = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5)], "src long, dst long"
    )
    got = {r["node"]: r["degree"] for r in k_core(tail, k=2).collect()}
    assert got == {1: 2, 2: 2, 3: 2}


def test_cc_and_k_core_concurrently_leave_session_width(
    spark, frozen_shuffle_width
):
    """Two driver threads run connected_components and k_core at the
    same time: both results are right and the session width is the
    one they started with (no save/narrow/restore window to
    interleave)."""
    from concurrent.futures import ThreadPoolExecutor

    from spanmarkerner_spark.operators.components import connected_components
    from spanmarkerner_spark.operators.graph import k_core

    chains = spark.createDataFrame(
        [(i, i + 1) for i in range(12)] + [(20 + i, 21 + i) for i in range(6)],
        "src long, dst long",
    )
    tail = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5)], "src long, dst long"
    )
    with ThreadPoolExecutor(max_workers=2) as pool:
        cc = pool.submit(
            lambda: {tuple(r) for r in connected_components(chains).collect()}
        )
        kc = pool.submit(
            lambda: {r["node"]: r["degree"] for r in k_core(tail, k=2).collect()}
        )
        assert cc.result(timeout=600) == (
            {(i, 0) for i in range(13)} | {(i, 20) for i in range(20, 27)}
        )
        assert kc.result(timeout=600) == {1: 2, 2: 2, 3: 2}
    assert spark.conf.get("spark.sql.shuffle.partitions") == frozen_shuffle_width


def test_narrow_bounds_the_rows_it_sizes(spark, monkeypatch):
    """Every round width the graph and components operators derive is
    taken from a bound on the rows the narrowed frame carries, so no
    round is undersized. The bfs seed fans out to 60,000 neighbours in
    round 1, while the visited table it merges into has one row."""
    import spanmarkerner_spark.operators.components as components
    import spanmarkerner_spark.operators.graph as graph
    from pyspark.sql import functions as F

    from spanmarkerner_spark.session import narrow

    calls = []

    def recording(df, n_rows):
        calls.append((n_rows, df.count()))
        return narrow(df, n_rows)

    monkeypatch.setattr(graph, "narrow", recording)
    monkeypatch.setattr(components, "narrow", recording)

    hub = spark.range(1, 60_001).select(
        F.lit(0).cast("long").alias("src"), F.col("id").alias("dst")
    )
    seeds = spark.createDataFrame([(0,)], "node long")
    got = graph.bfs_distances(hub, seeds, max_dist=2)
    assert got.filter("dist = 1").count() == 60_000

    pairs = [(0, i) for i in range(1, 5)] + [(5, 6)]
    star = spark.createDataFrame(
        pairs + [(b, a) for a, b in pairs], "src long, dst long"
    )
    for run in (
        lambda: graph.pagerank(star, iters=2),
        lambda: graph.label_propagation(star, iters=2),
        lambda: graph.hits(star, iters=2),
        lambda: graph.k_core(star, k=1),
        lambda: components.connected_components(star),
    ):
        run().collect()
    assert len(calls) > 10
    assert all(n_rows >= rows for n_rows, rows in calls), calls


def test_k_core_and_cc_small_rounds_shuffle_nothing(spark, monkeypatch):
    """On a graph under narrow's 50k rows every k_core peel round and
    every connected-components round reads one-partition frames, so
    its windows and aggregation plan no shuffle exchange and its join
    broadcasts: of all the frames each operator cuts, only the first
    (symmetrize and dedup) shuffles."""
    import spanmarkerner_spark.operators.components as components
    import spanmarkerner_spark.operators.graph as graph
    from spanmarkerner_spark.session import cut

    shuffles = []

    def recording(df):
        out = cut(df)
        shuffles.append(_shuffles(df))
        return out

    monkeypatch.setattr(graph, "cut", recording)
    monkeypatch.setattr(components, "cut", recording)
    tail = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5), (5, 6), (6, 7)],
        "src long, dst long",
    )
    kc = {r["node"]: r["degree"] for r in graph.k_core(tail, k=2).collect()}
    assert kc == {1: 2, 2: 2, 3: 2}
    kc_cuts, shuffles[:] = shuffles[:], []
    # a range scan, like a parquet scan, has a size the planner knows,
    # so each round broadcasts the labels to the edges
    chains = (
        spark.range(0, 12)
        .union(spark.range(20, 26))
        .selectExpr("id AS src", "id + 1 AS dst")
    )
    cc = {tuple(r) for r in components.connected_components(chains).collect()}
    assert cc == {(i, 0) for i in range(13)} | {(i, 20) for i in range(20, 27)}
    for cuts in (kc_cuts, shuffles):
        assert len(cuts) > 3
        assert cuts[0]
        assert not any(cuts[1:]), cuts


def test_k_core_and_cc_full_width_rounds(spark, monkeypatch):
    """k_core and connected_components give the same values whether
    narrow coalesces the frames their rounds read or, as on a graph
    too large for narrow to change the plan, returns them at the
    session width."""
    import spanmarkerner_spark.operators.components as components
    import spanmarkerner_spark.operators.graph as graph

    chains = spark.createDataFrame(
        [(i, i + 1) for i in range(12)] + [(20 + i, 21 + i) for i in range(6)],
        "src long, dst long",
    )
    tail = spark.createDataFrame(
        [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5), (5, 6), (6, 7)],
        "src long, dst long",
    )

    def run():
        cc = {tuple(r) for r in components.connected_components(chains).collect()}
        kc = {r["node"]: r["degree"] for r in graph.k_core(tail, k=2).collect()}
        return cc, kc

    narrowed = run()
    monkeypatch.setattr(graph, "narrow", lambda df, n_rows: df)
    monkeypatch.setattr(components, "narrow", lambda df, n_rows: df)
    assert run() == narrowed
    assert narrowed == (
        {(i, 0) for i in range(13)} | {(i, 20) for i in range(20, 27)},
        {1: 2, 2: 2, 3: 2},
    )
