"""Graph construction + PageRank — the crawl-graph curation signal.

Web-scale training-data pipelines weight/filter pages by link-graph
centrality (Common Crawl publishes harmonic/PageRank host rankings;
C4/RefinedWeb-style curation consumes them). This module builds a
co-occurrence graph from a fact table and runs a fixed-iteration,
integer-quantized PageRank over it.

Integer quantization (same trick as operators/clustering.py): rank
mass is a BIGINT scaled by `scale`; every step is integer floor
arithmetic (`div` in Spark ≡ `//` in DuckDB on non-negative values),
so each iteration is bit-exact cross-engine and the DuckDB oracle
unrolls the same iterations as CTEs — a full value oracle for an
iterative graph algorithm.

Scale design (10^10-edge graph, 1000 executors):
- `cooccurrence_edges` self-joins on the shared key — work is
  sum(group_size^2), safe when the key is bounded (items per order,
  links per page); for heavy keys cap the group, or salt it (split
  the hot key into N sub-keys on one side, replicate the other N
  times).
- Edges are the BIG side and are static across iterations: persist
  them partitioned by src once; each iteration then shuffles only the
  rank table (one thin (node, long) row per node) to the edge
  partitioning, plus the keyed contribution sum — per-iteration bytes
  ∝ nodes, not edges.
- Where an operator cuts lineage it goes through session.cut, which
  checkpoints reliably when the deployment sets spark.checkpoint.dir;
  where it sizes a round, through session.narrow, from a cut's count.
  On a graph of under 50k rows a narrowed frame is one partition, so
  the aggregations and windows reading it add no exchange; a larger
  graph keeps the exchanges Spark plans at the session width.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..session import cut, narrow, release

SCALE = 10**12


def cooccurrence_edges(
    df: DataFrame, key_col: str, node_col: str
) -> DataFrame:
    """Distinct directed pairs (src, dst), src != dst, of nodes
    sharing a key. Symmetric by construction (both directions
    emitted), so the result has no dangling nodes."""
    a = df.select(F.col(key_col).alias("_k"), F.col(node_col).alias("src"))
    b = df.select(F.col(key_col).alias("_k"), F.col(node_col).alias("dst"))
    return (
        a.join(b, "_k")
        .filter(F.col("src") != F.col("dst"))
        .select("src", "dst")
        .distinct()
    )


def pagerank(
    edges: DataFrame, iters: int = 3, damping_pct: int = 85, scale: int = SCALE
) -> DataFrame:
    """(node, rank) after `iters` rounds of
        r(v) <- ((100-d)*r0) div 100  +  (d * sum_in(r(u) div deg(u))) div 100
    with r0 = scale div N. Floor-rounded PageRank — deterministic,
    reproducible in integer SQL. Assumes a symmetric edge set (no
    dangling nodes), as produced by cooccurrence_edges.

    Lineage and width: the edge list is cut once (session.cut), as in
    hits(), and its free count sizes the degree aggregation and each
    round's contribution join and sum (session.narrow). The rounds
    stay lazy: the unroll is LINEAR — edges/deg are referenced once per
    iteration and runtime exchange reuse dedups those identical
    subtrees (contrast hits(), whose raw/total double-references grow
    the plan GEOMETRICALLY and need a cut per half-step). Measured on
    4 cores, graph_pagerank at sf0.01, process CPU of the query in a
    warm session, median of 4: 6.3 s for the uncut unroll at session
    width, 3.8 s with the cut edge list and narrowed rounds. Per-round
    cuts were not re-measured on CPU. The edge cut holds O(edges)
    blocks for the life of the returned frame, which still reads it;
    on a graph too large for narrow to change the plan it is the one
    cost this adds over an uncut edge list."""
    edges, n_edges = cut(edges.select("src", "dst"))
    deg = narrow(
        edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg")), n_edges
    )
    n_nodes = deg.agg(F.count(F.lit(1)).alias("_n"))
    base_pct = 100 - damping_pct
    ranks = deg.crossJoin(F.broadcast(n_nodes)).select(
        F.col("src").alias("node"),
        F.expr(f"CAST({scale} div _n AS LONG)").alias("r"),
        F.col("_n"),
    )
    r0_expr = f"CAST({base_pct} * ({scale} div _n) div 100 AS LONG)"
    for _ in range(iters):
        contrib = narrow(
            edges.join(deg, "src").join(
                ranks.select(F.col("node").alias("src"), "r"), "src"
            ),
            n_edges,
        ).select("dst", F.expr("r div deg").alias("c"))
        ranks = (
            narrow(
                contrib.groupBy(F.col("dst").alias("node")).agg(
                    F.sum("c").alias("_in")
                ),
                n_edges,
            )
            .crossJoin(F.broadcast(n_nodes))
            .select(
                "node",
                (
                    F.expr(r0_expr)
                    + F.expr(f"CAST({damping_pct} * _in div 100 AS LONG)")
                ).alias("r"),
                F.col("_n"),
            )
        )
    return ranks.select("node", F.col("r").alias("rank"))


def label_propagation(edges: DataFrame, iters: int = 3) -> DataFrame:
    """Synchronous label-propagation community detection (LPA,
    Raghavan et al. 2007) with a TOTAL deterministic update rule:
    every node starts labeled with itself; each round, node v adopts
    the most frequent label among its in-neighbors, ties broken by
    smallest label — so a fixed `iters` unrolls to the same result in
    any engine (the DuckDB oracle mirrors the rounds as CTE pairs).
    Assumes a symmetric, self-loop-free edge set (cooccurrence_edges).

    Returns (node, label) after `iters` rounds.

    Scale design: each round is (a) one join of the thin (node, label)
    table to edges on src — at 10^10 edges, persist edges partitioned
    by src once and only the label table moves; (b) one keyed count
    groupBy (dst, label) with map-side partial aggregation — message
    volume ∝ edges (LPA's nature), bytes per message 16; (c) one
    per-node argmax window on the counted (dst, label) pairs, whose
    input is already collapsed to <= distinct-neighbor-labels rows
    per node. The outputs of (a), (b) and (c) are sized by the cut edge
    count (session.narrow): on a small graph each runs in a few tasks,
    and at one task (b) and (c) need no exchange of their own. Hot
    nodes (celebrity pages) skew (b)/(c): AQE skew handling splits
    them, or cap/salt them upstream.

    Lineage: as in pagerank(), one cut of the edge list and lazy
    rounds. Measured on 4 cores, graph_label_prop at sf0.01, process
    CPU of the query in a warm session, median of 4: 4.7 s uncut at
    session width, 2.9 s cut and narrowed. As in pagerank(), the edge
    cut holds O(edges) blocks for the life of the returned frame.
    """
    edges, n_edges = cut(edges.select("src", "dst"))
    labels = narrow(
        edges.select(F.col("src").alias("node")).distinct(), n_edges
    ).select("node", F.col("node").alias("label"))
    w = Window.partitionBy("node").orderBy(F.desc("_c"), F.asc("label"))
    for _ in range(iters):
        nb = narrow(
            edges.join(labels.select(F.col("node").alias("src"), "label"), "src"),
            n_edges,
        ).select(F.col("dst").alias("node"), "label")
        counts = narrow(
            nb.groupBy("node", "label").agg(F.count(F.lit(1)).alias("_c")),
            n_edges,
        )
        labels = narrow(
            counts.withColumn("_rn", F.row_number().over(w)), n_edges
        ).filter(F.col("_rn") == 1).select("node", "label")
    return labels


def triangle_count(edges: DataFrame) -> DataFrame:
    """Per-node triangle counts via degree-ordered edge orientation
    (the MapReduce triangle algorithm of Suri & Vassilvitskii, WWW'11).

    Each undirected edge is oriented from its (degree, id)-smaller
    endpoint to its larger one; a triangle {a,b,c} then appears as
    EXACTLY ONE wedge (a->b, a->c with (deg,id)[b] < [c]) closed by
    the oriented edge b->c, so no triangle is counted twice and no
    post-hoc division is needed. Returns (node, triangles) for every
    node in >= 1 triangle.

    Scale design (10^10-edge crawl graph): orientation is THE
    scale lever — every oriented out-degree is <= O(sqrt(m)), so the
    wedge join's output is bounded by sum(out_deg^2) <= m^1.5 instead
    of the unoriented sum(deg^2), which a single celebrity page makes
    quadratic. Three keyed shuffles: the degree groupBy, the
    wedge self-join on the apex, and the closing join on (x, y);
    per-row payload is two longs throughout. Skewed apexes (hot
    wedge sources) are exactly what orientation removes; residual
    skew is AQE-splittable because both joins are plain equi-joins.
    """
    und = (
        edges.select(
            F.least("src", "dst").alias("a"),
            F.greatest("src", "dst").alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
    )
    ends = und.select(F.col("a").alias("node")).unionAll(
        und.select(F.col("b").alias("node"))
    )
    deg = ends.groupBy("node").agg(F.count(F.lit(1)).alias("dg"))
    j = und.join(
        deg.select(F.col("node").alias("a"), F.col("dg").alias("dga")), "a"
    ).join(
        deg.select(F.col("node").alias("b"), F.col("dg").alias("dgb")), "b"
    )
    lower = F.struct(F.col("dga"), F.col("a")) < F.struct(
        F.col("dgb"), F.col("b")
    )
    # oriented is consumed THREE times in the same action (both wedge
    # sides + the closing join); without a cut the whole
    # co-occurrence self-join + distinct subtree (the dominant cost)
    # re-executes per consumer. A cut, not a persist: a persisted
    # frame of a lazy result could never be unpersisted and would stay
    # in the session's cache; the cut's blocks go with the frame
    oriented, _ = cut(j.select(
        F.when(lower, F.col("a")).otherwise(F.col("b")).alias("s"),
        F.when(lower, F.col("b")).otherwise(F.col("a")).alias("d"),
    ))
    o1, o2 = oriented.alias("o1"), oriented.alias("o2")
    wedges = o1.join(
        o2,
        (F.col("o1.s") == F.col("o2.s")) & (F.col("o1.d") < F.col("o2.d")),
    ).select(
        F.col("o1.s").alias("apex"),
        F.col("o1.d").alias("x"),
        F.col("o2.d").alias("y"),
    )
    closing = oriented.select(F.col("s").alias("x"), F.col("d").alias("y"))
    tri = wedges.join(closing, ["x", "y"])
    corners = (
        tri.select(F.col("apex").alias("node"))
        .unionAll(tri.select(F.col("x").alias("node")))
        .unionAll(tri.select(F.col("y").alias("node")))
    )
    return corners.groupBy("node").agg(
        F.count(F.lit(1)).alias("triangles")
    )


def k_core(edges: DataFrame, k: int = 3, max_rounds: int = 16) -> DataFrame:
    """k-core decomposition by iterative peeling (Seidman 1983; the
    Batagelj-Zaversnik semantics at fixed round grain): repeatedly
    delete every node whose degree in the SURVIVING subgraph is < k
    until stable — the densest-cohesion filter link-graph curation
    uses to separate organically-linked page clusters from spam
    chaff, and the standard prefilter before community detection.

    Accepts any undirected edge list (one or both directions per
    edge); symmetrizes + dedups internally. Returns (node, degree)
    for nodes in the k-core, degree = within-core degree.

    Determinism / oracle: each peel round is a pure function of the
    previous edge set, so a FIXED round count unrolls to identical
    results in any engine (the DuckDB oracle mirrors the rounds as
    materialized CTE pairs). Spark early-stops when a round removes
    nothing — a no-op round is a fixed point, so stopping early
    equals running the remaining rounds; `max_rounds` bounds the
    worst-case peel depth (a chain peels one node per round). Tests
    pin convergence-at-fixture-scale so the fixed grain IS the true
    k-core there.

    Scale design: each round is two keyed window counts and a filter,
    no join — the symmetric edge list holds deg(v) rows under either
    endpoint, so an edge survives when both windows count >= k. The
    round reads the edges through session.narrow, sized by their cut
    count and re-derived every round so the width follows the peel:
    below 50k edges a round is one task with no exchange. At full
    width each window holds all of a node's edges in one task (Spark
    spills it, it cannot split it); on every graph the tests and the
    benchmark run, this round measured faster than a degree
    aggregation plus two semi-joins (BENCH.md). The edge set only
    SHRINKS; each round is cut (session.cut) so lineage stays one
    round deep, and the superseded round is released — the
    components.py recipe. Peel depth on web graphs is small
    (degeneracy ordering ~ tens of rounds); for full coreness-per-node
    run the peel per k or the bucket algorithm —
    this operator pins one k, the curation use."""
    cur, prev_edges = cut(
        edges.select("src", "dst")
        .unionAll(
            edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    for _ in range(max_rounds):
        # cur is symmetric, so deg(v) is its row count under either
        # endpoint: two keyed window counts, no join
        peeled = (
            narrow(cur, prev_edges)
            .withColumn("_ds", F.count(F.lit(1)).over(Window.partitionBy("src")))
            .withColumn("_dd", F.count(F.lit(1)).over(Window.partitionBy("dst")))
            .filter((F.col("_ds") >= k) & (F.col("_dd") >= k))
        )
        nxt, n_edges = cut(peeled.select("src", "dst"))
        release(cur)
        cur = nxt
        if n_edges == prev_edges:
            break
        prev_edges = n_edges
    # the (node-sized) result gets its own cut so the last round's
    # edge cut can be released before return
    out, _ = cut(
        narrow(cur, prev_edges)
        .groupBy("src")
        .agg(F.count(F.lit(1)).cast("long").alias("degree"))
        .select(F.col("src").alias("node"), "degree")
    )
    release(cur)
    return out


def hits(edges: DataFrame, iters: int = 2, scale: int = 10**6) -> DataFrame:
    """HITS hubs & authorities (Kleinberg 1999) — the OTHER classic
    link-centrality pair beside PageRank: an authority is pointed at
    by good hubs, a hub points at good authorities. On host graphs
    the authority score is the source-quality prior curation wants
    (directories/aggregators score hub-high, canonical sources
    authority-high — PageRank conflates the two roles).

    Same integer-quantization contract as pagerank(): scores are
    BIGINT shares of `scale`; each half-step sums the counterpart
    score over edges then renormalizes with floor division
    (x * scale div total), so a fixed `iters` unrolls bit-exactly in
    integer SQL (the DuckDB oracle mirrors the half-steps as CTE
    pairs). Overflow bound: raw sums stay <= scale * n_nodes, so
    raw * scale needs scale^2 * n_nodes < 2^63 — at the default ppm
    scale that allows ~9 * 10^6 nodes; raise mass precision only with
    a wider sum type.

    edges: directed (src, dst), self-loop-free, deduplicated.
    Returns (node, authority, hub) — 0 for roles a node never plays
    (pure hubs have authority 0, pure authorities hub 0).

    Scale design (10^10-edge graph): edges are static across
    iterations — persist partitioned by the join key once; each
    half-step moves only the thin (node, score) table plus one
    map-side-combinable keyed sum, and the normalizer is a single
    broadcast scalar. Per-iteration bytes ~ nodes, not edges. The
    outputs of the node distinct and of each half-step's join and sum
    are sized by the edge cut's count (session.narrow).

    Lineage: every half-step references `edges`, and each raw/total
    pair references its input twice, so the uncut lazy unroll embeds
    the edges subtree GEOMETRICALLY — web_host_hits' 2-iteration plan
    carried 284 copies of the link-extraction scan (562 Exchanges,
    989KB plan text) before the cut. One eager cut of the (thin) edge
    list plus one thin (node, raw) cut per half-step keeps the plan
    linear — the components.py / k_core / bfs_distances discipline.
    Materialization only; values unchanged. Storage: the edge cut
    holds O(edges) for the duration of the call (executor blocks, or
    checkpoint files when spark.checkpoint.dir is set), which at
    10^10 edges is the whole edge list — size executor storage for
    it. Each superseded half-step cut, and the edge cut before
    return, is released, so the O(nodes) cuts do not grow with
    `iters`.
    """
    edges, n_edges = cut(edges.select("src", "dst"))
    src_nodes = edges.select(F.col("src").alias("node"))
    dst_nodes = edges.select(F.col("dst").alias("node"))
    nodes, _ = cut(narrow(src_nodes.union(dst_nodes).distinct(), 2 * n_edges))
    n_nodes = nodes.agg(F.count(F.lit(1)).alias("_n"))
    h = nodes.crossJoin(F.broadcast(n_nodes)).select(
        "node", F.expr(f"CAST({scale} div _n AS LONG)").alias("s")
    )
    a = None
    superseded = []
    for _ in range(iters):
        into = narrow(
            edges.join(h.select(F.col("node").alias("src"), "s"), "src"),
            n_edges,
        )
        a_raw, _ = cut(narrow(
            into.groupBy(F.col("dst").alias("node")).agg(F.sum("s").alias("raw")),
            n_edges,
        ))
        # the previous half-steps' cuts were last read by this one
        for df in superseded:
            release(df)
        ta = a_raw.agg(F.sum("raw").alias("_t"))
        a = a_raw.crossJoin(F.broadcast(ta)).select(
            "node", F.expr(f"CAST(raw * {scale} div _t AS LONG)").alias("s")
        )
        out_of = narrow(
            edges.join(a.select(F.col("node").alias("dst"), "s"), "dst"),
            n_edges,
        )
        h_raw, _ = cut(narrow(
            out_of.groupBy(F.col("src").alias("node")).agg(F.sum("s").alias("raw")),
            n_edges,
        ))
        th = h_raw.agg(F.sum("raw").alias("_t"))
        h = h_raw.crossJoin(F.broadcast(th)).select(
            "node", F.expr(f"CAST(raw * {scale} div _t AS LONG)").alias("s")
        )
        superseded = [a_raw, h_raw]
    release(edges)
    return (
        nodes.join(a.withColumnRenamed("s", "authority"), "node", "left")
        .join(h.withColumnRenamed("s", "hub"), "node", "left")
        .select(
            "node",
            F.coalesce("authority", F.lit(0)).cast("long").alias("authority"),
            F.coalesce("hub", F.lit(0)).cast("long").alias("hub"),
        )
    )


def bfs_distances(
    edges: DataFrame, seeds: DataFrame, max_dist: int = 3
) -> DataFrame:
    """Multi-source BFS hop distances from a seed set, bounded at
    `max_dist` rounds — the "hops from trusted seeds" signal web
    curation uses as a spam prior (TrustRank's seed-distance notion,
    Gyongyi et al. 2004) and KG consumers use as an entity
    neighborhood radius. Exact and deterministic: a node reached in
    an earlier round can never get a larger distance later, so the
    per-round frontier expansion unrolls bit-exactly in SQL (the
    DuckDB oracle mirrors each round as a CTE pair: frontier
    expansion, then MIN-merge).

    edges: directed (src, dst). seeds: (node). Returns (node, dist)
    for every node within `max_dist` hops of any seed (seeds at 0).

    Scale design (10^10-edge graph): classic frontier BFS — round t
    joins ONLY the distance-(t-1) frontier to the edge table, so
    per-round shuffle bytes are proportional to the frontier's edge
    neighborhood, not the graph; edges stay put when persisted
    partitioned by src (the thin frontier moves to them). The
    MIN-merge groupBy is over (visited + newly-reached), a thin
    (node, long) table with map-side combine; the frontier join's
    output is sized by the edge count and the merge's by visited +
    edge count (session.narrow). The distance table is cut every round
    (session.cut) and the superseded round released.
    """
    # The edge list is cut once: each round's frontier join reads the
    # materialized edges instead of re-deriving them (the per-round
    # dist cut makes every round its own job, and exchange reuse never
    # spans jobs), and the cut's count bounds the MIN-merge input,
    # dist ∪ reached <= n_dist + n_edges rows, which sizes it
    # (session.narrow). The cut alone is within noise: on 4 cores,
    # graph_bfs_dist at sf0.01, process CPU of the query in a warm
    # session, median of 10, 4.7 s with it against 4.8 s without. The
    # edge cut holds O(edges) blocks for the life of the returned
    # frame, which still reads it.
    edges, n_edges = cut(edges.select("src", "dst"))
    dist = seeds.select("node").distinct().select(
        "node", F.lit(0).cast("long").alias("dist")
    )
    prev = None
    for t in range(1, max_dist + 1):
        # cut lineage per round: dist is referenced TWICE below
        # (frontier filter + the min-merge union), so an uncut plan
        # embeds two copies of the previous round's subtree — 2^t
        # copies of the seed expansion by round t. One thin
        # (node, long) materialization per round keeps it linear
        # (the components.py / k_core discipline).
        dist, n_dist = cut(dist)
        if prev is not None:
            release(prev)
        prev = dist
        frontier = dist.filter(F.col("dist") == t - 1).select(
            F.col("node").alias("src")
        )
        reached = narrow(edges.join(frontier, "src"), n_edges).select(
            F.col("dst").alias("node"), F.lit(t).cast("long").alias("dist")
        )
        dist = narrow(
            dist.unionByName(reached).groupBy("node").agg(
                F.min("dist").alias("dist")
            ),
            n_dist + n_edges,
        )
    return dist


def personalized_pagerank(
    edges: DataFrame,
    seeds: DataFrame,
    iters: int = 3,
    damping_pct: int = 85,
    scale: int = SCALE,
) -> DataFrame:
    """Personalized PageRank: random walk with restart onto a SEED
    set instead of the uniform vector — the seed-biased centrality
    behind TrustRank host scoring (teleport to trusted hosts only)
    and KG entity-relatedness (PPR from a query entity ranks its
    neighborhood). Same integer-quantization contract as pagerank():
        r0(v)   = scale div n_seeds           for seeds, else 0
        r(v)   <- [v is seed] * ((100-d) * (scale div n_seeds)) div 100
                  + (d * sum_in(r(u) div deg(u))) div 100
    Every step is BIGINT floor arithmetic, so a fixed `iters` unrolls
    bit-exactly as CTE pairs in the DuckDB oracle. Nodes whose rank
    is 0 after the last round (never reached from the seeds) are
    dropped — PPR mass is seed-local by construction.

    edges: directed (src, dst), self-loop-free, deduplicated, with
    every src having out-degree >= 1 (cooccurrence_edges guarantees
    this; dangling mass is otherwise lost, as in pagerank()).

    Scale design: identical per-iteration budget to pagerank() — the
    BIG edge table is static (persist partitioned by src once), each
    round moves only the thin (node, rank) table plus one keyed
    map-side-combinable sum; the teleport side is the seed table,
    broadcast-sized by definition. Because rank mass stays
    concentrated near the seeds, the moving rank table is usually
    FAR smaller than the node set — PPR rounds get cheaper, not
    costlier, than uniform PageRank at the same graph size.

    Width: unlike pagerank(), the rounds are not narrowed. Seeds are
    usually derived from the caller's edge frame, and a cut of the
    edge list (the count session.narrow needs) makes the seeds
    re-derive that frame in a second job: on 4 cores, graph_ppr at
    sf0.1, process CPU of the query in a warm session, median of 4,
    went 9.8 s -> 11.4 s with the cut and narrowed rounds.
    """
    base_pct = 100 - damping_pct
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    sd = seeds.select("node").distinct()
    n_seeds = sd.agg(F.count(F.lit(1)).alias("_ns"))
    ranks = sd.crossJoin(F.broadcast(n_seeds)).select(
        "node", F.expr(f"CAST({scale} div _ns AS LONG)").alias("r")
    )
    teleport = sd.crossJoin(F.broadcast(n_seeds)).select(
        "node",
        F.expr(
            f"CAST({base_pct} * ({scale} div _ns) div 100 AS LONG)"
        ).alias("p"),
    )
    for _ in range(iters):
        contrib = (
            edges.join(deg, "src")
            .join(ranks.select(F.col("node").alias("src"), "r"), "src")
            .select("dst", F.expr("r div deg").alias("c"))
        )
        damped = (
            contrib.groupBy(F.col("dst").alias("node"))
            .agg(F.sum("c").alias("_in"))
            .select(
                "node",
                F.expr(f"CAST({damping_pct} * _in div 100 AS LONG)").alias(
                    "p"
                ),
            )
        )
        ranks = (
            damped.unionByName(teleport)
            .groupBy("node")
            .agg(F.sum("p").alias("r"))
            .filter(F.col("r") > 0)
        )
    return ranks.select("node", F.col("r").alias("rank"))


def walk_skipgram_pairs(
    walks: DataFrame, window: int = 2
) -> DataFrame:
    """Skip-gram training pairs from a walk corpus — the step between
    random_walks and word2vec-style embedding training (DeepWalk §4.2
    treats each walk as a sentence): every ordered (center, context)
    node pair within `window` steps of each other on the same walk,
    aggregated to (center, context, n_pairs) frequencies.

    One keyed self-join on walk_id (walks are short, so the per-key
    blow-up is <= walk_len * 2*window rows) followed by a map-side-
    combinable count — no other shuffle. At 10^10 walks the pair
    table is the embedding trainer's input; frequency-aggregated form
    keeps it vocabulary² -bounded instead of corpus-bounded."""
    a = walks.select(
        "walk_id", F.col("step").alias("i"), F.col("node").alias("center")
    )
    b = walks.select(
        "walk_id", F.col("step").alias("j"), F.col("node").alias("context")
    )
    pairs = a.join(b, "walk_id").filter(
        (F.col("i") != F.col("j"))
        & (F.abs(F.col("i") - F.col("j")) <= window)
    )
    return pairs.groupBy("center", "context").agg(
        F.count(F.lit(1)).alias("n_pairs")
    )


def random_walks(
    edges: DataFrame,
    seeds: DataFrame,
    walk_len: int = 4,
    salt: str = "walk",
) -> DataFrame:
    """Deterministic random-walk corpus generation — the walk-sampling
    stage of DeepWalk/node2vec-style graph embeddings (Perozzi et al.
    2014): one walk per seed node, each step choosing an out-neighbor
    "uniformly" via a PORTABLE hash of (walk_id, step) — so the walk
    corpus is bit-identical across engines, executors, and reruns
    (reproducible embedding pretraining data), and the DuckDB oracle
    unrolls the steps as CTE pairs.

    Step rule: neighbors of each node are ranked 1..deg by dst ASC
    (total order); step t moves to rank
        (portable_hash64(walk_id || ':' || t, salt) % deg) + 1.
    A walk that reaches a node with no out-edges ends early (the join
    drops it) — standard for directed web graphs.

    Returns (walk_id, step, node), step 0 = the seed.

    Scale design (10^10-edge graph): the ranked neighbor table and
    degree table are computed ONCE (two keyed shuffles over edges,
    both map-side-combinable / window-local) and are static across
    steps; each step then moves only the thin (walk_id, node) frontier
    to the neighbor partitioning — per-step bytes ∝ active walks, not
    edges, exactly like bfs_distances. Hot nodes (celebrity pages)
    skew the frontier join: AQE's skew-join split or a salted join
    applies unchanged."""
    from spanmarkerner_spark.functions.hashing import portable_hash64

    w = Window.partitionBy("src").orderBy("dst")
    # nbr/deg are static across steps but each step's eager frontier
    # cut is a SEPARATE JOB — runtime exchange reuse never spans
    # jobs, so without these cuts every step re-executes the edge
    # derivation (a self-join for the successor graph), the ranking
    # window and the degree agg from scratch: ~2*walk_len redundant
    # executions per walk corpus. One eager cut of the thin edge list
    # feeds both and is released once they are materialized;
    # materialization only, values unchanged. (Contrast pagerank,
    # label_propagation and bfs, which cut their edge list once for
    # its count, bfs also its thin distance table per round, and ppr,
    # which cuts nothing: see pagerank's docstring and the bfs
    # comment.)
    edges, _ = cut(edges.select("src", "dst"))
    nbr, _ = cut(edges.select(
        "src", "dst", F.row_number().over(w).cast("long").alias("rn")
    ))
    deg, _ = cut(edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg")))
    release(edges)
    cur = seeds.select("node").distinct().select(
        F.col("node").alias("walk_id"), F.col("node")
    )
    out = cur.select(
        "walk_id", F.lit(0).cast("long").alias("step"), "node"
    )
    for t in range(1, walk_len + 1):
        pick = cur.join(
            deg.select(F.col("src").alias("node"), "deg"), "node"
        ).select(
            "walk_id",
            F.col("node").alias("src"),
            (
                portable_hash64(
                    F.concat_ws(":", F.col("walk_id"), F.lit(t)), salt=salt
                )
                % F.col("deg")
                + 1
            ).alias("rn"),
        )
        # cut lineage per step: every union branch below embeds the
        # whole frontier-join chain up to its step, so without the
        # cut the final plan executes O(walk_len^2) joins (branch t
        # re-runs steps 1..t); with it each step's thin
        # (walk_id, node) frontier is computed exactly once
        cur, _ = cut(pick.join(nbr, ["src", "rn"]).select(
            "walk_id", F.col("dst").alias("node")
        ))
        out = out.unionByName(
            cur.select(
                "walk_id", F.lit(t).cast("long").alias("step"), "node"
            )
        )
    return out
