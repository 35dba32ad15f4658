"""Connected components over an edge DataFrame.

Canonicalization stage (north_star): cluster entity/mention nodes
connected by similarity or shared-alias edges, assigning every node
the minimum node id of its component.

Algorithm: min-label propagation with pointer jumping — each round is
one neighborhood-min (join + agg) followed by one label-on-label
pointer jump, converging in O(log n) rounds on alias graphs. All
DataFrame ops:

  nbr-min:      label(v) <- min(label(v), min over neighbors' labels)
  pointer-jump: label(v) <- min(label(v), label(label(v)))

The nbr-min is one keyed MIN over (own labels ∪ neighbors' labels),
and the pointer jump is one keyed window on the label. Both read
frames sized by their row counts, known from the cuts
(session.narrow): below 50k rows a round is one task whose only
exchange is the broadcast of the labels to the edges; a larger graph
keeps the session-width exchanges and the MIN's map-side partial
aggregation.

Iterative lineage is cut each round with session.cut (the classic
iterative-join plan-blowup fix), and each superseded round's blocks
are released, so storage stays about two rounds deep.

Convergence costs no extra join: the changed flag is carried on the
labels frame itself, so the per-round check is a scan of the
already-materialized checkpoint blocks, not a new-vs-old join.

Skew: the hub node of a big component concentrates its edges; AQE
skew-join splitting handles the join, and the groupBy's partial
aggregation combines hot keys map-side. The pointer-jump window holds
a whole component in one task: on every graph the tests and the
benchmark run, it measured faster than a labels-on-labels join
(BENCH.md).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..session import cut, narrow, release


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 20,
) -> DataFrame:
    """edges(src, dst) -> (node, component) with component = min node
    id reachable. Undirected; self-loops and duplicates tolerated."""
    e = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .filter(F.col("a").isNotNull() & F.col("b").isNotNull())
        .distinct()
    )
    # symmetrize once — and MATERIALIZE once: sym is re-read every
    # iteration, and without the cut() each round re-executes the
    # whole upstream edge derivation (for near_dup_keep that is the
    # full simhash-LSH pair computation over the corpus — measured
    # 340 s -> ~15 s at sf0.1 from this line alone)
    sym, n_edges = cut(
        e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
    )
    labels = _cc_rounds(sym, n_edges, max_iter)
    # the returned labels read only the last round's cut
    release(sym)
    return labels


def _cc_rounds(sym, n_edges: int, max_iter: int):
    # every narrowed frame is sized by its row count (session.narrow),
    # known from the cuts: the nodes never change across rounds
    labels, n_nodes = cut(
        narrow(sym, n_edges)
        .select(F.col("a").alias("node"))
        .distinct()
        .withColumn("component", F.col("node"))
    )
    prev = labels

    for _ in range(max_iter):
        # neighborhood min merged with each node's own label: one
        # keyed MIN over (own label ∪ neighbors' labels), with no join
        # back to labels. The convergence flag is carried inline: no
        # new-vs-old join.
        nbr = sym.join(labels.withColumnRenamed("node", "b"), "b").select(
            F.col("a").alias("node"), "component", F.lit(False).alias("_own")
        )
        own = labels.select("node", "component", F.lit(True).alias("_own"))
        new_labels, _ = cut(
            narrow(own.unionByName(nbr), n_nodes + n_edges)
            .groupBy("node")
            .agg(
                F.min("component").alias("component"),
                F.min(F.when(F.col("_own"), F.col("component"))).alias("_was"),
            )
            .select(
                "node",
                "component",
                (F.col("component") < F.col("_was")).alias("_changed"),
            )
        )
        # the previous round's cut is superseded: this round's
        # pointer-jumped labels were its last reader
        release(prev)
        prev = new_labels
        # cheap: scans the just-materialized checkpoint blocks only
        changed = new_labels.filter("_changed").limit(1).count()
        labels = new_labels.drop("_changed")
        if changed == 0:
            break
        # propagate: a node's label may itself have been relabelled —
        # pointer-jump label(v) <- min(label(v), label(label(v))).
        # NOT cut(): the jump is one window over the just-checkpointed
        # labels, so leaving it lazy keeps lineage bounded (the next
        # round's new_labels cut truncates it) and saves one
        # materialization job per round — at local scale the rounds
        # are fixed-overhead-dominated (measured ~15% of cc wall).
        labels = _pointer_jump(labels, n_nodes)
    return labels


def _pointer_jump(labels, n_nodes: int):
    """label(v) <- min(label(v), label(label(v))) as one keyed window
    on the label: each node asks under its label and answers under its
    own id, so the window reads 2 * n_nodes rows (session.narrow)."""
    asks = labels.select(
        F.col("component").alias("_k"), "node", "component",
        F.lit(False).alias("_answer"),
    )
    answers = labels.select(
        F.col("node").alias("_k"), "node", "component",
        F.lit(True).alias("_answer"),
    )
    return (
        narrow(asks.unionByName(answers), 2 * n_nodes)
        .withColumn(
            "_parent",
            F.min(F.when(F.col("_answer"), F.col("component"))).over(
                Window.partitionBy("_k")
            ),
        )
        .filter(~F.col("_answer"))
        .select(
            "node",
            F.least(F.col("component"), F.coalesce("_parent", "component")).alias(
                "component"
            ),
        )
    )
