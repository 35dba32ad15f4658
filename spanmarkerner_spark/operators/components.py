"""Connected components over an edge DataFrame.

Canonicalization stage (north_star): cluster entity/mention nodes
connected by similarity or shared-alias edges, assigning every node
the minimum node id of its component.

Algorithm: min-label propagation with pointer jumping — each round is
one neighborhood-min (join + agg) followed by one label-on-label join
(pointer jump), converging in O(log n) rounds on alias graphs. All
DataFrame ops:

  nbr-min:      label(v) <- min(label(v), min over neighbors' labels)
  pointer-jump: label(v) <- min(label(v), label(label(v)))

Iterative lineage is cut each round with session.cut (the classic
iterative-join plan-blowup fix), and each superseded round's blocks
are released, so storage stays about two rounds deep.

Convergence costs no extra join: the changed flag is carried on the
labels frame itself, so the per-round check is a scan of the
already-materialized checkpoint blocks, not a new-vs-old join.

Skew: the hub node of a big component concentrates its edges; AQE
skew-join splitting handles the join; the groupBy uses partial
aggregation so hot keys combine map-side.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import cut, release


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 20,
) -> DataFrame:
    """edges(src, dst) -> (node, component) with component = min node
    id reachable. Undirected; self-loops and duplicates tolerated."""
    spark = edges.sparkSession
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
    # SCALE-ADAPTIVE round parallelism: the per-round joins/aggs are
    # planned with spark.sql.shuffle.partitions, a cluster-width
    # constant — but the iteration runs over the PAIR GRAPH, usually
    # orders of magnitude smaller than the corpus, so a small graph
    # pays (#stages x partitions) near-empty-task overhead per round.
    # cut() counts sym as it materializes it; derive the round width
    # from that count (~50k rows/partition, capped at the session
    # setting so large graphs keep full width) and restore the
    # session conf afterwards.
    conf_key = "spark.sql.shuffle.partitions"
    old_parts = spark.conf.get(conf_key)
    round_parts = max(1, min(int(old_parts), (n_edges // 50_000) + 1))
    spark.conf.set(conf_key, str(round_parts))
    try:
        labels = _cc_rounds(sym, max_iter)
    finally:
        spark.conf.set(conf_key, old_parts)
    # the returned labels read only the last round's cut
    release(sym)
    return labels


def _cc_rounds(sym, max_iter: int):
    labels, _ = cut(
        sym.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("component", F.col("node"))
    )
    prev = labels

    for _ in range(max_iter):
        # neighborhood min of current labels (one join + one agg)
        nbr_min = (
            sym.join(labels.withColumnRenamed("node", "b"), "b")
            .groupBy("a")
            .agg(F.min("component").alias("nbr_component"))
            .withColumnRenamed("a", "node")
        )
        new_labels, _ = cut(
            labels.join(nbr_min, "node", "left")
            .select(
                "node",
                F.least(
                    F.col("component"), F.coalesce("nbr_component", "component")
                ).alias("component"),
                # convergence flag carried inline: no new-vs-old join
                (
                    F.coalesce("nbr_component", "component") < F.col("component")
                ).alias("_changed"),
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
        # pointer-jump by joining labels on labels (min-label hashing).
        # NOT cut(): the jump is one join over the just-checkpointed
        # labels, so leaving it lazy keeps lineage bounded (the next
        # round's new_labels cut truncates it) and saves one
        # materialization job per round — at local scale the rounds
        # are fixed-overhead-dominated (measured ~15% of cc wall).
        labels = (
            labels.alias("l1")
            .join(
                labels.select(
                    F.col("node").alias("component"),
                    F.col("component").alias("parent"),
                ),
                "component",
                "left",
            )
            .select(
                "node",
                F.least(
                    F.col("component"), F.coalesce("parent", "component")
                ).alias("component"),
            )
        )
    return labels
