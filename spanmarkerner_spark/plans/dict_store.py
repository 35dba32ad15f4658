"""Dictionary-encoded triple store — the RDF-engine storage layout.

Every production triple store (Jena TDB, Virtuoso, RDF-3X, and the
warehouse KG tables this engine materializes) stores triples as three
INTEGER ids against a term dictionary, not as strings: at 10^12
triples the dictionary cuts storage several-fold, every join moves
8-byte keys instead of URLs/surface forms, and the int keys
sort/bucket better. The reference (SpanMarkerNER) emits string-typed
entities (span_marker/modeling.py predict()); this module is the
KG-materialization layer downstream of its output.

Dense-id assignment at scale: `row_number() OVER (ORDER BY term)` is
the semantic contract, but a naive global-order window is a
single-reducer sort. `dense_ids` computes the SAME ranking with two
passes and no global sort:

  1. range-repartition the distinct terms (range boundaries are
     sample-based, but the final rank is INVARIANT to where the
     boundaries fall, because ranges are disjoint and ordered by
     partition id);
  2. count rows per partition (a tiny driver-side table), prefix-sum
     the counts into per-partition offsets, broadcast them back;
  3. per-partition local sort + row_number + offset.

Each partition sorts only its own slice — the expensive path is one
range shuffle of the (distinct) vocabulary, which is orders of
magnitude smaller than the triple table. The encode joins are plain
keyed joins on the term; at 10^12 triples the dictionary is usually
still shuffle-join-sized, so no broadcast is forced (AQE decides).

Correctness dependency, pinned by
tests/test_graph.py::test_dense_ids_single_shared_range_exchange:
the per-partition COUNTS branch and the RANK branch must observe the
SAME range boundaries and the same AQE partition coalescing. Both
branches reference one plan subtree, so Spark's exchange reuse
(`spark.sql.exchange.reuse`, on by default) executes the range
shuffle ONCE (the second consumer is a ReusedExchange), and AQE's
coalescing is a deterministic function of that single exchange's map
stats — every reader sees identical partition ids. Were the exchange
ever duplicated instead of reused, each copy would re-sample its own
boundaries (RangePartitioner's reservoir seed varies per RDD
instantiation) and the offsets would no longer match the ranked
partitions — hence the plan pin.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def dense_ids(
    df: DataFrame, col: str, id_col: str = "tid", buckets: int = 64
) -> DataFrame:
    """(col, id_col): dense 1-based BIGINT ids equal to
    row_number() OVER (ORDER BY col) over the DISTINCT values of
    `col` — computed without a global single-reducer sort (module
    docstring). Deterministic for any sampled range boundaries."""
    terms = df.select(F.col(col).alias("_term")).distinct()
    parts = terms.repartitionByRange(buckets, "_term").withColumn(
        "_pid", F.spark_partition_id()
    )
    counts = parts.groupBy("_pid").agg(F.count(F.lit(1)).alias("_c"))
    w_off = Window.orderBy("_pid").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = counts.select(
        "_pid", F.coalesce(F.sum("_c").over(w_off), F.lit(0)).alias("_off")
    )
    w_local = Window.partitionBy("_pid").orderBy("_term")
    return (
        parts.join(F.broadcast(offsets), "_pid")
        .select(
            F.col("_term").alias(col),
            (F.row_number().over(w_local) + F.col("_off"))
            .cast("long")
            .alias(id_col),
        )
    )


def dict_encode_triples(
    triples: DataFrame, buckets: int = 64
) -> dict[str, DataFrame]:
    """Encode a string (subj, pred, obj) table against freshly-built
    dictionaries. Returns {"terms": (term, tid), "preds": (pred, pid),
    "encoded": (s_id, p_id, o_id)} where term ids cover subj UNION obj
    (one shared node dictionary, so a value appearing as both subject
    and object gets ONE id — required for int-key graph traversal) and
    predicate ids are a separate tiny dictionary, as in every RDF
    store.

    Scale notes: the two encode joins shuffle the triple table by subj
    then by obj — unavoidable once per epoch, and the downstream wins
    (int-key joins, 8-byte shuffle keys) amortize it; the predicate
    dictionary is broadcast (predicate vocabularies are always tiny).
    Persist `terms`/`preds` alongside the encoded table.
    """
    nodes = triples.select(F.col("subj").alias("term")).union(
        triples.select(F.col("obj").alias("term"))
    )
    terms = dense_ids(nodes, "term", id_col="tid", buckets=buckets)
    preds = dense_ids(triples, "pred", id_col="pid", buckets=1)
    encoded = (
        triples.join(
            terms.select(F.col("term").alias("subj"), F.col("tid").alias("s_id")),
            "subj",
        )
        .join(F.broadcast(preds), "pred")
        .join(
            terms.select(F.col("term").alias("obj"), F.col("tid").alias("o_id")),
            "obj",
        )
        .select("s_id", F.col("pid").alias("p_id"), "o_id")
    )
    return {"terms": terms, "preds": preds, "encoded": encoded}


def star_join_resolved(
    store: dict[str, DataFrame], pred_a: str, pred_b: str, obj_b_term: str
) -> DataFrame:
    """SPARQL star join over the encoded store: per subject s with
    (s, pred_b, obj_b_term), the count n_a of its pred_a triples.
    The constants are given as STRINGS and resolved through the
    store's dictionaries — one-row broadcast joins, which is exactly
    how an RDF store executes query constants (dictionary lookup, then
    int-key pattern matching; the strings never touch the triple
    table)."""
    encoded, terms, preds = store["encoded"], store["terms"], store["preds"]
    pb = preds.filter(F.col("pred") == pred_b).select(
        F.col("pid").alias("p_id")
    )
    ob = terms.filter(F.col("term") == obj_b_term).select(
        F.col("tid").alias("o_id")
    )
    pa = preds.filter(F.col("pred") == pred_a).select(
        F.col("pid").alias("p_id")
    )
    anchor = (
        encoded.join(F.broadcast(pb), "p_id")
        .join(F.broadcast(ob), "o_id")
        .select("s_id")
        .distinct()
    )
    return (
        encoded.join(F.broadcast(pa), "p_id")
        .join(anchor, "s_id")
        .groupBy("s_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_a"))
    )
