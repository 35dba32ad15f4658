"""Incremental entity-canonicalization registry (cross-epoch merges).

The batch canonicalization stage (pipeline.apply_canonicalize,
north_star "canonicalization via connected-components clustering")
recomputes connected components over ALL alias-ambiguity edges each
run. On a continuously-ingested KG the alias dictionary GROWS: a new
epoch can contribute an alias that merges two entity clusters that
were distinct in every prior epoch. Recomputing CC over the full
dictionary per micro-batch is O(dictionary) work per epoch — at a
10^9-alias web dictionary that is the wrong asymptotic. This module
maintains canonicalization INCREMENTALLY, the way production KGs do
(append-only `sameAs` / merge records, resolution at read time):

state (two epoch-partitioned parquet tables under one registry dir):
  alias_rep/  (alias, entity_id, epoch)  — ONE representative entity
              per alias ever seen, append-only (only genuinely-new
              aliases land in an epoch's delta);
  merges/     (loser, winner, epoch)     — append-only merge records
              between component ROOTS; winner is always the component
              minimum at merge time, so merge chains strictly
              decrease and the transitive root of any chain is the
              component's global minimum entity id.

per epoch (registry_micro_batch), work proportional to the NEW alias
rows plus the (tiny) merge table — the dictionary and the triple
corpus are never rescanned:
  1. resolve the batch's entity ids and the touched alias
     representatives through the current merge forest (CC over the
     merges table — small — then a broadcast-sized mapping join);
  2. build star edges: new-row root <-> representative root for every
     shared alias, plus per-alias min among the new rows (a star has
     the same connectivity as the clique the batch self-join would
     build, at linear edge count);
  3. connected components over THESE edges only; every root whose
     component min differs becomes one new merge record.

Read-time resolution (resolve_entities) joins through the merge
forest's transitive closure — computed by the same pointer-jumping
connected_components over the merges table, which is bounded by the
number of merges ever performed, not by entities — and the resulting
(node -> component-min) mapping is broadcast-sized by the same bound.
Previously-written triple/mention partitions are NEVER rewritten;
canonicalization sharpens monotonically as epochs arrive.

Equivalence contract (pinned by tests/test_operators.py):
resolving any entity id through the registry after epochs 1..n is
IDENTICAL to pipeline.apply_canonicalize over the union of all n
epochs' alias rows — including the adversarial case where a late
epoch's alias bridges two previously-settled components.

Retry safety: both writes are dynamic-partition overwrites of exactly
this epoch's partition and all state reads EXCLUDE the current epoch
(same discipline as plans/dict_store.encode_micro_batch and the
cross-epoch near-dup index) — a replayed epoch recomputes identical
deltas from identical prior state (connected_components is
deterministic min-label propagation).

Reference provenance: the reference emits per-document entity
predictions (span_marker/modeling.py predict()) with no cross-run
entity identity at all; this layer is the KG-side canonical identity
its output feeds at web scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.components import connected_components
from ..session import cut

_REP_SCHEMA = "alias string, entity_id long"
_MERGE_SCHEMA = "loser long, winner long"


def _read_state(
    sp: SparkSession,
    path: str,
    schema: str,
    exclude_epoch: int | None = None,
    exclude_delta: str | None = None,
) -> DataFrame:
    """State table read for the fold: exclude the CURRENT batch's own
    partition (epoch-mode: epoch id; file-mode: delta key) so a retry
    recomputes against prior state only. resolve_entities passes no
    exclusion and works on either partition layout."""
    from pyspark.errors import AnalysisException

    try:
        cols = [c.split()[0] for c in schema.split(",")]
        df = sp.read.parquet(path)
        if exclude_epoch is not None:
            df = df.filter(F.col("epoch") != int(exclude_epoch))
        if exclude_delta is not None:
            df = df.filter(F.col("delta") != exclude_delta)
        return df.select(*cols)
    except AnalysisException as e:
        if (e.getErrorClass() or "") not in (
            "PATH_NOT_FOUND", "UNABLE_TO_INFER_SCHEMA"
        ):
            raise
        return sp.createDataFrame([], schema)


def _root_mapping(merges: DataFrame) -> DataFrame:
    """(node, root): transitive root of the merge forest. Winner ids
    strictly decrease along merge chains, so the undirected
    component minimum IS the chain's final root."""
    return connected_components(
        merges.select(F.col("loser").alias("src"), F.col("winner").alias("dst"))
    ).withColumnRenamed("component", "root")


def _resolve(df: DataFrame, mapping: DataFrame, col: str) -> DataFrame:
    """Rewrite df[col] through the (node, root) mapping; unmapped ids
    are already canonical. The mapping is merge-forest-sized —
    broadcast it explicitly so the (potentially huge) df side never
    shuffles for this join."""
    m = F.broadcast(mapping.withColumnRenamed("node", col))
    return (
        df.join(m, col, "left")
        .withColumn(col, F.coalesce("root", F.col(col)))
        .drop("root")
    )


def _fold(
    sp: SparkSession, batch_df: DataFrame, prior_rep: DataFrame,
    prior_merges: DataFrame,
) -> tuple[DataFrame, DataFrame]:
    """The incremental-canonicalization core shared by the epoch and
    file-lineage variants: (fresh_alias, new_merges) deltas computed
    from the batch against prior state only (module docstring)."""
    mapping = _root_mapping(prior_merges)
    new = batch_df.select("alias", "entity_id").distinct()
    new_r = _resolve(new, mapping, "entity_id")
    # star edges to the (resolved) prior representative of each
    # already-known alias — restrict the rep table to the batch's
    # aliases FIRST (one keyed join; AQE broadcasts the small batch
    # side), so the merge-mapping resolve touches only the aliases
    # this epoch actually mentions, not the whole dictionary
    touched = prior_rep.join(
        new.select("alias").distinct(), "alias", "left_semi"
    )
    rep_r = _resolve(touched, mapping, "entity_id").withColumnRenamed(
        "entity_id", "rep_root"
    )
    e_known = new_r.join(rep_r, "alias").select(
        F.col("entity_id").alias("src"), F.col("rep_root").alias("dst")
    )
    # ...plus per-alias stars AMONG the new rows (two new entities
    # sharing a brand-new alias must merge even with no prior rep)
    batch_min = new_r.groupBy("alias").agg(F.min("entity_id").alias("dst"))
    e_new = new_r.join(batch_min, "alias").select(
        F.col("entity_id").alias("src"), "dst"
    )
    edges = e_known.unionByName(e_new).filter(F.col("src") != F.col("dst"))
    comp = connected_components(edges)
    new_merges = comp.filter(F.col("node") != F.col("component")).select(
        F.col("node").alias("loser"), F.col("component").alias("winner")
    )
    # append-only alias delta: one deterministic representative
    # (min original entity id) per genuinely-new alias
    fresh_alias = (
        new.join(prior_rep.select("alias"), "alias", "left_anti")
        .groupBy("alias")
        .agg(F.min("entity_id").alias("entity_id"))
    )
    return fresh_alias, new_merges


def _write_deltas(frames_paths, part_col: str, part_value) -> None:
    for frame, path in frames_paths:
        (
            frame.withColumn(part_col, F.lit(part_value))
            .write.option("partitionOverwriteMode", "dynamic")
            .mode("overwrite")
            .partitionBy(part_col)
            .parquet(path)
        )


def registry_micro_batch(
    batch_df: DataFrame, epoch_id: int, reg_dir: str
) -> None:
    """One micro-batch of (alias, entity_id) dictionary rows ->
    append-only epoch deltas of alias_rep/ and merges/ (module
    docstring). Module-level so foreachBatch retry semantics are
    directly testable. Epoch-keyed: safe while the streaming
    checkpoint lives; for checkpoint-LOSS safety use
    registry_micro_batch_by_file (epoch renumbering after a lost
    checkpoint would overwrite this variant's early deltas)."""
    sp = batch_df.sparkSession
    rep_dir = f"{reg_dir}/alias_rep"
    mrg_dir = f"{reg_dir}/merges"
    prior_rep = _read_state(sp, rep_dir, _REP_SCHEMA, exclude_epoch=epoch_id)
    prior_merges = _read_state(
        sp, mrg_dir, _MERGE_SCHEMA, exclude_epoch=epoch_id
    )
    fresh_alias, new_merges = _fold(sp, batch_df, prior_rep, prior_merges)
    _write_deltas(
        ((fresh_alias, rep_dir), (new_merges, mrg_dir)),
        "epoch",
        int(epoch_id),
    )


def registry_micro_batch_by_file(
    batch_keyed: DataFrame,
    epoch_id: int,
    reg_dir: str,
    run_id: str = "registry",
) -> None:
    """File-lineage twin of registry_micro_batch — the checkpoint-loss
    hardening (same discipline as streaming/ingest.
    curate_micro_batch_by_file): batch_keyed must carry
    (file_key, file_path) from plans/lineage.with_file_key over the
    streaming scan's _metadata.

    - resume unit is the input FILE: pending_files drops files any
      earlier run already finished, so a LOST streaming checkpoint
      (epoch ids restarting at 0) can never overwrite prior deltas;
    - the joint delta of this batch's pending files lands in ONE
      partition keyed by a deterministic hash of the sorted pending
      file_keys — a retried batch (same pending set, lineage lands
      last) overwrites exactly its own partition; a re-batched replay
      after checkpoint loss has a disjoint pending set and therefore
      a fresh delta key;
    - folding files in different groupings yields the same final
      resolution (the union-equivalence contract), so re-batching is
      safe by construction;
    - file lineage (stage 'registry') lands LAST, one row per file
      with that file's alias-row count.
    """
    import hashlib

    from . import lineage as L

    sp = batch_keyed.sparkSession
    pending = L.pending_files(batch_keyed, sp, reg_dir, "registry")
    files = [
        (r["file_key"], r["file_path"])
        for r in pending.select("file_key", "file_path").distinct().collect()
    ]
    if not files:
        return
    delta_key = hashlib.md5(
        "|".join(sorted(fk for fk, _ in files)).encode()
    ).hexdigest()[:16]
    rep_dir = f"{reg_dir}/alias_rep"
    mrg_dir = f"{reg_dir}/merges"
    prior_rep = _read_state(sp, rep_dir, _REP_SCHEMA, exclude_delta=delta_key)
    prior_merges = _read_state(
        sp, mrg_dir, _MERGE_SCHEMA, exclude_delta=delta_key
    )
    per_file = {
        r["file_key"]: r["n"]
        for r in pending.groupBy("file_key")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    fresh_alias, new_merges = _fold(
        sp, pending.drop("file_key", "file_path"), prior_rep, prior_merges
    )
    _write_deltas(
        ((fresh_alias, rep_dir), (new_merges, mrg_dir)),
        "delta",
        delta_key,
    )
    rows = [
        ("registry", fk, fp, int(per_file.get(fk, 0)), run_id)
        for fk, fp in files
    ]
    from spanmarkerner_spark import schemas

    sp.createDataFrame(rows, schema=schemas.FILE_LINEAGE).coalesce(
        1
    ).write.mode("append").parquet(L.file_lineage_path(reg_dir))


def compact_merge_forest(spark: SparkSession, reg_dir: str) -> int:
    """Path-compress the merge forest: rewrite merges/ so every loser
    points DIRECTLY at its final root (depth-1 chains). Over years of
    epochs merge chains deepen and read-side resolution pays one
    pointer-jumping round per doubling of chain depth; after
    compaction it converges in one. Content contract: the
    (node -> root) mapping is IDENTICAL before and after (pinned in
    tests). Run between epochs (it rewrites the whole merges table
    into the current max epoch's partition and drops older deltas —
    the same run-quiesced discipline as plans/compaction's file
    bin-packing; alias_rep/ is untouched). Returns the number of
    merge records after compaction."""
    mrg_dir = f"{reg_dir}/merges"
    merges = _read_state(spark, mrg_dir, _MERGE_SCHEMA)
    mapping = _root_mapping(merges)
    flat = (
        mapping.filter(F.col("node") != F.col("root"))
        .select(F.col("node").alias("loser"), F.col("root").alias("winner"))
    )
    from pyspark.errors import AnalysisException

    try:
        max_epoch = (
            spark.read.parquet(mrg_dir)
            .agg(F.max("epoch"))
            .collect()[0][0]
        )
    except AnalysisException:
        max_epoch = None
    if max_epoch is None:
        return 0
    # materialize BEFORE overwriting the directory being read
    flat, n = cut(flat)
    # STATIC overwrite on purpose: the whole table collapses into the
    # max epoch's partition and older deltas are dropped
    (
        flat.withColumn("epoch", F.lit(int(max_epoch)))
        .write.option("partitionOverwriteMode", "static")
        .mode("overwrite")
        .partitionBy("epoch")
        .parquet(mrg_dir)
    )
    return n


def resolve_entities(
    df: DataFrame, reg_dir: str, col: str = "entity_id"
) -> DataFrame:
    """Canonicalize df[col] through the registry's merge forest —
    the read-side half of the incremental contract. Equals
    pipeline.apply_canonicalize over all alias rows ingested so far."""
    sp = df.sparkSession
    merges = _read_state(sp, f"{reg_dir}/merges", _MERGE_SCHEMA)
    return _resolve(df, _root_mapping(merges), col)


def stream_alias_to_registry(
    spark: SparkSession,
    src_dir: str,
    reg_dir: str,
    checkpoint: str,
    max_files: int = 1,
):
    """Structured-Streaming wrapper: watch a directory of alias-row
    parquet files, fold each micro-batch into the registry. Returns
    the started query (caller awaits/stops)."""
    stream = (
        spark.readStream.schema(_REP_SCHEMA)
        .option("maxFilesPerTrigger", max_files)
        .parquet(src_dir)
    )
    return (
        stream.writeStream.option("checkpointLocation", checkpoint)
        .foreachBatch(
            lambda b, e: registry_micro_batch(b, e, reg_dir)
        )
        .trigger(availableNow=True)
        .start()
    )


def stream_alias_to_registry_lineage(
    spark: SparkSession,
    src_dir: str,
    reg_dir: str,
    checkpoint: str,
    max_files: int = 1,
):
    """Checkpoint-loss-hardened streaming wrapper: file-grained
    lineage (registry_micro_batch_by_file) instead of epoch-keyed
    deltas — deleting the checkpoint and restarting reprocesses only
    files without a lineage row and can never overwrite prior
    deltas."""
    from . import lineage as L

    stream = (
        spark.readStream.schema(_REP_SCHEMA)
        .option("maxFilesPerTrigger", max_files)
        .parquet(src_dir)
    )
    keyed = L.with_file_key(stream)
    return (
        keyed.writeStream.option("checkpointLocation", checkpoint)
        .foreachBatch(
            lambda b, e: registry_micro_batch_by_file(b, e, reg_dir)
        )
        .trigger(availableNow=True)
        .start()
    )
