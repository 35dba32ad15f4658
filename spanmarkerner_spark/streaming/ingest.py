"""Incremental ingest with Structured Streaming.

The reference is strictly batch (SURVEY.md §2.9); the KG engine adds
incremental behavior two ways:

1. batch checkpoint-resume over partition lineage (plans/lineage.py) —
   the north_rule mechanism;
2. this module: a file-source stream over a pages directory with
   Trigger.AvailableNow, running the full pipeline per micro-batch in
   foreachBatch. Exactly-once: foreachBatch is inherently
   at-least-once (a failed micro-batch is retried with the same
   epoch_id), so the sink writes each batch into an epoch_id=<n>
   partition with dynamic partition overwrite — a retry overwrites
   its own partition instead of appending duplicates, making the
   retried write idempotent and the stream end-to-end exactly-once.

Also provides a watermarked windowed aggregation over the events
table — the standard late-data streaming operator — used by tests and
the driver query set.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spanmarkerner_spark import schemas
from spanmarkerner_spark.pipeline import run_pipeline
from spanmarkerner_spark.session import cut


def stream_pages_to_triples(
    spark: SparkSession,
    pages_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    **pipeline_kwargs,
):
    """Start an AvailableNow stream: new page files -> triples parquet.
    Returns the StreamingQuery (caller awaits termination)."""
    pages = (
        spark.readStream.schema(schemas.PAGES)
        .option("maxFilesPerTrigger", 16)
        .parquet(pages_dir)
    )

    def process(batch_df: DataFrame, epoch_id: int) -> None:
        res = run_pipeline(batch_df, persist_stages=True, **pipeline_kwargs)
        try:
            (
                res["triples"]
                .withColumn("epoch_id", F.lit(int(epoch_id)))
                .write.option("partitionOverwriteMode", "dynamic")
                .mode("overwrite")
                .partitionBy("epoch_id")
                .parquet(out_dir)
            )
        finally:
            # run_pipeline(persist_stages=True) persists the linked
            # stage; release it before the next micro-batch
            res["linked"].unpersist()

    return (
        pages.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stream_pages_to_triples_lineage(
    spark: SparkSession,
    pages_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    **pipeline_kwargs,
):
    """Lineage-integrated variant of stream_pages_to_triples: the
    stream's resume state lives in the SAME lineage tables the batch
    job uses (plans/lineage.py file-grained flavor), not only in the
    streaming checkpoint.

    Each micro-batch (a) anti-joins its files against the 'triples'
    file lineage — files already finished by ANY earlier run (a prior
    stream whose checkpoint was lost, a retried epoch that half-wrote)
    are skipped; (b) runs the pipeline over the pending files only;
    (c) writes triples into file_key partitions with dynamic overwrite
    (a retry overwrites exactly its own files' partitions); (d) appends
    file lineage LAST. Net effect: kill the stream mid-run, even delete
    its checkpoint, restart — no duplicate triples, no lost files.

    Cross-file url re-crawls are deduped within a micro-batch by
    run_pipeline(dedupe_pages=True); across files the unit of
    exactly-once is the file (consumers wanting url-grain dedupe run
    the batch dedupe operators downstream).
    """
    from spanmarkerner_spark.plans import lineage as L

    # _metadata must be resolved on the streaming scan — inside
    # foreachBatch the micro-batch is already a plain LogicalRDD
    pages = (
        spark.readStream.schema(schemas.PAGES)
        .option("maxFilesPerTrigger", 16)
        .parquet(pages_dir)
        .select("*", F.col("_metadata.file_path").alias("file_path"))
    )

    def process(batch_df: DataFrame, epoch_id: int) -> None:
        sp = batch_df.sparkSession
        keyed = L.with_file_key(batch_df, F.col("file_path"))
        pending = L.pending_files(keyed, sp, out_dir, "triples")
        # one (file_key, file_path) pair per pending file — bounded by
        # maxFilesPerTrigger, never by row count
        files = [
            (r["file_key"], r["file_path"])
            for r in pending.select("file_key", "file_path").distinct().collect()
        ]
        if not files:
            return
        res = run_pipeline(
            pending.drop("file_key", "file_path"),
            persist_stages=True,
            **pipeline_kwargs,
        )
        try:
            # one file per url: a url re-crawled into two files in the
            # SAME batch is deduped by run_pipeline to one page — its
            # triples must land in exactly one file partition
            url_files = pending.groupBy("url").agg(
                F.min("file_key").alias("file_key")
            )
            triples = res["triples"].join(url_files, "url")
            L.write_stage_by_file(
                triples, out_dir, "triples", f"stream-epoch-{int(epoch_id)}", files
            )
        finally:
            res["linked"].unpersist()

    return (
        pages.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def windowed_event_counts(
    events: DataFrame,
    window: str = "5 minutes",
    slide: str | None = None,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Watermarked tumbling/sliding window counts per event_type.
    Works identically over a batch or streaming events DataFrame."""
    win = F.window("ts", window, slide) if slide else F.window("ts", window)
    base = events.withWatermark("ts", watermark) if events.isStreaming else events
    return base.groupBy(win.alias("w"), "event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("value"), 6).alias("total_value"),
    ).select(
        F.col("w.start").alias("window_start"),
        F.col("w.end").alias("window_end"),
        "event_type",
        "n",
        "total_value",
    )


def sessionize_stateful(events: DataFrame, gap_minutes: int = 30) -> DataFrame:
    """Custom stateful sessionization via applyInPandasWithState over a
    STREAMING events frame: per-user running (n_events, n_sessions)
    where a gap > gap_minutes opens a new session — the stateful twin
    of the batch events_sessionize query (same gap rule), emitted in
    update mode per micro-batch.

    Cross-batch correctness assumes per-user event-time-ordered
    arrival across micro-batches (the append-log case); within a
    micro-batch arrival order does not matter (events are sorted by
    ts before folding into state).
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    gap = float(gap_minutes) * 60.0
    out_schema = "user_id long, n_events long, n_sessions long"
    state_schema = "last_ts double, n_events long, n_sessions long"

    def fn(key, pdfs, state):
        import pandas as pd

        if state.exists:
            last_ts, n_ev, n_sess = state.get
        else:
            last_ts, n_ev, n_sess = None, 0, 0
        ts = []
        for pdf in pdfs:
            ts.extend(t.timestamp() for t in pdf["ts"])
        ts.sort()
        for t in ts:
            if last_ts is None or t - last_ts > gap:
                n_sess += 1
            n_ev += 1
            last_ts = t
        state.update((last_ts, int(n_ev), int(n_sess)))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n_ev], "n_sessions": [n_sess]}
        )

    return events.groupBy("user_id").applyInPandasWithState(
        fn, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )


# ---- incremental corpus curation --------------------------------------

DOCS_SCHEMA = "doc_id long, text string"


def _minhash_band_cols(
    text_col, num_hashes: int, bands: int, shingle_n: int
) -> tuple:
    """(sh_h, band_keys) column pair for the near-dup sink index:
    sh_h = xxhash64 per distinct word shingle (Jaccard over these
    equals Jaccard over the shingles, 64-bit collisions negligible —
    and the sink verify join never needs to re-read text); band_keys =
    `bands` LSH keys from a minhash signature derived from the hashed
    shingles (same banding scheme as dedup.minhash_lsh_pairs)."""
    from spanmarkerner_spark.operators.dedup import shingle_tokens

    rows_per_band = num_hashes // bands
    sh_h = F.transform(
        F.array_distinct(shingle_tokens(text_col, shingle_n)),
        lambda s: F.xxhash64(s),
    )

    def sig(col):
        def step(acc, h):
            hashes = F.array(
                *[F.xxhash64(F.lit(k), h) for k in range(num_hashes)]
            )
            return F.zip_with(acc, hashes, lambda a, b: F.least(a, b))

        # Long.MAX_VALUE sentinel — keeps minima unbiased under the
        # full-range signed xxhash64 (see operators/dedup.py).
        init = F.array_repeat(
            F.lit(9223372036854775807).cast("long"), num_hashes
        )
        return F.aggregate(col, init, step)

    # the signature aggregate is LET-BOUND (single-element transform,
    # dedup.shingle_tokens pattern) and the band slices are a
    # python-built array: the old transform-over-sequence form put
    # sig(sh_h) inside the band lambda, where the interpreted HOF
    # path re-evaluated the whole signature (and, after project
    # collapsing, the shingle transform) once PER BAND per row.
    band_keys = F.transform(
        F.array(sig(F.col("sh_h"))),
        lambda sg: F.array(
            *[
                F.xxhash64(
                    F.lit(b),
                    F.slice(sg, b * rows_per_band + 1, rows_per_band).cast(
                        "string"
                    ),
                )
                for b in range(bands)
            ]
        ),
    )[0]
    return sh_h, band_keys


def _curated_kept(
    batch_df: DataFrame,
    benchmark: DataFrame,
    quality_min: float,
    near_dup_bands: int,
    num_hashes: int,
    shingle_n: int,
) -> DataFrame:
    """Within-batch curation -> the kept-doc frame both curated sink
    modes write: (doc_id, split, text, content_hash [, sh_h,
    band_keys])."""
    from spanmarkerner_spark.functions.hashing import portable_hash64
    from spanmarkerner_spark.operators.curation import curate
    from spanmarkerner_spark.operators.dedup import _norm_text

    cur = curate(batch_df, benchmark, quality_min=quality_min)
    kept = (
        cur.filter(F.col("disposition") == "kept")
        .join(batch_df, "doc_id")
        .select(
            "doc_id",
            "split",
            "text",
            # the SAME normalization exact_duplicates hashes —
            # imported, not re-spelled, so the cross-batch hash can
            # never drift from the within-batch one
            portable_hash64(_norm_text(F.col("text"))).alias("content_hash"),
        )
    )
    if near_dup_bands:
        sh_h, band_keys = _minhash_band_cols(
            F.col("text"), num_hashes, near_dup_bands, shingle_n
        )
        kept = kept.withColumn("sh_h", sh_h).withColumn("band_keys", band_keys)
    return kept


def _drop_vs_prior(
    kept: DataFrame,
    prior: DataFrame,
    near_dup_bands: int,
    near_dup_threshold: float,
) -> DataFrame:
    """Cross-batch dedup of a curated micro-batch against the sink's
    PRIOR rows (however the caller scoped 'prior' — epoch-excluded or
    file-excluded): exact content-hash anti-join, plus, when the sink
    carries the LSH side-index, a verified-Jaccard near-dup drop.
    Shared by the epoch-partitioned and file-lineage curated sinks so
    the two modes can never drift."""
    seen = prior.select("content_hash").distinct()
    kept = kept.join(seen, "content_hash", "left_anti")
    if near_dup_bands:
        # thin (batch_id, sink_id) candidates from the band-key
        # equi-join — the shingle arrays never ride this exchange
        # (same discipline as dedup.minhash_lsh_pairs); verify
        # joins the arrays back for candidates only, reading just
        # (doc_id, band_keys) then (doc_id, sh_h) off the sink
        # (parquet column pruning)
        sink_b = prior.select(
            F.col("doc_id").alias("sink_id"),
            F.explode("band_keys").alias("bk"),
        )
        batch_b = kept.select("doc_id", F.explode("band_keys").alias("bk"))
        cand = batch_b.join(sink_b, "bk").select("doc_id", "sink_id").distinct()
        verify = cand.join(kept.select("doc_id", "sh_h"), "doc_id").join(
            prior.select(
                F.col("doc_id").alias("sink_id"),
                F.col("sh_h").alias("sink_sh"),
            ),
            "sink_id",
        )
        inter = F.size(F.array_intersect("sh_h", "sink_sh"))
        union = F.size("sh_h") + F.size("sink_sh") - inter
        near = (
            verify.filter(inter / union >= F.lit(near_dup_threshold))
            .select("doc_id")
            .distinct()
        )
        kept = kept.join(near, "doc_id", "left_anti")
    return kept


def curate_micro_batch(
    batch_df: DataFrame,
    epoch_id: int,
    out_dir: str,
    benchmark: DataFrame,
    quality_min: float,
    near_dup_bands: int = 0,
    near_dup_threshold: float = 0.7,
    num_hashes: int = 16,
    shingle_n: int = 3,
) -> None:
    """One micro-batch of the curated ingest — module-level so the
    retry semantics are directly testable (foreachBatch retries call
    this again with the SAME epoch_id).

    near_dup_bands > 0 additionally maintains an LSH side-index in
    the sink (band_keys + hashed shingle sets per accepted doc) and
    drops batch docs whose verified Jaccard against ANY prior-epoch
    accepted doc reaches near_dup_threshold — the MinHash-grain
    cross-batch dedup that the exact content-hash anti-join can't
    see. A sink must be written with one mode throughout (the two
    modes have different sink schemas). Near-dups WITHIN one batch
    remain the batch-level curate() policy's business."""
    sp = batch_df.sparkSession
    kept = _curated_kept(
        batch_df, benchmark, quality_min, near_dup_bands, num_hashes, shingle_n
    )
    from pyspark.errors import AnalysisException

    try:
        prior = sp.read.parquet(out_dir).filter(
            F.col("epoch_id") != int(epoch_id)
        )
        kept = _drop_vs_prior(kept, prior, near_dup_bands, near_dup_threshold)
    except AnalysisException as e:
        # ONLY an empty sink may skip the dedup: missing dir (first
        # epoch) or a dir with no parquet footers (a first batch that
        # KEPT ZERO docs writes only _SUCCESS; the next batch's read
        # then raises UNABLE_TO_INFER_SCHEMA — without this branch an
        # all-rejected first batch wedges the stream permanently).
        # A readable-but-wrong sink (schema drift, bad footers) must
        # kill the batch, not silently ingest duplicates.
        if (e.getErrorClass() or "") not in (
            "PATH_NOT_FOUND", "UNABLE_TO_INFER_SCHEMA"
        ):
            raise
    (
        kept.withColumn("epoch_id", F.lit(int(epoch_id)))
        .write.option("partitionOverwriteMode", "dynamic")
        .mode("overwrite")
        .partitionBy("epoch_id")
        .parquet(out_dir)
    )


def stream_curated_docs(
    spark: SparkSession,
    docs_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    benchmark: DataFrame,
    quality_min: float = 0.9,
    max_files: int = 4,
    near_dup_bands: int = 0,
    near_dup_threshold: float = 0.7,
    max_bytes: int | None = None,
):
    """Incrementally curate a growing corpus: per micro-batch, apply
    the composed curation pass (operators/curation.py) and drop any
    document whose content hash was ALREADY ACCEPTED by an earlier
    micro-batch — the cross-batch dedup that batch curation can't see.

    Mechanics per batch:
    1. within-batch curation (dedup window + broadcast decontam +
       quality/split);
    2. cross-batch dedup: anti-join the batch's kept docs against the
       sink's content hashes, EXCLUDING the current epoch's partition
       — so a retried epoch doesn't anti-join against its own
       half-written output and lose rows;
    3. write kept docs (with hash + split) into an epoch_id partition
       with dynamic overwrite — retries overwrite their own partition
       (same exactly-once recipe as stream_pages_to_triples).

    At scale the sink-hash anti-join reads ONLY the content_hash
    column of the sink (column pruning) and shuffles the (small)
    current batch against it broadcast-or-shuffled by size — the sink
    is never rewritten.

    Guarantee boundaries (explicit, ADVICE r3):
    - Exactly-once REQUIRES the checkpoint directory to be durable.
      Epoch ids come from the streaming checkpoint; if it is lost,
      epoch numbering restarts at 0 and dynamic overwrite replaces
      old epoch partitions with different files' contents (unlike
      stream_pages_to_triples_lineage, which additionally tracks
      file-grained lineage and survives checkpoint loss). Put the
      checkpoint on the same durability tier as the sink.
    - Cross-batch dedup is EXACT-hash grain by default: a
      near-duplicate (MinHash-grain) of a previously accepted doc
      arriving in a later epoch is kept. near_dup_bands > 0 upgrades
      the sink with an LSH side-index (band keys + hashed shingle
      sets per accepted doc) and drops verified near-dups against
      prior epochs too — see curate_micro_batch; pick ONE mode per
      sink (the schemas differ).
    """
    # Spark forbids setting both caps at once: max_bytes REPLACES the
    # file cap — each trigger admits files until the byte budget is
    # hit (always >= 1 file)
    reader = spark.readStream.schema(DOCS_SCHEMA)
    if max_bytes is not None:
        reader = reader.option("maxBytesPerTrigger", max_bytes)
    else:
        reader = reader.option("maxFilesPerTrigger", max_files)
    docs = reader.parquet(docs_dir)

    def process(batch_df: DataFrame, epoch_id: int) -> None:
        curate_micro_batch(
            batch_df, int(epoch_id), out_dir, benchmark, quality_min,
            near_dup_bands=near_dup_bands,
            near_dup_threshold=near_dup_threshold,
        )

    return (
        docs.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def curate_micro_batch_by_file(
    batch_keyed: DataFrame,
    epoch_id: int,
    out_dir: str,
    benchmark: DataFrame,
    quality_min: float,
    near_dup_bands: int = 0,
    near_dup_threshold: float = 0.7,
    num_hashes: int = 16,
    shingle_n: int = 3,
) -> None:
    """File-lineage twin of curate_micro_batch (module-level for direct
    retry testing). batch_keyed must carry (file_key, file_path) —
    with_file_key over the streaming scan's _metadata.

    Differences from the epoch-partitioned mode:
    - resume unit is the input FILE: pending_files drops files any
      earlier run already finished, so the stream survives a LOST
      streaming checkpoint (epoch renumbering can no longer overwrite
      prior accepted docs — the r4 verdict/ADVICE hardening ask);
    - the sink ('curated' stage table) is partitioned by file_key with
      dynamic overwrite — a retried batch overwrites exactly its own
      files' partitions;
    - 'prior' for cross-batch dedup = sink rows from files OUTSIDE
      this batch (a retry must not anti-join against its own
      half-written output — same rule as the epoch variant's
      epoch_id != current filter);
    - file lineage lands LAST (write_stage_by_file), so a crash in
      between leaves the files pending and the retry idempotent.
    """
    import os

    from pyspark.errors import AnalysisException

    from spanmarkerner_spark.plans import lineage as L

    sp = batch_keyed.sparkSession
    pending = L.pending_files(batch_keyed, sp, out_dir, "curated")
    files = [
        (r["file_key"], r["file_path"])
        for r in pending.select("file_key", "file_path").distinct().collect()
    ]
    if not files:
        return
    kept = _curated_kept(
        pending.drop("file_key", "file_path"), benchmark, quality_min,
        near_dup_bands, num_hashes, shingle_n,
    )
    # one file per doc (mirror of the triples stream's url_files rule):
    # a doc_id split across two files in the same batch lands in
    # exactly one file partition
    doc_files = pending.groupBy("doc_id").agg(
        F.min("file_key").alias("file_key")
    )
    kept = kept.join(doc_files, "doc_id")
    try:
        prior = sp.read.parquet(os.path.join(out_dir, "curated")).filter(
            ~F.col("file_key").isin([fk for fk, _ in files])
        )
        kept = _drop_vs_prior(kept, prior, near_dup_bands, near_dup_threshold)
    except AnalysisException as e:
        # ONLY an empty sink (missing dir OR footerless dir from an
        # all-rejected first batch) may skip the dedup — same rule as
        # curate_micro_batch
        if (e.getErrorClass() or "") not in (
            "PATH_NOT_FOUND", "UNABLE_TO_INFER_SCHEMA"
        ):
            raise
    L.write_stage_by_file(
        kept, out_dir, "curated", f"stream-epoch-{int(epoch_id)}", files
    )


def stream_curated_docs_lineage(
    spark: SparkSession,
    docs_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    benchmark: DataFrame,
    quality_min: float = 0.9,
    max_files: int = 4,
    near_dup_bands: int = 0,
    near_dup_threshold: float = 0.7,
    max_bytes: int | None = None,
):
    """Checkpoint-loss-hardened curated ingest: stream_curated_docs
    semantics with the resume state in the shared file-grained lineage
    table (plans/lineage.py), like stream_pages_to_triples_lineage.
    Kill the stream, delete its checkpoint, restart: finished files
    are skipped via lineage, half-written files are overwritten
    idempotently, and prior accepted docs can never be clobbered by
    epoch renumbering (the documented failure mode of the epoch-
    partitioned sink). Sink layout: <out_dir>/curated partitioned by
    file_key, lineage at <out_dir>/_file_lineage."""
    # byte cap and file cap are mutually exclusive (see
    # stream_curated_docs)
    reader = spark.readStream.schema(DOCS_SCHEMA)
    if max_bytes is not None:
        reader = reader.option("maxBytesPerTrigger", max_bytes)
    else:
        reader = reader.option("maxFilesPerTrigger", max_files)
    docs = reader.parquet(docs_dir).select(
        "*", F.col("_metadata.file_path").alias("file_path")
    )

    def process(batch_df: DataFrame, epoch_id: int) -> None:
        from spanmarkerner_spark.plans import lineage as L

        keyed = L.with_file_key(batch_df, F.col("file_path"))
        curate_micro_batch_by_file(
            keyed, int(epoch_id), out_dir, benchmark, quality_min,
            near_dup_bands=near_dup_bands,
            near_dup_threshold=near_dup_threshold,
        )

    return (
        docs.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stream_vectors_to_ivf_index(
    spark: SparkSession,
    vecs_dir: str,
    index_path: str,
    checkpoint_dir: str,
    dim: int,
    bucket_dims: int = 4,
    max_files: int = 4,
):
    """Streaming ANN index maintenance: embeddings arriving as
    parquet files are appended incrementally into the
    bucket-partitioned IVF index (similarity.append_ivf_index), one
    epoch partition per micro-batch nested inside each bucket
    directory — exactly-once under foreachBatch retries via dynamic
    overwrite of the epoch partitions, and queries
    (ivf_topk_from_index) see new vectors as soon as their batch
    commits, with bucket-level partition pruning intact.

    At 100 TB this is the standard freshness layout: the bulk index
    is one big epoch, the stream adds small epochs, and
    plans/compaction.compact_epochs folds cold epochs back into few
    files per bucket."""
    schema = "vec_id long, embedding array<double>"

    def process(batch_df: DataFrame, epoch_id: int) -> None:
        from spanmarkerner_spark.operators.similarity import append_ivf_index

        append_ivf_index(
            batch_df, index_path, int(epoch_id), bucket_dims=bucket_dims
        )

    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files)
        .parquet(vecs_dir)
        .writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def backfill_near_dup_index(
    docs: DataFrame,
    out_dir: str,
    epoch_id: int = -1,
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    splits: dict[str, int] | None = None,
) -> None:
    """Bulk-adopt an EXISTING accepted corpus into the near-dup
    curated sink: write every doc as one epoch (default epoch_id=-1 —
    stream epochs are >= 0, so no future micro-batch can dynamically
    overwrite the backfill partition) with the LSH side-index columns,
    so stream_curated_docs(near_dup_bands>0) starts dropping
    near-dups against the corpus WITHOUT replaying it through
    micro-batches.

    Unlike the per-batch path, the hashed-shingle column sh_h is
    MATERIALIZED (session.cut) before the band-key derivation:
    Catalyst project-collapsing re-inlines the shingle transform into
    each band lambda (~bands+1 evaluations per row — the documented
    _minhash_band_cols caveat), which is negligible per micro-batch
    but not for a corpus-sized backfill."""
    from spanmarkerner_spark.functions.hashing import portable_hash64
    from spanmarkerner_spark.operators.curation import DEFAULT_SPLITS
    from spanmarkerner_spark.operators.dedup import _norm_text
    from spanmarkerner_spark.operators.sampling import hash_split

    sh_h, band_keys = _minhash_band_cols(
        F.col("text"), num_hashes, bands, shingle_n
    )
    base, _ = cut(hash_split(
        docs, "doc_id", splits or DEFAULT_SPLITS
    ).select(
        "doc_id",
        "split",
        "text",
        portable_hash64(_norm_text(F.col("text"))).alias("content_hash"),
        sh_h.alias("sh_h"),
    ))
    # band_keys references the (now materialized) sh_h COLUMN — the
    # shingle transform cannot be re-inlined across the checkpoint
    kept = base.withColumn("band_keys", band_keys)
    (
        kept.withColumn("epoch_id", F.lit(int(epoch_id)))
        .write.option("partitionOverwriteMode", "dynamic")
        .mode("overwrite")
        .partitionBy("epoch_id")
        .parquet(out_dir)
    )


def link_graph_micro_batch(
    batch_df: "DataFrame", epoch_id: int, out_dir: str
) -> None:
    """One micro-batch of the streaming link-graph maintenance job:
    extract + normalize the batch's anchors, aggregate to PARTIAL
    host-grain counts, and dynamically overwrite the batch's epoch
    partition (exactly-once under foreachBatch retries — a retried
    epoch rewrites only its own partition). Module-level so retry
    semantics are directly testable, like curate_micro_batch."""
    from spanmarkerner_spark.operators.linkgraph import extract_links, host_graph

    (
        host_graph(extract_links(batch_df))
        .withColumn("epoch_id", F.lit(int(epoch_id)))
        .write.option("partitionOverwriteMode", "dynamic")
        .mode("overwrite")
        .partitionBy("epoch_id")
        .parquet(out_dir)
    )


def stream_pages_to_host_graph(
    spark: SparkSession,
    pages_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    max_files: int = 16,
):
    """Streaming link-graph maintenance: page files arriving in
    pages_dir are folded into an epoch-partitioned host-graph table
    of PARTIAL (src_host, dst_host) counts; host_graph_from_epochs
    re-aggregates to the exact batch answer.

    Why partial-counts compose exactly: n_links is a plain sum, and
    n_src_pages sums because each page (one url row) lives in exactly
    ONE file, hence one micro-batch, hence one epoch — no src_url is
    split across epoch partitions. (If upstream re-crawled the same
    url into a later file, the sum counts it per-crawl — the
    observation grain, which is what crawl-frequency analytics want.)

    At 100 TB this is the standard freshness layout (same shape as
    stream_vectors_to_ivf_index): the bulk graph is one big epoch,
    the stream adds small epochs, plans/compaction.compact_epochs
    folds cold epochs, and the re-aggregation input is
    host-vocabulary-thin per epoch — NOT the raw links."""

    def process(batch_df: DataFrame, epoch_id: int) -> None:
        link_graph_micro_batch(batch_df, epoch_id, out_dir)

    return (
        spark.readStream.schema(schemas.PAGES)
        .option("maxFilesPerTrigger", max_files)
        .parquet(pages_dir)
        .writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def host_graph_from_epochs(spark: SparkSession, out_dir: str) -> DataFrame:
    """Re-aggregate the epoch-partitioned partial host graph into the
    exact batch-equivalent (src_host, dst_host, n_links, n_src_pages)
    table. Input rows ~ hosts^2 per epoch — vocabulary-thin."""
    return (
        spark.read.parquet(out_dir)
        .groupBy("src_host", "dst_host")
        .agg(
            F.sum("n_links").cast("long").alias("n_links"),
            F.sum("n_src_pages").cast("long").alias("n_src_pages"),
        )
    )
