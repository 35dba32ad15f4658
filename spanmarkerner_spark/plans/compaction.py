"""Small-file compaction for streaming epoch sinks.

A long-running AvailableNow/continuous ingest (streaming/ingest.py)
writes each micro-batch into its own epoch_id=<n> (or file_key=<k>)
partition; at one partition per trigger the sink accumulates thousands
of small parquet files, and at 100 TB the NameNode/object-store LIST
and per-file open costs start dominating reads long before data volume
does. compact_epochs() rewrites each oversized partition into
ceil(bytes / target) files, idempotently:

- the decision input is the OBSERVED file layout (metadata-only Hadoop
  FS listing — no data read), so re-running after a crash simply
  re-observes: already-compacted partitions are skipped, a partition
  caught mid-rewrite is rewritten again to the same rows;
- each partition's rows are materialized (session.cut) BEFORE the
  dynamic-partition-overwrite of that same partition — Spark cannot
  safely overwrite a path it is still lazily reading from;
- rewrites preserve table contents exactly (same rows, same partition
  values; only the file packing changes);
- one lineage audit row per compacted partition lands in the sink's
  _lineage table (stage 'compact:<col>', rows_out = partition rows)
  AFTER the rewrite — the resume/idempotency state is the file layout
  itself, lineage is the audit trail of who rewrote what.

At cluster scale run partitions in parallel batches; the
per-partition logic is unchanged. (Iceberg's rewrite_data_files is the
managed-table twin of this operator — parquet + dirs is the sandbox
stand-in, same note as plans/lineage.py.)
"""

from __future__ import annotations

import math

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from spanmarkerner_spark import schemas
from spanmarkerner_spark.plans.lineage import _overwrite_partitioned, lineage_path
from spanmarkerner_spark.session import cut


def _list_partitions(spark: SparkSession, table_dir: str, partition_col: str):
    """Metadata-only listing: {partition_value: [(path, bytes), ...]}
    via the Hadoop FS API (works on HDFS/S3A/local alike)."""
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(table_dir)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    out: dict[str, list[tuple[str, int]]] = {}
    prefix = partition_col + "="
    for st in fs.listStatus(jpath):
        name = st.getPath().getName()
        if not (st.isDirectory() and name.startswith(prefix)):
            continue
        files = [
            (f.getPath().toString(), int(f.getLen()))
            for f in fs.listStatus(st.getPath())
            if f.isFile() and f.getPath().getName().endswith(".parquet")
        ]
        if files:
            out[name[len(prefix):]] = files
    return out


def compact_epochs(
    spark: SparkSession,
    table_dir: str,
    target_mb: int = 128,
    partition_col: str = "epoch_id",
    run_id: str = "compact",
) -> dict:
    """Bin-pack every oversized partition of a partitioned parquet sink
    into ceil(partition_bytes / target_mb) files. Returns a summary
    {partition_value: (files_before, files_after)} for the partitions
    rewritten; partitions already at or under their target file count
    are untouched (which is what makes a re-run a no-op)."""
    target = target_mb * 1024 * 1024
    parts = _list_partitions(spark, table_dir, partition_col)
    summary: dict[str, tuple[int, int]] = {}
    lineage_rows = []
    for val, files in sorted(parts.items()):
        total = sum(sz for _, sz in files)
        n_target = max(1, math.ceil(total / target))
        if len(files) <= n_target:
            continue
        # partition pruning keeps this a one-partition read; the
        # filter uses the STRING directory value so non-int partition
        # columns (file_key sinks) compact with the same code
        part_df = spark.read.parquet(table_dir).filter(
            F.col(partition_col).cast("string") == val
        )
        compacted, n_rows = cut(part_df.repartition(n_target))
        _overwrite_partitioned(compacted, table_dir, partition_col)
        summary[val] = (len(files), n_target)
        try:
            ival = int(val)
        except ValueError:
            ival = -1  # non-integer partition value: audit row only
        lineage_rows.append(
            (f"compact:{partition_col}", ival, n_rows, run_id)
        )
    if lineage_rows:
        spark.createDataFrame(
            lineage_rows, schema=schemas.LINEAGE
        ).coalesce(1).write.mode("append").parquet(lineage_path(table_dir))
    return summary


def table_file_count(
    spark: SparkSession, table_dir: str, partition_col: str = "epoch_id"
) -> int:
    """Total parquet data files across the table's partitions
    (metadata-only) — the quantity compaction exists to shrink."""
    return sum(
        len(v) for v in _list_partitions(spark, table_dir, partition_col).values()
    )
