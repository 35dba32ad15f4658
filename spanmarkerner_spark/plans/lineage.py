"""Checkpoint-resume via per-partition lineage (north_rule).

Every stage table is written partitioned by a stable bucket of the
page url (partition_key = pmod(xxhash64(url), n_buckets)). After a
partition's data is written, one lineage row (stage, partition_key,
rows_out, run_id) is appended. Resume = left_anti join of the input's
partition keys against the lineage table for that stage — only
unprocessed buckets are recomputed, and re-writing a bucket is
idempotent because the writer targets exactly that bucket's directory
(dynamic partition overwrite).

At cluster scale the same layout maps 1:1 to Iceberg: partition
transform bucket(url, n), lineage as a snapshot-tagged metadata
table, overwrite-by-filter for idempotent re-runs. Parquet +
directory partitions are the sandbox stand-in (no Iceberg jars in
this container — SURVEY.md S1/S5 note).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spanmarkerner_spark import schemas

N_BUCKETS_DEFAULT = 64


def with_partition_key(df: DataFrame, key_col: str = "url",
                       n_buckets: int = N_BUCKETS_DEFAULT) -> DataFrame:
    return df.withColumn(
        "partition_key", F.pmod(F.xxhash64(key_col), F.lit(n_buckets)).cast("int")
    )


def lineage_path(base_dir: str) -> str:
    return os.path.join(base_dir, "_lineage")


def read_lineage(spark: SparkSession, base_dir: str) -> DataFrame:
    path = lineage_path(base_dir)
    try:
        return spark.read.schema(schemas.LINEAGE).parquet(path)
    except Exception:
        return spark.createDataFrame([], schema=schemas.LINEAGE)


def pending_partitions(
    keyed_input: DataFrame, spark: SparkSession, base_dir: str, stage: str
) -> DataFrame:
    """Filter the keyed input to partitions with no lineage row for
    this stage — the exactly-once-per-partition resume join."""
    done = (
        read_lineage(spark, base_dir)
        .filter(F.col("stage") == stage)
        .select("partition_key")
        .distinct()
    )
    return keyed_input.join(F.broadcast(done), "partition_key", "left_anti")


def write_stage(
    df: DataFrame,
    base_dir: str,
    stage: str,
    run_id: str,
    key_col: str = "url",
    n_buckets: int = N_BUCKETS_DEFAULT,
    processed_input: DataFrame | None = None,
) -> None:
    """Write df as the stage table partitioned by partition_key with
    dynamic partition overwrite (idempotent per bucket), then record
    lineage rows. The overwrite mode is a per-write option, never the
    session conf, which would silently turn an unrelated later
    full-table overwrite in the session into a partial one.

    processed_input: the INPUT frame this stage consumed (must carry
    key_col). When given, lineage marks every input bucket done —
    including buckets whose output is EMPTY (rows_out=0). Without it,
    lineage is derived from the written output only, and a bucket
    that legitimately produced zero rows would be re-processed by
    every resume forever."""
    spark = df.sparkSession
    keyed = with_partition_key(df, key_col, n_buckets)
    out = os.path.join(base_dir, stage)
    keyed.write.option("partitionOverwriteMode", "dynamic").mode(
        "overwrite"
    ).partitionBy("partition_key").parquet(out)
    # lineage from what actually landed (read-back = write-audit too);
    # a stage whose FIRST write had zero rows leaves no readable table
    # — that's an empty count set, not an error (the processed_input
    # branch below still marks those buckets done)
    try:
        written = spark.read.parquet(out)
        counts = written.groupBy("partition_key").agg(
            F.count(F.lit(1)).alias("rows_out")
        )
    except Exception:
        counts = spark.createDataFrame(
            [], "partition_key int, rows_out bigint"
        )
    if processed_input is not None:
        in_keys = (
            with_partition_key(processed_input, key_col, n_buckets)
            .select("partition_key")
            .distinct()
        )
        counts = in_keys.join(counts, "partition_key", "left").select(
            "partition_key", F.coalesce("rows_out", F.lit(0)).alias("rows_out")
        )
    lin = counts.select(
        F.lit(stage).alias("stage"),
        F.col("partition_key"),
        F.col("rows_out"),
        F.lit(run_id).alias("run_id"),
    )
    # idempotent append: a retried run whose DATA write is idempotent
    # must not double-append lineage for buckets an earlier (possibly
    # half-crashed) run already recorded — (stage, partition_key) is
    # unique in the lineage table, keeping sum(rows_out) audits honest
    already = (
        read_lineage(spark, base_dir)
        .filter(F.col("stage") == stage)
        .select("partition_key")
        .distinct()
    )
    lin = lin.join(F.broadcast(already), "partition_key", "left_anti")
    lin.write.mode("append").parquet(lineage_path(base_dir))


def read_stage(spark: SparkSession, base_dir: str, stage: str) -> DataFrame:
    return spark.read.parquet(os.path.join(base_dir, stage))


def metrics_path(base_dir: str) -> str:
    return os.path.join(base_dir, "_metrics")


def write_metrics(
    spark: SparkSession, base_dir: str, stage: str, run_id: str,
    metrics: dict[str, float],
) -> None:
    """S6 metrics sink: append one row per metric to the run's metrics
    table (the reference's metrics dict, persisted). An Observation's
    .get after the action that rode it is such a dict."""
    rows = [
        (stage, k, float(v), run_id) for k, v in sorted(metrics.items())
    ]
    df = spark.createDataFrame(rows, schema=schemas.METRICS)
    df.coalesce(1).write.mode("append").parquet(metrics_path(base_dir))


def read_metrics(spark: SparkSession, base_dir: str) -> DataFrame:
    try:
        return spark.read.schema(schemas.METRICS).parquet(metrics_path(base_dir))
    except Exception:
        return spark.createDataFrame([], schema=schemas.METRICS)
