"""Bucketed tables: shuffle-free co-located joins (SURVEY.md §4).

At 100 TB the dominant cost of a large-large equi-join is the shuffle
of both sides. Writing both tables bucketed (and sorted) by the join
key stores each bucket pre-hashed on disk; Spark's bucketed-scan rule
then plans a SortMergeJoin with ZERO Exchange — the join reads
co-located buckets directly. This is the static twin of the runtime
`repartition(key)` the KG pipeline uses, and the parquet stand-in for
Iceberg's `bucket(n, key)` partition transform (no Iceberg jars in
this sandbox).

Requirements for the exchange-free plan (pinned by the test):
 - both sides bucketed by the join key with the SAME bucket count,
 - spark.sql.sources.bucketing.enabled (default true),
 - the join key equals the bucket column.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession


def write_bucketed(
    df: DataFrame,
    table: str,
    key: str,
    n_buckets: int,
    path: str,
) -> None:
    """Persist df as an external bucketed+sorted parquet table. The
    bucket metadata lives in the session catalog; `path` keeps data
    out of the default warehouse."""
    (
        df.write.bucketBy(n_buckets, key)
        .sortBy(key)
        .option("path", path)
        .mode("overwrite")
        .format("parquet")
        .saveAsTable(table)
    )


def cobucketed_join(
    spark: SparkSession, left_table: str, right_table: str, key: str, how: str = "inner"
) -> DataFrame:
    """Join two co-bucketed tables on their bucket key — planned
    without any Exchange when both were written by write_bucketed with
    the same bucket count. The merge hint pins SortMergeJoin: this
    operator exists for LARGE-large joins (at broadcastable sizes a
    BroadcastHashJoin would win anyway and the planner disables the
    bucketed scan)."""
    return spark.table(left_table).join(
        spark.table(right_table).hint("merge"), key, how
    )


def bucket_table_path(base_dir: str, table: str) -> str:
    return os.path.join(base_dir, f"bucketed_{table}")
