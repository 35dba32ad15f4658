"""As-of join — an operator Spark lacks natively.

For each left row, attach the LATEST right row of the same key with
right.ts <= left.ts (the time-series point-in-time join; DuckDB/kdb
call it ASOF JOIN).

Spark-first implementation (no UDF, no range-join blowup): tag both
sides, UNION, one window per key ordered by (ts, side, tiebreak), and
carry the most recent right-side payload with last(ignorenulls) over
an unbounded-preceding frame — a single shuffle on the key and one
partition-local sort, O(n log n) per key instead of the naive
inequality-join's O(n_left * n_right). At 100 TB this is the same
shape as any windowed aggregation: shuffle by key, stream within
partitions. A hot key lands on one task; split its window by a time
bucket (floor(ts / width)) and carry each bucket's last right row
forward if that ever matters.

Ties: right rows at ts equal to the left ts DO match (<=); among
right rows sharing (key, ts) the one with the greatest tiebreak wins
(deterministic).

NULL handling (matches DuckDB ASOF JOIN): right rows with NULL ts never
match (filtered before the union), and the carried payload is ONE
struct per right row — so a matched row's legit NULL payload value
stays NULL instead of being stitched from an older right row.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    ts: str,
    payload_cols: list[str],
    tiebreak: str | None = None,
) -> DataFrame:
    """Returns left.* plus the payload columns of the as-of-matched
    right row (null when no right row precedes). `tiebreak` orders
    right rows sharing (key, ts); defaults to the first payload col."""
    tiebreak = tiebreak or payload_cols[0]
    # carry ONE struct (non-null for every right row) so all payload
    # columns come from the SAME matched row even when some are NULL
    r_payload = F.struct(*[F.col(c) for c in payload_cols]).alias("_r")
    l_tag = left.select(
        key,
        ts,
        F.lit(1).alias("_side"),
        F.lit(None)
        .cast(right.select(r_payload).schema["_r"].dataType)
        .alias("_r"),
        F.lit(None).cast(right.schema[tiebreak].dataType).alias("_tb"),
        F.struct(*[F.col(c) for c in left.columns]).alias("_l"),
    )
    r_tag = right.filter(F.col(ts).isNotNull()).select(
        key,
        ts,
        F.lit(0).alias("_side"),
        r_payload,
        F.col(tiebreak).alias("_tb"),
        F.lit(None)
        .cast(l_tag.schema["_l"].dataType)
        .alias("_l"),
    )
    unioned = l_tag.unionByName(r_tag)
    # right rows sort BEFORE left rows at equal ts (<= semantics), and
    # among right rows the greatest tiebreak sorts last => its payload
    # is what last(ignorenulls) carries
    w = (
        Window.partitionBy(key)
        .orderBy(F.col(ts).asc(), F.col("_side").asc(), F.col("_tb").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = unioned.select(
        "_side",
        "_l",
        F.last("_r", ignorenulls=True).over(w).alias("_m"),
    )
    out = carried.filter(F.col("_side") == 1).select(
        *[F.col(f"_l.{c}").alias(c) for c in left.columns],
        *[F.col(f"_m.{c}").alias(f"asof_{c}") for c in payload_cols],
    )
    return out
