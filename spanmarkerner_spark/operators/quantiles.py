"""Exact quantiles per key.

`exact_quantiles` is the oracle-grade path: discrete (type-1)
quantiles selected by row_number over a per-key sort with a total
order — deterministic and bit-identical cross-engine (the value is
an existing row's value, never interpolated, so no float arithmetic
is introduced).

Scale (100 TB): the per-key sort is a single hash-partitioned window
(one shuffle, partition-local sort, no global ordering). An un-keyed
or hot-key case would want `percentile_approx` (Greenwald-Khanna),
which aggregates with map-side partials and bounded memory.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

DEFAULT_PS = (0.25, 0.5, 0.75, 0.95)


def exact_quantiles(
    df: DataFrame,
    key_cols: list[str],
    value_col: str,
    tiebreak_col: str,
    ps: tuple[float, ...] = DEFAULT_PS,
) -> DataFrame:
    """(*key_cols, p, q): for each key and each p, the value at 1-based
    rank ceil(p * n) (min rank 1) under ORDER BY value, tiebreak —
    the classic type-1 discrete quantile. `tiebreak_col` makes the
    order total so duplicated values can't flip rows cross-engine."""
    # NULL values are excluded BEFORE ranking: Spark's asc sorts nulls
    # first while DuckDB/ANSI sort them last, so leaving them in would
    # silently shift every rank cross-engine (and a NULL quantile is
    # meaningless anyway). The oracle SQL carries the same filter.
    df = df.filter(F.col(value_col).isNotNull())
    w = Window.partitionBy(*key_cols).orderBy(
        F.asc(value_col), F.asc(tiebreak_col)
    )
    ranked = df.select(
        *key_cols,
        F.col(value_col).alias("_v"),
        F.row_number().over(w).alias("_rn"),
        F.count(F.lit(1)).over(Window.partitionBy(*key_cols)).alias("_n"),
    )
    ps_df = F.array(*[F.lit(float(p)) for p in ps])
    return (
        ranked.withColumn("p", F.explode(ps_df))
        .filter(
            F.col("_rn")
            == F.greatest(F.lit(1).cast("long"), F.ceil(F.col("p") * F.col("_n")))
        )
        .select(*key_cols, "p", F.col("_v").alias("q"))
    )
