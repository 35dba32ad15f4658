"""Portable hashing expressions (identical in Spark and DuckDB).

Spark:  CAST(conv(substr(md5(x), 1, 15), 16, 10) AS BIGINT)
DuckDB: ('0x' || substr(md5(x), 1, 15))::BIGINT

Both produce the same 60-bit integer from the same string, which lets
MinHash signatures, fingerprints, and dedup cluster keys be verified
against the DuckDB oracle value-for-value. xxhash64 stays the internal
partitioning hash (faster, JVM-side) where no oracle comparison is
needed.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def portable_hash64(col: Column | str, salt: str = "") -> Column:
    """60-bit md5-derived hash, reproducible in DuckDB (see module doc)."""
    c = F.col(col) if isinstance(col, str) else col
    if salt:
        c = F.concat(F.lit(salt + "|"), c)
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


def portable_hash64_sql(expr: str, salt: str = "") -> str:
    """The DuckDB-side rendering of portable_hash64 for oracle SQL."""
    e = f"concat('{salt}|', {expr})" if salt else expr
    return f"(('0x' || substr(md5({e}), 1, 15)))::BIGINT"
