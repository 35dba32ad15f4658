"""Deterministic sampling, splits, and sequence packing for training
pipelines.

Everything here is HASH-driven, never RNG-driven: a row's fate is a
pure function of its id (and a salt), so results are reproducible
across runs, engines, cluster sizes, and incremental re-runs over a
growing corpus — the property training pipelines actually need from
"random" splits. The md5-derived `portable_hash64` keeps every
operator value-verifiable against DuckDB; swap `hashing.xxhash64`
for cheaper production salts where no oracle is needed.

Scale notes:
- hash_split is a pure map-side expression (zero shuffle, fully
  pushdown-friendly).
- stratified_sample_k is one window per stratum (single shuffle on
  the strata key); for heavy strata the hash order makes any prefix
  a uniform sample, so a per-partition pre-limit of k can cap the
  shuffle (not needed at test scale).
- pack_sequences is one window per shard: the exclusive prefix sum
  over the deterministic hash order assigns every document its byte/
  token offset in the concatenated training stream — the bookkeeping
  of GPT-style sample packing — without materializing the stream.
  Shards bound the window's partition size; at 100 TB pick
  n_shards >> executors and the window sort stays in memory.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.hashing import portable_hash64
from ..functions.text import token_count_ws

PPM = 1_000_000


def hash_bucket(id_col: Column | str, mod: int, salt: str = "") -> Column:
    c = F.col(id_col) if isinstance(id_col, str) else id_col
    return portable_hash64(c.cast("string"), salt=salt) % mod


def hash_split(
    df: DataFrame,
    id_col: str,
    splits: dict[str, int],
    salt: str = "split",
) -> DataFrame:
    """Add a 'split' column. splits maps name -> percent; percents
    must sum to 100. Assignment order follows the dict order, so
    ('train', 'val', 'test') buckets are stable under re-runs."""
    if sum(splits.values()) != 100:
        raise ValueError(f"split percents must sum to 100: {splits}")
    b = hash_bucket(id_col, 100, salt)
    expr, lo = None, 0
    for name, pct in splits.items():
        hi = lo + pct
        cond = (b >= lo) & (b < hi)
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
        lo = hi
    return df.withColumn("split", expr)


def stratified_sample_k(
    df: DataFrame, strata_cols: list[str], k: int, id_col: str, salt: str = ""
) -> DataFrame:
    """Exactly min(k, stratum size) rows per stratum, chosen by hash
    order (uniform within stratum, deterministic)."""
    h = portable_hash64(F.col(id_col).cast("string"), salt=salt)
    w = Window.partitionBy(*strata_cols).orderBy(h.asc(), F.col(id_col).asc())
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )


def pack_sequences(
    docs: DataFrame,
    budget: int,
    n_shards: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
    salt: str = "pack",
) -> DataFrame:
    """Sequence-packing bookkeeping: documents are laid out in a
    deterministic hash order per shard and concatenated into
    fixed-`budget` token bins (documents straddle bin boundaries,
    GPT-style). Output per doc:
      (id, shard, n_tokens, start_offset, bin_id, n_spanned)
    where bin_id = start_offset div budget and n_spanned counts the
    boundary crossings. Zero-token docs are dropped (nothing to
    pack)."""
    toks = token_count_ws(text_col).cast("long")
    base = docs.select(
        F.col(id_col),
        hash_bucket(id_col, n_shards, salt).alias("shard"),
        toks.alias("n_tokens"),
        portable_hash64(F.col(id_col).cast("string"), salt=salt + "|ord").alias("_h"),
    ).filter(F.col("n_tokens") > 0)
    w = (
        Window.partitionBy("shard")
        .orderBy(F.asc("_h"), F.asc(id_col))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    start = (F.sum("n_tokens").over(w) - F.col("n_tokens")).alias("start_offset")
    out = base.select(id_col, "shard", "n_tokens", start)
    # `div` = true integer division: a shard's token stream can pass
    # 2^53 at full scale, where floor(double /) rounds across integer
    # boundaries and diverges from the oracle's `//`
    return out.select(
        id_col,
        "shard",
        "n_tokens",
        "start_offset",
        F.expr(f"start_offset div {budget}").cast("long").alias("bin_id"),
        F.expr(
            f"(start_offset + n_tokens - 1) div {budget}"
            f" - start_offset div {budget}"
        ).cast("long").alias("n_spanned"),
    )


def temperature_sample(
    docs: DataFrame,
    id_col: str = "doc_id",
    group_col: str = "source",
    budget_ppm: int = 500_000,
    sqrt_scale: int = 1024,
) -> DataFrame:
    """Temperature-based domain reweighting (alpha = 0.5): the data-
    mixing step of LLM corpus assembly — sample domain s with
    probability proportional to n_s^alpha instead of n_s, so giant
    crawl domains stop drowning small high-quality ones (the
    n^alpha mixture of GPT-3 / LLaMA data recipes; alpha fixed at 1/2
    because sqrt is the one power IEEE-754 guarantees correctly
    rounded, making the weights bit-identical cross-engine).

    Per-domain keep rate (ppm, capped at 10^6):
        rate_s = budget_ppm * N * sn_s / (S * n_s)
    with sn_s = round(sqrt(n_s) * sqrt_scale) as BIGINT, S = sum(sn_s),
    N = corpus size — expected kept mass ~= budget_ppm/10^6 of the
    corpus, distributed over domains proportional to sqrt(n_s). The
    keep decision is a deterministic per-doc hash threshold, so the
    sample is reproducible and resumable (no RNG state).

    All arithmetic is BIGINT except the one correctly-rounded sqrt:
    products stay under 2^63 while budget_ppm * N * sn_s < 9.2e18 —
    at 10^12 docs lower sqrt_scale (the docstring bound is the loud
    failure: DuckDB raises on BIGINT overflow, and Spark should run
    this operator under ANSI mode for the same guarantee).

    Scale design (10^12 docs): the per-domain stats table is
    domains-sized (thin groupBy with map-side combine — the ONLY
    shuffle); rates broadcast back; the corpus itself is scanned once
    and filtered map-side by hash threshold. No corpus shuffle, no
    RNG, no driver loop.

    Returns kept (id_col, group_col, rate_ppm).
    """
    counts = docs.groupBy(group_col).agg(F.count(F.lit(1)).alias("n_s"))
    sn = counts.withColumn(
        "sn",
        F.expr(
            f"CAST(round(sqrt(CAST(n_s AS DOUBLE)) * {sqrt_scale}) AS BIGINT)"
        ),
    )
    tots = sn.agg(
        F.sum("n_s").alias("n_tot"), F.sum("sn").alias("s_tot")
    )
    rates = sn.crossJoin(F.broadcast(tots)).select(
        group_col,
        F.least(
            F.lit(1_000_000).cast("long"),
            F.expr(f"({budget_ppm} * n_tot * sn) div (s_tot * n_s)"),
        ).alias("rate_ppm"),
    )
    keyed = docs.select(
        F.col(id_col),
        F.col(group_col),
        (portable_hash64(F.col(id_col).cast("string")) % 1_000_000).alias(
            "_h"
        ),
    )
    return (
        keyed.join(F.broadcast(rates), group_col)
        .filter(F.col("_h") < F.col("rate_ppm"))
        .select(id_col, group_col, "rate_ppm")
    )
