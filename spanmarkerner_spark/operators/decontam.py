"""Test-set decontamination: flag training documents that share any
word n-gram with a benchmark/eval set.

The operation every LLM training-data pipeline runs before training
(the reference repo trains NER models on published eval sets —
tomaarsen/SpanMarkerNER README "Dataset" section — which is exactly
the leakage this operator exists to prevent at corpus scale).

Scale design (100 TB corpus, benchmark sets are always tiny in
comparison — a few MB to a few GB of eval text):

- The corpus side is exploded to THIN (doc_id, gram_hash) rows — a
  64-bit xxhash per n-gram, never the gram strings — projected
  straight off the scan (column pruning keeps the scan to id+text).
- The benchmark side is reduced to DISTINCT gram hashes and
  **broadcast**, so the contamination check is a map-side broadcast
  semi-join: ZERO shuffle of the 100 TB side. (With a benchmark too
  big to broadcast, the same plan degrades gracefully to a shuffled
  semi-join on gram_hash; Spark's runtime bloom-filter join
  `spark.sql.optimizer.runtime.bloomFilter.enabled` then prefilters
  the big side — the code path is identical.)
- Only the (small) flagged set ever aggregates: groupBy doc_id on
  contaminated rows. The full corpus is never shuffled; a caller
  drops the flagged docs with a broadcast anti-join.

Hash-collision note: a 64-bit hash over ≤2^40 benchmark grams gives a
~2^-24 per-doc false-flag probability — acceptable for decontam
(false flags only drop a clean doc). `exact=True` joins on the gram
string instead (the DuckDB-oracle-pinned path).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..session import ensure_min_parallelism
from .dedup import _tok_col, shingles_of


def _grams(
    docs: DataFrame, id_col: str, text_col: str, n: int, spread: bool = False
) -> DataFrame:
    # spread: the corpus side's shingling is compute-dense; an
    # under-split local parquet would run it single-threaded (no-op at
    # scale — see session.ensure_min_parallelism)
    if spread:
        docs = ensure_min_parallelism(docs)
    # tokens bound to a column first (dedup.shingles_of performance
    # contract: an inline token subtree inside the shingle lambda is
    # re-evaluated per element). filter(size >= n) only drops docs
    # that had no grams anyway (explode drops empty arrays).
    return (
        docs.select(F.col(id_col), _tok_col(F.col(text_col)).alias("_toks"))
        .filter(F.size("_toks") >= n)
        .select(
            F.col(id_col),
            F.explode(
                F.array_distinct(shingles_of(F.col("_toks"), n))
            ).alias("gram"),
        )
    )


def contaminated_docs(
    corpus: DataFrame,
    benchmark: DataFrame,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    exact: bool = True,
) -> DataFrame:
    """(doc_id, n_hits): corpus docs sharing ≥1 word n-gram with the
    benchmark, with the count of distinct shared grams.

    exact=True joins on gram strings (cross-engine reproducible);
    exact=False joins on xxhash64(gram) — cheaper shuffle rows at
    scale, same plan shape.
    """
    c = _grams(corpus, id_col, text_col, n, spread=True)
    b = _grams(benchmark, id_col, text_col, n).select("gram").distinct()
    if not exact:
        c = c.select(id_col, F.xxhash64("gram").alias("gram"))
        b = b.select(F.xxhash64("gram").alias("gram"))
    return (
        c.join(F.broadcast(b), "gram", "left_semi")
        .groupBy(id_col)
        # plain count, NOT count_distinct: (id, gram) rows are unique
        # by construction (array_distinct before the explode), so the
        # distinct-aggregation machinery only added a second
        # per-group dedup pass — and plain count is exactly the
        # oracle's COUNT(*) over the DISTINCT corpus rows
        .agg(F.count(F.lit(1)).cast("long").alias("n_hits"))
    )
