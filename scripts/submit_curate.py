#!/usr/bin/env python3
"""spark-submit entry point for the corpus-curation job — the
training-data twin of submit_kg.py (north_rule mechanism: runs via
spark-submit --py-files, checkpoint-resumable with per-partition
lineage and metrics tables).

Usage:

    spark-submit --master <url> \
        --py-files spanmarkerner_spark_pkg.zip \
        scripts/submit_curate.py \
        --docs /data/docs_parquet --benchmark /data/bench_parquet \
        --out /data/curated [--run-id r42] [--quality-min 0.9]
        [--n-buckets 64]

Behavior:
  - resumes per doc_id-bucket: buckets with a 'kept' lineage row are
    skipped; per-bucket writes are idempotent (dynamic partition
    overwrite), and the lineage row lands AFTER the stage write so a
    crash leaves the bucket pending, never half-recorded.
  - cross-RUN exact dedup: a resumed run anti-joins its kept docs
    against content hashes from FINISHED buckets only (lineage-gated),
    so a retried bucket never anti-joins against its own half-written
    partition.
  - writes: <out>/kept stage table partitioned by bucket(doc_id),
    lineage rows, and per-run metrics (docs_in, kept, kept_total).
"""

from __future__ import annotations

import argparse
import sys
import time


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--docs", required=True, help="input docs parquet dir")
    ap.add_argument("--benchmark", required=True,
                    help="benchmark/eval docs parquet dir (decontam reference)")
    ap.add_argument("--out", required=True)
    ap.add_argument("--run-id", default=None)
    ap.add_argument("--quality-min", type=float, default=0.9)
    ap.add_argument("--n-buckets", type=int, default=64)
    args = ap.parse_args(argv)

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    spark = SparkSession.builder.appName("curate_corpus").getOrCreate()

    from pyspark.errors import AnalysisException

    from spanmarkerner_spark.functions.hashing import portable_hash64
    from spanmarkerner_spark.operators.curation import curate
    from spanmarkerner_spark.operators.dedup import _norm_text
    from spanmarkerner_spark.plans import lineage as L
    from spanmarkerner_spark.session import ship_package

    ship_package(spark)
    run_id = args.run_id or f"run-{int(time.time())}"

    docs = spark.read.parquet(args.docs)
    benchmark = spark.read.parquet(args.benchmark)
    keyed = L.with_partition_key(docs, key_col="doc_id",
                                 n_buckets=args.n_buckets)
    pending = L.pending_partitions(keyed, spark, args.out, "kept").drop(
        "partition_key"
    )
    n_pending = pending.count()
    if n_pending == 0:
        print(f"RESUME: all buckets already have 'kept' lineage for "
              f"{args.out}; nothing to do")
        return 0
    print(f"RUN {run_id}: {n_pending} pending docs")

    cur = curate(pending, benchmark, quality_min=args.quality_min)
    kept = (
        cur.filter(F.col("disposition") == "kept")
        .join(pending, "doc_id")
        .select(
            "doc_id", "split", "text",
            portable_hash64(_norm_text(F.col("text"))).alias("content_hash"),
        )
    )
    # cross-run dedup against FINISHED buckets only (see module doc)
    try:
        done = (
            L.read_lineage(spark, args.out)
            .filter(F.col("stage") == "kept")
            .select("partition_key")
            .distinct()
        )
        seen = (
            L.read_stage(spark, args.out, "kept")
            .join(done, "partition_key", "left_semi")
            .select("content_hash")
            .distinct()
        )
        kept = kept.join(seen, "content_hash", "left_anti")
    except AnalysisException as e:
        if (e.getErrorClass() or "") != "PATH_NOT_FOUND":
            raise

    kept = kept.persist()  # consumed by write + two metric counts
    L.write_stage(kept, args.out, "kept", run_id, key_col="doc_id",
                  n_buckets=args.n_buckets, processed_input=pending)
    metrics = {
        "docs_in": float(n_pending),
        "kept": float(kept.count()),
        "kept_total": float(L.read_stage(spark, args.out, "kept").count()),
    }
    L.write_metrics(spark, args.out, "curate", run_id, metrics)
    kept.unpersist()
    print("METRICS " + " ".join(f"{k}={int(v)}" for k, v in sorted(metrics.items())))
    return 0


if __name__ == "__main__":
    sys.exit(main())
