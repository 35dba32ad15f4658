#!/usr/bin/env python3
"""Extra measurement harness for OPTIMIZATION_r06.md (guide §1.4).

NOT the driver bench — bench.py is frozen. This file isolates the
expensive computations with the noop sink so the timings measure the
computation, not the sink, and optionally scales the documents table
10x (replicated with a per-replica suffix token) to check that the
round's optimizations hold above sf0.1. The scaled table is built
fresh in a temp dir per run from the parquet inputs — nothing is
persisted or reused across runs.

Usage: python bench_extra.py [sf_dir] [--x10] [keys...]
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def noop(df):
    df.write.format("noop").mode("overwrite").save()


def timed(spark, name, fn, trials=2):
    best = None
    for _ in range(trials):
        spark.sparkContext.setJobDescription(name)
        t0 = time.time()
        fn()
        dt = time.time() - t0
        best = dt if best is None or dt < best else best
    spark.sparkContext.setJobDescription(None)
    print(f"{name:35s} {best:8.2f}s")
    return best


def main() -> None:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    sf_dir = args[0] if args else "/root/testdata/sf0.1"
    keys = set(args[1:])
    x10 = "--x10" in sys.argv

    from pyspark.sql import functions as F

    from spanmarkerner_spark.session import get_spark

    spark = get_spark(app_name="bench_extra")
    import __spark_entry__ as E

    docs = E._t(spark, sf_dir, "documents")
    tmp = None
    if x10:
        # 10 replicas, each with a replica-suffix token appended so the
        # replicas are not byte-identical; doc_ids offset per replica.
        tmp = tempfile.mkdtemp(prefix="bench_x10_")
        reps = None
        for i in range(10):
            r = docs.select(
                (F.col("doc_id") + F.lit(i * 1_000_000)).alias("doc_id"),
                F.concat(F.col("text"), F.lit(f" replica{i}")).alias("text"),
                "lang",
                "source",
                "n_chars",
            )
            reps = r if reps is None else reps.unionByName(r)
        reps.write.mode("overwrite").parquet(os.path.join(tmp, "documents.parquet"))
        docs = spark.read.parquet(os.path.join(tmp, "documents.parquet"))
        print(f"x10 documents: {docs.count()} rows at {tmp}")

    from spanmarkerner_spark.operators.decontam import contaminated_docs
    from spanmarkerner_spark.operators.dedup import (
        _doc_shingles,
        minhash_lsh_pairs,
        minhash_signature_from,
    )

    def shingle_pass():
        noop(_doc_shingles(docs, "doc_id", "text", 3))

    def signature_pass(hash_fn):
        base = _doc_shingles(docs, "doc_id", "text", 3).withColumn(
            "sig", minhash_signature_from(F.col("sh"), 16, hash_fn)
        )
        noop(base.select("id", "sig"))

    def minhash(hash_fn):
        minhash_lsh_pairs(
            docs,
            num_hashes=16,
            bands=4,
            jaccard_threshold=0.5,
            max_bucket=50,
            hash_fn=hash_fn,
        ).count()

    def decontam(exact):
        contaminated_docs(
            docs.filter("doc_id % 13 <> 0"),
            docs.filter("doc_id % 13 = 0"),
            n=3,
            exact=exact,
        ).count()

    bench = {
        "shingle_pass": shingle_pass,
        "signature_xxhash": lambda: signature_pass("xxhash"),
        "signature_md5": lambda: signature_pass("portable"),
        "minhash_xxhash": lambda: minhash("xxhash"),
        "minhash_md5": lambda: minhash("portable"),
        "decontam_xxhash": lambda: decontam(False),
        "decontam_exact": lambda: decontam(True),
    }
    try:
        for name, fn in bench.items():
            if keys and name not in keys:
                continue
            fn()  # untimed codegen warmup
            timed(spark, name, fn)
    finally:
        if tmp is not None:
            shutil.rmtree(tmp, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
