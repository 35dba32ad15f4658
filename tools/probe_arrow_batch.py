"""A/B harness for spark.sql.execution.arrow.maxRecordsPerBatch on
the kg pipeline (r6 investigation). Builds the 10x-replica pages
input (the driver's sf1.0 kg volume) and times run_pipeline.
Usage: python tools/probe_arrow_batch.py <batch_size> [trials]
"""

from __future__ import annotations

import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    if len(sys.argv) not in (2, 3):
        sys.exit(__doc__.strip().splitlines()[-1])
    batch = sys.argv[1]
    trials = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    if trials < 1:
        sys.exit("trials must be >= 1")
    from pyspark.sql import functions as F

    from spanmarkerner_spark.session import get_spark

    spark = get_spark(
        app_name=f"probe_arrow_{batch}",
        extra_conf={"spark.sql.execution.arrow.maxRecordsPerBatch": batch},
    )
    import __spark_entry__ as E
    from spanmarkerner_spark import schemas
    from spanmarkerner_spark.datagen import gen_pages
    from spanmarkerner_spark.pipeline import run_pipeline

    sf = "/root/testdata/sf0.1"
    docs_pages = E._docs_as_pages(spark, sf)
    reps = [docs_pages.select(
        F.concat(F.col("url"), F.lit(f"?r{i}")).alias("url"),
        "warc_ts", "html", "text", "lang") for i in range(10)]
    allp = reps[0]
    for r in reps[1:]:
        allp = allp.unionByName(r)
    synth = spark.createDataFrame(gen_pages(2000, seed=42), schema=schemas.PAGES)
    tmp = tempfile.mkdtemp(prefix="probe_arrow_")
    allp.unionByName(synth).write.mode("overwrite").parquet(tmp)
    pages = spark.read.parquet(tmp)
    pages.count()
    warm = spark.createDataFrame(gen_pages(50, seed=1), schema=schemas.PAGES)
    run_pipeline(warm, use_extracted=False)["triples"].count()
    best = None
    ts = []
    for _ in range(trials):
        t0 = time.time()
        res = run_pipeline(pages, use_extracted=False, persist_stages=False)
        n = res["triples"].count()
        dt = round(time.time() - t0, 2)
        ts.append(dt)
        best = dt if best is None or dt < best else best
    print(f"batch={batch} best={best} trials={ts} triples={n}", flush=True)


if __name__ == "__main__":
    main()
