"""Bucket-grain lineage: a stage whose output is empty still records
its input buckets as done, exactly once."""

from __future__ import annotations

import shutil
import tempfile


def test_zero_output_first_batch_does_not_wedge(spark):
    """A stage whose FIRST write produces zero rows must still append
    lineage (rows_out=0) instead of crashing on the unreadable empty
    table — otherwise every resume reprocesses (or crashes on) the same
    buckets forever."""
    from spanmarkerner_spark.plans import lineage as L

    tmp = tempfile.mkdtemp(prefix="lin_empty_")
    try:
        empty_b = spark.createDataFrame([], "url string, x long")
        inp = spark.createDataFrame([("u1", 1)], "url string, x long")
        L.write_stage(empty_b, tmp, "stage_b", "run0", processed_input=inp)
        rows = (
            L.read_lineage(spark, tmp).filter("stage = 'stage_b'").collect()
        )
        assert len(rows) == 1 and rows[0]["rows_out"] == 0
        # retry of the same input must not double-append lineage
        L.write_stage(empty_b, tmp, "stage_b", "retry", processed_input=inp)
        assert (
            L.read_lineage(spark, tmp).filter("stage = 'stage_b'").count() == 1
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
