"""Deterministic sampling / splits / packing / PII scrub."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def ids(spark):
    return spark.createDataFrame(
        [(i, f"word{i} " * ((i % 7) + 1)) for i in range(400)],
        "doc_id long, text string",
    )


def test_hash_split_partitions_and_covers(ids):
    from spanmarkerner_spark.operators.sampling import hash_split

    out = hash_split(ids, "doc_id", {"train": 90, "val": 5, "test": 5})
    counts = {r["split"]: r["n"] for r in out.groupBy("split").agg(F.count("*").alias("n")).collect()}
    assert sum(counts.values()) == 400
    assert counts["train"] > counts["val"] and counts["train"] > counts["test"]
    # deterministic: same assignment on re-run
    a = sorted(map(tuple, out.select("doc_id", "split").collect()))
    b = sorted(map(tuple, hash_split(ids, "doc_id", {"train": 90, "val": 5, "test": 5}).select("doc_id", "split").collect()))
    assert a == b
    with pytest.raises(ValueError):
        hash_split(ids, "doc_id", {"train": 90, "val": 5})


def test_stratified_sample_exact_k(spark):
    from spanmarkerner_spark.operators.sampling import stratified_sample_k

    rows = [(i, "big" if i < 90 else "small") for i in range(100)]
    df = spark.createDataFrame(rows, "id long, g string")
    out = stratified_sample_k(df, ["g"], 5, "id")
    counts = {r["g"]: r["n"] for r in out.groupBy("g").agg(F.count("*").alias("n")).collect()}
    assert counts == {"big": 5, "small": 5}
    # stratum smaller than k: keep all
    out2 = stratified_sample_k(df.filter("id >= 98"), ["g"], 5, "id")
    assert out2.count() == 2


def test_pack_sequences_invariants(ids):
    from spanmarkerner_spark.operators.sampling import pack_sequences

    rows = pack_sequences(ids, budget=16, n_shards=3).collect()
    by_shard = {}
    for r in rows:
        by_shard.setdefault(r["shard"], []).append(r)
    assert set(by_shard) == {0, 1, 2}
    for shard_rows in by_shard.values():
        shard_rows.sort(key=lambda r: r["start_offset"])
        expect = 0
        for r in shard_rows:
            assert r["start_offset"] == expect     # contiguous stream
            assert r["bin_id"] == r["start_offset"] // 16
            end = r["start_offset"] + r["n_tokens"] - 1
            assert r["n_spanned"] == end // 16 - r["bin_id"] >= 0
            expect += r["n_tokens"]


def test_pii_scrub(spark):
    from spanmarkerner_spark.functions.text import pii_scrub

    rows = [
        (1, "mail me at jo.doe+x@sub.example.org thanks"),
        (2, "server 192.168.0.1 responded"),
        (3, "card 4111111111111111 leaked"),
        (4, "clean text stays untouched"),
    ]
    df = spark.createDataFrame(rows, "id long, text string")
    got = {r["id"]: r["s"] for r in df.select("id", pii_scrub("text").alias("s")).collect()}
    assert got[1] == "mail me at <EMAIL> thanks"
    assert got[2] == "server <IP> responded"
    assert got[3] == "card <NUM> leaked"
    assert got[4] == "clean text stays untouched"
