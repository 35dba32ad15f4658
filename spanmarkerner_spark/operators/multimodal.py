"""Multimodal columns: image/audio/video as opaque binary + metadata.

The container has no image/audio libraries, so the *decode* steps are
stubbed (deterministic fake features), but the
Spark-side plumbing is real and tested: schemas, Arrow batch shapes,
mapInPandas signatures, and partitioning are exactly what a real
decoder would plug into — swap `_fake_decode` for PIL/librosa and
nothing else changes.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), False),      # image|audio|video
        T.StructField("payload", T.BinaryType(), False),   # opaque bytes
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("duration_ms", T.IntegerType(), True),
    ]
)

FEATURES = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), False),
        T.StructField("feature", T.ArrayType(T.FloatType()), False),
        T.StructField("n_bytes", T.IntegerType(), False),
    ]
)


def synth_media(spark, n: int = 100, seed: int = 42) -> DataFrame:
    """Deterministic fake media table (payload = seeded bytes)."""
    rows = []
    for i in range(n):
        kind = ["image", "audio", "video"][i % 3]
        payload = hashlib.md5(f"{seed}|{i}".encode()).digest() * (4 + i % 8)
        rows.append(
            (
                i,
                kind,
                payload,
                64 + i % 512 if kind != "audio" else None,
                64 + (i * 3) % 512 if kind != "audio" else None,
                1000 + i * 10 if kind != "image" else None,
            )
        )
    return spark.createDataFrame(rows, schema=MEDIA)


def _fake_decode(payload: bytes, dim: int = 8) -> np.ndarray:
    """STUB for the real decoder (PIL.Image.open / librosa.load /
    pyav frame sampling). Deterministic feature from payload bytes so
    the pipeline is testable end-to-end without media libs. Hashes the
    hex encoding (not the raw bytes) so the SQL oracle can reproduce
    it — DuckDB's md5() only accepts VARCHAR."""
    h = hashlib.md5(payload.hex().encode()).digest()
    return (
        np.frombuffer(h[: dim * 2], dtype=np.uint8)[:dim].astype(np.float32) / 255.0
    )


def extract_features(media: DataFrame, dim: int = 8) -> DataFrame:
    """media -> per-item feature vector via Arrow-batched UDF. The
    batch shape (payload bytes in, fixed-dim float vector out) is the
    real contract a GPU/CPU decoder would fill."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = [
                _fake_decode(bytes(p), dim).tolist() for p in pdf["payload"]
            ]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "feature": feats,
                    "n_bytes": [len(bytes(p)) for p in pdf["payload"]],
                }
            )

    return media.select("media_id", "kind", "payload").mapInPandas(
        fn, schema=FEATURES
    )


def frame_sample(media: DataFrame, every_ms: int = 500) -> DataFrame:
    """video -> one row per sampled frame timestamp (pure expressions;
    the actual frame decode is the stubbed step)."""
    vids = media.filter(F.col("kind") == "video")
    return vids.select(
        "media_id",
        F.explode(
            F.sequence(F.lit(0), F.col("duration_ms"), F.lit(every_ms))
        ).alias("frame_ts_ms"),
    )


def _fake_frame_decode(payload: bytes, frame_ts_ms: int) -> int:
    """Per-frame STUB decoder (stands in for `av` frame extraction +
    a feature head): one deterministic 0-255 feature from the
    (payload, timestamp) pair, md5 over the hex encoding so the SQL
    oracle reproduces it exactly."""
    h = hashlib.md5(f"{payload.hex()}|{frame_ts_ms}".encode()).hexdigest()
    return int(h[:2], 16)


def frame_features(media: DataFrame, every_ms: int = 500) -> DataFrame:
    """The full video path: frame_sample (pure expressions) -> join
    payloads back by media_id (thin: one payload row per video) ->
    per-frame decode in an Arrow-batched UDF. Returns
    (media_id, frame_ts_ms, f0). At scale the frame table carries
    only (media_id, ts) through the exchange; payload bytes join in
    once per video and fan out to frames map-side."""

    frames = frame_sample(media, every_ms)
    joined = frames.join(
        media.select("media_id", "payload"), "media_id"
    )

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "frame_ts_ms": pdf["frame_ts_ms"],
                    "f0": [
                        _fake_frame_decode(bytes(p), int(t))
                        for p, t in zip(pdf["payload"], pdf["frame_ts_ms"])
                    ],
                }
            )

    return joined.mapInPandas(
        fn, schema="media_id long, frame_ts_ms int, f0 long"
    )
