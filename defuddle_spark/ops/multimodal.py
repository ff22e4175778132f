"""Multimodal column plumbing: opaque binary media + typed metadata.

The container has no image/audio codecs, so the *decode* step is stubbed
(clearly marked); everything Spark-side — schema, deterministic synthesis,
Arrow batch shape, partitioning, the mapInPandas feature extractors — is
real and tested. Swap ``decode_image``/``decode_audio`` for PIL/ffmpeg
calls on a real cluster and nothing else changes.
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import (
    ArrayType, BinaryType, FloatType, IntegerType, LongType, StringType,
    StructField, StructType,
)

from defuddle_spark.spark.session import drop_zip_importers

MEDIA_SCHEMA = StructType([
    StructField("media_id", LongType()),
    StructField("media_type", StringType()),     # image | audio | video
    StructField("payload", BinaryType()),        # opaque encoded bytes
    StructField("width", IntegerType()),         # typed metadata
    StructField("height", IntegerType()),
    StructField("duration_ms", IntegerType()),
])


def synthesize_media(spark: SparkSession, n: int = 256) -> DataFrame:
    """Deterministic fake media table: payload = repeated md5 stream of the id."""
    def gen(ids):
        rows = []
        for i in ids:
            seed = hashlib.md5(f"media-{i}".encode()).digest()
            payload = (seed * (64 + (i % 7) * 32))[: 1024 + (i % 5) * 512]
            mt = ("image", "audio", "video")[i % 3]
            rows.append((i, mt, payload, 64 + (i % 4) * 32, 64 + (i % 3) * 32,
                         1000 * (1 + i % 30)))
        return rows
    return spark.createDataFrame(gen(range(n)), MEDIA_SCHEMA)


def decode_image(payload: bytes):
    """STUB — image decoding needs PIL/libjpeg, absent in this container.

    On a real deployment: ``PIL.Image.open(io.BytesIO(payload))``.
    """
    raise NotImplementedError("image codec not available in this container")


FEATURE_SCHEMA = StructType([
    StructField("media_id", LongType()),
    StructField("media_type", StringType()),
    StructField("n_bytes", IntegerType()),
    StructField("byte_entropy", FloatType()),
    StructField("byte_histogram", ArrayType(IntegerType())),  # 16 buckets
    StructField("frame_count", IntegerType()),
])


def extract_features(media: DataFrame, frame_stride: int = 256) -> DataFrame:
    """Arrow-batched feature extraction over the binary column.

    Real Spark plumbing (mapInPandas, numpy-vectorized per batch); the
    features are codec-free (byte histogram/entropy, stride frame count)
    standing in for decode→resize→embed.
    """
    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        drop_zip_importers()
        for pdf in it:
            out = []
            for mid, mtype, payload in zip(pdf["media_id"], pdf["media_type"],
                                           pdf["payload"]):
                buf = np.frombuffer(bytes(payload), dtype=np.uint8)
                hist16 = np.bincount(buf >> 4, minlength=16).astype(np.int64)
                p = hist16 / max(len(buf), 1)
                nz = p[p > 0]
                entropy = float(-(nz * np.log2(nz)).sum()) if len(nz) else 0.0
                frames = max(1, len(buf) // frame_stride)
                out.append((mid, mtype, len(buf), entropy,
                            hist16.tolist(), frames))
            yield pd.DataFrame(out, columns=[f.name for f in FEATURE_SCHEMA.fields])
        drop_zip_importers()

    return (media.select("media_id", "media_type", "payload")
            .mapInPandas(batches, schema=FEATURE_SCHEMA))


def frame_sample(media: DataFrame, every_bytes: int = 512,
                 max_frames: int = 8) -> DataFrame:
    """(media_id, frame_idx, frame bytes) — stride 'frame' sampling of the
    payload, the partition-preserving shape a real video sampler has."""
    schema = StructType([
        StructField("media_id", LongType()),
        StructField("frame_idx", IntegerType()),
        StructField("frame", BinaryType()),
    ])

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        drop_zip_importers()
        for pdf in it:
            rows = []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                raw = bytes(payload)
                for idx in range(min(max_frames, max(1, len(raw) // every_bytes))):
                    rows.append((mid, idx, raw[idx * every_bytes:(idx + 1) * every_bytes]))
            yield pd.DataFrame(rows, columns=["media_id", "frame_idx", "frame"])
        drop_zip_importers()

    return media.select("media_id", "payload").mapInPandas(batches, schema=schema)
