"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Images/audio/video ride through the engine as ``binary`` columns with a
``media_type`` tag; decode / feature-extraction runs as Arrow-batched
``mapInPandas`` so raw bytes never cross the Python boundary row-at-a-time.

No image/audio libraries are a dependency: the actual decode is STUBBED —
a deterministic fake feature extractor (byte length, md5, synthetic
width/height/frame-count). The Spark-side plumbing — schema, Arrow batch shape,
partitioning, UDF signature — is real and tested; swapping in PIL/ffmpeg
is confined to ``_decode_stub``.

Scale note: payload bytes dominate the row size, so the mapInPandas stage
keys its parallelism off ``spark.sql.execution.arrow.maxRecordsPerBatch``
and files should be laid out with payloads in their own column chunk
(parquet does this for free) so metadata-only queries never read them.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

FEATURE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("media_type", StringType()),
        StructField("n_bytes", LongType()),
        StructField("payload_md5", StringType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("n_frames", IntegerType()),
    ]
)


def _decode_stub(payload: bytes) -> tuple[int, int, int]:
    """Deterministic fake of decode+inspect: dims derived from byte length."""
    n = len(payload)
    return (n % 640 + 16, (n * 7) % 480 + 16, n % 10 + 1)


def attach_payload(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Test fixture: treat the UTF-8 bytes of ``text`` as an opaque payload."""
    return df.withColumn("payload", F.encode(F.col(text_col), "UTF-8")).withColumn(
        "media_type", F.lit("image/fake")
    )


def extract_features(df: DataFrame) -> DataFrame:
    """Arrow-batched feature extraction over (doc_id, payload, media_type)."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            feats = [_decode_stub(p) for p in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].astype("int64"),
                    "media_type": pdf["media_type"],
                    "n_bytes": [len(p) for p in pdf["payload"]],
                    "payload_md5": [hashlib.md5(p).hexdigest() for p in pdf["payload"]],
                    "width": [f[0] for f in feats],
                    "height": [f[1] for f in feats],
                    "n_frames": [f[2] for f in feats],
                }
            )

    return df.select("doc_id", "payload", "media_type").mapInPandas(
        batches, FEATURE_SCHEMA
    )


RESIZE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("n_bytes_out", LongType()),
        StructField("resized_md5", StringType()),
    ]
)


def resize_images(df: DataFrame, width: int = 32, height: int = 8) -> DataFrame:
    """Stubbed resize with real plumbing: binary in -> binary-derived out per
    Arrow batch. The stub 'resamples' to width*height bytes by truncation
    (PIL's ``Image.resize`` plugs into the same loop); output carries the
    md5 of the resized payload so correctness is byte-checkable."""
    target = width * height

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            resized = [bytes(p)[:target] for p in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].astype("int64"),
                    "width": width,
                    "height": height,
                    "n_bytes_out": [len(r) for r in resized],
                    "resized_md5": [hashlib.md5(r).hexdigest() for r in resized],
                }
            )

    return df.select("doc_id", "payload").mapInPandas(batches, RESIZE_SCHEMA)


FRAME_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("frame_idx", IntegerType()),
        StructField("frame_bytes", LongType()),
        StructField("frame_md5", StringType()),
    ]
)


def sample_frames(df: DataFrame, every: int = 2) -> DataFrame:
    """Stubbed frame sampling with the real 1->N row shape: each payload
    'video' splits into n_frames equal chunks (n_frames from the decode
    stub, tail remainder dropped), keep every ``every``-th frame. A real
    ffmpeg keyframe sampler yields batches exactly like this — one output
    row per kept frame, more rows out than in."""

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out: list[tuple] = []
            for doc_id, p in zip(pdf["doc_id"].astype("int64"), pdf["payload"]):
                b = bytes(p)
                n_frames = _decode_stub(b)[2]
                size = len(b) // n_frames
                if size == 0:
                    continue
                for i in range(0, n_frames, every):
                    chunk = b[i * size : (i + 1) * size]
                    out.append((doc_id, i, len(chunk), hashlib.md5(chunk).hexdigest()))
            yield pd.DataFrame(
                out, columns=["doc_id", "frame_idx", "frame_bytes", "frame_md5"]
            )

    return df.select("doc_id", "payload").mapInPandas(batches, FRAME_SCHEMA)
