"""Multimodal column plumbing: media as opaque binary.

A 100 TB multimodal pipeline treats media as ``binary`` columns with
typed metadata and runs decode / feature extraction as
**Arrow-batched Pandas functions over ``mapInPandas``** — the schema,
partitioning, and batch shape here are the real production plumbing.

Image decoding is REAL for the formats pure stdlib/numpy can parse —
BMP, PNG, baseline-sequential JPEG, GIF, TIFF
(:mod:`operators.media_codecs`) — and stubbed only for formats that
genuinely require codec libraries this container does not ship
(webp, progressive JPEG): those raise ``NotImplementedError`` by
default (``strict=True``) — a pipeline must never silently ship fake
features — or, under an explicit ``strict=False``, produce a
deterministic fake so the Spark-side contract stays testable without
codec libraries. The stub boundary is format-based, not blanket.

Design notes for scale:
- media rows are *wide* (MBs of binary); ``maxPartitionBytes`` and
  Arrow batch size (``spark.sql.execution.arrow.maxRecordsPerBatch``)
  bound executor memory, and ``mapInPandas`` streams batches — no
  per-partition materialization;
- metadata-only operations (filtering by size/mime/duration) never
  touch the binary column thanks to parquet column pruning — keep
  metadata in top-level columns, not inside a struct with the bytes.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    FloatType,
    LongType,
    StringType,
    StructField,
    StructType,
)

IMAGE_FEATURE_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("mime_type", StringType(), True),
        StructField("feature", ArrayType(FloatType()), True),
    ]
)


def _fake_decode(content: bytes, dim: int) -> list[float]:
    """Deterministic stand-in for a real decode+embed kernel: a cheap
    byte-histogram projection. Replace with PIL/torchvision/ffmpeg in
    environments that ship them."""
    if content is None:
        return [0.0] * dim
    acc = [0] * dim
    for i, b in enumerate(content[:4096]):
        acc[(i + b) % dim] += b
    total = float(sum(acc)) or 1.0
    return [v / total for v in acc]


# Mime types the pure stdlib/numpy decoders handle for real.
_DECODABLE_IMAGE = {
    "image/bmp",
    "image/x-ms-bmp",
    "image/png",
    "image/jpeg",
    "image/jpg",
    "image/gif",
    "image/tiff",
    "image/tif",
}


def _image_feature(content, mime, dim: int, strict: bool) -> list[float]:
    from serverless_data_lake_spark.operators.media_codecs import (
        decode_image,
        image_features,
    )

    if content is not None and mime in _DECODABLE_IMAGE:
        return image_features(decode_image(content, mime), dim)
    if strict:
        raise NotImplementedError(
            f"decode for {mime!r} requires a codec library not "
            "shipped in this environment; only BMP/PNG/GIF/baseline-JPEG "
            "decode without one"
        )
    return _fake_decode(content, dim)


def extract_image_features(
    df: DataFrame,
    dim: int = 64,
    strict: bool = True,
) -> DataFrame:
    """Decode + feature-extract images via ``mapInPandas``.

    The UDF receives Arrow batches (pandas DataFrames) and yields
    result batches — constant memory per task regardless of partition
    size. BMP, non-interlaced 8-bit PNG, and baseline-sequential JPEG
    are REALLY decoded
    (operators/media_codecs.py, no codec library needed); features
    are grid-pooled luminance means. Other image formats raise
    ``NotImplementedError`` by default, or fall back to the
    deterministic byte-histogram fake under an explicit
    ``strict=False`` — the stub boundary is per-format."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "mime_type": pdf["mime_type"],
                    "feature": [
                        _image_feature(c, m, dim, strict)
                        for c, m in zip(pdf["content"], pdf["mime_type"])
                    ],
                }
            )

    return df.select("media_id", "mime_type", "content").mapInPandas(
        kernel, schema=IMAGE_FEATURE_SCHEMA
    )


def media_metadata_stats(df: DataFrame) -> DataFrame:
    """Metadata-only profiling — never reads the binary column (check
    the scan's ReadSchema: ``content`` must be absent)."""
    return df.groupBy("mime_type").agg(
        F.count("*").alias("n"),
        F.sum("n_bytes").alias("total_bytes"),
        F.avg("n_bytes").alias("avg_bytes"),
        F.max("width").alias("max_width"),
        F.max("height").alias("max_height"),
    )
