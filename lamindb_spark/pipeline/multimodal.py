"""Multimodal payload columns: image/audio/video as opaque binary +
typed metadata.

Media cells are ``binary`` columns next to small metadata columns
(``MEDIA_SCHEMA``), as lamindb stores media: bytes plus registry
metadata, never decoded by the engine. :func:`media_from_binary_files`
ingests files, :func:`sample_frames` plans video frame offsets from the
duration metadata, and :func:`extract_features` featurizes rows in a
``mapInPandas`` stage — per-partition Arrow batches, so bytes move
JVM→Python once per batch, never per row. No codec ships here: each
row goes through the deterministic :func:`_fake_decode` stub unless a
decoder for its ``kind`` is registered in :data:`DECODERS`.

At 100 TB: binary columns dominate row size → partition by
``bytes-per-partition`` not rows (``repartitionByRange`` on a size
column or small ``maxPartitionBytes``), and keep metadata in separate
small columns so metadata-only queries never touch the bytes (columnar
pruning does this for free in parquet).
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator
from typing import Callable

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("kind", StringType(), False),  # image|audio|video
        StructField("content", BinaryType()),
        StructField("mime", StringType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("duration_ms", LongType()),
    ]
)

FEATURE_SCHEMA = StructType(
    [
        StructField("media_id", LongType(), False),
        StructField("kind", StringType(), False),
        StructField("n_bytes", LongType()),
        StructField("content_hash", StringType()),
        StructField("feat_mean", DoubleType()),
        StructField("feat_std", DoubleType()),
    ]
)


def _fake_decode(content: bytes) -> list[float]:
    """STUB decoder: deterministic pseudo-pixels from the byte stream.

    Used for every ``kind`` without a registered decoder — same
    signature as a real one: bytes in, float feature vector out.
    """
    if content is None:
        return []
    return [b / 255.0 for b in content[:256]]


# Decoder hook: ``kind`` → ``bytes -> list[float]``. Empty by default;
# register a real codec here (e.g. one backed by PIL) to replace the stub.
DECODERS: dict[str, Callable[[bytes], list[float]]] = {}


def extract_features(media: DataFrame) -> DataFrame:
    """Decode + featurize media rows via ``mapInPandas``.

    One Python worker per partition; the session's
    ``spark.sql.execution.arrow.maxRecordsPerBatch`` sizes the Arrow
    batches (media cells are megabytes each — lower it in the session
    for large payloads).
    """

    def _process(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            out = []
            for _, row in pdf.iterrows():
                content = row["content"]
                decode = DECODERS.get(row["kind"], _fake_decode)
                pixels = np.asarray(decode(content), dtype="float64")
                out.append(
                    {
                        "media_id": row["media_id"],
                        "kind": row["kind"],
                        "n_bytes": len(content) if content is not None else 0,
                        "content_hash": hashlib.md5(content or b"").hexdigest(),
                        "feat_mean": float(pixels.mean()) if pixels.size else 0.0,
                        "feat_std": float(pixels.std()) if pixels.size else 0.0,
                    }
                )
            yield pd.DataFrame(out)

    return media.mapInPandas(_process, FEATURE_SCHEMA)


def sample_frames(media: DataFrame, every_ms: int = 1000) -> DataFrame:
    """Frame-sampling PLAN for video rows: one output row per sampled
    timestamp from the duration metadata — pure-DataFrame explode, so
    the fan-out happens JVM-side and never touches the bytes."""
    n_frames = (F.coalesce(F.col("duration_ms"), F.lit(0)) / every_ms).cast("int")
    return (
        media.filter(F.col("kind") == "video")
        .withColumn("frame_idx", F.explode(F.sequence(F.lit(0), F.greatest(n_frames - 1, F.lit(0)))))
        .select(
            "media_id",
            "frame_idx",
            (F.col("frame_idx") * every_ms).alias("frame_offset_ms"),
        )
    )


def media_from_binary_files(spark, path_glob: str, kind: str) -> DataFrame:
    """Ingest media files via Spark's binaryFile source — each file one
    row (path, modificationTime, length, content).

    Note: the binaryFile source silently skips zero-byte files
    (observed on Spark 4.1) — count inputs independently if exact file
    accounting matters.
    """
    raw = spark.read.format("binaryFile").load(path_glob)
    return raw.select(
        F.xxhash64(F.col("path")).alias("media_id"),
        F.lit(kind).alias("kind"),
        F.col("content"),
        F.lit(None).cast("string").alias("mime"),
        F.lit(None).cast("int").alias("width"),
        F.lit(None).cast("int").alias("height"),
        F.lit(None).cast("long").alias("duration_ms"),
    )
