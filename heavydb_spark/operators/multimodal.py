"""Multimodal (image/audio/video) column plumbing.

BASELINE.json extension surface. Media lives as opaque `binary` columns
with typed metadata structs; decode/resize/frame-sample run as
Arrow-batched `mapInPandas` UDFs. The decode kernels themselves are
STUBBED (this container ships no image/audio libs — clearly marked
below); everything Spark-side is real and tested: schemas, batch
iteration, partition sizing, metadata pushdown.

At 100 TB: binary payloads dominate partition size — size
`spark.sql.files.maxPartitionBytes` down (or store media in sidecar
files and keep only URIs + metadata in the table, the usual lakehouse
layout this module's schema mirrors).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("kind", StringType()),       # image | audio | video
        StructField("payload", BinaryType()),    # opaque encoded bytes
        StructField("mime", StringType()),
        StructField("width", IntegerType()),     # images/video
        StructField("height", IntegerType()),
        StructField("duration_ms", LongType()),  # audio/video
    ]
)

FEATURE_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("kind", StringType()),
        StructField("n_bytes", LongType()),
        StructField("payload_hash", StringType()),
        StructField("feat_dim", IntegerType()),
    ]
)


def _decode_image(payload: bytes) -> "object":
    """STUB — real impl: PIL.Image.open(io.BytesIO(payload)).
    No image libs in this container."""
    raise NotImplementedError("image decode requires PIL/opencv (not installed)")


def extract_features(media: DataFrame, batch_metadata_only: bool = True) -> DataFrame:
    """Feature extraction over media batches via mapInPandas.

    With `batch_metadata_only` (the testable path) features are
    deterministic byte-level stats; the decode branch raises the stub
    error — flip the flag once decode libs exist.
    """

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        for pdf in it:
            if not batch_metadata_only:
                pdf["payload"].map(_decode_image)  # pragma: no cover (stub)
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "n_bytes": pdf["payload"].map(
                        lambda b: 0 if b is None else len(b)
                    ),
                    "payload_hash": pdf["payload"].map(
                        lambda b: hashlib.md5(b or b"").hexdigest()
                    ),
                    "feat_dim": 0,
                }
            )

    return media.mapInPandas(batches, FEATURE_SCHEMA)


def sample_video_frames(
    media: DataFrame, every_ms: int = 1000
) -> DataFrame:
    """Frame-sampling plan: one output row per sampled frame timestamp.

    The frame *positions* come from metadata (duration_ms) with pure
    DataFrame ops — only the pixel decode is stubbed. This keeps the
    explode fan-out, partitioning, and row accounting real and testable.
    """
    frames = media.filter(F.col("kind") == "video").select(
        "media_id",
        F.explode(
            F.sequence(
                F.lit(0),
                F.greatest(F.coalesce(F.col("duration_ms"), F.lit(0)) - 1, F.lit(0)),
                F.lit(every_ms),
            )
        ).alias("frame_ts_ms"),
    )
    return frames


def synthetic_media(spark, n: int = 100) -> DataFrame:
    """Deterministic fake media table for tests (payload = seeded bytes)."""
    return spark.range(n).select(
        F.col("id").alias("media_id"),
        F.element_at(
            F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
            (F.col("id") % 3 + 1).cast("int"),
        ).alias("kind"),
        F.encode(
            F.concat(F.lit("payload-"), F.sha2(F.col("id").cast("string"), 256)),
            "utf-8",
        ).alias("payload"),
        F.lit("application/octet-stream").alias("mime"),
        (F.col("id") % 640 + 1).cast("int").alias("width"),
        (F.col("id") % 480 + 1).cast("int").alias("height"),
        (F.col("id") % 10000 + 500).alias("duration_ms"),
    )
