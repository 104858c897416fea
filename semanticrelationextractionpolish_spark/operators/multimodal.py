"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Images/audio/video ride through the engine as ``binary`` columns with a
metadata struct; the Spark-side plumbing (schemas, batching, partition
behavior, Arrow transport) is real and tested, while the actual
media-decode kernels are STUBBED (the container has no image/audio
libraries): ``decode_media`` raises NotImplementedError unless
``fake=True``, in which case a clearly-marked deterministic fake decoder
produces reproducible features so downstream stages can be exercised.
"""

from __future__ import annotations

import zlib
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

FEATURE_DIM = 16

MEDIA_FEATURES = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("features", T.ArrayType(T.FloatType()), True),
        T.StructField("n_frames", T.IntegerType(), True),
    ]
)

_MAGIC = {
    b"\x89PN": "image/png",
    b"\xff\xd8\xff": "image/jpeg",
    b"RIF": "audio/wav",
    b"\x00\x00\x00": "video/mp4",
}


def media_metadata(df: DataFrame, blob_col: str = "blob") -> DataFrame:
    """Typed metadata from the binary column - pure Column ops (byte
    length, magic-prefix sniffing) that stay JVM-side."""
    blob = F.col(blob_col)
    magic = F.hex(F.substring(blob, 1, 3))
    mt = F.lit("application/octet-stream")
    for prefix, mtype in _MAGIC.items():
        mt = F.when(magic == F.lit(prefix.hex().upper()), F.lit(mtype)).otherwise(mt)
    return df.select(
        "doc_id",
        F.length(blob).cast("int").alias("n_bytes"),
        magic.alias("magic"),
        mt.alias("media_type"),
    )


def decode_media(blob: bytes, fake: bool = False) -> np.ndarray:
    """STUB: real image/audio decode needs PIL/ffmpeg (absent here).

    With ``fake=True`` returns a deterministic pseudo-decode: a
    (FEATURE_DIM,) float vector seeded by crc32 of the payload - stable
    across executors/retries, shaped like a real embedding.
    """
    if not fake:
        raise NotImplementedError(
            "media decode requires PIL/ffmpeg; run with fake=True for the "
            "deterministic test double"
        )
    rng = np.random.RandomState(zlib.crc32(blob) & 0x7FFFFFFF)
    return rng.rand(FEATURE_DIM).astype(np.float32)


def extract_media_features(
    df: DataFrame, blob_col: str = "blob", fake: bool = True
) -> DataFrame:
    """mapInPandas feature extraction: Arrow-batched, decoder constructed
    once per batch iterator, one vector per row. The real-media variant
    swaps ``decode_media`` for a library call - schema and partitioning
    are already production-shaped."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = [
                decode_media(b, fake=fake).tolist() if b is not None else None
                for b in pdf[blob_col]
            ]
            n_frames = [
                (len(b) % 16) + 1 if b is not None else None for b in pdf[blob_col]
            ]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "features": feats,
                    "n_frames": n_frames,
                }
            )

    return df.select("doc_id", blob_col).mapInPandas(kernel, schema=MEDIA_FEATURES)


def sample_frames(
    df: DataFrame,
    frame_bytes: int = 256,
    every_n: int = 4,
    blob_col: str = "blob",
) -> DataFrame:
    """Fixed-stride frame sampling over a video-like binary payload:
    split the blob into ``frame_bytes`` chunks, keep every
    ``every_n``-th. ENTIRELY JVM-side Column algebra (sequence +
    posexplode + binary substr) - zero Python in the plan; parsing a
    real container's frame boundaries would need ffmpeg (the documented
    decode stub), but stride sampling is how the engine bounds work per
    video regardless of codec. -> (doc_id, frame_idx, frame binary)."""
    blob = F.col(blob_col)
    n_frames = F.ceil(F.length(blob) / F.lit(frame_bytes)).cast("int")
    idxs = F.sequence(
        F.lit(0), F.greatest(n_frames - 1, F.lit(0)), F.lit(every_n)
    )
    return (
        # empty/NULL payloads produce NO frames (greatest(.., 0) would
        # otherwise map both to a phantom frame 0; round-4 review)
        df.where(F.length(blob) > 0)
        .select("doc_id", blob, F.explode(idxs).alias("frame_idx"))
        .select(
            "doc_id",
            "frame_idx",
            blob.substr(
                F.col("frame_idx") * frame_bytes + 1, F.lit(frame_bytes)
            ).alias("frame"),
        )
    )


def synth_media(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Deterministic binary payloads derived from text (test fixture for
    the multimodal plumbing): documents -> (doc_id, blob binary)."""
    kind = F.pmod(F.col("doc_id"), F.lit(4))
    prefix = (
        F.when(kind == 0, F.lit(bytes.fromhex("89504e")))
        .when(kind == 1, F.lit(b"\xff\xd8\xff"))
        .when(kind == 2, F.lit(b"RIF"))
        .otherwise(F.lit(b"\x00\x00\x00"))
    )
    return df.select(
        "doc_id",
        F.concat(prefix, F.encode(F.col(text_col), "utf-8")).alias("blob"),
    )
