"""Multimodal columns: opaque binary payloads + typed metadata.

Images/audio/video are carried as ``binary`` columns with a typed ``meta``
struct; decode / feature-extraction / resize / frame-sampling run as
Arrow-batched ``mapInPandas`` operators so the Spark-side plumbing
(schema, partitioning, UDF signature, batch shape) is real and tested.

The actual codec step is STUBBED: this container has no image/audio
libraries, so ``decode_features`` uses a clearly-marked deterministic
fake (md5-derived unit vector per payload) unless a real decoder import
succeeds. Swapping in a real decoder changes only ``_decode_payload``.

The media table derives deterministically from the ``documents`` table
with engine-portable expressions (payload = UTF-8 bytes of the text), so
inventory/arithmetic queries have DuckDB oracles; the feature stub is
Python-only and checked rows-only.
"""

from __future__ import annotations

import hashlib
import math
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_KINDS = ["image", "audio", "video"]
N_FEATURES = 8
MAX_SIDE = 256  # longest side of a resized image
FRAME_STEP = 5  # every FRAME_STEP-th video frame is sampled

try:  # real decoders, if the environment ever provides them
    import PIL.Image  # noqa: F401

    _HAVE_DECODER = True
except Exception:  # pragma: no cover - expected in this container
    _HAVE_DECODER = False


def media_from_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic media table derived from documents (SQL-portable).

    meta: width/height for images, sample_rate for audio, n_frames for
    video — all arithmetic on n_chars so the DuckDB oracle reproduces it.
    """
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    kind = F.element_at(
        F.array(*[F.lit(k) for k in MEDIA_KINDS]),
        (F.col("doc_id") % 3).cast("int") + 1,
    )
    return d.select(
        F.col("doc_id").alias("media_id"),
        kind.alias("kind"),
        F.encode(F.col("text"), "UTF-8").alias("payload"),
        F.struct(
            ((F.col("n_chars") % 64 + 1) * 16).cast("int").alias("width"),
            ((F.col("n_chars") % 48 + 1) * 16).cast("int").alias("height"),
            (F.lit(8000) + (F.col("n_chars") % 5) * 8000).cast("int").alias(
                "sample_rate"
            ),
            (F.col("n_chars") % 30 + 2).cast("int").alias("n_frames"),
        ).alias("meta"),
    )


def _decode_payload(payload: bytes) -> list[float]:
    """STUB decode: deterministic fake feature vector from the payload.

    A real implementation would decode the image/audio here
    (``PIL.Image.open(io.BytesIO(payload))`` …) — not available in this
    container, and the fake keeps every test deterministic.
    """
    if _HAVE_DECODER:  # pragma: no cover - exercised only with real libs
        raise NotImplementedError(
            "real decoder present but intentionally not wired in the sandbox"
        )
    h = hashlib.md5(payload).digest()
    raw = [int.from_bytes(h[2 * i : 2 * i + 2], "big") / 65535.0 for i in range(N_FEATURES)]
    norm = math.sqrt(sum(x * x for x in raw)) or 1.0
    return [x / norm for x in raw]


FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("kind", T.StringType()),
        T.StructField("n_bytes", T.IntegerType()),
        # doubles, not floats: the md5-derived stub values are exact in
        # IEEE double on both engines, giving the DuckDB oracle value-level
        # (not just rows-only) comparability
        T.StructField("features", T.ArrayType(T.DoubleType())),
    ]
)


def decode_features(media: DataFrame) -> DataFrame:
    """Arrow-batched feature extraction over binary payloads."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "n_bytes": pdf["payload"].map(len).astype("int32"),
                    "features": pdf["payload"].map(_decode_payload),
                }
            )

    return media.mapInPandas(gen, FEATURES_SCHEMA)


def resize_meta(media: DataFrame) -> DataFrame:
    """Resize planning (pure metadata arithmetic — no decode needed):
    scale factor and target dims for image rows, longest side capped at
    ``MAX_SIDE``."""
    w, h = F.col("meta.width"), F.col("meta.height")
    longest = F.greatest(w, h)
    scale = F.when(longest > MAX_SIDE, MAX_SIDE / longest).otherwise(F.lit(1.0))
    return media.where(F.col("kind") == "image").select(
        "media_id",
        w.alias("width"),
        h.alias("height"),
        F.round(scale, 4).alias("scale"),
        F.floor(w * scale).cast("int").alias("out_width"),
        F.floor(h * scale).cast("int").alias("out_height"),
    )


def sample_frames(media: DataFrame) -> DataFrame:
    """Frame sampling for video rows: one output row per sampled frame
    index (0, FRAME_STEP, 2·FRAME_STEP, … < n_frames)."""
    nf = F.col("meta.n_frames")
    return (
        media.where(F.col("kind") == "video")
        .select(
            "media_id",
            nf.alias("n_frames"),
            F.explode(F.sequence(F.lit(0), nf - 1, F.lit(FRAME_STEP))).alias(
                "frame_idx"
            ),
        )
    )
