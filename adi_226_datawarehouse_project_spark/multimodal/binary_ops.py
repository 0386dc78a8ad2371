"""Multimodal column plumbing: image/audio as opaque BINARY columns
with typed metadata.

Decode is simulated: each decoder derives deterministic fake features
from the raw bytes, so the DuckDB differential suite can reproduce
them. A real codec (pixels, PCM samples) would replace the per-batch
body and keep the Arrow batch flow and the output schema.

Design for 100 TB: binary payloads are processed with ``mapInPandas``
(Arrow batches; one Python worker per partition, not per row).
Payload-heavy tables should be range-partitioned on the id so batch
sizes stay bounded; metadata-only queries never touch the binary
column thanks to parquet column pruning.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DECODED_SCHEMA = (
    "doc_id bigint, n_bytes int, width int, height int, channels int, mean_luma double"
)


def attach_binary_payload(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Model a multimodal table: treat the UTF-8 bytes of `text_col`
    as the opaque media payload + typed metadata columns."""
    return df.select(
        F.col(id_col),
        F.encode(F.col(text_col), "UTF-8").alias("payload"),
        F.octet_length(F.col(text_col)).alias("payload_bytes"),
        F.lit("image/fake").alias("media_type"),
    )


def decode_image_stub(df: DataFrame, id_col: str = "doc_id", payload_col: str = "payload") -> DataFrame:
    """Simulated image decode via mapInPandas: deterministic features
    derived from the raw bytes. The cross-engine differential suite
    pins this path (the fake features are reproducible in DuckDB SQL,
    real pixels aren't)."""

    def _decode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payload = pdf[payload_col]
            n = payload.str.len().fillna(0).astype("int32")
            first = payload.map(lambda b: b[0] if isinstance(b, (bytes, bytearray)) and b else 0)
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col],
                    "n_bytes": n,
                    "width": (n % 640).astype("int32") + 1,
                    "height": (n % 480).astype("int32") + 1,
                    "channels": 3,
                    "mean_luma": (first.astype("float64") % 256.0) / 255.0,
                }
            )

    return df.mapInPandas(_decode_batches, schema=DECODED_SCHEMA)


RESIZED_SCHEMA = (
    "doc_id bigint, width int, height int, new_width int, new_height int, scale double"
)


def resize_image_stub(
    df: DataFrame, max_width: int = 224, max_height: int = 224, id_col: str = "doc_id"
) -> DataFrame:
    """'Resize' decoded images to fit (max_width, max_height)
    preserving aspect ratio, via mapInPandas over the decoded-feature
    batches (input = decode_image_stub output).

    STUB boundary: a real deployment resamples pixel buffers here
    (PIL/cv2); the geometry math, Arrow batch flow, and output schema
    are the real contract and are exact (pure IEEE-double ops, so the
    DuckDB oracle reproduces them bit-for-bit)."""
    def _resize_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            w = pdf["width"].astype("float64").to_numpy()
            h = pdf["height"].astype("float64").to_numpy()
            scale = np.minimum(np.minimum(max_width / w, max_height / h), 1.0)
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col],
                    "width": pdf["width"],
                    "height": pdf["height"],
                    "new_width": np.maximum(1, np.floor(w * scale)).astype("int32"),
                    "new_height": np.maximum(1, np.floor(h * scale)).astype("int32"),
                    "scale": scale,
                }
            )

    return df.mapInPandas(_resize_batches, schema=RESIZED_SCHEMA)


AUDIO_SCHEMA = (
    "doc_id bigint, sample_rate int, n_samples bigint, duration_s double, rms double"
)


def decode_audio_stub(
    df: DataFrame, id_col: str = "doc_id", payload_col: str = "payload", sample_rate: int = 16000
) -> DataFrame:
    """Simulated audio decode via mapInPandas: deterministic integer
    functions of the bytes under a 16-bit-mono-PCM model at
    ``sample_rate`` (DuckDB-reproducible)."""

    def _decode_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payload = pdf[payload_col]
            n = payload.str.len().fillna(0).astype("int64")
            first = payload.map(
                lambda b: b[0] if isinstance(b, (bytes, bytearray)) and b else 0
            ).astype("int64")
            n_samples = n // 2
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col],
                    "sample_rate": sample_rate,
                    "n_samples": n_samples,
                    "duration_s": n_samples.astype("float64") / float(sample_rate),
                    "rms": ((first * 31 + n) % 1000).astype("float64") / 1000.0,
                }
            )

    return df.mapInPandas(_decode_batches, schema=AUDIO_SCHEMA)
