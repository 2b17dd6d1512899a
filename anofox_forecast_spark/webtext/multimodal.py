"""Multimodal (image/audio/video) column plumbing.

Treats media as opaque ``binary`` columns with typed metadata. Decode /
feature-extraction libraries are NOT in this container, so the decode step
is STUBBED (deterministic fake features keyed on content hash, clearly
marked) — the Spark-side plumbing is real and tested: schemas, batched
``mapInPandas`` signatures, partition-size control, metadata extraction.

Real deployment swaps ``_decode_stub`` for Pillow/torchaudio/decord calls
inside the same batch loop; nothing at the Spark layer changes.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    FloatType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from anofox_forecast_spark._worker import release_zip_finders

MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", StringType()),
        StructField("kind", StringType()),
        StructField("mime", StringType()),
        StructField("payload", BinaryType()),
    ]
)

FEATURE_DIM = 32


def _decode_stub(payload: bytes, kind: str) -> np.ndarray:
    """STUB: deterministic fake 'decoded features' from the content hash.

    Replace with a real decoder (PIL image → resize → pooled pixels;
    audio → mel-spectrogram pooling; video → frame-sampled image path).
    Raises for unknown kinds, mirroring a real decoder's failure mode.
    """
    if kind not in ("image", "audio", "video"):
        raise NotImplementedError(f"no decoder for kind={kind!r}")
    digest = hashlib.sha256(payload or b"").digest()
    raw = np.frombuffer((digest * ((FEATURE_DIM * 4) // len(digest) + 1))[: FEATURE_DIM * 4],
                        dtype=np.uint32)
    return (raw % 1000).astype(np.float32) / 1000.0


def extract_media_features(df: DataFrame, batch_size_hint: int = 256) -> DataFrame:
    """binary payload → feature vector, Arrow-batched.

    Output: (media_id, kind, n_bytes, features: array<float>). Batch shape
    is the real contract: one pandas frame per Arrow batch, decode loop per
    row inside the batch (the decode itself is the stub above).
    """
    out_schema = StructType(
        [
            StructField("media_id", StringType()),
            StructField("kind", StringType()),
            StructField("n_bytes", IntegerType()),
            StructField("features", ArrayType(FloatType())),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        release_zip_finders()
        for pdf in batches:
            feats, nbytes = [], []
            for payload, kind in zip(pdf["payload"], pdf["kind"]):
                b = bytes(payload) if payload is not None else b""
                nbytes.append(len(b))
                try:
                    feats.append(_decode_stub(b, kind).tolist())
                except NotImplementedError:
                    feats.append(None)
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"].to_numpy(),
                    "kind": pdf["kind"].to_numpy(),
                    "n_bytes": np.array(nbytes, dtype=np.int32),
                    "features": feats,
                }
            )

    return df.mapInPandas(run, schema=out_schema)


def synthesize_media(spark, n: int = 100, seed: int = 42) -> DataFrame:
    """Deterministic fake media table with real binary payloads."""
    kinds = ["image", "audio", "video"]
    rows = []
    for i in range(n):
        kind = kinds[i % 3]
        payload = hashlib.sha256(f"{seed}:{i}".encode()).digest() * (i % 7 + 1)
        rows.append((f"m{i}", kind, f"{kind}/fake", bytearray(payload)))
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


def _fake_pixels(payload: bytes, width: int, height: int) -> bytes:
    """STUB: deterministic RGB buffer of EXACTLY width*height*3 bytes from
    the content hash — stands in for decode→resize; the output size
    contract (w·h·3) is the real one a Pillow path must satisfy."""
    need = width * height * 3
    digest = hashlib.sha256(payload or b"").digest()
    return bytes((digest * (need // len(digest) + 1))[:need])


def resize_images(df: DataFrame, width: int = 64, height: int = 64) -> DataFrame:
    """Image resize plumbing: (media_id, width, height, pixels: binary).

    Non-image rows are dropped (filter pushed to the scan, JVM-side).
    Real deployment: replace _fake_pixels with
    ``PIL.Image.open(io.BytesIO(b)).convert("RGB").resize((w, h)).tobytes()``
    inside the same batch loop — schema, batching, and the w·h·3 output
    size contract are unchanged.
    """
    out_schema = StructType(
        [
            StructField("media_id", StringType()),
            StructField("width", IntegerType()),
            StructField("height", IntegerType()),
            StructField("pixels", BinaryType()),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        release_zip_finders()
        for pdf in batches:
            if not len(pdf):
                continue
            pixels = [
                _fake_pixels(bytes(p) if p is not None else b"", width, height)
                for p in pdf["payload"]
            ]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"].to_numpy(),
                    "width": np.full(len(pdf), width, dtype=np.int32),
                    "height": np.full(len(pdf), height, dtype=np.int32),
                    "pixels": pixels,
                }
            )

    return df.filter(F.col("kind") == "image").mapInPandas(run, schema=out_schema)


def sample_frames(df: DataFrame, n_frames: int = 4) -> DataFrame:
    """Video frame-sampling plumbing: one row per sampled frame —
    (media_id, frame_index, frame_ts_ms, frame: binary).

    Demonstrates the 1→N row fan-out INSIDE mapInPandas (a frame sampler's
    real shape: each video row yields n_frames output rows in the same
    Arrow batch). The fake 'duration' is derived from payload length
    (1 s per 64 bytes) and frames are sampled at uniform timestamps;
    a real path swaps the two stub lines for pyav/decord seeks — the
    fan-out, schema, and timestamp contract stay identical.
    """
    out_schema = StructType(
        [
            StructField("media_id", StringType()),
            StructField("frame_index", IntegerType()),
            StructField("frame_ts_ms", IntegerType()),
            StructField("frame", BinaryType()),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        release_zip_finders()
        for pdf in batches:
            ids, idxs, tss, frames = [], [], [], []
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                b = bytes(payload) if payload is not None else b""
                duration_ms = max(len(b) // 64, 1) * 1000          # stub duration
                for j in range(n_frames):
                    ts = (duration_ms * j) // n_frames
                    ids.append(mid)
                    idxs.append(j)
                    tss.append(ts)
                    frames.append(
                        hashlib.sha256(b + j.to_bytes(4, "big")).digest()  # stub frame
                    )
            if not ids:
                continue
            yield pd.DataFrame(
                {
                    "media_id": ids,
                    "frame_index": np.array(idxs, dtype=np.int32),
                    "frame_ts_ms": np.array(tss, dtype=np.int32),
                    "frame": frames,
                }
            )

    return df.filter(F.col("kind") == "video").mapInPandas(run, schema=out_schema)
