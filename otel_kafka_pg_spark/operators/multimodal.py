"""Multimodal (image/audio/video) column plumbing.

Media are opaque ``binary`` columns with a typed metadata struct; transforms
run as Arrow-batched ``mapInPandas`` over row groups so each task processes
a bounded byte budget regardless of row width. The Spark-side plumbing —
schema, partitioning, UDF signature, batch shape — is real and tested; the
actual codec step is STUBBED (no image/audio libraries in this container):

- ``decode_media``          raises NotImplementedError (clearly marked stub)
- ``fake_feature_extract``  deterministic stand-in: sha256-derived fixed-size
                            float vector, so downstream similarity/dedup
                            plumbing is exercisable end-to-end.

At 100 TB: binary payloads dominate scan bytes — keep media in their own
parquet column chunk (columnar pruning skips them unless selected), size
``spark.sql.files.maxPartitionBytes`` to bound task memory, and never
collect payloads to the driver.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), False),  # image | audio | video
        T.StructField("payload", T.BinaryType(), False),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("mime", T.StringType(), True),
                    T.StructField("width", T.IntegerType(), True),
                    T.StructField("height", T.IntegerType(), True),
                    T.StructField("duration_ms", T.DoubleType(), True),
                ]
            ),
            True,
        ),
    ]
)

FEATURE_DIM = 16

FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), False),
        T.StructField("n_bytes", T.LongType(), False),
        T.StructField("features", T.ArrayType(T.FloatType()), False),
    ]
)


def decode_media(payload: bytes, mime: str):  # pragma: no cover - stub
    """STUB: real decode requires PIL/ffmpeg etc., absent in this container.
    The call site (extract_features) is structured so swapping this in is a
    one-line change."""
    raise NotImplementedError("media decode requires codec libraries (PIL/ffmpeg); not available here")


def _fake_features(payload: bytes) -> np.ndarray:
    """Deterministic stand-in feature vector: sha256(payload) bytes → floats.
    Stable across executors and runs (pure function of content)."""
    digest = hashlib.sha256(payload).digest()
    return (np.frombuffer(digest[:FEATURE_DIM], dtype=np.uint8).astype(np.float32) / 255.0)


def extract_features(df: DataFrame, use_real_decode: bool = False) -> DataFrame:
    """mapInPandas feature extraction: Arrow batches in, bounded memory,
    payload column dropped on output (never carried past this stage)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if use_real_decode:  # pragma: no cover - stub path
                feats = [decode_media(p, None) for p in pdf["payload"]]
            else:
                feats = [_fake_features(bytes(p)) for p in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "n_bytes": pdf["payload"].map(len).astype("int64"),
                    "features": feats,
                }
            )

    return df.mapInPandas(run, FEATURES_SCHEMA)


FRAMES_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("frame_idx", T.IntegerType(), False),
        T.StructField("frame", T.BinaryType(), False),
    ]
)


def frame_sample(df: DataFrame, frame_bytes: int = 64, every_k: int = 2) -> DataFrame:
    """Sample every k-th fixed-size frame from video payloads — one row per
    sampled frame, via Arrow-batched mapInPandas (bounded memory per batch;
    a real container format would swap the fixed-stride slicing for a
    demuxer, the Spark plumbing is identical). Non-video rows are dropped."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            vids = pdf[pdf["kind"] == "video"]
            out = {"media_id": [], "frame_idx": [], "frame": []}
            for mid, payload in zip(vids["media_id"], vids["payload"]):
                raw = bytes(payload)
                n_frames = len(raw) // frame_bytes
                for i in range(0, n_frames, every_k):
                    out["media_id"].append(mid)
                    out["frame_idx"].append(i)
                    out["frame"].append(raw[i * frame_bytes : (i + 1) * frame_bytes])
            yield pd.DataFrame(out)

    return df.mapInPandas(run, FRAMES_SCHEMA)


def synth_payload(i: int, n_bytes: int) -> bytes:
    """Deterministic payload for media ``i``: the ASCII bytes of a sha256
    hex chain over ``f"{i}:{j}"`` truncated to ``n_bytes``. Engine-portable
    by construction — any SQL engine with sha256(VARCHAR) re-derives the
    exact bytes (DuckDB: string_agg(sha256(media_id || ':' || j)) sliced to
    n_bytes), which is what makes the mm1/mm2 driver oracles EXACT instead
    of rows-only. The payload is still an opaque ``binary`` column to every
    operator; nothing downstream assumes ASCII."""
    chunks: list[str] = []
    total = 0
    j = 0
    while total < n_bytes:
        chunks.append(hashlib.sha256(f"{i}:{j}".encode()).hexdigest())
        total += 64
        j += 1
    return "".join(chunks)[:n_bytes].encode("ascii")


def synth_media(spark, n: int = 64, seed: int = 42) -> DataFrame:
    """Deterministic fake media table for plumbing tests (seed kept for
    signature stability; payloads are content-addressed, not RNG-drawn)."""
    rows = []
    kinds = ["image", "audio", "video"]
    for i in range(n):
        kind = kinds[i % 3]
        payload = synth_payload(i, 128 + (i % 5) * 64)
        rows.append((i, kind, bytearray(payload), ("application/octet-stream", 64, 64, 1000.0)))
    return spark.createDataFrame(rows, MEDIA_SCHEMA)
