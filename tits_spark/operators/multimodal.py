"""Multimodal column plumbing: image/audio/video as opaque binary
columns with typed metadata, processed by Arrow-batched mapInPandas.

There is no decode step (no image/audio codec library is installed):
``_fake_feature`` stands in for decode->embed. Everything Spark-side is
real and tested: schemas, batch shapes, partition-size control for fat
binary rows, and the deterministic fake feature extractor used to
validate the plumbing end to end.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

MEDIA_SCHEMA = (
    "media_id long, kind string, width int, height int, n_frames int, "
    "sample_rate int, payload binary"
)

FEATURE_SCHEMA = "media_id long, kind string, n_bytes int, feature array<float>"


def synth_media(spark, n: int = 100, seed: int = 42) -> DataFrame:
    """Deterministic fake media table (binary payload + typed metadata)."""
    rng = np.random.Generator(np.random.PCG64(seed))
    rows = []
    kinds = ["image", "audio", "video"]
    for i in range(n):
        kind = kinds[i % 3]
        size = int(rng.integers(256, 4096))
        payload = rng.integers(0, 256, size, dtype=np.uint8).tobytes()
        rows.append((
            i, kind,
            int(rng.integers(16, 512)) if kind != "audio" else 0,
            int(rng.integers(16, 512)) if kind != "audio" else 0,
            int(rng.integers(1, 300)) if kind == "video" else 1,
            16000 if kind == "audio" else 0,
            payload,
        ))
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


def _fake_feature(payload: bytes, dim: int = 8) -> np.ndarray:
    """Deterministic stand-in for decode->embed: sha256-seeded pseudo
    feature so the pipeline is testable without codecs."""
    h = hashlib.sha256(payload).digest()
    rng = np.random.Generator(np.random.PCG64(int.from_bytes(h[:8], "little")))
    return rng.standard_normal(dim).astype(np.float32)


def extract_features(
    media: DataFrame, dim: int = 8, batch_rows: int = 64
) -> DataFrame:
    """mapInPandas feature extraction over binary payloads.

    ``batch_rows`` bounds the Arrow batch so fat binary rows don't blow
    task memory (set spark.sql.execution.arrow.maxRecordsPerBatch
    accordingly for real media; repartition upstream so a task holds
    O(batch) payloads)."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for start in range(0, len(pdf), batch_rows):
                chunk = pdf.iloc[start : start + batch_rows]
                feats = [_fake_feature(p, dim) for p in chunk["payload"]]
                yield pd.DataFrame({
                    "media_id": chunk["media_id"].to_numpy(),
                    "kind": chunk["kind"].to_numpy(),
                    "n_bytes": [len(p) for p in chunk["payload"]],
                    "feature": [f.tolist() for f in feats],
                })

    return media.mapInPandas(fn, schema=FEATURE_SCHEMA)


HEAD_BYTES_SCHEMA = "media_id long, n_bytes int, head_bytes array<int>"


def payload_head_bytes(
    media: DataFrame, id_col: str = "media_id", payload: str = "payload",
    dim: int = 8, batch_rows: int = 64,
) -> DataFrame:
    """Oracle-able twin of extract_features: the "feature" is the first
    ``dim`` raw payload bytes — semantically trivial by design so the
    driver's DuckDB gate can verify the ENTIRE binary mapInPandas path
    (Arrow binary transfer, chunked batching, schema) value-exactly,
    which the stubbed codec step otherwise shields from the oracle.
    Same batch-shape controls as extract_features."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for start in range(0, len(pdf), batch_rows):
                chunk = pdf.iloc[start : start + batch_rows]
                payloads = [p if p is not None else b"" for p in chunk[payload]]
                yield pd.DataFrame({
                    "media_id": chunk[id_col].to_numpy(),
                    "n_bytes": [len(p) for p in payloads],
                    "head_bytes": [
                        np.frombuffer(p[:dim], dtype=np.uint8).astype(np.int32)
                        for p in payloads
                    ],
                })

    return media.mapInPandas(fn, schema=HEAD_BYTES_SCHEMA)


def frame_sample_plan(media: DataFrame, every_n: int = 10) -> DataFrame:
    """Frame-sampling plan for video rows: one row per sampled frame
    index (the decode of each frame is the stubbed step). Pure column
    expr — the explode happens before any Python."""
    vids = media.filter(F.col("kind") == "video")
    return vids.select(
        "media_id",
        F.explode(
            F.sequence(F.lit(0), F.col("n_frames") - 1, F.lit(every_n))
        ).alias("frame_idx"),
    )
