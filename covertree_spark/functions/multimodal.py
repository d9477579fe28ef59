"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Image/audio/video decode libraries are NOT in this environment, so the
decode kernels are stubs behind ``deterministic_fake`` (default in
tests) / ``NotImplementedError`` (real mode). Everything Spark-side is
real and tested: schemas, Arrow batch shapes, partitioning, UDF
signatures — swap the kernel body for Pillow/ffmpeg on a real cluster
and nothing else changes.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

IMAGE_META_SCHEMA = (
    "id bigint, width int, height int, channels int, format string, "
    "size_bytes bigint, content_sha256 string"
)

FEATURE_SCHEMA = "id bigint, feat array<float>"


def _digest_matrix(payloads: list[bytes]) -> np.ndarray:
    """(n, 32) uint8 sha256 digests — ONE np.frombuffer over the
    concatenated digests; per-payload hashing is a C call (a real
    decoder would instead np.frombuffer-peek each format header)."""
    return np.frombuffer(
        b"".join(hashlib.sha256(p).digest() for p in payloads), dtype=np.uint8
    ).reshape(len(payloads), 32)


def image_metadata(
    df: DataFrame, binary_col: str = "html", id_col: str = "id",
    deterministic_fake: bool = True,
) -> DataFrame:
    """binary payload -> typed metadata row (decode headers only —
    the cheap pass a real pipeline runs before any pixel work).
    Vectorized across the batch like image_features: one digest
    matrix, all derived columns as array expressions — no per-row
    Python loop (round-2 VERDICT #7)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            if not deterministic_fake:
                raise NotImplementedError(
                    "real image decoding requires Pillow/libvips — "
                    "not available in this environment"
                )
            payloads = [bytes(p) for p in pdf[binary_col]]
            digs = _digest_matrix(payloads)
            lens = np.fromiter((len(p) for p in payloads), dtype=np.int64,
                               count=len(payloads))
            yield pd.DataFrame(
                {
                    "id": pdf[id_col].to_numpy(),
                    "width": (64 + digs[:, 0] % 192).astype(np.int32),
                    "height": (64 + digs[:, 1] % 192).astype(np.int32),
                    "channels": np.full(len(payloads), 3, dtype=np.int32),
                    "format": "fake",
                    "size_bytes": lens,
                    "content_sha256": [d.tobytes().hex() for d in digs],
                }
            )

    return df.select(id_col, binary_col).mapInPandas(run, schema=IMAGE_META_SCHEMA)


def image_features(
    df: DataFrame, binary_col: str = "html", id_col: str = "id",
    d: int = 16, deterministic_fake: bool = True,
) -> DataFrame:
    """binary payload -> feature vector (the embed step). Fake kernel:
    seeded byte-histogram projection — deterministic, unit-norm
    float32, same shape contract as a real CNN/CLIP embedding."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        rng_proj = np.random.default_rng(42).normal(size=(256, d))
        for pdf in batches:
            if pdf.empty:
                continue
            if not deterministic_fake:
                raise NotImplementedError("real decoder unavailable")
            # vectorized across the batch: one flat byte buffer, segment
            # ids, a single 2-D bincount, one GEMM for the projection
            payloads = [bytes(p) for p in pdf[binary_col]]
            lens = np.fromiter((len(p) for p in payloads), dtype=np.int64,
                               count=len(payloads))
            flat = np.frombuffer(b"".join(payloads), dtype=np.uint8)
            seg = np.repeat(np.arange(len(payloads)), lens)
            hist = np.bincount(
                seg * 256 + flat, minlength=len(payloads) * 256
            ).reshape(len(payloads), 256).astype(np.float64)
            V = hist @ rng_proj
            nrm = np.linalg.norm(V, axis=1, keepdims=True)
            V = np.divide(V, nrm, out=V, where=nrm > 0)
            yield pd.DataFrame(
                {"id": pdf[id_col].to_numpy(), "feat": list(V.astype(np.float32))}
            )

    return df.select(id_col, binary_col).mapInPandas(run, schema=FEATURE_SCHEMA)


def frame_sample_plan(
    df: DataFrame, binary_col: str = "html", id_col: str = "id",
    every_n: int = 10, deterministic_fake: bool = True,
) -> DataFrame:
    """Video frame-sampling plumbing: one output row per sampled frame
    index (explode shape). Fake kernel: frame count from content hash."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            if not deterministic_fake:
                raise NotImplementedError("real decoder unavailable")
            payloads = [bytes(p) for p in pdf[binary_col]]
            digs = _digest_matrix(payloads)
            # columnar explode: frame counts -> repeat + offset arith,
            # no per-payload Python loop
            n_frames = 30 + digs[:, 2].astype(np.int64) % 270
            counts = (n_frames + every_n - 1) // every_n
            reps = np.repeat(np.arange(len(counts)), counts)
            starts = np.concatenate([[0], np.cumsum(counts)[:-1]])
            pos = np.arange(int(counts.sum())) - starts[reps]
            yield pd.DataFrame(
                {
                    "id": pdf[id_col].to_numpy()[reps],
                    "frame_idx": (pos * every_n).astype(np.int32),
                }
            )

    return df.select(id_col, binary_col).mapInPandas(
        run, schema="id bigint, frame_idx int"
    )
