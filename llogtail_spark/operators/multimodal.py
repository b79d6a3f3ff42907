"""Multimodal column plumbing: image/audio/video as opaque binary
columns with typed metadata.

The decode kernels themselves are STUBBED: every byte-level decode is
a clearly-marked deterministic fake derived from xxhash-like mixing of
the payload — so the Spark-side plumbing (schema, Arrow batch shape,
mapInPandas signatures, partitioning) is fully real and testable, and
swapping in a real decoder (`PIL`, `soundfile`) changes one function.

Scale shape: all operators are mapInPandas over binary columns —
payload bytes never leave the executor, never shuffle (feature
extraction projects them away before any wide stage), and batch sizes
are bounded by arrow.maxRecordsPerBatch so a partition of 100 MB
videos cannot blow executor memory.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.StringType(), False),
        T.StructField("kind", T.StringType(), False),  # image|audio|video
        T.StructField("payload", T.BinaryType(), True),  # opaque bytes
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("n_frames", T.IntegerType(), True),
        T.StructField("sample_rate", T.IntegerType(), True),
        T.StructField("source", T.StringType(), True),
    ]
)

# sha256 stub digest = 32 bytes = 8 big-endian uint32 lanes. sha256
# (not blake2b) so an independent SQL engine can recompute the exact
# stub features for oracle verification (DuckDB ships sha256).
FEATURE_DIM = 8


def _digest_lanes(payload: bytes) -> list[int]:
    """STUB decode kernel: 8 big-endian uint32s of sha256(payload) —
    deterministic, engine-portable stand-in for a real encoder."""
    d = hashlib.sha256(payload).digest()
    return [int.from_bytes(d[4 * i: 4 * i + 4], "big") for i in range(FEATURE_DIM)]


def _fake_pixels(payload: bytes, width: int, height: int) -> np.ndarray:
    """DETERMINISTIC FAKE decode: derive a pixel grid from a digest of
    the payload. Stands in for PIL.Image.open(...); same signature
    contract (H x W x 3 uint8)."""
    seed = int.from_bytes(hashlib.blake2b(payload, digest_size=8).digest(), "big")
    rng = np.random.default_rng(seed)
    return rng.integers(0, 256, size=(height, width, 3), dtype=np.uint8)


def synth_media(spark, n: int = 64, seed: int = 42) -> DataFrame:
    """Deterministic fake media table matching MEDIA_SCHEMA."""
    rng = np.random.default_rng(seed)
    kinds = ["image", "audio", "video"]
    rows = []
    for i in range(n):
        kind = kinds[i % 3]
        payload = bytes(rng.integers(0, 256, size=int(rng.integers(256, 2048)), dtype=np.uint8))
        rows.append(
            (
                f"m{i:05d}",
                kind,
                payload,
                int(rng.integers(16, 65)) if kind != "audio" else None,
                int(rng.integers(16, 65)) if kind != "audio" else None,
                int(rng.integers(8, 65)) if kind == "video" else None,
                16000 if kind == "audio" else None,
                f"shard{i % 4}",
            )
        )
    return spark.createDataFrame(rows, MEDIA_SCHEMA)


def extract_features(df: DataFrame) -> DataFrame:
    """payload -> fixed-dim feature vector (array<float>), dropping the
    payload before anything wide happens downstream.

    Output: (media_id, kind, source, features array<float>).
    """
    schema = T.StructType(
        [
            T.StructField("media_id", T.StringType()),
            T.StructField("kind", T.StringType()),
            T.StructField("source", T.StringType()),
            T.StructField("features", T.ArrayType(T.FloatType())),
        ]
    )

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            # the per-payload digest IS the stub decode kernel (a real
            # impl runs the vision/audio model here); everything around
            # it stays columnar
            feats = [
                None if p is None
                else (np.asarray(_digest_lanes(bytes(p)), dtype=np.float64)
                      / 2**32).astype(np.float32)
                for p in pdf["payload"]
            ]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "source": pdf["source"],
                    "features": feats,
                }
            )

    return df.mapInPandas(op, schema)


def media_digest_features(df: DataFrame) -> DataFrame:
    """Integer-lane twin of extract_features for exact cross-engine
    verification: (media_id, kind, source, payload_bytes,
    features array<long>) where features are the 8 big-endian uint32
    lanes of sha256(payload). Same mapInPandas plumbing (payload never
    leaves the executor, projected away before anything wide)."""
    schema = T.StructType(
        [
            T.StructField("media_id", T.StringType()),
            T.StructField("kind", T.StringType()),
            T.StructField("source", T.StringType()),
            T.StructField("payload_bytes", T.LongType()),
            T.StructField("features", T.ArrayType(T.LongType())),
        ]
    )

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = [None if p is None else bytes(p) for p in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "source": pdf["source"],
                    "payload_bytes": pd.Series(
                        [None if p is None else len(p) for p in payloads],
                        dtype="object",
                    ),
                    "features": [
                        None if p is None else _digest_lanes(p) for p in payloads
                    ],
                }
            )

    return df.mapInPandas(op, schema)


def resize_images(df: DataFrame, out_w: int = 32, out_h: int = 32) -> DataFrame:
    """Decode -> nearest-neighbor resize -> re-encode (raw RGB bytes).

    Output: input columns with payload/width/height replaced. Non-image
    rows pass through untouched.
    """

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        grid_cache: dict[tuple[int, int], tuple[np.ndarray, np.ndarray]] = {}
        for pdf in batches:
            # columnar pass (no iterrows/.at): the per-payload decode is
            # the stub kernel; the resize index grids are numpy and
            # cached per source geometry
            new_p, new_w, new_h = [], [], []
            for kind, payload, w, h in zip(
                pdf["kind"], pdf["payload"], pdf["width"], pdf["height"]
            ):
                if kind != "image" or payload is None:
                    new_p.append(payload)
                    new_w.append(w)
                    new_h.append(h)
                    continue
                w, h = int(w), int(h)  # nullable ints arrive as float64
                grids = grid_cache.get((w, h))
                if grids is None:
                    grids = grid_cache[(w, h)] = (
                        np.arange(out_h) * h // out_h,
                        np.arange(out_w) * w // out_w,
                    )
                px = _fake_pixels(bytes(payload), w, h)
                new_p.append(px[np.ix_(*grids)].tobytes())
                new_w.append(out_w)
                new_h.append(out_h)
            out = pdf.copy()
            out["payload"] = pd.Series(new_p, index=pdf.index, dtype="object")
            out["width"] = pd.Series(new_w, index=pdf.index, dtype=pdf["width"].dtype)
            out["height"] = pd.Series(new_h, index=pdf.index, dtype=pdf["height"].dtype)
            yield out

    return df.mapInPandas(op, MEDIA_SCHEMA)


def sample_frames(df: DataFrame, every: int = 8) -> DataFrame:
    """Video -> one output row per sampled frame index (no decode of
    unsampled frames — the stub mirrors a seek-based reader).

    Output: (media_id, frame_idx, frame_payload).
    """
    schema = T.StructType(
        [
            T.StructField("media_id", T.StringType()),
            T.StructField("frame_idx", T.IntegerType()),
            T.StructField("frame_payload", T.BinaryType()),
        ]
    )

    def op(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            vids = pdf[pdf["kind"] == "video"]
            # frame-index expansion as one vectorized repeat/concat
            # pass; only the per-frame digest (the stub decode kernel,
            # standing in for a seek-based frame reader) touches bytes
            n = vids["n_frames"].fillna(0).astype(np.int64).to_numpy()
            counts = (n + every - 1) // every
            ids = np.repeat(vids["media_id"].to_numpy(), counts)
            offs = np.arange(int(counts.sum())) - np.repeat(
                np.cumsum(counts) - counts, counts
            )
            idxs = (offs * every).astype(np.int32)
            payloads = np.repeat(vids["payload"].to_numpy(), counts)
            # ASCII frame suffix (payload + "#idx") so an independent
            # SQL engine can recompute the exact stub digests: DuckDB's
            # sha256 is VARCHAR-only, which a raw-byte suffix would
            # break (the digest is a STUB for a seek-based reader —
            # the suffix choice is arbitrary, determinism is the spec)
            frames = [
                hashlib.sha256(
                    bytes(p) + b"#" + str(int(fi)).encode()
                ).digest()
                for p, fi in zip(payloads, idxs)
            ]
            yield pd.DataFrame(
                {
                    "media_id": pd.Series(ids, dtype="object"),
                    "frame_idx": pd.Series(idxs, dtype="int32"),
                    "frame_payload": pd.Series(frames, dtype="object"),
                }
            )

    return df.mapInPandas(op, schema)


def media_stats(df: DataFrame) -> DataFrame:
    """Per (kind, source) rollup over metadata only — Catalyst-only,
    payload column pruned out of the scan entirely."""
    return df.groupBy("kind", "source").agg(
        F.count("*").alias("n"),
        F.sum(F.length("payload")).alias("payload_bytes"),
        F.avg("width").alias("avg_width"),
    )
