"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Images/audio/video travel as ``binary`` columns with a typed metadata
struct; decode and feature extraction run as Arrow-batched
``mapInPandas`` operators. The decode step itself is STUBBED in this
container (no image/audio libs): ``decode_image``/``decode_audio`` raise
``NotImplementedError`` unless ``fake=True``, in which case a
deterministic fake (hash-derived) decode stands in so the Spark-side
plumbing — schema, partitioning, UDF signature, Arrow batch shape — is
real and tested end to end.
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame

MEDIA_SCHEMA = (
    "media_id long, kind string, payload binary, "
    "meta struct<width:int, height:int, sample_rate:int, n_frames:int>"
)


def synth_media(spark, n: int = 64, seed: int = 42) -> DataFrame:
    """Deterministic fake media table with plausible payload sizes."""

    def _gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for i in pdf["id"]:
                i = int(i)
                h = hashlib.blake2b(f"{seed}|{i}".encode(), digest_size=32).digest()
                kind = ["image", "audio", "video"][i % 3]
                payload = (h * ((64 + i % 128) // 32 + 1))[: 64 + i % 128]
                rows.append(
                    {
                        "media_id": i,
                        "kind": kind,
                        "payload": payload,
                        "meta": {
                            "width": 32 + (i % 8) * 16 if kind != "audio" else None,
                            "height": 32 + (i % 5) * 16 if kind != "audio" else None,
                            "sample_rate": 16000 if kind == "audio" else None,
                            "n_frames": 30 * (1 + i % 10) if kind == "video" else None,
                        },
                    }
                )
            yield pd.DataFrame(rows)

    return spark.range(0, n, numPartitions=4).mapInPandas(_gen, schema=MEDIA_SCHEMA)


def decode_image(payload: bytes, fake: bool = False):
    """Decode an image payload. STUB: the real implementation needs an
    imaging library not present in this container."""
    if not fake:
        raise NotImplementedError(
            "image decode requires an imaging library (not in this container); "
            "pass fake=True for the deterministic test double"
        )
    import numpy as np

    h = hashlib.blake2b(payload, digest_size=16).digest()
    rng_vals = np.frombuffer(
        hashlib.blake2b(h, digest_size=48).digest(), dtype=np.uint8
    )
    return rng_vals.reshape(4, 4, 3)  # fake 4x4 RGB


def extract_features(
    media: DataFrame, fake: bool = True, feature_dim: int = 8
) -> DataFrame:
    """media -> (media_id, kind, features array<float>): Arrow-batched
    feature extraction; the per-payload decode is the stub above."""

    def _feat(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            feats = []
            for payload in pdf["payload"]:
                if payload is None:
                    feats.append([0.0] * feature_dim)
                    continue
                if fake:
                    h = hashlib.blake2b(bytes(payload), digest_size=feature_dim * 4).digest()
                    v = np.frombuffer(h, dtype=np.uint32).astype(np.float64)
                    v = v / np.linalg.norm(v)
                    feats.append([float(x) for x in v[:feature_dim]])
                else:  # pragma: no cover
                    raise NotImplementedError("real decode not available here")
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "features": feats,
                }
            )

    return media.mapInPandas(
        _feat, schema="media_id long, kind string, features array<double>"
    )
