"""Multimodal column plumbing: image/audio/video as opaque binary + metadata.

The Spark-side dataflow is real and tested — schemas, Arrow batch shapes,
partitioning, UDF signatures. The feature encoder is STUBBED: no decode libs
(PIL/ffmpeg/librosa) are bundled, so `extract_features` produces
deterministic fake features derived from the bytes (`_fake_feature` is where
a real image/audio decoder would plug in).

Schema conventions:
  media(file_id long, kind string, payload binary,
        meta struct<width int, height int, sample_rate int, duration_ms int>)
  features(file_id long, kind string, feature array<float>, feat_dim int)
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

FEATURE_SCHEMA = "file_id long, kind string, feature array<float>, feat_dim int"

FEAT_DIM = 32


def _fake_feature(payload: bytes, dim: int = FEAT_DIM) -> np.ndarray:
    """Deterministic stand-in for a real encoder: bytes -> unit vector.
    Same payload ⇒ same vector on any worker (sha256-seeded)."""
    seed = int.from_bytes(hashlib.sha256(payload or b"").digest()[:8], "little")
    rng = np.random.Generator(np.random.Philox(seed))
    v = rng.standard_normal(dim).astype(np.float32)
    return v / np.linalg.norm(v)


def extract_features(media: DataFrame) -> DataFrame:
    """mapInPandas feature extraction; one Arrow batch per invocation.

    At scale: payloads stay executor-side (never collected); upstream should
    `repartition` by size buckets so batches have comparable byte volume
    (hot 4K-video partitions starve otherwise).
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = [ _fake_feature(p) for p in pdf["payload"] ]
            yield pd.DataFrame(
                {
                    "file_id": pdf["file_id"],
                    "kind": pdf["kind"],
                    "feature": [f.tolist() for f in feats],
                    "feat_dim": FEAT_DIM,
                }
            )

    return media.mapInPandas(run, FEATURE_SCHEMA)


def media_dedup_features(media: DataFrame) -> DataFrame:
    """Near-dup key for media: exact sha256 + stub-feature vector for
    embedding-cosine dedup (operators/similarity.py handles the rest)."""
    feats = extract_features(media)
    shas = media.select(
        "file_id", F.sha2(F.col("payload"), 256).alias("payload_sha")
    )
    return feats.join(shas, "file_id")
