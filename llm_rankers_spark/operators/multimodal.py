"""Multimodal column plumbing: image/audio/video as opaque ``binary``
columns with typed metadata.

The decode kernels (PIL/librosa/ffmpeg) are NOT in this container, so the
codec step is stubbed behind ``decoder=`` — either a clearly-marked
``NotImplementedError`` (default) or a deterministic fake for tests. The
Spark-side plumbing is real and tested: schema, Arrow batch shape,
``mapInPandas`` signature, partition sizing — swapping in a real decoder
changes one function, not the plan.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

MEDIA_SCHEMA = (
    "media_id string, kind string, payload binary, mime string, width int, height int, duration_ms int"
)
FEATURE_SCHEMA = "media_id string, kind string, n_bytes long, sha256 string, feature array<float>"


def real_decoder(payload: bytes, kind: str) -> np.ndarray:  # pragma: no cover
    """Placeholder for the real decode kernel (image/audio libs absent in
    this environment)."""
    raise NotImplementedError(
        "media decode requires PIL/librosa/ffmpeg which are not installed; "
        "pass decoder=fake_decoder for deterministic plumbing tests"
    )


def fake_decoder(payload: bytes, kind: str) -> np.ndarray:
    """Deterministic stand-in: 8 floats derived from the payload digest."""
    d = hashlib.sha256(payload or b"").digest()
    return (np.frombuffer(d[:32], dtype=np.uint8).reshape(8, 4).sum(axis=1) / 255.0).astype(np.float32)


def extract_features(media: DataFrame, decoder=real_decoder) -> DataFrame:
    """Decode + featurize media rows via ``mapInPandas``.

    Shuffle-free: the Arrow-batch iterator bounds memory per task
    regardless of partition size, so a map-only operator pays no corpus
    shuffle for batch balance.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = [decoder(p, k).tolist() for p, k in zip(pdf["payload"], pdf["kind"])]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "n_bytes": [len(p or b"") for p in pdf["payload"]],
                    "sha256": [hashlib.sha256(p or b"").hexdigest() for p in pdf["payload"]],
                    "feature": feats,
                }
            )

    return media.mapInPandas(run, schema=FEATURE_SCHEMA)
