"""Multimodal column plumbing: image/audio/video as opaque binary columns
with typed metadata, processed via Arrow-batched ``mapInPandas``.

The feature kernel is a deterministic byte-hash stand-in: it accepts ANY
payload (the opaque-bytes oracle corpus requires that), so the Spark-side
contract — schemas, batch iteration, partition invariance — is testable
without codec libraries.
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.StringType()),
        T.StructField("kind", T.StringType()),  # image | audio | video
        T.StructField("payload", T.BinaryType()),
        T.StructField("mime", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("duration_ms", T.LongType()),
    ]
)

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.StringType()),
        T.StructField("kind", T.StringType()),
        T.StructField("payload_sha256", T.StringType()),
        T.StructField("payload_bytes", T.LongType()),
        T.StructField("feature", T.ArrayType(T.FloatType())),
    ]
)


def _fake_feature(payload: bytes, dim: int = 8) -> list[float]:
    """Deterministic stand-in feature: bytes of sha256 scaled to [0, 1)."""
    h = hashlib.sha256(payload or b"").digest()
    return [h[i] / 256.0 for i in range(dim)]


def extract_features(df: DataFrame, feature_dim: int = 8) -> DataFrame:
    """mapInPandas over media batches -> per-item feature rows.

    The Arrow batch shape is the real contract being tested: binary columns
    arrive as bytes objects, output must match FEATURE_SCHEMA exactly, and
    partition boundaries must not affect results (pure per-row function).
    """

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = pdf["payload"]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "payload_sha256": payloads.map(
                        lambda b: hashlib.sha256(b or b"").hexdigest()
                    ),
                    "payload_bytes": payloads.map(
                        lambda b: len(b or b"")
                    ).astype("int64"),
                    "feature": payloads.map(
                        lambda b: _fake_feature(b, feature_dim)
                    ),
                }
            )

    return df.mapInPandas(fn, FEATURE_SCHEMA)
