"""Multimodal column plumbing: image/audio/video as opaque binary
columns with typed metadata (task brief / SURVEY §2.8).

The container has no image/audio codecs, so the DECODE step is stubbed
behind ``DecoderRegistry`` (deterministic fake by default,
``NotImplementedError`` for real codecs) — but the Spark-side plumbing
is real and tested: schema contract, Arrow batch shape through
``mapInPandas`` and partition sizing.

Scale notes: binary payloads dominate row size — ``mapInPandas`` with
``spark.sql.execution.arrow.maxRecordsPerBatch`` tuned down keeps Arrow
batches under executor memory; feature extraction prunes the payload
column as early as possible (select only what the UDF needs).
"""

from __future__ import annotations

import hashlib
from typing import Callable, Iterator, Optional

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("byte_len", T.LongType(), False),
        T.StructField("sha1", T.StringType(), False),
        T.StructField("sha256", T.StringType(), False),
        T.StructField("features", T.ArrayType(T.FloatType()), True),
    ]
)


class DecoderRegistry:
    """Pluggable decoders keyed by media_type.

    Real codecs (PIL/librosa/ffmpeg) are not in this container — the
    default registry maps every type to :func:`fake_decode`
    (deterministic bytes → fixed-length feature vector) so the pipeline
    is fully testable; register a real decoder in production.
    """

    def __init__(self) -> None:
        self._decoders: dict[str, Callable[[bytes], np.ndarray]] = {}

    def register(self, media_type: str, fn: Callable[[bytes], np.ndarray]) -> None:
        self._decoders[media_type] = fn

    def get(self, media_type: str) -> Callable[[bytes], np.ndarray]:
        if media_type in self._decoders:
            return self._decoders[media_type]
        return fake_decode


def fake_decode(payload: bytes, n_features: int = 16) -> np.ndarray:
    """Deterministic fake 'decode': sha1-seeded feature vector.

    Stands in for decode+embed so partitioning/batching/schema paths are
    exercised end-to-end with stable outputs.
    """
    h = hashlib.sha1(payload).digest()
    raw = np.frombuffer((h * ((n_features * 4) // len(h) + 1))[: n_features * 4], dtype=np.uint32)
    return (raw % 1000).astype(np.float32) / 1000.0


def extract_features(
    df: DataFrame,
    payload_col: str = "payload",
    meta_col: str = "meta",
    id_col: str = "doc_id",
    registry: Optional[DecoderRegistry] = None,
    batch_size_hint: int = 256,
) -> DataFrame:
    """Decode/feature-extract via ``mapInPandas`` (Arrow batches).

    Output: FEATURE_SCHEMA (id, byte_len, sha1, sha256, features). The payload
    column is dropped on output — downstream stages never reshuffle
    blobs.
    """
    registry = registry or DecoderRegistry()

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            # vectorized over the batch (iterrows() is row-at-a-time
            # pandas — the slowest possible loop and defeats Arrow
            # batching): bulk-convert payloads once, then byte_len /
            # sha1 as list comprehensions over plain bytes. Python-level
            # looping is kept ONLY for the per-media-type decoder
            # dispatch, which is inherently per-row.
            payloads = [
                bytes(p) if p is not None else b"" for p in pdf[payload_col]
            ]
            metas = (
                m.get("media_type") if isinstance(m, dict) else None
                for m in pdf[meta_col]
            )
            feats = [
                registry.get(mt or "application/octet-stream")(p).tolist()
                if p
                else None
                for p, mt in zip(payloads, metas)
            ]
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col].to_numpy(),
                    "byte_len": [len(p) for p in payloads],
                    "sha1": [hashlib.sha1(p).hexdigest() for p in payloads],
                    # sha256 doubles as the oracle handle: DuckDB has no
                    # sha1(), so the q22 correctness twin keys on this
                    "sha256": [hashlib.sha256(p).hexdigest() for p in payloads],
                    "features": feats,
                }
            )

    pruned = df.select(id_col, payload_col, meta_col)
    return pruned.mapInPandas(run, schema=FEATURE_SCHEMA)


def synth_assets(spark, n: int = 64) -> DataFrame:
    """Deterministic fake multimodal table for tests: payload bytes are
    a function of the id; media types cycle through the allowed set.

    Built JVM-side from ``spark.range`` — a ``createDataFrame`` over
    Python row objects re-runs the pickle → Python-worker pipeline on
    EVERY action (measured 1.9 s per count() for 64 rows with the
    nested struct + binary payload; the whole of q22's floor), while
    the expression-built frame evaluates in codegen. Values are
    identical: the payload is ASCII so the string→binary cast yields
    the same bytes as ``(f"asset-{i:06d}".encode() * 7)[:100]``."""
    i = F.col("id")
    is_img = (i % 3) < 2
    is_audio = (i % 3) == 2
    null_i = F.lit(None).cast("int")
    return (
        spark.range(n)
        .coalesce(4)
        .select(
            F.format_string("doc-%06d", i).alias("doc_id"),
            F.substring(
                F.repeat(F.format_string("asset-%06d", i), 7), 1, 100
            )
            .cast("binary")
            .alias("payload"),
            F.struct(
                F.element_at(
                    F.array(
                        F.lit("image/png"),
                        F.lit("image/jpeg"),
                        F.lit("audio/wav"),
                    ),
                    (i % 3).cast("int") + 1,
                ).alias("media_type"),
                F.when(is_img, (i + 32).cast("int"))
                .otherwise(null_i)
                .alias("width"),
                F.when(is_img, (i + 24).cast("int"))
                .otherwise(null_i)
                .alias("height"),
                F.when(is_img, F.lit(3)).otherwise(F.lit(1)).alias("n_channels"),
                F.when(is_audio, i + 1000)
                .otherwise(F.lit(None).cast("long"))
                .alias("duration_ms"),
                F.when(is_audio, F.lit(16000))
                .otherwise(null_i)
                .alias("sample_rate"),
            ).alias("meta"),
        )
    )
