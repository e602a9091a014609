"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Images/audio/video ride through the engine as ``binary`` columns with a typed
metadata struct. The Spark-side plumbing here is real and tested — schema,
Arrow batching, ``mapInPandas`` signatures, partition sizing. No codec ships:
feature extraction runs a deterministic stand-in embedding
(``_fake_feature_vec``) over the identical batch path, so a real decoder and
model would replace that one function.

Scale design: payloads never pass through Python row-at-a-time — ``mapInPandas``
moves whole Arrow record batches; feature extraction is vectorized over the
batch (hashlib per payload is the stand-in for the vectorized codec). Partition
budget: keep ``spark.sql.files.maxPartitionBytes`` ≲ executor-memory/8 when
payloads are MB-scale.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    FloatType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("kind", StringType()),  # 'image' | 'audio' | 'video' | 'blob'
        StructField("payload", BinaryType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("n_bytes", LongType()),
    ]
)

FEATURE_SCHEMA = StructType(
    [
        StructField("media_id", LongType()),
        StructField("kind", StringType()),
        StructField("n_bytes", LongType()),
        StructField("digest", StringType()),
        StructField("features", ArrayType(FloatType())),
    ]
)


def attach_binary(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Documents → media rows: utf-8 payload bytes standing in for real blobs.

    (Real pipelines read payloads via ``spark.read.format('binaryFile')`` or an
    Iceberg blob column; the downstream plumbing is identical.)
    """
    payload = F.encode(F.col(text_col), "utf-8")
    return docs.select(
        F.col(id_col).cast("long").alias("media_id"),
        F.lit("blob").alias("kind"),
        payload.alias("payload"),
        F.lit(None).cast("int").alias("width"),
        F.lit(None).cast("int").alias("height"),
        F.octet_length(payload).cast("long").alias("n_bytes"),
    )


def _fake_feature_vec(payload: bytes, dim: int) -> np.ndarray:
    """Deterministic stand-in for a codec+model embedding: sha256-seeded."""
    seed = int.from_bytes(hashlib.sha256(payload).digest()[:8], "big")
    rng = np.random.default_rng(seed)
    return rng.standard_normal(dim).astype(np.float32)


def extract_features(media: DataFrame, dim: int = 16) -> DataFrame:
    """Arrow-batched feature extraction over binary payloads (mapInPandas).

    The batch path (schema in → record batches → schema out) is the real
    production shape; only ``_fake_feature_vec`` would be swapped for a codec.
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            payloads = pdf["payload"]
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "n_bytes": payloads.map(len).astype("int64"),
                    "digest": payloads.map(lambda b: hashlib.sha256(bytes(b)).hexdigest()[:16]),
                    "features": payloads.map(lambda b: _fake_feature_vec(bytes(b), dim)),
                }
            )

    return media.mapInPandas(run, schema=FEATURE_SCHEMA)


def media_metadata(media: DataFrame) -> DataFrame:
    """Pure-SQL metadata pass (no Python): per-kind byte stats."""
    return media.groupBy("kind").agg(
        F.count("*").alias("n"),
        F.sum("n_bytes").alias("total_bytes"),
        F.min("n_bytes").alias("min_bytes"),
        F.max("n_bytes").alias("max_bytes"),
    )
