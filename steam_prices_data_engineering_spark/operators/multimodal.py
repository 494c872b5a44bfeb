"""Multimodal column plumbing (north-star extension, SURVEY.md §2b).

Design: media travel as opaque `binary` payloads next to typed metadata
columns in one schema; decode/feature-extract runs as Arrow-batched
`mapInPandas` so the Python stage processes whole columnar batches (never
row-at-a-time). Partitioning is inherited from the upstream source — the
featurizer is narrow (no shuffle), so at 100 TB it scales with input splits.

The container has no image/audio codecs, so `featurize_bytes` is a
deterministic fake decoder that exercises the identical plumbing (schema
contract, Arrow batch shape, UDF signature) and is what the oracle checks;
a real decoder replaces the body of its `extract`.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("lang", T.StringType()),
        T.StructField("n_bytes", T.LongType()),
    ]
)


def with_binary_payload(documents: DataFrame) -> DataFrame:
    """Lift the documents table into the media schema: utf-8 bytes of the
    text as the opaque payload (stand-in for image/audio bytes)."""
    return documents.select(
        "doc_id",
        "lang",
        F.lit("text/plain").alias("media_type"),
        F.encode(F.col("text"), "UTF-8").alias("content"),
    )


def featurize_bytes(media: DataFrame) -> DataFrame:
    """Arrow-batched mapInPandas featurizer: payload -> byte length.

    Real decoders (PIL/librosa/ffmpeg) replace the body of `extract`
    one-for-one; the Spark-side contract (schemas, batching, no shuffle)
    is exactly this.
    """

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "lang": pdf["lang"],
                    "n_bytes": pdf["content"].map(len).astype("int64"),
                }
            )
            yield out

    return media.mapInPandas(extract, schema=FEATURE_SCHEMA)
