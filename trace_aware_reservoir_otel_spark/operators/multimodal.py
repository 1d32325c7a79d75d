"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Training-data pipelines carry image/audio/video as `binary` columns with
typed metadata structs; featurization runs as an Arrow-batched pandas UDF
over mapInPandas. No image/audio codec library is a dependency, so the
featurizer is a deterministic stand-in (`_fake_feature`), but everything
Spark-side — schema, batching, partitioning, UDF signatures — is real and
tested (the `multimodal_media_stats` query).

Scale notes: binary payloads are processed strictly partition-locally
(mapInPandas — no shuffle); `spark.sql.execution.arrow.maxRecordsPerBatch`
bounds per-batch memory for large blobs; metadata-only predicates (media
type, size) prune before any decode work.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, functions as F, types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("media_type", T.StringType(), False),  # image|audio|video
        T.StructField("payload", T.BinaryType(), True),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("duration_ms", T.LongType(), True),
    ]
)

FEATURE_SCHEMA = T.StructType(
    list(MEDIA_SCHEMA.fields)
    + [
        T.StructField("n_bytes", T.LongType(), True),
        T.StructField("payload_hash", T.LongType(), True),
        T.StructField("feature", T.ArrayType(T.FloatType()), True),
    ]
)

_FEATURE_DIM = 8


def synthesize_media(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    portable: bool = False,
    seed: int = 42,
) -> DataFrame:
    """Deterministic fake media table from a text table: payload = utf-8
    bytes of the text, media_type/dims derived by hash. Stands in for a
    real binary ingest (S3 blobs / Iceberg binary columns).

    `portable=True` derives media_type/dims from the md5-based `pbig`
    instead of xxhash64, so a DuckDB oracle can replay the downstream
    media_stats aggregation bit-exactly (payload_hash is md5-based in the
    featurizer already)."""
    if portable:
        from trace_aware_reservoir_otel_spark.functions.hashing import pbig

        h = pbig(F.col(text_col), seed)
    else:
        h = F.xxhash64(F.col(text_col))
    mt = F.element_at(
        F.array(F.lit("image"), F.lit("audio"), F.lit("video")),
        (F.pmod(h, F.lit(3)) + 1).cast("int"),
    )
    return df.select(
        F.col(id_col).cast("long").alias("media_id"),
        mt.alias("media_type"),
        F.encode(F.col(text_col), "utf-8").alias("payload"),
        F.when(mt == "image", (F.pmod(h, 1024) + 1).cast("int")).alias("width"),
        F.when(mt == "image", (F.pmod(h, 768) + 1).cast("int")).alias("height"),
        F.when(mt != "image", (F.pmod(h, 60000) + 1).cast("long")).alias("duration_ms"),
    )


def _fake_feature(payload: bytes) -> "list[float]":
    # deterministic stand-in for a real decoder+featurizer: byte-histogram
    # folded to _FEATURE_DIM buckets, normalized. Replace with PIL/ffmpeg
    # kernels where available.
    if payload is None:
        return None
    buckets = [0] * _FEATURE_DIM
    for b in payload:
        buckets[b % _FEATURE_DIM] += 1
    total = float(len(payload)) or 1.0
    return [c / total for c in buckets]


def extract_features(df: DataFrame, batch_hint: "int | None" = None) -> DataFrame:
    """mapInPandas featurization: Arrow batches in, per-row features out.

    Partition-local (no shuffle); payload bytes never leave the executor.
    """

    def featurize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        def stable_hash(p):
            # process-independent (unlike builtin hash with PYTHONHASHSEED)
            if p is None:
                return None
            return int.from_bytes(hashlib.md5(bytes(p)).digest()[:8], "big") >> 1

        for pdf in batches:
            pdf = pdf.copy()
            pdf["n_bytes"] = pdf["payload"].map(
                lambda p: len(p) if p is not None else None
            ).astype("Int64")
            pdf["payload_hash"] = pdf["payload"].map(stable_hash).astype("Int64")
            pdf["feature"] = pdf["payload"].map(_fake_feature)
            yield pdf

    return df.mapInPandas(featurize, schema=FEATURE_SCHEMA)


def media_stats(features: DataFrame) -> DataFrame:
    """Metadata aggregation after featurize: per media_type counts/sizes."""
    return features.groupBy("media_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_items"),
        F.sum("n_bytes").cast("long").alias("total_bytes"),
        F.countDistinct("payload_hash").cast("long").alias("distinct_payloads"),
    )
