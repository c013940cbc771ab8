"""Multimodal column plumbing: images/audio/video as opaque binary
columns with typed metadata.

The Spark-side machinery is real and tested — binary columns, metadata
structs, Arrow-batched ``mapInPandas`` byte profiling with an explicit
schema, JVM-side payload dedup.  No codec step (JPEG/PNG/audio decode)
runs here: the features are library-free byte statistics, so the full
path is exercisable without decode libraries.

At 100 TB: binaries ride the same parquet files as scalars (no side
files to track); `maxRecordsPerFile` keeps row groups bounded; feature
extraction is embarrassingly parallel over partitions with Arrow batch
transfer (no per-row Python overhead).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def with_binary_payload(
    df: DataFrame, source_col: str, out: str = "payload"
) -> DataFrame:
    """Materialize a string column as a binary payload column (stands in
    for reading real media bytes; same column type either way)."""
    return df.withColumn(out, F.encode(F.col(source_col), "UTF-8"))


def with_media_metadata(
    df: DataFrame,
    payload_col: str = "payload",
    media_type: str = "image",
    fmt: str = "raw",
    out: str = "media_meta",
) -> DataFrame:
    """Typed metadata struct computed JVM-side (no Python)."""
    return df.withColumn(
        out,
        F.struct(
            F.octet_length(F.col(payload_col)).cast("bigint").alias("n_bytes"),
            F.lit(media_type).alias("media_type"),
            F.lit(fmt).alias("format"),
            F.md5(F.col(payload_col)).alias("checksum"),
        ),
    )


PROFILE_SCHEMA = "doc_id bigint, n_bytes bigint, n_spaces bigint, sha256_hex string"


def byte_feature_profile(
    df: DataFrame, id_col: str = "doc_id", payload_col: str = "payload"
) -> DataFrame:
    """Arrow-batched byte profile whose every output column is
    independently recomputable in ANSI SQL (``octet_length``, space
    count, ``sha256``) — the oracle-checkable face of the
    ``mapInPandas`` path: explicit schema, one Python worker per
    partition, Arrow transfer both ways."""
    import hashlib

    def profile_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            # NULL payload (failed fetch/decode) -> NULL features, NOT
            # the empty-payload profile: b"" is a real zero-byte object
            # with a well-defined sha256; None has no bytes to profile.
            payloads = list(pdf[payload_col])
            yield pd.DataFrame(
                {
                    "doc_id": pdf[id_col].astype("int64"),
                    "n_bytes": [None if p is None else len(p) for p in payloads],
                    # 0x20 never occurs inside a multi-byte UTF-8
                    # sequence, so the byte count equals the SQL
                    # character count of ' '.
                    "n_spaces": [
                        None if p is None else p.count(b" ") for p in payloads
                    ],
                    "sha256_hex": [
                        None if p is None else hashlib.sha256(p).hexdigest()
                        for p in payloads
                    ],
                }
            )

    return df.select(id_col, payload_col).mapInPandas(profile_batches, PROFILE_SCHEMA)


def payload_dedup_stats(
    df: DataFrame,
    payload_col: str = "payload",
    group_cols: tuple[str, ...] = ("source",),
) -> DataFrame:
    """Exact payload dedup accounting over a binary media column, per
    group: total payloads, distinct payloads, duplicate ratio, and
    the bytes a dedup pass would reclaim.

    All JVM-side: ``sha2(payload, 256)`` hashes the raw bytes in
    whole-stage codegen, so the shuffle keys are 32-byte digests, never
    the payloads themselves — at 100 TB the media bytes stay in their
    parquet row groups and only (group, digest, length) rows move.
    Two hash aggregations: (group, digest) -> occurrence count +
    payload length, then group -> the accounting.  NULL payloads hash
    to NULL and are excluded (no bytes to reclaim).  dup_bytes counts
    (occurrences - 1) x payload length per digest — exactly the bytes
    a keep-one-survivor dedup deletes."""
    hashed = df.where(F.col(payload_col).isNotNull()).select(
        *group_cols,
        F.sha2(F.col(payload_col), 256).alias("__sha"),
        F.octet_length(F.col(payload_col)).cast("bigint").alias("__nb"),
    )
    per_payload = hashed.groupBy(*group_cols, "__sha").agg(
        F.count(F.lit(1)).alias("__c"),
        F.min("__nb").alias("__len"),
    )
    return per_payload.groupBy(*group_cols).agg(
        F.sum("__c").cast("bigint").alias("n_payloads"),
        F.count(F.lit(1)).alias("n_distinct"),
        F.round(1.0 - F.count(F.lit(1)) / F.sum("__c"), 6).alias("dup_ratio"),
        F.sum((F.col("__c") - 1) * F.col("__len")).cast("bigint").alias("dup_bytes"),
    )


def payload_survivors(
    df: DataFrame,
    id_col: str = "doc_id",
    payload_col: str = "payload",
) -> DataFrame:
    """Keep-one-survivor exact payload dedup: the lowest ``id_col`` per
    distinct payload digest survives (deterministic, the same min-id
    rule the text dedup path uses).  NULL payloads duplicate nothing
    and pass through untouched — dedup removes duplicates, never
    payload-less rows.  One shuffle on the 32-byte digest; payload
    bytes never shuffle — the survivor's row is re-selected by an id
    join back to the source, which co-partitions on the id."""
    hashed = df.where(F.col(payload_col).isNotNull()).select(
        F.col(id_col), F.sha2(F.col(payload_col), 256).alias("__sha")
    )
    keep = hashed.groupBy("__sha").agg(F.min(id_col).alias(id_col))
    survivors = df.join(keep.select(id_col), id_col, "left_semi")
    return survivors.unionByName(df.where(F.col(payload_col).isNull()))
