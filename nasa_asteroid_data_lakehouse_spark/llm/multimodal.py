"""Multimodal column plumbing: images/audio/video as opaque binary
columns with typed metadata.

The Spark-side machinery is real and tested — binary columns, metadata
structs, Arrow-batched ``mapInPandas`` feature extraction with explicit
schemas, partition-friendly batch shapes.  The *codec* step (actual
JPEG/PNG/audio decode) is stubbed: the decode libraries aren't in this
container, so ``decode_image`` raises ``NotImplementedError`` unless a
decoder is injected, while ``extract_byte_features`` computes real
(library-free) content features so the full path is exercisable.

At 100 TB: binaries ride the same parquet files as scalars (no side
files to track); `maxRecordsPerFile` keeps row groups bounded; feature
extraction is embarrassingly parallel over partitions with Arrow batch
transfer (no per-row Python overhead).
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import numpy as np
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


def decode_image(payload: bytes, decoder: Callable[[bytes], np.ndarray] | None = None):
    """Decode one image payload to an HxWxC array.

    STUB: no image codec ships in this container.  Inject ``decoder``
    (e.g. PIL/cv2-backed) in a real deployment.
    """
    if decoder is None:
        raise NotImplementedError(
            "image decoding requires an injected decoder (PIL/cv2 not available)"
        )
    return decoder(payload)


FEATURE_SCHEMA = "doc_id bigint, n_bytes bigint, entropy double, mean_byte double, histogram array<double>"


def extract_byte_features(
    df: DataFrame,
    id_col: str = "doc_id",
    payload_col: str = "payload",
    hist_bins: int = 16,
) -> DataFrame:
    """Arrow-batched feature extraction over binary payloads.

    Real (deterministic, library-free) content features standing where
    decode+CNN-embed would run: byte histogram, mean, Shannon entropy.
    Demonstrates the production batch shape: ``mapInPandas`` with an
    explicit schema, vectorized numpy inside, one Python worker per
    partition, Arrow transfer both ways.
    """

    def feature_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, sizes, entropies, means, hists = [], [], [], [], []
            for doc_id, payload in zip(pdf[id_col], pdf[payload_col]):
                if payload is None:
                    # NULL payload (failed fetch) -> NULL features; only
                    # a real zero-byte object gets the empty profile.
                    ids.append(doc_id)
                    sizes.append(None)
                    entropies.append(None)
                    means.append(None)
                    hists.append(None)
                    continue
                arr = np.frombuffer(payload, dtype=np.uint8)
                ids.append(doc_id)
                sizes.append(int(arr.size))
                if arr.size:
                    counts = np.bincount(arr, minlength=256).astype(np.float64)
                    probs = counts[counts > 0] / arr.size
                    entropies.append(float(-(probs * np.log2(probs)).sum()))
                    means.append(float(arr.mean()))
                    hist = counts.reshape(hist_bins, -1).sum(axis=1) / arr.size
                    hists.append([float(round(v, 6)) for v in hist])
                else:
                    entropies.append(0.0)
                    means.append(0.0)
                    hists.append([0.0] * hist_bins)
            yield pd.DataFrame(
                {
                    "doc_id": ids,
                    "n_bytes": sizes,
                    "entropy": [None if e is None else round(e, 6) for e in entropies],
                    "mean_byte": [None if m is None else round(m, 6) for m in means],
                    "histogram": hists,
                }
            )

    return df.select(id_col, payload_col).mapInPandas(feature_batches, FEATURE_SCHEMA)


PROFILE_SCHEMA = "doc_id bigint, n_bytes bigint, n_spaces bigint, sha256_hex string"


def byte_feature_profile(
    df: DataFrame, id_col: str = "doc_id", payload_col: str = "payload"
) -> DataFrame:
    """Arrow-batched byte profile whose every output column is
    independently recomputable in ANSI SQL (``octet_length``, space
    count, ``sha256``) — the oracle-checkable face of the
    ``mapInPandas`` path.  Same batch shape and schema discipline as
    :func:`extract_byte_features`, which keeps the richer
    entropy/histogram features (accuracy unit-tested, not
    SQL-expressible)."""
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


def sample_frames(
    df: DataFrame,
    id_col: str = "doc_id",
    payload_col: str = "payload",
    every_n_bytes: int = 64,
    frame_size: int = 16,
) -> DataFrame:
    """'Frame sampling' over binary payloads: every Nth fixed-size slice
    (the video-frame-sampling batch shape, minus the actual codec).
    Returns one row per sampled frame (doc_id, frame_idx, frame_bytes).
    """

    def frame_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out_ids, out_idx, out_bytes = [], [], []
            for doc_id, payload in zip(pdf[id_col], pdf[payload_col]):
                data = payload or b""
                for i, start in enumerate(range(0, len(data), every_n_bytes)):
                    out_ids.append(doc_id)
                    out_idx.append(i)
                    out_bytes.append(data[start : start + frame_size])
            yield pd.DataFrame(
                {"doc_id": out_ids, "frame_idx": out_idx, "frame_bytes": out_bytes}
            )

    return df.select(id_col, payload_col).mapInPandas(
        frame_batches, "doc_id bigint, frame_idx int, frame_bytes binary"
    )
