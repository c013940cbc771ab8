#!/usr/bin/env python
"""Scale probes for the round-5 STAGED batch (plans/r05_queries.py):
frame-sample manifest + media metadata at 1M docs, Matryoshka
truncated-dim recall at 1M vectors (25 anchors x N, the
quantized_recall shape), streaming score replay at 200k docs (a real
multi-batch job), and the bucket-pruned DELETE path at 2M rows.
Tables are written as real parquet so the registered query functions
run end-to-end (scan included).  One JSON line per probe.

Usage: python scripts/stress_r05.py [n_docs] [n_vecs]
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from nasa_asteroid_data_lakehouse_spark.plans import llm_queries as lq
from nasa_asteroid_data_lakehouse_spark.plans import r05_queries as r5
from nasa_asteroid_data_lakehouse_spark.session import get_spark
from scripts.stress_curation import probe, synth_docs, synth_vecs


def main() -> None:
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 1_000_000
    n_vecs = int(sys.argv[2]) if len(sys.argv) > 2 else 1_000_000

    spark = get_spark(app_name="stress-r05", master="local[32]")
    spark.sparkContext.setLogLevel("ERROR")
    sf = tempfile.mkdtemp(prefix="ndl_stress_r05_")
    try:
        synth_docs(spark, n_docs).withColumn(
            "n_chars", F.length("text").cast("bigint")
        ).write.parquet(f"{sf}/documents.parquet")
        synth_vecs(spark, n_vecs, 64).write.parquet(f"{sf}/embeddings.parquet")

        probe(
            "frame_sample_manifest_1M",
            lambda: r5.frame_sample_manifest_documents(spark, sf),
        )
        probe(
            "media_metadata_1M",
            lambda: lq.media_metadata_documents(spark, sf),
        )
        probe(
            "payload_survivors_1M",
            lambda: r5.payload_survivors_documents(spark, sf),
        )
        probe(
            "truncated_dim_recall_1M",
            lambda: r5.truncated_dim_recall_embeddings(spark, sf),
        )

        # streaming replay: a real multi-batch job, so scale the input
        # instead of the anchor count
        small = tempfile.mkdtemp(prefix="ndl_stress_r05_stream_")
        try:
            synth_docs(spark, 200_000).write.parquet(
                f"{small}/documents.parquet"
            )
            probe(
                "streaming_score_replay_200k",
                lambda: r5.streaming_score_replay_documents(spark, small),
            )
        finally:
            shutil.rmtree(small, ignore_errors=True)

        # bucket-pruned delete at 2M rows / 256 buckets
        import json
        import time

        from nasa_asteroid_data_lakehouse_spark.lake.table import VersionedTable

        tdir = f"{sf}/tbl"
        df = spark.range(2_000_000).select(
            F.col("id").alias("k"),
            (F.col("id") % 97).cast("double").alias("m"),
        )
        t = VersionedTable(spark, tdir, num_buckets=256)
        t.create(df, keys=["k"])
        t0 = time.time()
        t.delete_where(
            F.pmod(F.xxhash64("k"), F.lit(256)) == 0
        )  # one bucket's rows
        dt = round(time.time() - t0, 2)
        n_after = t.read().count()
        print(
            json.dumps(
                {
                    "probe": "delete_where_single_bucket_2M",
                    "sec": dt,
                    "rows_after": n_after,
                }
            )
        )
    finally:
        shutil.rmtree(sf, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
