#!/usr/bin/env python
"""Scale probes for the round-7 STAGED batch (plans/r07_queries.py):
the shapes whose cost grows with the corpus, run end-to-end from real
parquet so the registered query functions are what gets timed.

- span_dedup_rewrite at 1M docs: position explode x1 + gram explode x1
  + covered explode x3, all shingle/doc-keyed (the rewrite claim).
- payload_block_dedup at 1M docs: digest-only shuffle claim.
- shard_manifest at 1M docs: hex-prefix bucketed cumsum, no global
  window.
- tfidf_cosine_pairs at 1M docs: df-capped term join fan-out bound.
- bootstrap_ci at 2M orders: 8 md5 per row, B-way map fan-out.
- rendezvous churn at 1M docs: 9-way explode argmax.
- centroid drift + split leakage + hubness at 1M vectors: map-side
  lattice means / bucketed pair joins.
- MASE + skyline at 20M events: one daily shuffle, bounded after.
- lorenz_deciles at 2M orders (REGISTERED query, rewritten this
  round): bucketed exact-rank NTILE — confirms the rewrite's claim
  that no single-partition sort remains.

Usage: python scripts/stress_r07.py [n_docs] [n_vecs] [n_events] [n_orders]
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from nasa_asteroid_data_lakehouse_spark.plans import r07_queries as r7
from nasa_asteroid_data_lakehouse_spark.plans import stats_queries as sq
from nasa_asteroid_data_lakehouse_spark.session import get_spark
from scripts.stress_curation import probe, synth_docs, synth_vecs
from scripts.stress_corpus_stats import synth_events
from scripts.stress_r06 import synth_orders


def main() -> None:
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 1_000_000
    n_vecs = int(sys.argv[2]) if len(sys.argv) > 2 else 1_000_000
    n_events = int(sys.argv[3]) if len(sys.argv) > 3 else 20_000_000
    n_orders = int(sys.argv[4]) if len(sys.argv) > 4 else 2_000_000

    spark = get_spark(app_name="stress-r07", master="local[32]")
    spark.sparkContext.setLogLevel("ERROR")
    sf = tempfile.mkdtemp(prefix="ndl_stress_r07_")
    synth_docs(spark, n_docs).withColumn(
        "n_chars", F.length("text").cast("bigint")
    ).write.parquet(f"{sf}/documents.parquet")
    synth_vecs(spark, n_vecs, 64).write.parquet(f"{sf}/embeddings.parquet")
    synth_events(spark, n_events).select(
        "event_id",
        "ts",
        "user_id",
        F.element_at(
            F.array(
                F.lit("view"), F.lit("click"), F.lit("purchase"),
                F.lit("signup"), F.lit("error"),
            ),
            (F.pmod(F.xxhash64("event_id", F.lit(11)), 5) + 1).cast("int"),
        ).alias("event_type"),
        (F.pmod(F.xxhash64("event_id", F.lit(13)), 10_000) / 10.0).alias(
            "value"
        ),
        F.lit(None).cast("string").alias("props"),
    ).write.parquet(f"{sf}/events.parquet")
    synth_orders(spark, n_orders).write.parquet(f"{sf}/orders.parquet")

    probe(
        f"span_dedup_rewrite_{n_docs}",
        lambda: r7.span_dedup_rewrite_documents(spark, sf),
    )
    probe(
        f"payload_block_dedup_{n_docs}",
        lambda: r7.payload_block_dedup_documents(spark, sf),
    )
    probe(
        f"shard_manifest_{n_docs}",
        lambda: r7.shard_manifest_documents(spark, sf),
    )
    probe(
        f"tfidf_cosine_pairs_{n_docs}",
        lambda: r7.tfidf_cosine_pairs_documents(spark, sf),
    )
    probe(
        f"rendezvous_churn_{n_docs}",
        lambda: r7.rendezvous_shard_churn_documents(spark, sf),
    )
    probe(
        f"bootstrap_ci_{n_orders}", lambda: r7.bootstrap_ci_orders(spark, sf)
    )
    probe(
        f"lorenz_deciles_bucketed_{n_orders}",
        lambda: sq.lorenz_deciles_orders(spark, sf),
    )
    probe(
        f"centroid_drift_{n_vecs}",
        lambda: r7.centroid_drift_splits_embeddings(spark, sf),
    )
    probe(
        f"embedding_split_leakage_{n_vecs}",
        lambda: r7.embedding_split_leakage_embeddings(spark, sf),
    )
    probe(
        f"hubness_lsh_{n_vecs}",
        lambda: r7.hubness_lsh_embeddings(spark, sf),
    )
    probe(
        f"mase_seasonal_naive_{n_events}",
        lambda: r7.mase_seasonal_naive_events(spark, sf),
    )
    probe(f"skyline_daily_{n_events}", lambda: r7.skyline_daily_events(spark, sf))
    shutil.rmtree(sf, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
