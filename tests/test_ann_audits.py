"""Default-selection pins for the ANN audit kit and the seed quantizer.

* NULL-id seeds: Spark's ascending sort puts NULLs FIRST, the DuckDB
  oracles' ``ORDER BY vec_id`` puts them LAST.  One embedding with a
  NULL ``vec_id`` (and a valid vector) must not become a seed centroid
  on one engine only — every seeding query is oracle-checked on a
  fixture that carries such a row.
* Sweep <=> single audit: each sweep row is the sum of the matching
  single-config audit (``quant_bits_sweep``'s int8 row vs
  ``quantized_recall``; every ``ivf_nprobe_sweep`` row vs
  ``ivf_recall`` at that nprobe), so the shared pair frame a sweep
  builds cannot drift from the audit it generalizes.
"""

import os

import duckdb
import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entry
from nasa_asteroid_data_lakehouse_spark.llm import similarity
from nasa_asteroid_data_lakehouse_spark.plans import r09_queries as r9
from nasa_asteroid_data_lakehouse_spark.plans import r10_queries as r10
from tests.conftest import SF_SMOKE
from tests.oracle import assert_matches_oracle

# every registered query that seeds a quantizer from the lowest ids
_SEEDING = [
    "ivf_topk_embeddings",
    "semantic_dedup_embeddings",
    "ivf_recall_embeddings",
    "pq_codes_embeddings",
    "centroid_inertia_embeddings",
    "silhouette_embeddings",
    "pq_adc_recall_embeddings",
    "ivfpq_topk_embeddings",
    "ivfpq_recall_embeddings",
    "ivfpq_residual_topk_embeddings",
    "ivf_nprobe_sweep_embeddings",
]


@pytest.fixture(scope="module")
def sf_null_id(tmp_path_factory):
    """sf0.001 embeddings plus one row with a NULL ``vec_id`` and a
    valid vector (a copy of the highest id's, so it is never a seed
    under NULLs-last)."""
    dst = str(tmp_path_factory.mktemp("null_id"))
    src = os.path.join(SF_SMOKE, "embeddings.parquet")
    duckdb.execute(
        f"""COPY (
          SELECT * FROM read_parquet('{src}')
          UNION ALL
          SELECT NULL, embedding, label FROM read_parquet('{src}')
          WHERE vec_id = (SELECT max(vec_id) FROM read_parquet('{src}'))
        ) TO '{dst}/embeddings.parquet' (FORMAT PARQUET)"""
    )
    return dst


@pytest.mark.parametrize("name", _SEEDING)
def test_null_id_row_is_never_a_seed(spark, sf_null_id, name):
    fn = entry.queries()[name]
    sql = entry.oracle_sql()[name]
    assert_matches_oracle(fn(spark, sf_null_id), sql, sf_null_id)


def test_quant_bits_int8_row_equals_quantized_recall(spark, sf_dir):
    sweep = {
        r["bits"]: r for r in r10.quant_bits_sweep_embeddings(spark, sf_dir).collect()
    }
    single = entry.queries()["quantized_recall_embeddings"](spark, sf_dir).collect()
    assert single
    assert (
        sweep[8]["sum_hits"],
        sweep[8]["n_exact_total"],
        sweep[8]["n_anchors"],
    ) == (
        sum(r["n_hits"] for r in single),
        sum(r["n_exact"] for r in single),
        len(single),
    )


def test_nprobe_sweep_rows_equal_ivf_recall(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    seeds = (
        emb.where(similarity.vec_valid(F.col("embedding")))
        .orderBy(F.col("vec_id").asc_nulls_last())
        .limit(r9._NSW_CENTROIDS)
        .collect()
    )
    cents = [[float(v) for v in r["embedding"]] for r in seeds]
    sweep = r9.ivf_nprobe_sweep_embeddings(spark, sf_dir).collect()
    assert [r["n_probe"] for r in sweep] == list(r9._NSW_PROBES)
    for row in sweep:
        single = similarity.ivf_recall(
            emb,
            cents,
            anchor_max_id=r9._NSW_ANCHOR_MAX,
            k=r9._NSW_K,
            nprobe=row["n_probe"],
        ).collect()
        assert single
        assert (row["n_hits"], row["n_exact"]) == (
            sum(r["n_hits"] for r in single),
            sum(r["n_exact"] for r in single),
        ), f"nprobe={row['n_probe']}"
