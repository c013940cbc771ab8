"""Round-8 batch, registered in ``__spark_entry__`` from its
QUERIES / ORACLES.

Families (VERDICT r06 ask #4, where coverage is thinnest):
composite IVF-PQ ANN — top-k AND its recall audit (the production
serving shape: coarse cells prune the corpus, PQ-ADC scores inside
probed cells; ``ivf_topk`` and ``pq_adc_recall`` each cover only one
half), multi-table TRANSACTIONAL snapshot (the reference's 4-table
sequential gold rewrite with the cross-table atomicity it lacks —
``lake/transaction.py``), OPTIMIZE ZORDER BY on VersionedTable buckets
(z-sliced bucket files, data-roundtrip-checked; envelope skipping
pinned in pytest), online LSH index maintenance (admission + overfull
bucket split — the index-upkeep half ``vector_admit`` lacks), CDF
apply round-trip ACROSS SCHEMA EVOLUTION (drop+add commit via the new
``overwrite`` API, replayed with the full ``apply_changes`` algebra —
the ADVICE r06 divergence, driver-checked), and an occupancy-constant
auto-plane LSH hubness twin (plane count derived from corpus size —
the executable form of the sign-LSH occupancy lever, VERDICT r06
ask #5).

Portability contract as everywhere in this repo: integer SUMs cast to
BIGINT, data-derived denominators try_divide / NULLIF on both sides,
multi-term float sums in fixed textual order, rankings on ROUNDED
scores with id tiebreaks, NULL grouping attributes are real groups,
NULL/NaN vectors join no vector operator, floor() before any
double->BIGINT bucket cast.

No reference analog for any of these: the reference
(``src/etl/silver_to_gold.py``) has no ANN, no transactions, no
layout maintenance, no change feed.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from nasa_asteroid_data_lakehouse_spark.catalog import read_table
from nasa_asteroid_data_lakehouse_spark.scratch import query_scratch
from nasa_asteroid_data_lakehouse_spark.llm import similarity
from nasa_asteroid_data_lakehouse_spark.operators.stats import finite

QUERIES: dict = {}
ORACLES: dict = {}

_EMB_DIM = 64
_VEC_VALID_SQL = (
    "embedding IS NOT NULL AND len(list_filter(embedding,"
    " x -> x IS NULL OR isnan(x) OR isinf(x))) = 0"
)


def _d2_sql(vec: str, cent: str, lo: str, hi: str) -> str:
    """Squared distance over ``vec[lo+1..hi]`` in SEQUENTIAL fold order —
    textual twin of llm/similarity._sq_dist (local copy: module-level
    fragment constants shadow across plans modules, round-6 lesson)."""
    return (
        f"COALESCE(list_sum(list_transform(range({lo} + 1, {hi} + 1), "
        f"j -> ({vec}[j] - {cent}[j]) * ({vec}[j] - {cent}[j]))), 0.0)"
    )


def _bucket_sql(num_planes: int, vec_expr: str) -> str:
    """Sign-LSH bucket twin (bit p weighted 2^p, ascending planes)."""
    planes = similarity.hyperplane_coefficients(num_planes, _EMB_DIM)
    terms = []
    for p, coefs in enumerate(planes):
        lits = ", ".join(repr(c) for c in coefs)
        terms.append(
            f"(CASE WHEN list_dot_product({vec_expr}::DOUBLE[], [{lits}]::DOUBLE[]) >= 0"
            f" THEN {1 << p} ELSE 0 END)"
        )
    return "(" + " + ".join(terms) + ")::BIGINT"


_COS_AB = (
    "list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[])"
    " / (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]))"
    " * sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[])))"
)


# === IVF-PQ composite ANN ======================================================

_IPQ_K_CENT = 8    # coarse cells AND PQ per-subspace codewords (seed quantizers)
_IPQ_M = 4         # PQ subspaces
_IPQ_NPROBE = 2
_IPQ_TOPK = 10
_IPQ_ANCHOR_MAX = 8
_IPQ_RECALL_K = 10


def _pq_geometry(d: int) -> list[tuple[int, int]]:
    sub = max(1, math.ceil(d / _IPQ_M))
    return [(s * sub, min((s + 1) * sub, d)) for s in range(_IPQ_M)]


def ivfpq_topk_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ top-k (llm/similarity.ivfpq_topk): coarse quantizer
    prunes to 2 of 8 cells, PQ-ADC (m=4 subspaces, 8 codewords) scores
    the survivors against query vec_id=0 — the composite production
    ANN shape (VERDICT r06 ask #4a): at 100 TB the table is stored
    partitioned by cell (probe = partition pruning) and only m small
    ints per vector are read (codes), never the raw floats.

    Plan: pure projection (cell argmin + m code argmins + m-term ADC
    sum, all centroid literals) + one TakeOrdered — no shuffle, no
    join.  Ranking by ROUNDED score + id tiebreak."""
    emb = read_table(spark, sf_dir, "embeddings")
    cents = similarity.seed_centroids(
        emb.where(F.col("vec_id").isNotNull()), _IPQ_K_CENT
    )
    qvec = similarity.query_vector(emb, "vec_id", "embedding", 0)
    if qvec is None or not cents:
        return emb.limit(0).select(
            "vec_id",
            F.lit(None).cast("int").alias("cluster"),
            F.lit(None).cast("double").alias("adc_score"),
        )
    return similarity.ivfpq_topk(
        emb,
        qvec,
        coarse_centroids=cents,
        pq_centroids=cents,
        bounds=_pq_geometry(len(cents[0])),
        k=_IPQ_TOPK,
        nprobe=_IPQ_NPROBE,
    )


def _pq_sub_bounds_sql(s: int, vec: str) -> tuple[str, str]:
    sub = f"GREATEST(1, CAST(ceil(len({vec}) / {_IPQ_M}.0) AS INT))"
    return (f"({s} * {sub})", f"LEAST(({s} + 1) * {sub}, len({vec}))")


def _ipq_adc_term_sql(s: int, qvec: str) -> str:
    lo, hi = _pq_sub_bounds_sql(s, qvec)
    return (
        f"COALESCE(list_dot_product("
        f"{qvec}[{lo} + 1:{hi}], s2.cv[{lo} + 1:{hi}]), 0.0)"
    )


IVFPQ_TOPK_SQL = f"""
WITH valid AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
  WHERE vec_id IS NOT NULL AND {_VEC_VALID_SQL}
),
seeds AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS c, v AS cv
  FROM (SELECT vec_id, v FROM valid ORDER BY vec_id LIMIT {_IPQ_K_CENT})
),
q AS (SELECT v AS qv FROM valid WHERE vec_id = 0),
probe AS (
  SELECT s.c FROM seeds s, q
  ORDER BY {_d2_sql("q.qv", "s.cv", "0", "len(q.qv)")}, s.c
  LIMIT {_IPQ_NPROBE}
),
assign AS (
  SELECT e.vec_id, e.v, s.c,
    row_number() OVER (
      PARTITION BY e.vec_id
      ORDER BY {_d2_sql("e.v", "s.cv", "0", "len(e.v)")}, s.c
    ) AS rn
  FROM valid e, seeds s
),
cells AS (
  SELECT a.vec_id, a.v, a.c AS cluster
  FROM assign a JOIN probe p ON a.c = p.c
  WHERE a.rn = 1
),
code_assign AS (
  SELECT e.vec_id, sub.s, seeds.c,
    row_number() OVER (
      PARTITION BY e.vec_id, sub.s
      ORDER BY
        CASE sub.s
          {" ".join(
              f"WHEN {sp} THEN " + _d2_sql(
                  "e.v", "seeds.cv",
                  _pq_sub_bounds_sql(sp, "e.v")[0],
                  _pq_sub_bounds_sql(sp, "e.v")[1],
              )
              for sp in range(_IPQ_M)
          )}
        END,
        seeds.c
    ) AS rn
  FROM cells e, (SELECT unnest(range({_IPQ_M})) AS s) sub, seeds
),
codes AS (SELECT vec_id, s, c FROM code_assign WHERE rn = 1),
terms AS (
  SELECT cd.vec_id, cd.s,
    CASE cd.s
      {" ".join(f"WHEN {sp} THEN " + _ipq_adc_term_sql(sp, "q.qv") for sp in range(_IPQ_M))}
    END AS term
  FROM codes cd JOIN seeds s2 ON s2.c = cd.c, q
),
adc AS (
  SELECT vec_id,
    {" + ".join(
        f"COALESCE(MAX(CASE WHEN s = {sp} THEN term END), 0.0)"
        for sp in range(_IPQ_M)
    )} AS raw
  FROM terms GROUP BY vec_id
)
SELECT cl.vec_id, CAST(cl.cluster AS INT) AS cluster,
       ROUND(adc.raw, 6) AS adc_score
FROM adc JOIN cells cl USING (vec_id)
ORDER BY adc_score DESC, cl.vec_id
LIMIT {_IPQ_TOPK}
"""

QUERIES["ivfpq_topk_embeddings"] = ivfpq_topk_embeddings
ORACLES["ivfpq_topk_embeddings"] = IVFPQ_TOPK_SQL


def ivfpq_recall_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of the full IVF-PQ path vs the exact inner-product
    ranking (llm/similarity.ivfpq_recall) — completes the measured
    recall family (LSH/int8/IVF/truncated-dim/PQ-ADC) with the
    composite: cell-pruning misses and code-quantization misses are
    both charged, which is the number a serving team tunes
    (nprobe x m) against.

    Bounded broadcast-anchor shape (8 anchors); candidate generation
    is an equi-join on cell id.  KEY-UNIQUE precondition."""
    emb = read_table(spark, sf_dir, "embeddings")
    cents = similarity.seed_centroids(
        emb.where(F.col("vec_id").isNotNull()), _IPQ_K_CENT
    )
    if not cents:
        return emb.limit(0).select(
            F.col("vec_id").alias("anchor_id"),
            F.lit(None).cast("bigint").alias("n_exact"),
            F.lit(None).cast("bigint").alias("n_hits"),
            F.lit(None).cast("double").alias("recall_at_k"),
        )
    return similarity.ivfpq_recall(
        emb,
        coarse_centroids=cents,
        pq_centroids=cents,
        bounds=_pq_geometry(len(cents[0])),
        anchor_max_id=_IPQ_ANCHOR_MAX,
        k=_IPQ_RECALL_K,
        nprobe=_IPQ_NPROBE,
    )


IVFPQ_RECALL_SQL = f"""
WITH valid AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
  WHERE vec_id IS NOT NULL AND {_VEC_VALID_SQL}
),
seeds AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS c, v AS cv
  FROM (SELECT vec_id, v FROM valid ORDER BY vec_id LIMIT {_IPQ_K_CENT})
),
assign AS (
  SELECT e.vec_id, e.v, s.c,
    row_number() OVER (
      PARTITION BY e.vec_id
      ORDER BY {_d2_sql("e.v", "s.cv", "0", "len(e.v)")}, s.c
    ) AS rn
  FROM valid e, seeds s
),
cells AS (SELECT vec_id, v, c AS cluster FROM assign WHERE rn = 1),
code_assign AS (
  SELECT e.vec_id, sub.s, seeds.c,
    row_number() OVER (
      PARTITION BY e.vec_id, sub.s
      ORDER BY
        CASE sub.s
          {" ".join(
              f"WHEN {sp} THEN " + _d2_sql(
                  "e.v", "seeds.cv",
                  _pq_sub_bounds_sql(sp, "e.v")[0],
                  _pq_sub_bounds_sql(sp, "e.v")[1],
              )
              for sp in range(_IPQ_M)
          )}
        END,
        seeds.c
    ) AS rn
  FROM valid e, (SELECT unnest(range({_IPQ_M})) AS s) sub, seeds
),
codes AS (SELECT vec_id, s, c FROM code_assign WHERE rn = 1),
anchors AS (
  SELECT c.vec_id AS aid, c.v AS av, c.cluster AS acl
  FROM cells c WHERE c.vec_id < {_IPQ_ANCHOR_MAX}
),
aprobe AS (
  SELECT aid, av, c AS cell FROM (
    SELECT a.aid, a.av, s.c,
      row_number() OVER (
        PARTITION BY a.aid
        ORDER BY {_d2_sql("a.av", "s.cv", "0", "len(a.av)")}, s.c
      ) AS rk
    FROM anchors a, seeds s
  ) WHERE rk <= {_IPQ_NPROBE}
),
terms AS (
  SELECT ap.aid, cd.vec_id AS nbr, cd.s,
    CASE cd.s
      {" ".join(f"WHEN {sp} THEN " + _ipq_adc_term_sql(sp, "ap.av") for sp in range(_IPQ_M))}
    END AS term
  FROM aprobe ap
  JOIN cells ce ON ce.cluster = ap.cell AND ce.vec_id != ap.aid
  JOIN codes cd ON cd.vec_id = ce.vec_id
  JOIN seeds s2 ON s2.c = cd.c
),
adc AS (
  SELECT aid, nbr,
    ROUND({" + ".join(
        f"COALESCE(MAX(CASE WHEN s = {sp} THEN term END), 0.0)"
        for sp in range(_IPQ_M)
    )}, 6) AS adc_score
  FROM terms GROUP BY aid, nbr
),
adc_top AS (
  SELECT aid, nbr FROM (
    SELECT aid, nbr, row_number() OVER (
      PARTITION BY aid ORDER BY adc_score DESC, nbr ASC) AS rk
    FROM adc) WHERE rk <= {_IPQ_RECALL_K}
),
exact AS (
  SELECT a.aid, e.vec_id AS nbr,
         list_dot_product(a.av, e.v) AS exact_score
  FROM anchors a JOIN valid e ON e.vec_id != a.aid
),
exact_top AS (
  SELECT aid, nbr FROM (
    SELECT aid, nbr, row_number() OVER (
      PARTITION BY aid ORDER BY exact_score DESC, nbr ASC) AS rk
    FROM exact) WHERE rk <= {_IPQ_RECALL_K}
),
hits AS (
  SELECT e.aid, COUNT(*) AS n_hits
  FROM exact_top e JOIN adc_top p ON e.aid = p.aid AND e.nbr = p.nbr
  GROUP BY e.aid
),
n_ex AS (SELECT aid, COUNT(*) AS n_exact FROM exact_top GROUP BY aid)
SELECT n_ex.aid AS anchor_id,
       CAST(n_ex.n_exact AS BIGINT) AS n_exact,
       CAST(COALESCE(hits.n_hits, 0) AS BIGINT) AS n_hits,
       ROUND(COALESCE(hits.n_hits, 0)
             / LEAST({_IPQ_RECALL_K}, n_ex.n_exact), 6) AS recall_at_k
FROM n_ex LEFT JOIN hits ON hits.aid = n_ex.aid
"""

QUERIES["ivfpq_recall_embeddings"] = ivfpq_recall_embeddings
ORACLES["ivfpq_recall_embeddings"] = IVFPQ_RECALL_SQL


# === Multi-table transactional snapshot ========================================


def txn_consistent_snapshot_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-table TRANSACTIONAL consistency (lake/transaction.py —
    VERDICT r06 ask #4b): a fact table and its aggregate dimension are
    committed under one transaction manifest, mutated (fact delete +
    dim recompute via the overwrite API), committed again, and BOTH
    transactional snapshots are audited: at every pinned txn the
    dimension equals the fact aggregate exactly (n_mismatch = 0).
    The reference updates its 4 gold tables sequentially with no such
    guarantee (src/etl/silver_to_gold.py:153-167) — a reader there can
    join new facts to old dimensions; a reader here cannot.

    Scale: the audit join is key-keyed (custkey) and the dimension is
    O(customers); the txn manifest is O(tables) driver-side JSON.
    KEY-UNIQUE precondition (orders keyed by o_orderkey).
    Exact integer cents (floor before cast, both engines)."""
    from nasa_asteroid_data_lakehouse_spark.lake import MultiTableTransaction

    base = (
        read_table(spark, sf_dir, "orders")
        .where(F.col("o_orderkey").isNotNull())
        .select(
            "o_orderkey",
            "o_custkey",
            F.when(
                finite("o_totalprice"),
                F.floor(F.col("o_totalprice") * 100).cast("long"),
            ).alias("cents"),
        )
    )

    def dim_of(fact: DataFrame) -> DataFrame:
        return fact.groupBy("o_custkey").agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("cents").alias("cust_cents"),
        )

    with query_scratch("ndl_txn_", sf_dir, "orders") as tmp:
        txn = MultiTableTransaction(spark, tmp, num_buckets=8)
        fact, dim = txn.table("fact"), txn.table("dim")
        vf = fact.create(base, keys=["o_orderkey"])
        vd = dim.create(dim_of(fact.read(vf)), keys=["o_custkey"])
        txn.commit({"fact": vf, "dim": vd})
        # txn 1: delete a key slice from fact AND recompute dim from the
        # new fact snapshot — atomically visible or not at all
        vf2 = fact.delete_where(F.col("o_orderkey") % 7 == 0)
        vd2 = dim.overwrite(dim_of(fact.read(vf2)))
        txn.commit({"fact": vf2, "dim": vd2})
        # crashed writer: a table-local commit NO transaction pins —
        # must stay invisible to every transactional read below
        fact.delete_where(F.col("o_orderkey") % 2 == 0)

        audits = []
        for tid in (0, 1):
            f = txn.read("fact", txn_id=tid)
            d = txn.read("dim", txn_id=tid)
            agg = f.groupBy("o_custkey").agg(
                F.count(F.lit(1)).alias("__n"),
                F.sum("cents").alias("__c"),
            )
            j = agg.join(
                d, agg["o_custkey"].eqNullSafe(d["o_custkey"]), "full_outer"
            )
            audits.append(
                j.agg(
                    F.lit(tid).cast("bigint").alias("txn_id"),
                    F.coalesce(F.sum("__n"), F.lit(0)).cast("bigint").alias("n_fact"),
                    F.coalesce(F.sum("__c"), F.lit(0)).cast("bigint").alias("fact_cents"),
                    F.count("n_orders").cast("bigint").alias("n_dim"),
                    F.coalesce(
                        F.sum(
                            F.when(
                                ~F.col("__n").eqNullSafe(F.col("n_orders"))
                                | ~F.col("__c").eqNullSafe(F.col("cust_cents")),
                                1,
                            ).otherwise(0)
                        ),
                        F.lit(0),
                    ).cast("bigint").alias("n_mismatch"),
                )
            )
        out = audits[0].unionByName(audits[1]).orderBy("txn_id")
        return out.localCheckpoint(eager=True)


TXN_SNAPSHOT_SQL = """
WITH f0 AS (
  SELECT o_orderkey AS k, o_custkey AS c,
         CASE WHEN isfinite(o_totalprice)
              THEN CAST(floor(o_totalprice * 100) AS BIGINT) END AS cents
  FROM orders WHERE o_orderkey IS NOT NULL
),
f1 AS (SELECT * FROM f0 WHERE NOT (k % 7 = 0)),
d0 AS (SELECT c, COUNT(*) AS n FROM f0 GROUP BY c),
d1 AS (SELECT c, COUNT(*) AS n FROM f1 GROUP BY c)
SELECT CAST(0 AS BIGINT) AS txn_id,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM f0) AS n_fact,
       (SELECT CAST(COALESCE(SUM(cents), 0) AS BIGINT) FROM f0) AS fact_cents,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM d0) AS n_dim,
       CAST(0 AS BIGINT) AS n_mismatch
UNION ALL
SELECT CAST(1 AS BIGINT),
       (SELECT CAST(COUNT(*) AS BIGINT) FROM f1),
       (SELECT CAST(COALESCE(SUM(cents), 0) AS BIGINT) FROM f1),
       (SELECT CAST(COUNT(*) AS BIGINT) FROM d1),
       CAST(0 AS BIGINT)
ORDER BY txn_id
"""

QUERIES["txn_consistent_snapshot_orders"] = txn_consistent_snapshot_orders
ORACLES["txn_consistent_snapshot_orders"] = TXN_SNAPSHOT_SQL


# === OPTIMIZE ZORDER BY on a VersionedTable ====================================


def zorder_optimize_roundtrip_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OPTIMIZE ... ZORDER BY on a key-bucketed VersionedTable
    (VERDICT r06 ask #4c: lake/zorder previously covered only the
    plain-parquet path): rewrite every bucket z-ordered on
    (o_custkey, cents) into 4 z-range files each, then run a selective
    custkey-range scan through the optimized snapshot.  The oracle
    proves the maintenance commit changed LAYOUT, not data; the
    envelope-narrowing (files skippable from min/max stats alone) is
    pinned in tests/test_versioned_table.py::test_optimize_zorder_narrows_file_envelopes.

    Scale: optimize is one sketch-based z projection + bucket-local
    windows + one exchange (no global sort); upserts keep their
    key-hash bucket pruning because z-slicing happens WITHIN buckets.
    KEY-UNIQUE precondition (table keyed by o_orderkey)."""
    from nasa_asteroid_data_lakehouse_spark.lake import VersionedTable

    base = (
        read_table(spark, sf_dir, "orders")
        .where(F.col("o_orderkey").isNotNull())
        .select(
            "o_orderkey",
            "o_custkey",
            F.when(
                finite("o_totalprice"),
                F.floor(F.col("o_totalprice") * 100).cast("long"),
            ).alias("cents"),
        )
    )
    with query_scratch("ndl_zopt_", sf_dir, "orders") as tmp:
        t = VersionedTable(spark, tmp, num_buckets=8)
        t.create(base, keys=["o_orderkey"])
        t.optimize(zorder_by=["o_custkey", "cents"], files_per_bucket=4)
        snap = t.read().where(F.col("o_custkey") <= 400)
        out = snap.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.coalesce(F.sum("cents"), F.lit(0)).cast("bigint").alias("sum_cents"),
            F.min("o_orderkey").alias("key_min"),
            F.max("o_orderkey").alias("key_max"),
        )
        return out.localCheckpoint(eager=True)


ZORDER_OPTIMIZE_SQL = """
SELECT CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(COALESCE(SUM(CASE WHEN isfinite(o_totalprice)
            THEN CAST(floor(o_totalprice * 100) AS BIGINT) END), 0) AS BIGINT)
         AS sum_cents,
       MIN(o_orderkey) AS key_min,
       MAX(o_orderkey) AS key_max
FROM orders
WHERE o_orderkey IS NOT NULL AND o_custkey <= 400
"""

QUERIES["zorder_optimize_roundtrip_orders"] = zorder_optimize_roundtrip_orders
ORACLES["zorder_optimize_roundtrip_orders"] = ZORDER_OPTIMIZE_SQL


# === CDF apply round-trip across schema evolution ==============================


def cdc_apply_schema_evolution_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-feed APPLY across a SCHEMA-EVOLUTION commit: v1 drops a
    non-NULL column, adds one, updates/deletes/inserts rows (via the
    overwrite API), and a replica reconstructs v1 from v0 + the feed
    with the FULL apply algebra (VersionedTable.apply_changes) — the
    exact divergence ADVICE r06 flagged in the type-filtered apply
    (stale non-NULL values in dropped columns, missed added-column
    backfills), now driver-checked end to end.

    Mutations are deterministic and key-derived; insert keys NEGATED
    (-key-1, the ADVICE r05 lesson).  n_stale_extra counts recon rows
    whose dropped column survived non-NULL — the schema_drop repair
    must zero it.  Scale: apply is one key-keyed anti join + union;
    verify one key-keyed full-outer join — bucket-local at 100 TB.
    KEY-UNIQUE precondition."""
    from nasa_asteroid_data_lakehouse_spark.lake.table import VersionedTable

    base = (
        read_table(spark, sf_dir, "orders")
        .where(F.col("o_orderkey").isNotNull())
        .select("o_orderkey")
        .distinct()
        .select(
            "o_orderkey",
            (F.col("o_orderkey") % 100).alias("seg"),
            (F.col("o_orderkey") % 7).alias("extra"),
        )
    )
    with query_scratch("ndl_cdcse_", sf_dir, "orders") as tmp:
        t = VersionedTable(spark, tmp, num_buckets=8)
        v0 = t.create(base, keys=["o_orderkey"])
        survivors = base.where(~(F.col("o_orderkey") % 13 == 0)).select(
            "o_orderkey",
            F.when(
                F.col("o_orderkey") % 6 == 0, F.col("seg") + 1000
            ).otherwise(F.col("seg")).alias("seg"),
            (F.col("o_orderkey") % 5).alias("note"),
        )
        inserts = base.where(F.col("o_orderkey") % 11 == 0).select(
            (-F.col("o_orderkey") - 1).alias("o_orderkey"),
            (F.col("o_orderkey") % 100).alias("seg"),
            (F.col("o_orderkey") % 5).alias("note"),
        )
        v1 = t.overwrite(survivors.unionByName(inserts))
        recon = VersionedTable.apply_changes(
            t.read(v0), t.changes(v0, v1), keys=["o_orderkey"]
        )
        actual = t.read(v1)
        a = actual.select(
            "o_orderkey",
            F.col("seg").alias("seg_a"),
            F.col("note").alias("note_a"),
        )
        r = recon.select(
            "o_orderkey",
            F.col("seg").alias("seg_r"),
            F.col("note").alias("note_r"),
            F.col("extra").alias("extra_r"),
        )
        verify = a.join(r, "o_orderkey", "full_outer")
        out = verify.agg(
            F.count("seg_a").cast("bigint").alias("n_actual"),
            F.count("seg_r").cast("bigint").alias("n_recon"),
            F.coalesce(
                F.sum(
                    F.when(
                        ~F.col("seg_a").eqNullSafe(F.col("seg_r"))
                        | ~F.col("note_a").eqNullSafe(F.col("note_r")),
                        1,
                    ).otherwise(0)
                ),
                F.lit(0),
            ).cast("bigint").alias("n_mismatch"),
            F.coalesce(
                F.sum(F.when(F.col("extra_r").isNotNull(), 1).otherwise(0)),
                F.lit(0),
            ).cast("bigint").alias("n_stale_extra"),
            F.coalesce(
                F.sum(
                    F.when(F.col("seg_a").isNotNull(), F.col("o_orderkey")).otherwise(0)
                ),
                F.lit(0),
            ).cast("bigint").alias("key_sum_actual"),
        )
        return out.localCheckpoint(eager=True)


CDC_SCHEMA_EVOLUTION_SQL = """
WITH k AS (
  SELECT DISTINCT o_orderkey AS key FROM orders WHERE o_orderkey IS NOT NULL
),
-- v1 state: drop extra, add note=key%5, seg+1000 for key%6=0,
-- delete key%13=0, insert (-key-1, key%100, key%5) for key%11=0
finals AS (
  SELECT key,
         CASE WHEN key % 6 = 0 THEN key % 100 + 1000 ELSE key % 100 END AS seg
  FROM k WHERE NOT (key % 13 = 0)
  UNION ALL
  SELECT -key - 1 AS key, key % 100 AS seg
  FROM k WHERE key % 11 = 0 AND NOT ((-key - 1) >= 0 AND (-key - 1) % 13 = 0)
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_actual,
       CAST(COUNT(*) AS BIGINT) AS n_recon,
       CAST(0 AS BIGINT) AS n_mismatch,
       CAST(0 AS BIGINT) AS n_stale_extra,
       CAST(COALESCE(SUM(key), 0) AS BIGINT) AS key_sum_actual
FROM finals
"""

QUERIES["cdc_apply_schema_evolution_orders"] = cdc_apply_schema_evolution_orders
ORACLES["cdc_apply_schema_evolution_orders"] = CDC_SCHEMA_EVOLUTION_SQL


# === Online LSH index maintenance ==============================================

_LIM_PLANES = 4          # base index planes (16 buckets)
_LIM_SPLIT_PLANE = 4     # the extra plane an overfull bucket splits on
_LIM_THRESHOLD = 0.35    # admission near-dup threshold (near_dup family)


def lsh_index_maintenance_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Online LSH index upkeep (VERDICT r06 ask #4d — ``vector_admit``
    covers admission, nothing covered index maintenance): a live index
    holds the even vec_ids bucketed by 4 sign-LSH planes; the odd
    vec_ids arrive as a batch.  (1) ADMISSION: an arrival is rejected
    iff a same-bucket index vector is cosine-near (>= 0.35, rounded —
    the near-dup family's screen: candidates only ever meet inside a
    bucket, never all-pairs).  (2) MAINTENANCE: after admission,
    buckets whose occupancy exceeds a data-derived cap (2x the mean)
    split on one extra plane bit — the index stays occupancy-bounded
    as the corpus grows, which is exactly the lever that keeps the
    verify join quadratic-free at 100 TB (BASELINE.md occupancy law).

    Output: one audit row — sizes, admissions, split count, and the
    max occupancy before/after (after must not exceed before; at scale
    the split halves expected occupancy per extra plane).

    Scale: admission is a bucket equi-join; occupancy/split is one
    16-row aggregate; the split re-hash touches only overfull buckets.
    """
    emb = read_table(spark, sf_dir, "embeddings").where(
        F.col("vec_id").isNotNull() & similarity.vec_valid(F.col("embedding"))
    )
    planes = similarity.hyperplane_coefficients(
        _LIM_SPLIT_PLANE + 1, _EMB_DIM
    )
    bucket = similarity.bucket_id(F.col("embedding"), planes[:_LIM_PLANES])
    split_bit = F.when(
        similarity.dot(
            F.col("embedding"),
            F.array(*[F.lit(c) for c in planes[_LIM_SPLIT_PLANE]]),
        )
        >= 0,
        F.lit(1 << _LIM_PLANES).cast("long"),
    ).otherwise(F.lit(0).cast("long"))
    both = emb.select(
        "vec_id",
        "embedding",
        bucket.alias("bucket"),
        split_bit.alias("split_bit"),
        similarity.norm(F.col("embedding")).alias("nrm"),
        (F.col("vec_id") % 2 == 0).alias("is_base"),
    ).localCheckpoint(eager=False)
    base = both.where("is_base")
    inc = both.where(~F.col("is_base"))
    near = F.round(
        F.try_divide(
            similarity.dot(F.col("a.embedding"), F.col("b.embedding")),
            F.col("a.nrm") * F.col("b.nrm"),
        ),
        6,
    ) >= F.lit(_LIM_THRESHOLD)
    cond = (F.col("a.bucket") == F.col("b.bucket")) & near
    rejected = inc.alias("a").join(base.alias("b"), cond, "left_semi")
    admitted = inc.alias("a").join(base.alias("b"), cond, "left_anti")
    final = base.unionByName(admitted.select(*base.columns))
    occ = final.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("occ"),
        F.sum(F.when(F.col("split_bit") > 0, 1).otherwise(0)).alias("occ_hi"),
    )
    # data-derived cap: 2x mean occupancy over the 2^planes bucket space
    n_final = F.lit(1 << _LIM_PLANES)
    totals = occ.agg(
        F.coalesce(F.sum("occ"), F.lit(0)).alias("n_total"),
    )
    occ2 = occ.crossJoin(F.broadcast(totals)).withColumn(
        "cap",
        2 * F.ceil(F.col("n_total") / n_final).cast("long"),
    )
    split = occ2.withColumn("is_split", F.col("occ") > F.col("cap"))
    # post-maintenance occupancy: split buckets divide into the two
    # child buckets (extra plane bit); unsplit keep their occupancy
    post = split.select(
        F.when(F.col("is_split"), F.greatest(F.col("occ_hi"), F.col("occ") - F.col("occ_hi")))
        .otherwise(F.col("occ"))
        .alias("post_occ"),
        "occ",
        "is_split",
    )
    counts = both.agg(
        F.coalesce(F.sum(F.when(F.col("is_base"), 1).otherwise(0)), F.lit(0))
        .cast("bigint")
        .alias("n_base"),
        F.coalesce(F.sum(F.when(~F.col("is_base"), 1).otherwise(0)), F.lit(0))
        .cast("bigint")
        .alias("n_incoming"),
    )
    adm = admitted.agg(F.count(F.lit(1)).cast("bigint").alias("n_admitted"))
    rej = rejected.agg(F.count(F.lit(1)).cast("bigint").alias("n_rejected"))
    occ_stats = post.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_buckets"),
        F.coalesce(
            F.sum(F.when(F.col("is_split"), 1).otherwise(0)), F.lit(0)
        ).cast("bigint").alias("n_split"),
        F.coalesce(F.max("occ"), F.lit(0)).cast("bigint").alias("max_occ_before"),
        F.coalesce(F.max("post_occ"), F.lit(0)).cast("bigint").alias("max_occ_after"),
    )
    return (
        counts.crossJoin(F.broadcast(adm))
        .crossJoin(F.broadcast(rej))
        .crossJoin(F.broadcast(occ_stats))
    )


_LIM_SPLIT_COEFS = ", ".join(
    repr(c)
    for c in similarity.hyperplane_coefficients(_LIM_SPLIT_PLANE + 1, _EMB_DIM)[
        _LIM_SPLIT_PLANE
    ]
)

LSH_INDEX_MAINT_SQL = f"""
WITH valid AS (
  SELECT vec_id, embedding,
         {_bucket_sql(_LIM_PLANES, "embedding")} AS bucket,
         (CASE WHEN list_dot_product(embedding::DOUBLE[],
            [{_LIM_SPLIT_COEFS}]::DOUBLE[]) >= 0
          THEN 1 ELSE 0 END) AS split_bit,
         vec_id % 2 = 0 AS is_base
  FROM embeddings
  WHERE vec_id IS NOT NULL AND {_VEC_VALID_SQL}
),
base AS (SELECT * FROM valid WHERE is_base),
-- per-ROW admission via EXISTS: the exact twin of the engine's
-- semi/anti join (id-join-based dedup would diverge under duplicate
-- ids with conflicting payloads)
inc AS (
  SELECT i.*,
    EXISTS (
      SELECT 1 FROM base b
      WHERE b.bucket = i.bucket
        AND ROUND(
          list_dot_product(i.embedding::DOUBLE[], b.embedding::DOUBLE[])
          / (sqrt(list_dot_product(i.embedding::DOUBLE[], i.embedding::DOUBLE[]))
             * sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))),
          6) >= {_LIM_THRESHOLD}
    ) AS is_rej
  FROM valid i WHERE NOT is_base
),
admitted AS (SELECT * FROM inc WHERE NOT is_rej),
rejected AS (SELECT * FROM inc WHERE is_rej),
final AS (
  SELECT bucket, split_bit FROM base
  UNION ALL SELECT bucket, split_bit FROM admitted
),
occ AS (
  SELECT bucket, COUNT(*) AS occ,
         SUM(split_bit) AS occ_hi
  FROM final GROUP BY bucket
),
tot AS (SELECT COALESCE(SUM(occ), 0) AS n_total FROM occ),
split AS (
  SELECT occ.occ, occ.occ_hi,
         occ.occ > 2 * CAST(ceil(tot.n_total / {float(1 << _LIM_PLANES)}) AS BIGINT)
           AS is_split
  FROM occ, tot
),
post AS (
  SELECT occ, is_split,
         CASE WHEN is_split THEN GREATEST(occ_hi, occ - occ_hi) ELSE occ END
           AS post_occ
  FROM split
)
SELECT
  (SELECT CAST(COUNT(*) AS BIGINT) FROM base) AS n_base,
  (SELECT CAST(COUNT(*) AS BIGINT) FROM inc) AS n_incoming,
  (SELECT CAST(COUNT(*) AS BIGINT) FROM admitted) AS n_admitted,
  (SELECT CAST(COUNT(*) AS BIGINT) FROM rejected) AS n_rejected,
  (SELECT CAST(COUNT(*) AS BIGINT) FROM occ) AS n_buckets,
  (SELECT CAST(COALESCE(SUM(CASE WHEN is_split THEN 1 ELSE 0 END), 0) AS BIGINT)
     FROM split) AS n_split,
  (SELECT CAST(COALESCE(MAX(occ), 0) AS BIGINT) FROM post) AS max_occ_before,
  (SELECT CAST(COALESCE(MAX(post_occ), 0) AS BIGINT) FROM post) AS max_occ_after
"""

QUERIES["lsh_index_maintenance_embeddings"] = lsh_index_maintenance_embeddings
ORACLES["lsh_index_maintenance_embeddings"] = LSH_INDEX_MAINT_SQL


# === Occupancy-constant auto-plane hubness (the executable LSH lever) =========

_HUBA_TARGET_OCC = 64   # target mean bucket occupancy the plane law holds
_HUBA_MIN_P = 4
_HUBA_MAX_P = 16
_HUBA_K = 5


def _auto_planes(n: int) -> int:
    """The occupancy law, executable (VERDICT r06 ask #5) — canonical
    implementation lives in :func:`llm.similarity.auto_planes` (r08:
    promoted from this staged twin to the library default); this
    wrapper pins the r08 parameters."""
    return similarity.auto_planes(
        n,
        target_occupancy=_HUBA_TARGET_OCC,
        min_planes=_HUBA_MIN_P,
        max_planes=_HUBA_MAX_P,
    )


def hubness_autoplane_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-kNN hubness audit with the plane count DERIVED from corpus
    size (one bounded count, then the integer occupancy law) instead
    of fixed — the lever that holds the verify join's
    occupancy^2 x buckets cost constant per corpus doubling
    (BASELINE.md sign-LSH occupancy law; hubness_lsh_embeddings is the
    fixed-plane twin).  At sf0.01 (n=500) the law picks 4 planes; at
    sf0.1 (n=5000) it picks 7 — the driver exercises the dynamism.

    Bucket ids are the P-bit PREFIX of the 16-plane code (bit p
    weighted 2^p), so engine and oracle derive identical buckets from
    the shared plane family: bucket_P = code_16 % 2^P.
    """
    emb = read_table(spark, sf_dir, "embeddings").where(
        F.col("vec_id").isNotNull() & similarity.vec_valid(F.col("embedding"))
    )
    n = emb.count()
    p = _auto_planes(n)
    planes = similarity.hyperplane_coefficients(_HUBA_MAX_P, _EMB_DIM)[:p]
    bucketed = emb.select(
        "vec_id",
        "embedding",
        similarity.bucket_id(F.col("embedding"), planes).alias("bucket"),
        similarity.norm(F.col("embedding")).alias("nrm"),
    ).localCheckpoint(eager=False)
    a, b = bucketed.alias("a"), bucketed.alias("b")
    cand = a.join(
        b,
        (F.col("a.bucket") == F.col("b.bucket"))
        & (F.col("a.vec_id") != F.col("b.vec_id")),
    ).select(
        F.col("a.vec_id").alias("vec_id"),
        F.col("b.vec_id").alias("id_b"),
        F.round(
            F.try_divide(
                similarity.dot(F.col("a.embedding"), F.col("b.embedding")),
                F.col("a.nrm") * F.col("b.nrm"),
            ),
            6,
        ).alias("cos"),
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("cos"), F.asc("id_b"))
    knn = cand.withColumn("rk", F.row_number().over(w)).where(
        F.col("rk") <= _HUBA_K
    )
    indeg = knn.groupBy("id_b").agg(F.count(F.lit(1)).alias("in_degree"))
    return (
        indeg.groupBy("in_degree")
        .agg(F.count(F.lit(1)).alias("n_vectors"))
        .orderBy("in_degree")
    )


HUBNESS_AUTOPLANE_SQL = f"""
WITH valid AS (
  SELECT vec_id, embedding FROM embeddings
  WHERE vec_id IS NOT NULL AND {_VEC_VALID_SQL}
),
params AS (
  SELECT COALESCE(
    (SELECT MIN(p)
     FROM (SELECT unnest(range({_HUBA_MIN_P}, {_HUBA_MAX_P} + 1)) AS p) ps,
          (SELECT COUNT(*) AS n FROM valid) cn
     WHERE {_HUBA_TARGET_OCC} * (CAST(1 AS BIGINT) << p) >= cn.n),
    {_HUBA_MAX_P}) AS p
),
bucketed AS (
  SELECT vec_id, embedding,
         {_bucket_sql(_HUBA_MAX_P, "embedding")}
           % (CAST(1 AS BIGINT) << (SELECT p FROM params)) AS bucket
  FROM valid
),
cand AS (
  SELECT a.vec_id AS vec_id, b.vec_id AS id_b,
         ROUND({_COS_AB}, 6) AS cos
  FROM bucketed a JOIN bucketed b
    ON a.bucket = b.bucket AND a.vec_id <> b.vec_id
),
knn AS (
  SELECT vec_id, id_b,
         row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, id_b) AS rk
  FROM cand
),
indeg AS (
  SELECT id_b, CAST(COUNT(*) AS BIGINT) AS in_degree
  FROM knn WHERE rk <= {_HUBA_K} GROUP BY id_b
)
SELECT in_degree, CAST(COUNT(*) AS BIGINT) AS n_vectors
FROM indeg
GROUP BY in_degree
ORDER BY in_degree
"""

QUERIES["hubness_autoplane_embeddings"] = hubness_autoplane_embeddings
ORACLES["hubness_autoplane_embeddings"] = HUBNESS_AUTOPLANE_SQL


# === Exactly-once streaming upsert into a VersionedTable =======================


def streaming_upsert_replay_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fifth real streaming replay: the event log streamed through an
    EXACTLY-ONCE ``foreachBatch`` upsert sink into a VersionedTable
    (streaming/lakehouse.py — the Delta idempotent-writer pattern:
    each micro-batch's id commits INSIDE the data's own atomic
    manifest publish), then the ENTIRE stream replayed under a fresh
    checkpoint lineage — every batch id re-delivers from 0 and every
    one must recognize itself as applied.  The audit proves (a) the
    table equals the batch DISTINCT-key state and (b) the replay
    committed ZERO new versions (extra_versions_on_replay).

    Payloads are KEY-DERIVED (val = event_id % 997) so duplicate-key
    source rows collapse identically on both engines.  Scale: each
    micro-batch rewrites only touched buckets; the replay guard is one
    O(versions) driver-side manifest walk."""
    from nasa_asteroid_data_lakehouse_spark.lake.table import VersionedTable
    from nasa_asteroid_data_lakehouse_spark.streaming.lakehouse import (
        versioned_upsert_sink,
    )
    from nasa_asteroid_data_lakehouse_spark.streaming.replay import (
        drain,
        file_stream,
    )

    ev = (
        read_table(spark, sf_dir, "events")
        .where(F.col("event_id").isNotNull())
        .select(
            "event_id", (F.col("event_id") % 997).alias("val")
        )
    )

    with query_scratch("ndl_stream_upsert_", sf_dir, "events") as tmp:
        src = f"{tmp}/in"
        ev.repartition(4).write.parquet(src)
        t = VersionedTable(spark, f"{tmp}/table", num_buckets=8)
        t.create(ev.limit(0), keys=["event_id"])

        def replay(checkpoint: str) -> None:
            stream = file_stream(spark, ev, src)
            sink = versioned_upsert_sink(
                stream, t, f"{tmp}/{checkpoint}", app_id="evload"
            )
            drain(spark, sink, src)

        replay("ckpt1")
        v_first = t.latest_version()
        # fresh checkpoint lineage: foreachBatch re-delivers ids 0..N —
        # the committed stream_txn markers must no-op every one
        replay("ckpt2")
        v_replay = t.latest_version()

        out = t.read().agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.coalesce(F.sum("event_id"), F.lit(0)).cast("bigint").alias("key_sum"),
            F.min("event_id").alias("key_min"),
            F.max("event_id").alias("key_max"),
            F.lit(int(v_replay) - int(v_first)).cast("bigint").alias(
                "extra_versions_on_replay"
            ),
        )
        return out.localCheckpoint(eager=True)


STREAMING_UPSERT_SQL = """
WITH d AS (
  SELECT DISTINCT event_id FROM events WHERE event_id IS NOT NULL
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COALESCE(SUM(event_id), 0) AS BIGINT) AS key_sum,
       CAST(MIN(event_id) AS BIGINT) AS key_min,
       CAST(MAX(event_id) AS BIGINT) AS key_max,
       CAST(0 AS BIGINT) AS extra_versions_on_replay
FROM d
"""

QUERIES["streaming_upsert_replay_events"] = streaming_upsert_replay_events
ORACLES["streaming_upsert_replay_events"] = STREAMING_UPSERT_SQL


# === Incremental view maintenance from the CDF =================================


def ivm_incremental_dim_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL VIEW MAINTENANCE: a per-customer aggregate dimension
    is maintained from the change feed alone — subtract every
    ``update_preimage``/``delete`` contribution, add every
    ``insert``/``update_postimage`` one — and proven EQUAL to the full
    recompute of the new snapshot.  This is the O(changed rows) path a
    100 TB pipeline takes where ``txn_consistent_snapshot_orders``
    recomputes: maintaining a dimension over a table where 0.1% of
    rows changed costs 0.1%, not 100%.  Requires the preimage half of
    the CDF (``changes(include_preimages=True)``, Delta's
    ``update_preimage`` type — without old images an aggregate cannot
    subtract).

    Everything is KEY-DERIVED (cust = key % 97, cents = key % 500) so
    duplicate-key payload ambiguity cannot leak in.  Scale: the feed
    is O(changed buckets); delta and merge are custkey-keyed
    aggregates; the verify recompute exists only for the audit."""
    from nasa_asteroid_data_lakehouse_spark.lake.table import VersionedTable

    base = (
        read_table(spark, sf_dir, "orders")
        .where(F.col("o_orderkey").isNotNull())
        .select("o_orderkey")
        .distinct()
        .select(
            "o_orderkey",
            (F.col("o_orderkey") % 97).alias("cust"),
            (F.col("o_orderkey") % 500).alias("cents"),
        )
    )
    with query_scratch("ndl_ivm_", sf_dir, "orders") as tmp:
        t = VersionedTable(spark, tmp, num_buckets=8)
        v0 = t.create(base, keys=["o_orderkey"])
        dim0 = t.read(v0).groupBy("cust").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("cents").alias("c"),
        )
        updates = base.where(F.col("o_orderkey") % 6 == 0).select(
            "o_orderkey", "cust", (F.col("cents") + 1000).alias("cents")
        )
        inserts = base.where(F.col("o_orderkey") % 11 == 0).select(
            (-F.col("o_orderkey") - 1).alias("o_orderkey"), "cust", "cents"
        )
        t.upsert(updates.unionByName(inserts))
        v2 = t.delete_where(
            (F.col("o_orderkey") >= 0) & (F.col("o_orderkey") % 13 == 0)
        )
        feed = t.changes(v0, v2, include_preimages=True)
        # Sign by the image's ROLE, not by enumerating additive types:
        # update_preimage and delete carry OLD images (subtract); every
        # other type — insert, update_postimage, and the schema
        # evolution types schema_add/schema_drop, which carry NEW
        # images per the r07 classifier — adds.  Enumerating the
        # additive side would silently subtract schema-evolution rows
        # if this table ever took a schema commit.
        sign = F.when(
            F.col("_change_type").isin("update_preimage", "delete"), F.lit(-1)
        ).otherwise(F.lit(1))
        delta = (
            feed.select(
                "cust",
                sign.alias("s"),
                (sign * F.col("cents")).alias("sc"),
            )
            .groupBy("cust")
            .agg(F.sum("s").alias("dn"), F.sum("sc").alias("dc"))
        )
        d0 = dim0.alias("d0")
        dl = delta.alias("dl")
        dim1 = (
            d0.join(dl, F.col("d0.cust").eqNullSafe(F.col("dl.cust")), "full_outer")
            .select(
                F.coalesce(F.col("d0.cust"), F.col("dl.cust")).alias("cust"),
                (
                    F.coalesce(F.col("d0.n"), F.lit(0))
                    + F.coalesce(F.col("dl.dn"), F.lit(0))
                ).alias("n"),
                (
                    F.coalesce(F.col("d0.c"), F.lit(0))
                    + F.coalesce(F.col("dl.dc"), F.lit(0))
                ).alias("c"),
            )
            .where(F.col("n") > 0)
        )
        recompute = t.read(v2).groupBy("cust").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("cents").alias("c"),
        )
        a, b = dim1.alias("a"), recompute.alias("b")
        verify = a.join(
            b, F.col("a.cust").eqNullSafe(F.col("b.cust")), "full_outer"
        )
        out = verify.agg(
            F.count(F.col("b.cust")).cast("bigint").alias("n_groups"),
            F.coalesce(
                F.sum(
                    F.when(
                        ~F.col("a.n").eqNullSafe(F.col("b.n"))
                        | ~F.col("a.c").eqNullSafe(F.col("b.c")),
                        1,
                    ).otherwise(0)
                ),
                F.lit(0),
            ).cast("bigint").alias("n_mismatch"),
            F.coalesce(F.sum("b.n"), F.lit(0)).cast("bigint").alias("total_n"),
            F.coalesce(F.sum("b.c"), F.lit(0)).cast("bigint").alias("total_cents"),
        )
        return out.localCheckpoint(eager=True)


IVM_INCREMENTAL_SQL = """
WITH k AS (
  SELECT DISTINCT o_orderkey AS key FROM orders WHERE o_orderkey IS NOT NULL
),
-- final state: update key%6=0 -> cents+1000; insert -key-1 for
-- key%11=0; delete key>=0 AND key%13=0
finals AS (
  SELECT key % 97 AS cust,
         CASE WHEN key % 6 = 0 THEN key % 500 + 1000 ELSE key % 500 END AS cents
  FROM k WHERE NOT (key % 13 = 0)
  UNION ALL
  SELECT key % 97 AS cust, key % 500 AS cents
  FROM k WHERE key % 11 = 0
),
groups AS (
  SELECT cust, COUNT(*) AS n, SUM(cents) AS c FROM finals GROUP BY cust
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_groups,
       CAST(0 AS BIGINT) AS n_mismatch,
       CAST(COALESCE(SUM(n), 0) AS BIGINT) AS total_n,
       CAST(COALESCE(SUM(c), 0) AS BIGINT) AS total_cents
FROM groups
"""

QUERIES["ivm_incremental_dim_orders"] = ivm_incremental_dim_orders
ORACLES["ivm_incremental_dim_orders"] = IVM_INCREMENTAL_SQL


# === Shallow clone divergence ==================================================


def clone_divergence_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SHALLOW CLONE (zero-copy snapshot clone, lake/table.py:clone):
    clone a table at v0 with one manifest write (the clone references
    the source's data files), then mutate BOTH independently — upsert
    the source, delete from the clone — and audit that each sees only
    its own lineage: the source reflects the upsert and not the
    clone's delete, the clone reflects the delete over the frozen v0
    state and not the upsert.  At 100 TB this is how a team gets a
    writable snapshot of a petabyte table without copying a byte.

    Payloads are KEY-DERIVED (seg = key % 100), dup-key-safe.  Scale:
    the clone commit is O(1) manifest I/O; each divergent write is the
    normal bucket-pruned path on its own lineage."""
    from nasa_asteroid_data_lakehouse_spark.lake.table import VersionedTable

    base = (
        read_table(spark, sf_dir, "orders")
        .where(F.col("o_orderkey").isNotNull())
        .select("o_orderkey")
        .distinct()
        .select("o_orderkey", (F.col("o_orderkey") % 100).alias("seg"))
    )
    with query_scratch("ndl_clone_", sf_dir, "orders") as tmp:
        t = VersionedTable(spark, f"{tmp}/src", num_buckets=8)
        t.create(base, keys=["o_orderkey"])
        c = t.clone(f"{tmp}/clone")
        # diverge: source gets an upsert, clone gets a delete
        t.upsert(
            base.where(F.col("o_orderkey") % 6 == 0).select(
                "o_orderkey", (F.col("seg") + 1000).alias("seg")
            )
        )
        c.delete_where(F.col("o_orderkey") % 13 == 0)
        src = t.read()
        cl = c.read()
        out = src.agg(
            F.count(F.lit(1)).cast("bigint").alias("src_rows"),
            F.coalesce(F.sum("seg"), F.lit(0)).cast("bigint").alias("src_seg_sum"),
        ).crossJoin(
            F.broadcast(
                cl.agg(
                    F.count(F.lit(1)).cast("bigint").alias("clone_rows"),
                    F.coalesce(F.sum("seg"), F.lit(0))
                    .cast("bigint")
                    .alias("clone_seg_sum"),
                )
            )
        )
        return out.localCheckpoint(eager=True)


CLONE_DIVERGENCE_SQL = """
WITH k AS (
  SELECT DISTINCT o_orderkey AS key FROM orders WHERE o_orderkey IS NOT NULL
),
src AS (
  SELECT key,
         CASE WHEN key % 6 = 0 THEN key % 100 + 1000 ELSE key % 100 END AS seg
  FROM k
),
cl AS (
  SELECT key, key % 100 AS seg FROM k WHERE NOT (key % 13 = 0)
)
SELECT
  (SELECT CAST(COUNT(*) AS BIGINT) FROM src) AS src_rows,
  (SELECT CAST(COALESCE(SUM(seg), 0) AS BIGINT) FROM src) AS src_seg_sum,
  (SELECT CAST(COUNT(*) AS BIGINT) FROM cl) AS clone_rows,
  (SELECT CAST(COALESCE(SUM(seg), 0) AS BIGINT) FROM cl) AS clone_seg_sum
"""

QUERIES["clone_divergence_orders"] = clone_divergence_orders
ORACLES["clone_divergence_orders"] = CLONE_DIVERGENCE_SQL


# === Residual-encoded IVF-PQ (the full FAISS IVFPQ shape) ======================


def ivfpq_residual_topk_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Residual IVF-PQ top-k (llm/similarity.ivfpq_residual_topk): PQ
    codes quantize the RESIDUAL ``v - c_cell`` and the ADC score
    decomposes as ``q·c_cell + q·recon(residual)`` — the full FAISS
    IVFPQ serving shape (residuals have far lower variance than raw
    vectors, so the same m x k codebook spends its bits where the
    coarse quantizer left error).  ``ivfpq_topk_embeddings`` is the
    raw-code composite; this is what a production index stores.

    Quantizers stay seed-form for oracle expressibility: coarse = the
    8 lowest-id valid vectors; the PQ codebook = the residuals of the
    NEXT 8 valid vectors w.r.t. their own assigned cells (the first
    8's residuals are identically zero — they ARE the cells).  Fewer
    than 9 valid vectors -> empty codebook -> empty result on both
    engines.  KEY-UNIQUE precondition (ORDER-BY-id seeds)."""
    emb = read_table(spark, sf_dir, "embeddings")
    seeds = similarity.seed_centroids(
        emb.where(F.col("vec_id").isNotNull()), 2 * _IPQ_K_CENT
    )
    cents, pq_src = seeds[:_IPQ_K_CENT], seeds[_IPQ_K_CENT:]
    qvec = similarity.query_vector(emb, "vec_id", "embedding", 0)
    empty = emb.limit(0).select(
        "vec_id",
        F.lit(None).cast("int").alias("cluster"),
        F.lit(None).cast("double").alias("adc_score"),
    )
    if qvec is None or not cents or not pq_src:
        return empty
    # PQ codebook: each source vector's residual w.r.t. its own
    # assigned cell (sequential-fold d2, first-min argmin — the exact
    # expression order the engine and oracle both use)
    pq_cents = []
    for v in pq_src:
        d2s = [
            sum((x - c) * (x - c) for x, c in zip(v, cent)) for cent in cents
        ]
        cell = min(range(len(cents)), key=lambda i: d2s[i])
        pq_cents.append([x - c for x, c in zip(v, cents[cell])])
    return similarity.ivfpq_residual_topk(
        emb,
        qvec,
        coarse_centroids=cents,
        pq_centroids=pq_cents,
        bounds=_pq_geometry(len(cents[0])),
        k=_IPQ_TOPK,
        nprobe=_IPQ_NPROBE,
    )


def _ipq_res_term_sql(s: int, qvec: str) -> str:
    lo, hi = _pq_sub_bounds_sql(s, qvec)
    return (
        f"COALESCE(list_dot_product("
        f"{qvec}[{lo} + 1:{hi}], pq.rv[{lo} + 1:{hi}]), 0.0)"
    )


IVFPQ_RESIDUAL_SQL = f"""
WITH valid AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
  WHERE vec_id IS NOT NULL AND {_VEC_VALID_SQL}
),
ranked AS (
  SELECT vec_id, v, row_number() OVER (ORDER BY vec_id) AS rk FROM valid
),
seeds AS (SELECT rk - 1 AS c, v AS cv FROM ranked WHERE rk <= {_IPQ_K_CENT}),
pqsrc AS (
  SELECT vec_id, v FROM ranked
  WHERE rk BETWEEN {_IPQ_K_CENT} + 1 AND 2 * {_IPQ_K_CENT}
),
pq_assign AS (
  SELECT p.vec_id, p.v, s.cv,
    row_number() OVER (
      PARTITION BY p.vec_id
      ORDER BY {_d2_sql("p.v", "s.cv", "0", "len(p.v)")}, s.c
    ) AS rn
  FROM pqsrc p, seeds s
),
pqseeds AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS pc,
         list_transform(range(1, len(v) + 1), j -> v[j] - cv[j]) AS rv
  FROM pq_assign WHERE rn = 1
),
q AS (SELECT v AS qv FROM valid WHERE vec_id = 0),
probe AS (
  SELECT s.c FROM seeds s, q
  ORDER BY {_d2_sql("q.qv", "s.cv", "0", "len(q.qv)")}, s.c
  LIMIT {_IPQ_NPROBE}
),
assign AS (
  SELECT e.vec_id, e.v, s.c, s.cv,
    row_number() OVER (
      PARTITION BY e.vec_id
      ORDER BY {_d2_sql("e.v", "s.cv", "0", "len(e.v)")}, s.c
    ) AS rn
  FROM valid e, seeds s
),
cells AS (
  SELECT a.vec_id, a.v, a.c AS cluster, a.cv,
         list_transform(range(1, len(a.v) + 1), j -> a.v[j] - a.cv[j]) AS rv
  FROM assign a JOIN probe p ON a.c = p.c
  WHERE a.rn = 1
),
code_assign AS (
  SELECT ce.vec_id, sub.s, pq.pc,
    row_number() OVER (
      PARTITION BY ce.vec_id, sub.s
      ORDER BY
        CASE sub.s
          {" ".join(
              f"WHEN {sp} THEN " + _d2_sql(
                  "ce.rv", "pq.rv",
                  _pq_sub_bounds_sql(sp, "ce.rv")[0],
                  _pq_sub_bounds_sql(sp, "ce.rv")[1],
              )
              for sp in range(_IPQ_M)
          )}
        END,
        pq.pc
    ) AS rn
  FROM cells ce, (SELECT unnest(range({_IPQ_M})) AS s) sub, pqseeds pq
),
codes AS (SELECT vec_id, s, pc FROM code_assign WHERE rn = 1),
terms AS (
  SELECT cd.vec_id, cd.s,
    CASE cd.s
      {" ".join(f"WHEN {sp} THEN " + _ipq_res_term_sql(sp, "q.qv") for sp in range(_IPQ_M))}
    END AS term
  FROM codes cd JOIN pqseeds pq ON pq.pc = cd.pc, q
),
adc AS (
  SELECT vec_id,
    {" + ".join(
        f"COALESCE(MAX(CASE WHEN s = {sp} THEN term END), 0.0)"
        for sp in range(_IPQ_M)
    )} AS res_part
  FROM terms GROUP BY vec_id
)
SELECT cl.vec_id, CAST(cl.cluster AS INT) AS cluster,
       ROUND(list_dot_product(q.qv, cl.cv) + adc.res_part, 6) AS adc_score
FROM adc JOIN cells cl USING (vec_id), q
ORDER BY adc_score DESC, cl.vec_id
LIMIT {_IPQ_TOPK}
"""

QUERIES["ivfpq_residual_topk_embeddings"] = ivfpq_residual_topk_embeddings
ORACLES["ivfpq_residual_topk_embeddings"] = IVFPQ_RESIDUAL_SQL


# === MinHash (bands x rows) parameter sweep ====================================

# DuckDB twin of llm/text.normalized_text (local copy — round-6 lesson:
# never import fragment constants across plans modules)
_NORM_SQL = r"trim(regexp_replace(lower(text), '\s+', ' ', 'g'))"

_MBS_N = 8           # signature length
_MBS_K = 2           # shingle size (words) — the dedup family's setting
_MBS_BANDS = (8, 4, 2)
_MBS_MAX_BUCKET = 1000
_MBS_JACC = 0.5
# Sample-by-design cap, ENFORCED in the query body (VERDICT r07): the
# sweep pays for its most sensitive config — (8,1) exact-verifies far
# more candidates than the production setting, and a 1M-doc run
# exceeds local shuffle disk on its verify.  Tuning needs estimates,
# not the full pair set, so the corpus is capped to the _MBS_SAMPLE
# docs with the smallest md5(doc_id) — deterministic, seedless, and
# identical in both engines.  No-op below the cap (sf0.1 has 5k docs).
_MBS_SAMPLE = 100_000


def minhash_band_sweep_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash LSH (bands x rows) TUNING SWEEP: the same 8-hash
    signature banded three ways — (8,1), (4,2), (2,4) — with candidate
    count, verified-pair count (exact Jaccard >= 0.5), precision, and
    recall RELATIVE to the union of verified pairs across all configs
    (the best truth available without an all-pairs scan; absolute
    recall would be quadratic by definition).  This is the table a
    dedup team reads before fixing (b, r) at 100 TB: more bands =
    higher sensitivity = more candidates to verify; fewer bands =
    cheaper = misses.

    Scale: shingles + signature computed ONCE (checkpointed), each
    config is a band-keyed equi-join with the family's max_bucket
    quadratic guard; outputs are 3 bounded audit rows.  The sweep's
    cost is dominated by its MOST sensitive config — (8,1) generates
    and exact-verifies far more candidates than the production (4,2)
    setting — so at corpus scale this runs on a SAMPLE by design, and
    the sample is ENFORCED in-code: a deterministic md5(doc_id)-rank
    cap of ``_MBS_SAMPLE`` docs (TakeOrderedAndProject, no global
    sort) ahead of shingling, mirrored verbatim in the oracle.  The
    200k-doc uncapped probe measured 325 s and a 1M-doc run exceeded
    local shuffle disk on the (8,1) verify (BASELINE.md round-7
    continuation notes); the cap bounds the sweep at any corpus size
    while leaving every test/driver SF untouched."""
    from nasa_asteroid_data_lakehouse_spark.llm import dedup

    # NULL text joins NO shingle-keyed operator (module contract,
    # round-4b): without this filter the engine's concat_ws over a
    # NULL signature skips the NULL and banks every NULL-text doc in
    # one md5("") bucket (pairwise candidates!) while the oracle's
    # NULL bucket joins nothing — a candidate-count divergence the
    # verified-pairs family masks but this sweep EXPOSES.
    # doc_id IS NOT NULL guards the CAP itself: md5(NULL) sorts NULLS
    # FIRST in Spark, NULLS LAST in DuckDB, so above _MBS_SAMPLE docs a
    # NULL-keyed corpus would sample different sets (ADVICE r08).
    from nasa_asteroid_data_lakehouse_spark.plans.llm_queries import (
        _LSHMH_K,
        _LSHMH_N,
        _peek_lsh_sig_base,
    )

    # Shared signature base (VERDICT r11 #4, guide §1.2): the sweep's
    # shingle+minhash parameters are the near-dup family's (_MBS_K ==
    # _LSHMH_K, _MBS_N == _LSHMH_N), so when the family base is already
    # materialized in this session (the bench prebuilds it), re-banding
    # ITS checkpoint replaces a full ~5 s shingle+signature rebuild.
    # The md5-rank sample commutes with per-row shingling (both are
    # row-wise deterministic, and sh is NULL iff text is NULL), so the
    # sampled base is bit-identical either way.  When the family base
    # is NOT cached (isolated runs), the sweep shingles only its
    # sample, exactly as before — at corpus scale that is the cheaper
    # build, so reuse never penalizes isolation.
    shared = _peek_lsh_sig_base(spark, sf_dir)
    if shared is not None and _MBS_K == _LSHMH_K and _MBS_N == _LSHMH_N:
        base = (
            dedup._fan_out(
                shared.where(
                    F.col("doc").isNotNull() & F.col("sh").isNotNull()
                )
                .orderBy(F.md5(F.col("doc").cast("string")), "doc")
                .limit(_MBS_SAMPLE)
            )
            .localCheckpoint(eager=False)
        )
    else:
        docs = (
            read_table(spark, sf_dir, "documents")
            .where(F.col("text").isNotNull() & F.col("doc_id").isNotNull())
            .select("doc_id", "text")
            .orderBy(F.md5(F.col("doc_id").cast("string")), "doc_id")
            .limit(_MBS_SAMPLE)
        )
        sh = dedup.word_shingles("text", _MBS_K)
        base = (
            dedup._fan_out(docs.select(F.col("doc_id").alias("doc"), "text"))
            .select("doc", sh.alias("sh"))
            .withColumn("sig", dedup.minhash_signature(F.col("sh"), _MBS_N))
            .localCheckpoint(eager=False)
        )
    sh_a = base.select(F.col("doc").alias("id_a"), F.col("sh").alias("sh_a"))
    sh_b = base.select(F.col("doc").alias("id_b"), F.col("sh").alias("sh_b"))
    def config_pairs(bands: int):
        rpb = _MBS_N // bands
        entries = base.select(
            "doc",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(b).alias("band"),
                            F.md5(
                                F.concat_ws(
                                    ",", F.slice("sig", b * rpb + 1, rpb)
                                )
                            ).alias("bucket"),
                        )
                        for b in range(bands)
                    ]
                )
            ).alias("bb"),
        ).select("doc", "bb.band", "bb.bucket")
        sizes = entries.groupBy("band", "bucket").agg(
            F.count(F.lit(1)).alias("n")
        )
        bounded = entries.join(
            sizes.where(F.col("n") <= _MBS_MAX_BUCKET).select("band", "bucket"),
            ["band", "bucket"],
        )
        a, b2 = bounded.alias("a"), bounded.alias("b")
        # cand IS checkpointed now (re-measured this round, r12): it
        # feeds two consumers (the count agg and the verify), and
        # materializing the (8,1) config's 2.2 M (bigint, bigint) rows
        # costs ~4 s once vs ~3.3 s per recompute — 11.6 s vs 14.1 s
        # for checkpoint-then-consume vs recompute-twice on this host
        # (the r11 ledger's opposite call predates the shared signature
        # base and the sizes-first screen below, which shifted the
        # balance).
        cand = (
            a.join(
                b2,
                (F.col("a.band") == F.col("b.band"))
                & (F.col("a.bucket") == F.col("b.bucket"))
                & (F.col("a.doc") < F.col("b.doc")),
            )
            .select(F.col("a.doc").alias("id_a"), F.col("b.doc").alias("id_b"))
            .distinct()
            .localCheckpoint(eager=True)
        )
        inter = F.size(F.array_intersect("sh_a", "sh_b"))
        # Exact size-ratio screen BEFORE the O(|A|+|B|) intersect
        # (guide §1.2: don't compute what you throw away):
        # jaccard(A,B) <= min(|A|,|B|)/max(|A|,|B|), so a pair whose
        # size ratio cannot reach the ROUNDED-lattice boundary
        # (J - 5e-7, the exact HALF_UP round-up floor at 6 decimals)
        # cannot verify.  Integer arithmetic — no float edge:
        # keep iff 10^7 * min >= (10^7 * J - 5) * max.  Verified
        # output is bit-identical; only already-doomed pairs skip the
        # intersect ((8,1)'s candidate set is ~20x the others', almost
        # all length-mismatched false positives).
        # (A sizes-first variant — screen against a compact (id, |sh|)
        # broadcast, fetch arrays only for survivors — measured 1.5 s
        # faster on (8,1) but changes row MULTIPLICITY under duplicate
        # doc_ids (re-joining arrays after the screen re-fans the
        # pairs), so it was rejected: the sweep does not assume
        # key-unique input.)
        ratio_keep = (
            F.least(F.size("sh_a"), F.size("sh_b")) * F.lit(10_000_000)
            >= F.greatest(F.size("sh_a"), F.size("sh_b"))
            * F.lit(int(_MBS_JACC * 10_000_000) - 5)
        )
        verified = (
            cand.join(sh_a, "id_a")
            .join(sh_b, "id_b")
            .where(ratio_keep)
            .select(
                "id_a",
                "id_b",
                F.round(
                    inter / (F.size("sh_a") + F.size("sh_b") - inter), 6
                ).alias("jaccard"),
                F.monotonically_increasing_id().alias("__barrier"),
            )
            .where(F.col("jaccard") >= _MBS_JACC)
            .drop("__barrier")
            .select("id_a", "id_b")
        )
        # verified feeds TWO consumers (its own count agg and the
        # cross-config truth union), and it is TINY (pairs above the
        # Jaccard threshold): checkpoint it so the verify runs once
        # per config.
        return cand, verified.localCheckpoint(eager=False)

    per_config = {b: config_pairs(b) for b in _MBS_BANDS}
    truth = None
    for _, v in per_config.values():
        truth = v if truth is None else truth.unionByName(v)
    truth_n = truth.distinct().agg(
        F.count(F.lit(1)).cast("bigint").alias("n_truth")
    )
    rows = []
    for bands, (cand, verified) in per_config.items():
        stats = cand.agg(
            F.lit(bands).cast("bigint").alias("n_bands"),
            F.lit(_MBS_N // bands).cast("bigint").alias("rows_per_band"),
            F.count(F.lit(1)).cast("bigint").alias("n_candidates"),
        ).crossJoin(
            F.broadcast(
                verified.agg(F.count(F.lit(1)).cast("bigint").alias("n_verified"))
            )
        )
        rows.append(stats)
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return (
        out.crossJoin(F.broadcast(truth_n))
        .select(
            "n_bands",
            "rows_per_band",
            "n_candidates",
            "n_verified",
            F.round(
                F.try_divide(F.col("n_verified"), F.col("n_candidates")), 6
            ).alias("precision"),
            F.round(
                F.try_divide(F.col("n_verified"), F.col("n_truth")), 6
            ).alias("relative_recall"),
        )
        .orderBy(F.desc("n_bands"))
    )


def _mbs_config_sql(bands: int) -> str:
    rpb = _MBS_N // bands
    return rf"""
bands{bands} AS (
  SELECT doc_id, b,
         md5(array_to_string(s[b*{rpb}+1:b*{rpb}+{rpb}], ',')) AS bucket
  FROM sig, (SELECT unnest(range({bands})) AS b)
),
bounded{bands} AS (
  SELECT doc_id, b, bucket FROM bands{bands}
  QUALIFY COUNT(*) OVER (PARTITION BY b, bucket) <= {_MBS_MAX_BUCKET}
),
cand{bands} AS (
  SELECT DISTINCT a.doc_id AS id_a, c.doc_id AS id_b
  FROM bounded{bands} a JOIN bounded{bands} c
    ON a.b = c.b AND a.bucket = c.bucket AND a.doc_id < c.doc_id
),
ver{bands} AS (
  SELECT id_a, id_b FROM cand{bands}
  JOIN sig x ON x.doc_id = id_a
  JOIN sig y ON y.doc_id = id_b
  WHERE ROUND(len(list_intersect(x.shingles, y.shingles))
              / len(list_distinct(list_concat(x.shingles, y.shingles))), 6)
        >= {_MBS_JACC}
)"""


def _mbs_sql() -> str:
    from nasa_asteroid_data_lakehouse_spark.llm import dedup

    coeffs = dedup._minhash_coeffs(_MBS_N)
    sig = ", ".join(
        f"list_min(list_transform(bh, h -> ({a} * h + {b}) % {dedup.MINHASH_PRIME}))"
        for a, b in coeffs
    )
    k = _MBS_K
    configs = ",".join(_mbs_config_sql(b) for b in _MBS_BANDS)
    selects = "\nUNION ALL\n".join(
        f"""SELECT CAST({b} AS BIGINT) AS n_bands,
       CAST({_MBS_N // b} AS BIGINT) AS rows_per_band,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM cand{b}) AS n_candidates,
       (SELECT CAST(COUNT(*) AS BIGINT) FROM ver{b}) AS n_verified,
       ROUND((SELECT COUNT(*) FROM ver{b})
             / NULLIF((SELECT COUNT(*) FROM cand{b}), 0), 6) AS precision,
       ROUND((SELECT COUNT(*) FROM ver{b})
             / NULLIF((SELECT COUNT(*) FROM truth), 0), 6) AS relative_recall"""
        for b in _MBS_BANDS
    )
    return rf"""
WITH sh AS (
  SELECT doc_id,
    CASE WHEN len(words) >= {k}
         THEN list_distinct(list_transform(range(1, len(words) - {k - 2}),
                            j -> array_to_string(words[j:j+{k - 1}], ' ')))
         ELSE [array_to_string(words, ' ')] END AS shingles
  FROM (SELECT doc_id, string_split({_NORM_SQL}, ' ') AS words
        FROM (SELECT doc_id, text FROM documents
              WHERE text IS NOT NULL AND doc_id IS NOT NULL
              ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
              LIMIT {_MBS_SAMPLE}))
),
sig AS (
  SELECT doc_id, shingles, [{sig}] AS s
  FROM (SELECT doc_id, shingles,
          list_transform(shingles, x -> ('0x' || substr(md5(x), 1, 8))::BIGINT) AS bh
        FROM sh)
),
{configs},
truth AS (
  SELECT DISTINCT id_a, id_b FROM (
    {" UNION ALL ".join(f"SELECT id_a, id_b FROM ver{b}" for b in _MBS_BANDS)}
  )
)
{selects}
ORDER BY n_bands DESC
"""


QUERIES["minhash_band_sweep_documents"] = minhash_band_sweep_documents
ORACLES["minhash_band_sweep_documents"] = _mbs_sql()
