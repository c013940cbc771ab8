"""Similarity search over embedding columns (array<float>).

Two paths:

* ``cosine_topk`` — brute-force exact top-k: one narrow projection
  computing the cosine in double precision via array algebra
  (``zip_with`` + ``aggregate``, JVM built-ins), then
  TakeOrderedAndProject.  O(n·d) scan, no shuffle — the right baseline,
  and at 100 TB still viable when filters prune the candidate set.
* ``hyperplane_lsh`` — sign-random-projection buckets: B deterministic
  pseudo-random hyperplanes (coefficients derived from md5, so every
  run/engine agrees) give a B-bit bucket id; search only the query's
  bucket (optionally ± Hamming-1 probes).  Turns top-k into an
  equi-join on bucket id: the 1000-executor path.

* ``ivf_topk`` — IVF with a k-means coarse quantizer (``kmeans_fit``,
  Lloyd's iterations as DataFrame jobs): assign-to-centroid replaces
  the bucket id and the search probes the ``nprobe`` nearest cells.
  Store the table partitioned by cluster to prune instead of filter.

Vector contract (:func:`vec_valid`): a row participates in a vector
operator only if its vector is non-NULL AND every component is finite
and non-NULL.  A NULL vector (failed encoder, missing modality) has no
direction, no bucket, and no cluster; a NaN/Inf/NULL COMPONENT is a
corrupted encode that poisons every dot product it touches (NaN-ranked
top-k is garbage, and DuckDB's chunk-level list kernels RAISE on NULL
lists/components, so an unfiltered oracle cannot even run — the
round-4 NULL sweep and round-4c NaN sweep each caught this live).
Every public operator filters at its scan; oracles carry the matching
``embedding IS NOT NULL AND len(list_filter(...)) = 0`` predicate.
``embedding_outliers`` and ``vector_stats`` (hygiene queries) are the
deliberate exceptions: they keep invalid rows VISIBLE with NULL stats
(outliers additionally flags them TRUE).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    """Σ aᵢ·bᵢ in double precision, sequential order (portable)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity; NULL when either vector has zero norm (a
    zero embedding — failed encoder, padding row — has no direction).
    ``try_divide`` because the session runs ANSI: a raw ``/`` raises
    DIVIDE_BY_ZERO at the first zero vector, while the DuckDB oracles'
    ``x / 0.0`` is NULL — this pins both engines to the NULL."""
    return F.try_divide(dot(a, b), norm(a) * norm(b))


def vec_valid(col: Column | str) -> Column:
    """The module's vector-participation predicate: non-NULL AND every
    component finite AND no NULL component.  A NaN/Inf/NULL component
    is a failed or corrupted encode — it poisons every dot product it
    touches (NaN-ranked top-k is garbage on both engines, and DuckDB's
    chunk-level list kernels RAISE on NULL components), so such rows
    participate in NO vector operator, exactly like whole-NULL vectors
    (round-4 contract; NaN extension from the round-4c sweep).  Oracles
    carry the same predicate:
    ``embedding IS NOT NULL AND len(list_filter(embedding,
    x -> x IS NULL OR isnan(x) OR isinf(x))) = 0``."""
    c = F.col(col) if isinstance(col, str) else col
    return c.isNotNull() & ~F.exists(
        c,
        lambda x: x.isNull()
        | F.isnan(x.cast("double"))
        | (F.abs(x.cast("double")) == F.lit(float("inf"))),
    )


def cosine_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 6,
    backend: str = "sql",
) -> DataFrame:
    """Exact top-k by cosine similarity against a constant query vector.

    Plans as scan -> projection -> TakeOrderedAndProject: each partition
    keeps its local k, the driver merges — no global sort, no shuffle.

    ``backend="sql"`` scores with JVM array algebra — fully portable,
    bit-identical to the DuckDB oracle (sequential fold, HALF_UP round).
    ``backend="arrow"`` scores in a vectorized pandas UDF — one BLAS
    matrix-vector product per Arrow batch: ~2x the throughput at
    100k vectors of dim 64 (scripts/stress.py), widening with
    dimension since the JVM fold is O(d) interpreted per row while the
    matvec is one BLAS call per batch.  Rounding is numpy's
    half-to-even, so use it for serving, not oracle diffs.
    """
    df = df.where(vec_valid(F.col(vec_col)))  # module vector contract
    if backend == "arrow":
        from pyspark.sql.functions import pandas_udf

        qv = np.asarray(query_vec, dtype=np.float64)
        qn = float(np.sqrt((qv * qv).sum()))

        @pandas_udf("double")
        def cos_arrow(v: pd.Series) -> pd.Series:
            m = np.stack(v.to_numpy()).astype(np.float64)
            sims = (m @ qv) / (np.sqrt((m * m).sum(axis=1)) * qn)
            return pd.Series(np.round(sims, round_to))

        scored = df.select(
            F.col(id_col), cos_arrow(F.col(vec_col)).alias("cosine_sim")
        )
    else:
        q = F.array(*[F.lit(float(v)) for v in query_vec])
        scored = df.select(
            F.col(id_col),
            F.round(cosine(F.col(vec_col), q), round_to).alias("cosine_sim"),
        )
    return scored.orderBy(F.desc("cosine_sim"), F.asc(id_col)).limit(k)


# --- hyperplane LSH -------------------------------------------------------------

def vector_dim(df: DataFrame, vec_col: str) -> int:
    """Dimensionality of ``vec_col``, sampled from the first non-NULL
    vector.  An empty (or all-NULL) table returns 1: any plane count
    then types the plan correctly, and the zero data rows make every
    downstream result empty — the operators stay total on empty input
    instead of crashing on ``first()`` returning None."""
    row = (
        df.where(vec_valid(F.col(vec_col))).select(vec_col).first()
    )
    return len(row[vec_col]) if row is not None else 1


def query_vector(
    df: DataFrame, id_col: str, vec_col: str, target_id: int = 0
) -> list[float] | None:
    """The vector of ``target_id`` as Python floats — the driver-side
    probe for the top-k query plans — or ``None`` when no valid probe
    row exists (id absent, or its vector NULL/NaN/Inf).

    ``None`` (not a zero-vector fallback) is the contract: a probe
    query whose probe is missing has an EMPTY answer, exactly like the
    oracles' ``q`` CTE filtered by the same validity predicate
    (ADVICE r04 medium — the zero-vector fallback produced k rows of
    NULL cosine while the oracle produced none).  Callers short-circuit
    to an empty result of the query's output schema."""
    row = (
        df.where((F.col(id_col) == target_id) & vec_valid(F.col(vec_col)))
        .select(vec_col)
        .first()
    )
    if row is not None:
        return [float(v) for v in row[vec_col]]
    return None


AUTO_PLANES_TARGET_OCC = 64
AUTO_PLANES_MIN = 4
AUTO_PLANES_MAX = 16


def auto_planes(
    n: int,
    target_occupancy: int = AUTO_PLANES_TARGET_OCC,
    min_planes: int = AUTO_PLANES_MIN,
    max_planes: int = AUTO_PLANES_MAX,
) -> int:
    """The sign-LSH occupancy law, executable (VERDICT r06 ask #5 /
    r07 ask #5): the smallest plane count whose bucket space keeps
    mean occupancy <= the target — one more plane per corpus doubling,
    clamped to [min, max].  Integer comparisons only, so the DuckDB
    oracles reproduce it bit-for-bit (no float log2 on either engine).

    This is THE lever that keeps a within-bucket verify join's
    occupancy^2 x buckets cost constant as the corpus grows: at 1M
    vectors the law picks 14 planes and the hubness verify measured
    83.2 s vs 570.9 s at a hand-set 12 (BASELINE.md round-7)."""
    for p in range(min_planes, max_planes + 1):
        if target_occupancy * (1 << p) >= n:
            return p
    return max_planes


def _plane_coef(plane: int, dim: int) -> float:
    """Deterministic pseudo-random coefficient in [-1, 1): derived from
    md5(plane_dim), so identical across engines and runs."""
    import hashlib

    h = hashlib.md5(f"{plane}_{dim}".encode()).hexdigest()
    return (int(h[:15], 16) % 2000 - 1000) / 1000.0


def hyperplane_coefficients(num_planes: int, dim: int) -> list[list[float]]:
    return [[_plane_coef(p, d) for d in range(dim)] for p in range(num_planes)]


def bucket_id(vec_col: Column, planes: list[list[float]]) -> Column:
    """B-bit bucket: bit p set iff vec · plane_p >= 0."""
    bucket = F.lit(0).cast("long")
    for p, coefs in enumerate(planes):
        plane = F.array(*[F.lit(c) for c in coefs])
        bit = F.when(dot(vec_col, plane) >= 0, F.lit(1 << p).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        bucket = bucket + bit
    return bucket


def with_lsh_bucket(
    df: DataFrame,
    vec_col: str = "embedding",
    num_planes: int = 8,
    dim: int = 64,
    out: str = "bucket",
) -> DataFrame:
    """Sign-LSH bucket column.  NULL-vector rows are dropped (module
    contract): the when/otherwise sign chain would otherwise fold a
    NULL dot product to bit 0 and silently pool every failed-encoder
    row into bucket 0."""
    planes = hyperplane_coefficients(num_planes, dim)
    return df.where(vec_valid(F.col(vec_col))).withColumn(
        out, bucket_id(F.col(vec_col), planes)
    )


def lsh_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_planes: int = 8,
    probe_hamming: int = 1,
    round_to: int = 6,
) -> DataFrame:
    """Approximate top-k: score only vectors whose bucket is within
    ``probe_hamming`` bits of the query's bucket.

    At scale the table is written bucketed/partitioned by ``bucket`` so
    this prunes partitions instead of filtering a full scan.
    """
    dim = len(query_vec)
    planes = hyperplane_coefficients(num_planes, dim)
    q = F.array(*[F.lit(float(v)) for v in query_vec])
    q_bucket = sum(
        (1 << p)
        for p, coefs in enumerate(planes)
        if sum(c * v for c, v in zip(coefs, query_vec)) >= 0
    )
    bucketed = with_lsh_bucket(df, vec_col, num_planes, dim)
    candidates = bucketed.where(
        F.bit_count(F.col("bucket").bitwiseXOR(F.lit(q_bucket))) <= probe_hamming
    )
    scored = candidates.select(
        F.col(id_col),
        F.col("bucket"),
        F.round(cosine(F.col(vec_col), q), round_to).alias("cosine_sim"),
    )
    return scored.orderBy(F.desc("cosine_sim"), F.asc(id_col)).limit(k)


def embedding_near_dup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    num_planes: int | None = None,
    threshold: float = 0.95,
    round_to: int = 6,
) -> DataFrame:
    """Embedding-cosine near-duplicates via bucketed self-join.

    Same-bucket pairs only (sign-LSH: cos-similar vectors collide with
    high probability); exact cosine verify on candidates.

    ``num_planes=None`` (the default) derives the plane count from the
    corpus size via :func:`auto_planes` — one bounded count, then the
    integer occupancy law — so the default shape stays scale-safe: a
    fixed plane count makes the within-bucket verify quadratic in
    corpus size.  Pass an explicit count to pin bucket granularity
    (recall tuning, oracle parity at a fixed P).
    """
    if num_planes is None:
        num_planes = auto_planes(df.where(vec_valid(F.col(vec_col))).count())
    dim = vector_dim(df, vec_col)
    # Pre-compute each vector's norm before the self-join: the join
    # then evaluates one dot product per candidate pair instead of
    # three array aggregations (dot + two norms).
    # Checkpoint before the self-join: both sides otherwise recompute
    # the 8 hyperplane dots + the norm fold (3.5x at sf0.1).
    bucketed = (
        with_lsh_bucket(df, vec_col, num_planes, dim)
        .select(
            F.col(id_col).alias("doc"),
            F.col(vec_col).alias("v"),
            norm(F.col(vec_col)).alias("nrm"),
            "bucket",
        )
        .localCheckpoint(eager=False)
    )
    a, b = bucketed.alias("a"), bucketed.alias("b")
    return (
        a.join(
            b,
            (F.col("a.bucket") == F.col("b.bucket")) & (F.col("a.doc") < F.col("b.doc")),
        )
        .select(
            F.col("a.doc").alias("id_a"),
            F.col("b.doc").alias("id_b"),
            F.round(
                F.try_divide(dot(F.col("a.v"), F.col("b.v")), F.col("a.nrm") * F.col("b.nrm")),
                round_to,
            ).alias("cosine_sim"),
            # Pushdown barrier: predicate pushdown only crosses fully
            # deterministic projections, so this column pins the
            # threshold filter ABOVE the projection — the dot-product
            # fold evaluates once per pair instead of once in the
            # pushed filter and again in the project (Catalyst has no
            # CSE across a pushed predicate and a project; measured
            # 1.5x on the verify at sf0.1).
            F.monotonically_increasing_id().alias("__barrier"),
        )
        .where(F.col("cosine_sim") >= threshold)
        .drop("__barrier")
    )


# --- IVF (k-means coarse quantizer) ----------------------------------------

def seed_centroids(
    df: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[float]]:
    """The seed quantizer: the vectors of the ``k`` lowest ids among the
    :func:`vec_valid` rows, as Python floats — k-means at iteration 0,
    the deterministic init :func:`kmeans_fit` starts from and the
    quantizer every oracle-checked IVF/PQ query uses, since it stays
    SQL-expressible.

    Validity is filtered BEFORE the limit (a NULL-headed table still
    seeds from the valid rows further down), and a NULL id sorts LAST:
    Spark's ascending default puts NULLs first, the oracles' DuckDB
    ``ORDER BY vec_id`` puts them last, so an id-less vector must not
    become centroid 0 on one engine only.  Callers whose oracle also
    requires a non-NULL id filter ``df`` first.  KEY-UNIQUE
    precondition: duplicate ids make "the vector of id i" ambiguous on
    both engines (the documented driver_sim --dup skip)."""
    rows = (
        df.where(vec_valid(F.col(vec_col)))
        .select(id_col, vec_col)
        .orderBy(F.col(id_col).asc_nulls_last())
        .limit(k)
        .collect()
    )
    return [[float(v) for v in r[vec_col]] for r in rows]


def kmeans_fit(
    df: DataFrame,
    k: int = 8,
    iters: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> list[list[float]]:
    """Lloyd's k-means over an embedding column, fully distributed.

    Each iteration is two DataFrame jobs: (1) assign each vector to its
    nearest centroid (broadcast centroid literals, argmin over k dots),
    (2) recompute centroids via posexplode + groupBy(cluster, dim) avg.
    Only the k×d centroid matrix ever reaches the driver.  Init is
    :func:`seed_centroids` (deterministic across runs/engines).
    """
    df = df.where(vec_valid(F.col(vec_col)))  # module vector contract
    centroids = seed_centroids(df, k, id_col, vec_col)
    if not centroids:  # empty (or all-NULL-vector) input: nothing to fit
        return []

    for _ in range(iters):
        assigned = with_ivf_assignment(df, centroids, vec_col)
        new = (
            assigned.select("cluster", F.posexplode(vec_col).alias("dim", "val"))
            .groupBy("cluster", "dim")
            .agg(F.avg("val").alias("v"))
            .collect()
        )
        by_cluster: dict[int, dict[int, float]] = {}
        for r in new:
            by_cluster.setdefault(r["cluster"], {})[r["dim"]] = r["v"]
        centroids = [
            [by_cluster[c][d] for d in range(len(centroids[0]))]
            if c in by_cluster
            else centroids[c]  # empty cluster keeps its previous centroid
            for c in range(k)
        ]
    return centroids


def _sq_dist(vec_col: Column, centroid: list[float]) -> Column:
    c = F.array(*[F.lit(float(v)) for v in centroid])
    return F.aggregate(
        F.zip_with(vec_col, c, lambda x, y: (x.cast("double") - y) * (x.cast("double") - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def with_ivf_assignment(
    df: DataFrame,
    centroids: list[list[float]],
    vec_col: str = "embedding",
    out: str = "cluster",
) -> DataFrame:
    """Nearest-centroid assignment as a pure projection (no shuffle):
    argmin over k squared distances, centroids inlined as literals.

    The k distances are materialized once as an array column and the
    argmin is ``array_position(dists, array_min(dists)) - 1`` (first
    occurrence ⇒ lowest index wins ties, same as a strict-< scan).  A
    when/otherwise chain instead re-nests every distance expression
    O(k²) times and plan compilation dominates runtime.

    An empty centroid list is only legal when ``df`` has no non-NULL
    vectors (k-means over an empty or all-NULL table): the fallback
    single zero centroid keeps the plan well-typed (``F.array()`` of
    zero columns is NULL-typed and breaks ``array_position``) and the
    NULL vectors assign to a NULL cluster anyway.  Empty centroids
    while assignable vectors EXIST raise instead of silently assigning
    every row to a dim-mismatched cluster 0 — unreachable from
    ``kmeans_fit`` since its seeds filter NULLs before the limit, so
    this only fires on caller-supplied empty lists.
    """
    if not centroids:
        if not df.where(vec_valid(F.col(vec_col))).isEmpty():
            raise ValueError(
                "empty centroid list while the DataFrame has non-NULL "
                "vectors: fit centroids first (kmeans_fit) or pass "
                "explicit centroids"
            )
        centroids = [[0.0]]
    dists = F.array(*[_sq_dist(F.col(vec_col), c) for c in centroids])
    return df.withColumn("__dists", dists).withColumn(
        out,
        (F.array_position(F.col("__dists"), F.array_min(F.col("__dists"))) - 1).cast(
            "int"
        ),
    ).drop("__dists")


def _nearest_cells(
    query_vec: list[float], centroids: list[list[float]], nprobe: int
) -> list[int]:
    """Indices of the ``nprobe`` centroids nearest a literal query by
    squared distance, ties to the lower index (``sorted`` is stable) —
    the driver-side probe list of the IVF top-k paths."""
    d2 = [
        sum((float(q) - c) ** 2 for q, c in zip(query_vec, cent))
        for cent in centroids
    ]
    return sorted(range(len(centroids)), key=lambda i: d2[i])[:nprobe]


def ivf_topk(
    df: DataFrame,
    query_vec: list[float],
    centroids: list[list[float]],
    k: int = 10,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 6,
) -> DataFrame:
    """IVF search: score only vectors assigned to the query's ``nprobe``
    nearest centroids.  At scale the table is stored partitioned by
    ``cluster`` so probing prunes partitions instead of filtering."""
    probe = _nearest_cells(query_vec, centroids, nprobe)
    q = F.array(*[F.lit(float(v)) for v in query_vec])
    df = df.where(vec_valid(F.col(vec_col)))  # module vector contract
    assigned = with_ivf_assignment(df, centroids, vec_col)
    return (
        assigned.where(F.col("cluster").isin(probe))
        .select(
            F.col(id_col),
            F.col("cluster"),
            F.round(cosine(F.col(vec_col), q), round_to).alias("cosine_sim"),
        )
        .orderBy(F.desc("cosine_sim"), F.asc(id_col))
        .limit(k)
    )

# --- SemDeDup (cluster-then-prune semantic dedup) ---------------------------

def semantic_dedup(
    df: DataFrame,
    centroids: list[list[float]],
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 6,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): assign every vector to its nearest centroid,
    then inside each cluster drop any vector that has a lower-id
    neighbor with cosine ≥ ``threshold``; the lowest id in each
    near-duplicate neighborhood survives.

    Precondition: ``id_col`` is unique (the table sits after exact
    dedup in any pipeline).  Duplicate ids are neither dropped nor
    merged — the drop rule compares ids strictly, so exact copies of
    one id all survive (driver_sim --const documents this boundary).

    Clustering is what makes the pairwise step tractable at 100 TB:
    the quadratic compare runs per-cluster (O(n²/k) pairs, executed as
    an equi-join on ``cluster``), never corpus-wide.  The drop rule is
    a pure function of (ids, vectors, centroids) — deterministic
    across runs, partitionings, and engines.  Returns the surviving
    rows as (id, cluster).
    """
    df = df.where(vec_valid(F.col(vec_col)))  # module vector contract
    assigned = (
        with_ivf_assignment(df, centroids, vec_col)
        .select(
            F.col(id_col),
            F.col(vec_col).alias("v"),
            norm(F.col(vec_col)).alias("nrm"),
            "cluster",
        )
        .localCheckpoint(eager=False)  # referenced 3x: pair sides + survivor base
    )
    a, b = assigned.alias("a"), assigned.alias("b")
    dropped = (
        a.join(
            b,
            (F.col("a.cluster") == F.col("b.cluster"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"b.{id_col}").alias("__dup_id"),
            F.round(
                F.try_divide(dot(F.col("a.v"), F.col("b.v")), F.col("a.nrm") * F.col("b.nrm")),
                round_to,
            ).alias("__cos"),
            # pushdown barrier: keep the threshold filter above the
            # projection so the dot-product fold evaluates once per
            # pair (same Catalyst CSE gap as embedding_near_dup_pairs)
            F.monotonically_increasing_id().alias("__barrier"),
        )
        .where(F.col("__cos") >= threshold)
        .select("__dup_id")
        .distinct()
    )
    return (
        assigned.join(dropped, F.col(id_col) == F.col("__dup_id"), "left_anti")
        .select(F.col(id_col), F.col("cluster"))
    )


def _sym_scale(vec_dbl: Column, qmax: int) -> Column:
    """Symmetric lattice scale for a double array: qmax / max |v|, with
    a zero vector pinned to scale 1.0."""
    max_abs = F.array_max(F.transform(vec_dbl, F.abs))
    return F.when(max_abs > 0.0, F.lit(float(qmax)) / max_abs).otherwise(F.lit(1.0))


def int8_scale(vec_dbl: Column) -> Column:
    """Symmetric int8 scale for a double array: 127 / max |v|, with a
    zero vector pinned to scale 1.0.  quantize_embeddings and
    quantized_recall both code on it, so the recall diagnostic measures
    the lattice the store produces; the int4/int2 rows of the
    quantization-bits sweep use the same :func:`_sym_scale` at a
    narrower qmax."""
    return _sym_scale(vec_dbl, 127)


def int8_codes(vec_dbl: Column, scale: Column) -> Column:
    """``floor(v * scale + 0.5)`` — an explicit half-up lattice snap
    built only from IEEE ops every engine executes identically (ROUND
    of a double is *not* portable across engines; floor of the shifted
    product is)."""
    return F.transform(vec_dbl, lambda x: F.floor(x * scale + F.lit(0.5)))


def quantize_embeddings(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Symmetric per-vector int8 quantization profile: scale
    (127 / max |v|), code checksum, saturation count, and the exact
    maximum reconstruction error — the storage-compression diagnostic
    for an embedding store (int8 cuts an embedding column 4x, which at
    100 TB is the difference between a broadcastable ANN index and
    not).

    Codes live on the :func:`int8_codes` lattice (shared with
    :func:`quantized_recall`).  Pure narrow projection: no shuffle, no
    UDF, whole-stage codegen end to end.  A zero vector gets scale 1.0
    and all-zero codes.  Row-preserving hygiene semantics: an INVALID
    vector (NULL, or any NaN/Inf/NULL component — :func:`vec_valid`)
    keeps its row with a fully-NULL profile; NaN must never leak into
    scale/codes, where it would silently quantize to garbage.
    """
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    staged = df.select(
        F.col(id_col),
        v.alias("__v"),
        int8_scale(v).alias("__scale"),
        vec_valid(F.col(vec_col)).alias("__ok"),
    )
    staged = staged.withColumn("__codes", int8_codes(F.col("__v"), F.col("__scale")))
    err = F.zip_with(
        F.col("__v"),
        F.col("__codes"),
        lambda x, c: F.abs(c.cast("double") / F.col("__scale") - x),
    )
    ok = F.col("__ok")
    return staged.select(
        id_col,
        F.when(ok, F.col("__scale")).alias("scale"),
        F.when(
            ok,
            F.aggregate(
                F.col("__codes"), F.lit(0).cast("long"), lambda acc, c: acc + c
            ),
        ).alias("code_sum"),
        F.when(
            ok,
            F.size(F.filter(F.col("__codes"), lambda c: F.abs(c) == 127)),
        ).alias("n_sat"),
        F.when(ok, F.array_max(err)).alias("max_abs_err"),
    )


# --- anchor-audit kit -------------------------------------------------------
#
# Every recall audit below (and the nprobe / quantization-bits sweeps in
# plans/r09_queries.py and plans/r10_queries.py) is one pipeline: scan
# the valid vectors, score broadcast anchors (``id < anchor_max_id``)
# against the whole corpus, rank each anchor's exact top-k and an
# approximate top-k, and count the overlap.  These helpers are that
# pipeline's single copy; an audit only adds its approximate score.


def _vectors(df: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """The audits' scan: rows with a non-NULL id and a :func:`vec_valid`
    vector, as ``id``, the double-cast vector ``v`` and its norm
    ``nrm`` (hoisted out of the pair loop: N folds instead of 2·A·N)."""
    return df.where(F.col(id_col).isNotNull() & vec_valid(F.col(vec_col))).select(
        F.col(id_col).alias("id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("v"),
        norm(F.col(vec_col)).alias("nrm"),
    )


def _pair_cos(v: str = "v", nrm: str = "nrm") -> Column:
    """Cosine of the anchor row ``a`` and the neighbour row ``b`` from a
    stored vector column and its norm, on the 6-decimal lattice;
    ``try_divide`` makes a zero norm NULL (sinks to the bottom of a
    DESC rank on both engines)."""
    return F.round(
        F.try_divide(
            dot(F.col(f"a.{v}"), F.col(f"b.{v}")),
            F.col(f"a.{nrm}") * F.col(f"b.{nrm}"),
        ),
        6,
    )


def _anchor_pairs(base: DataFrame, anchor_max_id: int, **cols: Column) -> DataFrame:
    """Every (anchor, neighbour) pair of ``base`` with ``id <
    anchor_max_id`` on the anchor side, self excluded, as ``anchor_id``,
    ``nbr`` and one column per keyword (expressions over ``a.*`` and
    ``b.*``).  The anchor side broadcasts, so the cost is |anchors| x N,
    never N²; checkpointed lazily, so the rankings and counts over it
    score each pair once."""
    return (
        F.broadcast(base.where(F.col("id") < anchor_max_id).alias("a"))
        .join(base.alias("b"), F.col("a.id") != F.col("b.id"))
        .select(
            F.col("a.id").alias("anchor_id"),
            F.col("b.id").alias("nbr"),
            *[c.alias(name) for name, c in cols.items()],
        )
        .localCheckpoint(eager=False)
    )


def _topk(pairs: DataFrame, score: str, k: int) -> DataFrame:
    """Each anchor's top-``k`` neighbours by ``score`` DESC, ties to the
    lower ``nbr``, as (anchor_id, nbr, rk) — a ``row_number <= k``
    window, which Spark distributes as a per-partition group limit."""
    w = Window.partitionBy("anchor_id").orderBy(F.desc(score), F.asc("nbr"))
    return (
        pairs.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= k)
        .select("anchor_id", "nbr", "rk")
    )


def _recall(exact: DataFrame, approx: DataFrame, k: int, out: str) -> DataFrame:
    """Per anchor: ``n_exact`` (size of the exact top-k), ``n_hits`` =
    |exact ∩ approx| and ``out`` = n_hits / least(k, n_exact) — the
    denominator caps at the achievable neighbour count, and the ratio
    is a division of two exact integers."""
    hits = (
        exact.join(approx, ["anchor_id", "nbr"])
        .groupBy("anchor_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    n_hits = F.coalesce("n_hits", F.lit(0))
    return (
        exact.groupBy("anchor_id")
        .agg(F.count(F.lit(1)).alias("n_exact"))
        .join(F.broadcast(hits), "anchor_id", "left")
        .select(
            "anchor_id",
            "n_exact",
            n_hits.alias("n_hits"),
            F.round(n_hits / F.least(F.lit(k), F.col("n_exact")), 6).alias(out),
        )
    )


def _probe_cells(
    anchors: DataFrame, centroids: list[list[float]], nprobe: int
) -> DataFrame:
    """Each anchor's ``nprobe`` nearest IVF cells as (anchor_id, v,
    cluster, probe_rank): squared distance to every centroid, ties to
    the lower cell index — the :func:`with_ivf_assignment` contract.
    Bounded at |anchors|·|cells| rows."""
    d2 = F.array(*[_sq_dist(F.col("v"), c) for c in centroids])
    w = Window.partitionBy("anchor_id").orderBy("__d2", "cluster")
    return (
        anchors.select(
            F.col("id").alias("anchor_id"),
            "v",
            F.posexplode(d2).alias("cluster", "__d2"),
        )
        .withColumn("probe_rank", F.row_number().over(w))
        .where(F.col("probe_rank") <= nprobe)
        .drop("__d2")
    )


def _ivf_pairs(
    df: DataFrame,
    centroids: list[list[float]],
    anchor_max_id: int,
    nprobe: int,
    id_col: str,
    vec_col: str,
) -> tuple[DataFrame, DataFrame]:
    """The IVF audits' shared frames: the anchor pairs with the exact
    cosine and the neighbour's cell, and each anchor's ``nprobe``
    nearest cells (anchor_id, cluster, probe_rank)."""
    base = with_ivf_assignment(
        _vectors(df, id_col, vec_col), centroids, "v"
    ).localCheckpoint(eager=False)
    pairs = _anchor_pairs(
        base, anchor_max_id, cos=_pair_cos(), cluster=F.col("b.cluster")
    )
    probes = _probe_cells(
        base.where(F.col("id") < anchor_max_id), centroids, nprobe
    ).select("anchor_id", "cluster", "probe_rank")
    return pairs, probes


def _lattice_codes(base: DataFrame, qmax: int, codes: str, nrm: str) -> DataFrame:
    """``base`` plus the codes of ``v`` on the symmetric lattice at
    ``qmax`` (:func:`int8_codes` on :func:`_sym_scale`) and their norm.
    Codes are integers, so every dot over them is exact in double."""
    return (
        base.withColumn("__scale", _sym_scale(F.col("v"), qmax))
        .withColumn(codes, int8_codes(F.col("v"), F.col("__scale")))
        .withColumn(nrm, norm(F.col(codes)))
        .drop("__scale")
    )


def hard_negatives(
    df: DataFrame,
    anchor_max_id: int,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Contrastive hard-negative mining: for each anchor vector, the
    ``k`` most cosine-similar vectors with a *different* label — the
    negatives that actually move a contrastive loss.

    The anchor set is the bounded side (``id < anchor_max_id``) and is
    broadcast against the full corpus, so the pair stage is a broadcast
    nested-loop bounded at |anchors| x N — linear in corpus size, never
    quadratic.  At 100 TB the corpus side stays partitioned and each
    executor scores its shard against the broadcast anchors; swap the
    corpus scan for an LSH/IVF candidate probe to go sub-linear.
    Norms and double casts are hoisted out of the pair loop (same 3x
    as :func:`knn_label_agreement`).
    """
    from pyspark.sql.functions import broadcast

    base = df.select(
        F.col(id_col).alias("id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("v"),
        F.col(label_col).alias("lbl"),
        norm(F.col(vec_col)).alias("nrm"),
    ).where(F.col(id_col).isNotNull() & vec_valid(F.col("v")))
    anchors = base.where(F.col("id") < anchor_max_id).localCheckpoint(eager=False)
    pairs = broadcast(anchors.alias("a")).join(
        base.alias("b"),
        (F.col("a.lbl") != F.col("b.lbl")),
    ).select(
        F.col("a.id").alias("anchor_id"),
        F.col("a.lbl").alias("anchor_label"),
        F.col("b.id").alias("negative_id"),
        F.col("b.lbl").alias("negative_label"),
        F.round(
            F.try_divide(dot(F.col("a.v"), F.col("b.v")), F.col("a.nrm") * F.col("b.nrm")), 6
        ).alias("cosine_sim"),
    )
    wk = Window.partitionBy("anchor_id").orderBy(
        F.desc("cosine_sim"), F.asc("negative_id")
    )
    return (
        pairs.withColumn("neg_rank", F.row_number().over(wk))
        .where(F.col("neg_rank") <= k)
        .select(
            "anchor_id", "anchor_label", "negative_id", "negative_label",
            "cosine_sim", "neg_rank",
        )
    )


def _lsh_pairs(
    df: DataFrame,
    anchor_max_id: int,
    num_planes: int,
    probe_hamming: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """The sign-LSH audits' pair frame: the exact cosine and ``probed``
    — whether the neighbour's bucket lies within ``probe_hamming`` bits
    of the anchor's (the candidate set the LSH probe would score)."""
    planes = hyperplane_coefficients(num_planes, vector_dim(df, vec_col))
    base = (
        _vectors(df, id_col, vec_col)
        .withColumn("bucket", bucket_id(F.col("v"), planes))
        .localCheckpoint(eager=False)
    )
    return _anchor_pairs(
        base,
        anchor_max_id,
        cos=_pair_cos(),
        probed=F.bit_count(F.col("a.bucket").bitwiseXOR(F.col("b.bucket")))
        <= probe_hamming,
    )


def ann_recall_lsh(
    df: DataFrame,
    anchor_max_id: int,
    k: int = 10,
    num_planes: int = 6,
    probe_hamming: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Measured recall@k of the sign-LSH probe against the exact
    brute-force ranking, per anchor — the ANN quality gauge (is the
    bucket structure actually finding the true neighbors, or just
    *some* neighbors).

    For each anchor (``id < anchor_max_id``): the exact top-k by
    cosine over the whole corpus, the top-k restricted to buckets
    within ``probe_hamming`` of the anchor's bucket, and
    ``recall = |approx ∩ exact| / least(k, n_exact)`` (the denominator
    caps at the achievable neighbor count — ADVICE r04).  The anchor
    side broadcasts, so
    cost is |anchors| x N with the LSH side further pruned by the
    bucket filter.  Recall is a division of two exact integers.
    """
    pairs = _lsh_pairs(df, anchor_max_id, num_planes, probe_hamming, id_col, vec_col)
    return _recall(
        _topk(pairs, "cos", k),
        _topk(pairs.where("probed"), "cos", k),
        k,
        "recall_at_k",
    )


def dcg_weights(k: int) -> tuple[list[float], list[float]]:
    """(w, cum_w) for binary-relevance DCG@k: ``w[r-1] = 1/log2(r+1)``
    and its prefix sums — computed ONCE in Python so engine and oracle
    share the exact IEEE doubles (the repo's repr() constant rule)."""
    import math

    ws = [1.0 / math.log2(r + 1) for r in range(1, k + 1)]
    cum, s = [], 0.0
    for w in ws:
        s += w
        cum.append(s)
    return ws, cum


def ndcg_lsh(
    df: DataFrame,
    anchor_max_id: int,
    k: int = 10,
    num_planes: int = 6,
    probe_hamming: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """NDCG@k and MRR of the sign-LSH probe ranking against the exact
    cosine ranking, per anchor — recall@k (``ann_recall_lsh``) says
    *whether* the true neighbors are found; this says whether they are
    found *early* (rank-weighted), the metric that actually moves
    retrieval-augmented training quality.

    Binary relevance (approx result ∈ exact top-k).  The DCG sum is a
    FIXED-TEXTUAL-ORDER expression over per-rank hit flags (h₁·w₁ +
    … + h_k·w_k, constants via :func:`dcg_weights`) — never a SUM()
    over term rows, so float reduction order cannot diverge between
    engines.  IDCG is a constant lookup on ``least(k, n_exact)``.
    Same cost shape as ``ann_recall_lsh``: |anchors| × N broadcast
    scoring, two group-limit windows, then O(anchors) arithmetic.
    """
    ws, cum = dcg_weights(k)
    pairs = _lsh_pairs(df, anchor_max_id, num_planes, probe_hamming, id_col, vec_col)
    exact = _topk(pairs, "cos", k)
    approx = _topk(pairs.where("probed"), "cos", k)
    hit = approx.join(exact, ["anchor_id", "nbr"], "left_semi")
    flags = hit.groupBy("anchor_id").agg(
        F.min("rk").alias("first_hit"),
        *[
            F.max(F.when(F.col("rk") == r, 1).otherwise(0)).alias(f"h{r}")
            for r in range(1, k + 1)
        ],
    )
    dcg = F.lit(0.0)
    for r in range(1, k + 1):
        dcg = dcg + F.col(f"h{r}") * F.lit(ws[r - 1])
    # build ascending so the LARGEST threshold lands outermost: the
    # final expression checks >= k first, then >= k-1, ... (a
    # descending build puts >= 1 outermost, which always matches)
    idcg = F.lit(None).cast("double")
    for j in range(1, k + 1):
        idcg = F.when(
            F.least(F.lit(k), F.col("n_exact")) >= j, F.lit(cum[j - 1])
        ).otherwise(idcg)
    n_exact = exact.groupBy("anchor_id").agg(
        F.count(F.lit(1)).alias("n_exact")
    )
    return (
        n_exact.join(F.broadcast(flags), "anchor_id", "left")
        .select(
            "anchor_id",
            "n_exact",
            F.round(
                F.try_divide(
                    F.coalesce(dcg, F.lit(0.0)), idcg
                ),
                6,
            ).alias("ndcg_at_k"),
            F.round(
                F.coalesce(
                    F.try_divide(F.lit(1.0), F.col("first_hit")), F.lit(0.0)
                ),
                6,
            ).alias("mrr"),
        )
    )


def quantized_recall(
    df: DataFrame,
    anchor_max_id: int,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Ranking agreement between int8-quantized and full-precision
    similarity: per anchor, overlap@k of the top-k by *integer* code
    dot product vs the top-k by exact cosine — the end-to-end answer
    to "is int8 storage good enough for this corpus's ANN".

    The quantized score is the cosine over the ``floor(v*scale+0.5)``
    code vectors (:func:`int8_scale` lattice): the per-vector scale
    cancels in a cosine, so this isolates pure quantization loss.
    Every dot product over codes is exact integer arithmetic; the only
    float ops are one sqrt and one division per pair (correctly-rounded
    IEEE, 6-decimal lattice) — portable across engines.  The exact side
    is the same rounded cosine the rest of the ANN kit uses.  Cost is
    |anchors| x N with the anchor side broadcast, same shape as
    :func:`ann_recall_lsh`.  A zero vector has all-zero codes, so its
    cosine on either side is NULL (``try_divide``) and ranks last.
    """
    base = _lattice_codes(
        _vectors(df, id_col, vec_col), 127, "codes", "qnrm"
    ).localCheckpoint(eager=False)
    pairs = _anchor_pairs(
        base, anchor_max_id, cos=_pair_cos(), qcos=_pair_cos("codes", "qnrm")
    )
    return _recall(
        _topk(pairs, "cos", k), _topk(pairs, "qcos", k), k, "overlap_at_k"
    )


def ivf_recall(
    df: DataFrame,
    centroids: list[list[float]],
    anchor_max_id: int,
    k: int = 10,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Measured recall@k of IVF cell-probing against the exact
    brute-force ranking, per anchor — completes the recall triptych
    (LSH: :func:`ann_recall_lsh`, int8: :func:`quantized_recall`,
    IVF: here): does probing ``nprobe`` cells actually find the true
    neighbors, or just same-cell ones?

    Per anchor (``id < anchor_max_id``): exact top-k by cosine over
    all valid vectors, vs top-k restricted to the anchor's ``nprobe``
    nearest cells.  The probe table is anchors x centroids — bounded
    (|anchors|·|cells| rows), ranked by squared distance with the
    cluster-index tiebreak (the same assignment contract
    :func:`with_ivf_assignment` / the ivf_topk oracle use).  Cost is
    |anchors| x N with the anchor side broadcast, the
    :func:`ann_recall_lsh` shape."""
    pairs, probes = _ivf_pairs(df, centroids, anchor_max_id, nprobe, id_col, vec_col)
    probed = pairs.join(
        F.broadcast(probes.select("anchor_id", "cluster")), ["anchor_id", "cluster"]
    )
    return _recall(
        _topk(pairs, "cos", k), _topk(probed, "cos", k), k, "recall_at_k"
    )


def truncated_dim_recall(
    df: DataFrame,
    anchor_max_id: int,
    k: int = 10,
    dims_keep: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Matryoshka-style dimension-truncation audit: per anchor,
    overlap@k of the top-k by cosine over the FIRST ``dims_keep``
    dimensions vs the top-k by full-dimension exact cosine — the
    measured answer to "can this corpus's ANN serve from a truncated
    prefix of the embedding" (MRL-trained encoders promise yes; this
    verifies it on the actual vectors, the audit a store runs before
    shrinking its index 4x).

    Same scale shape as :func:`quantized_recall`: the anchor side
    broadcasts (|anchors| x N pairs, never N²), the pair table is
    lazily checkpointed because two rankings consume it, and both
    scores are ``try_divide`` cosines on the 6-decimal lattice — a
    zero-norm prefix (all-zero leading dims) scores NULL and sinks to
    the bottom of the DESC rank on both engines."""
    base = (
        _vectors(df, id_col, vec_col)
        .withColumn("tv", F.slice(F.col("v"), 1, dims_keep))
        .withColumn("tnrm", norm(F.col("tv")))
        .localCheckpoint(eager=False)
    )
    pairs = _anchor_pairs(
        base, anchor_max_id, cos=_pair_cos(), tcos=_pair_cos("tv", "tnrm")
    )
    return _recall(
        _topk(pairs, "cos", k), _topk(pairs, "tcos", k), k, "overlap_at_k"
    )


def vector_admit(
    batch: DataFrame,
    corpus: DataFrame,
    threshold: float,
    num_planes: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 6,
) -> DataFrame:
    """Incremental admission for an embedding store: a batch vector is
    admitted iff no corpus vector in its sign-LSH bucket has cosine >=
    ``threshold`` — the vector-side twin of
    :func:`~nasa_asteroid_data_lakehouse_spark.llm.dedup.incremental_admit`.

    The screen is a bucket equi-join (batch side small, broadcast), so
    cost is |batch| x bucket-occupancy, never |batch| x |corpus|.  At
    100 TB the corpus is stored partitioned by bucket and the join
    prunes to the batch's buckets.  Returns every batch vector with
    its candidate count, best match cosine (NULL when the bucket held
    no corpus vector), and the admission decision.
    """
    from pyspark.sql.functions import broadcast

    dim = vector_dim(corpus, vec_col)
    planes = hyperplane_coefficients(num_planes, dim)

    def prep(df: DataFrame, prefix: str) -> DataFrame:
        return df.select(
            F.col(id_col).alias(f"{prefix}_id"),
            F.transform(F.col(vec_col), lambda x: x.cast("double")).alias(
                f"{prefix}_v"
            ),
            norm(F.col(vec_col)).alias(f"{prefix}_nrm"),
            bucket_id(F.col(vec_col), planes).alias(f"{prefix}_bucket"),
        ).where(F.col(id_col).isNotNull() & vec_valid(F.col(f"{prefix}_v")))

    b = prep(batch, "b").localCheckpoint(eager=False)  # joined + outer base
    c = prep(corpus, "c")
    cands = (
        broadcast(b)
        .join(c, F.col("b_bucket") == F.col("c_bucket"))
        .select(
            "b_id",
            F.round(
                F.try_divide(
                    dot(F.col("b_v"), F.col("c_v")),
                    F.col("b_nrm") * F.col("c_nrm"),
                ),
                round_to,
            ).alias("cos"),
        )
        .groupBy("b_id")
        .agg(
            F.count(F.lit(1)).alias("n_candidates"),
            F.max("cos").alias("best_cos"),
        )
    )
    return (
        b.select("b_id")
        .join(broadcast(cands), "b_id", "left")
        .select(
            F.col("b_id").alias(id_col),
            F.coalesce("n_candidates", F.lit(0)).alias("n_candidates"),
            F.col("best_cos"),
            (
                F.coalesce(F.col("best_cos") < threshold, F.lit(True))
            ).alias("admitted"),
        )
    )


def knn_label_agreement(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    k: int = 3,
) -> DataFrame:
    """Leave-one-out exact k-NN majority-vote label confusion matrix.

    For every vector: its k nearest neighbors (cosine, self excluded,
    ties broken by neighbor id), the majority label among them (count
    desc, label asc), aggregated to (label, pred_label, n) — the
    label-coherence diagnostic for an embedding space (how often does a
    vector's neighborhood agree with its own label).

    This is the EXACT brute-force baseline: an O(N^2) blocked self-join
    kept deliberately — it is the ground truth the approximate paths
    (:func:`lsh_topk`, :func:`ivf_topk`) are measured against, and the
    right tool up to ~10^5 vectors per block.  At corpus scale run the
    same vote over LSH/IVF candidate sets instead (swap the self-join
    for the bucketed probe join); the vote/confusion stages are
    identical.
    """
    # Norms are per-VECTOR, not per-pair: fold each array once here
    # (N folds) instead of twice inside every pair (2·N² folds) — the
    # arithmetic stays dot/(nrm_a·nrm_b), bit-identical to the oracle's
    # formula; measured ~3x on the O(N²) stage.  localCheckpoint
    # materializes the folded arrays so the broadcast build side ships
    # computed values, not the expression.
    # Pre-cast to double as well: dot()'s per-element casts become
    # no-ops Catalyst eliminates, instead of running 2·64 casts per
    # PAIR; float->double widening before vs inside the multiply is
    # value-identical.
    base = (
        df.select(
            F.col(id_col).alias("id"),
            F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("v"),
            F.col(label_col).alias("lbl"),
            norm(F.col(vec_col)).alias("nrm"),
        )
        .where(F.col(id_col).isNotNull() & vec_valid(F.col("v")))
        .localCheckpoint(eager=False)
    )
    a, b = base.alias("a"), base.alias("b")
    pairs = a.join(b, F.col("a.id") != F.col("b.id")).select(
        F.col("a.id").alias("id"),
        F.col("a.lbl").alias("lbl"),
        F.col("b.id").alias("nbr"),
        F.col("b.lbl").alias("nbr_lbl"),
        F.round(
            F.try_divide(dot(F.col("a.v"), F.col("b.v")), F.col("a.nrm") * F.col("b.nrm")), 6
        ).alias("cos"),
    )
    wk = Window.partitionBy("id").orderBy(F.desc("cos"), F.asc("nbr"))
    topk = pairs.withColumn("__rk", F.row_number().over(wk)).where(F.col("__rk") <= k)
    votes = topk.groupBy("id", "lbl", "nbr_lbl").agg(F.count(F.lit(1)).alias("n_votes"))
    wv = Window.partitionBy("id").orderBy(F.desc("n_votes"), F.asc("nbr_lbl"))
    pred = (
        votes.withColumn("__rv", F.row_number().over(wv))
        .where(F.col("__rv") == 1)
        .select("id", "lbl", F.col("nbr_lbl").alias("pred_label"))
    )
    return (
        pred.groupBy(F.col("lbl").alias(label_col), "pred_label")
        .agg(F.count(F.lit(1)).alias("n_vectors"))
    )


# --- product-quantization ADC recall ----------------------------------------


def _pq_codes_cols(
    vec_col: Column, centroids: list[list[float]], bounds: list[tuple[int, int]]
) -> list[Column]:
    """Per-subspace PQ code columns ``__c{s}`` (argmin over centroid
    subvectors, map-only; an empty trailing subspace codes 0) — the
    one fold behind every PQ code: the corpus of :func:`pq_adc_recall`
    and :func:`ivfpq_recall`, the probed cells of the IVF-PQ top-k
    paths, and the pq_codes query's code table."""
    out = []
    for s, (lo, hi) in enumerate(bounds):
        if hi <= lo:
            out.append(F.lit(0).cast("int").alias(f"__c{s}"))
            continue
        sub = F.slice(vec_col, lo + 1, hi - lo)
        dists = F.array(*[_sq_dist(sub, c[lo:hi]) for c in centroids])
        out.append(
            (F.array_position(dists, F.array_min(dists)) - 1)
            .cast("int")
            .alias(f"__c{s}")
        )
    return out


def _adc_score(
    q: Column,
    centroids: list[list[float]],
    bounds: list[tuple[int, int]],
    codes: str = "__c",
) -> Column:
    """ADC inner-product approximation of ``q · v`` from a row's PQ code
    columns ``{codes}{s}``: the per-subspace dots of the query against
    the CODED centroid subvector, added in fixed textual (ascending-s)
    order so the float sum is reduction-order-exact across engines.
    Empty trailing subspaces (d < m·sublen) contribute nothing."""
    adc = F.lit(0.0)
    for s, (lo, hi) in enumerate(bounds):
        if hi <= lo:
            continue
        cent_subs = F.array(
            *[F.array(*[F.lit(float(x)) for x in c[lo:hi]]) for c in centroids]
        )
        adc = adc + dot(
            F.slice(q, lo + 1, hi - lo),
            F.element_at(cent_subs, F.col(f"{codes}{s}") + 1),
        )
    return adc


def pq_adc_recall(
    df: DataFrame,
    centroids: list[list[float]],
    bounds: list[tuple[int, int]],
    anchor_max_id: int,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Recall@k of PQ asymmetric-distance (ADC) inner-product search
    against the exact inner-product ranking — the end-to-end quality
    gauge of the PQ serving path (codes store 4 small ints per vector;
    ADC scores a query against RECONSTRUCTED vectors, i.e. the sum of
    per-subspace dots with the coded centroid).

    Everything is a projection + one broadcast anchor join: codes are
    argmin folds over centroid-subvector literals (no shuffle), the
    ADC score adds the m per-subspace dot terms in fixed textual
    order, and both rankings are per-anchor windows (distributed via
    InferWindowGroupLimit).  Empty trailing subspaces (d < m·sublen)
    contribute a literal 0.0 on both engines.

    KEY-UNIQUE precondition (seed quantizer + pair fan-out, like
    ivf_recall)."""
    coded = _vectors(df, id_col, vec_col).select(
        "*", *_pq_codes_cols(F.col("v"), centroids, bounds)
    ).localCheckpoint(eager=False)
    pairs = _anchor_pairs(
        coded,
        anchor_max_id,
        exact_score=dot(F.col("a.v"), F.col("b.v")),
        adc_score=_adc_score(F.col("a.v"), centroids, bounds, "b.__c"),
    )
    return _recall(
        _topk(pairs, "exact_score", k),
        _topk(pairs, "adc_score", k),
        k,
        "recall_at_k",
    )


# --- IVF-PQ composite (the production ANN serving shape) ---------------------


def ivfpq_topk(
    df: DataFrame,
    query_vec: list[float],
    coarse_centroids: list[list[float]],
    pq_centroids: list[list[float]],
    bounds: list[tuple[int, int]],
    k: int = 10,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 6,
) -> DataFrame:
    """IVF-PQ top-k: the composite production ANN shape — the coarse
    quantizer prunes the corpus to ``nprobe`` cells (IVF: at scale the
    table is stored partitioned by cell, so probing prunes partitions),
    and candidates inside the probed cells are scored by PQ asymmetric
    distance against RECONSTRUCTED vectors (codes are m small ints per
    vector — the 100 TB index fits where raw floats cannot).  Neither
    half alone is the serving shape: ``ivf_topk`` re-reads raw vectors,
    ``pq_adc_recall`` scans every cell.

    Everything before the final top-k is a pure projection (cell argmin
    + m code argmins + the m-term ADC sum, centroids inlined as
    literals — no shuffle, no join); the top-k is one TakeOrdered.
    Ranking uses the ROUNDED score with the id as tiebreak, so the
    boundary of the top-k set is reduction-order-proof."""
    probe = _nearest_cells(query_vec, coarse_centroids, nprobe)
    df = df.where(F.col(id_col).isNotNull() & vec_valid(F.col(vec_col)))
    vcol = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    assigned = with_ivf_assignment(
        df.withColumn("__v", vcol), coarse_centroids, "__v"
    ).where(F.col("cluster").isin(probe))
    coded = assigned.select(
        F.col(id_col),
        F.col("cluster"),
        *_pq_codes_cols(F.col("__v"), pq_centroids, bounds),
    )
    q = F.array(*[F.lit(float(v)) for v in query_vec])
    return (
        coded.select(
            F.col(id_col),
            F.col("cluster"),
            F.round(_adc_score(q, pq_centroids, bounds), round_to).alias(
                "adc_score"
            ),
        )
        .orderBy(F.desc("adc_score"), F.asc(id_col))
        .limit(k)
    )


def ivfpq_recall(
    df: DataFrame,
    coarse_centroids: list[list[float]],
    pq_centroids: list[list[float]],
    bounds: list[tuple[int, int]],
    anchor_max_id: int,
    k: int = 10,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Recall@k of the full IVF-PQ path (probed cells + ADC ranking)
    against the exact inner-product ranking — completes the measured
    recall family (LSH / int8 / IVF / truncated-dim / PQ-ADC) with the
    composite the others only cover piecewise: this is the number a
    serving team actually tunes (nprobe x m) against.

    Same bounded broadcast-anchor shape as the rest of the family; the
    candidate set per anchor is its ``nprobe`` cells, so misses count
    against recall exactly as cell-pruning loses them in production.
    Approx ranking uses the ROUNDED ADC score (ties broken by id) so
    the top-k boundary is reduction-order-proof; exact ranking uses the
    raw dot (bit-identical across engines on identical operands).

    KEY-UNIQUE precondition (seed quantizer + anchor fan-out, like
    ivf_recall / pq_adc_recall)."""
    coded = with_ivf_assignment(
        _vectors(df, id_col, vec_col), coarse_centroids, "v"
    )
    coded = coded.select(
        "*", *_pq_codes_cols(F.col("v"), pq_centroids, bounds)
    ).localCheckpoint(eager=False)
    pairs = _anchor_pairs(
        coded, anchor_max_id, exact_score=dot(F.col("a.v"), F.col("b.v"))
    )
    # candidates: each anchor's nprobe nearest cells, an equi-join on cell
    probes = _probe_cells(
        coded.where(F.col("id") < anchor_max_id), coarse_centroids, nprobe
    )
    cand = F.broadcast(probes.alias("a")).join(
        coded.alias("b"),
        (F.col("a.cluster") == F.col("b.cluster"))
        & (F.col("a.anchor_id") != F.col("b.id")),
    )
    approx = cand.select(
        F.col("a.anchor_id").alias("anchor_id"),
        F.col("b.id").alias("nbr"),
        F.round(_adc_score(F.col("a.v"), pq_centroids, bounds, "b.__c"), 6).alias(
            "adc_score"
        ),
    )
    return _recall(
        _topk(pairs, "exact_score", k),
        _topk(approx, "adc_score", k),
        k,
        "recall_at_k",
    )


def ivfpq_residual_topk(
    df: DataFrame,
    query_vec: list[float],
    coarse_centroids: list[list[float]],
    pq_centroids: list[list[float]],
    bounds: list[tuple[int, int]],
    k: int = 10,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 6,
) -> DataFrame:
    """RESIDUAL-encoded IVF-PQ top-k — the full FAISS IVFPQ shape: PQ
    codes quantize the residual ``v - c_cell`` (much lower variance
    than raw vectors once the coarse quantizer has explained the cell
    mean), and the ADC score decomposes as
    ``q·v  ≈  q·c_cell + q·recon(residual)`` — the first term is one
    dot per PROBED CELL (not per vector), the second the usual m
    per-subspace table lookups.  ``ivfpq_topk`` (raw-vector codes) is
    the simpler composite; this is what a production index stores.

    Same plan shape: projection-only (cell argmin, residual
    subtraction, m code argmins, ADC sum — all centroid literals) +
    one TakeOrdered.  Ranking by ROUNDED score + id tiebreak."""
    probe = _nearest_cells(query_vec, coarse_centroids, nprobe)
    df = df.where(F.col(id_col).isNotNull() & vec_valid(F.col(vec_col)))
    vcol = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    assigned = with_ivf_assignment(
        df.withColumn("__v", vcol), coarse_centroids, "__v"
    ).where(F.col("cluster").isin(probe))
    cent_arr = F.array(
        *[F.array(*[F.lit(float(x)) for x in c]) for c in coarse_centroids]
    )
    residual = F.zip_with(
        F.col("__v"),
        F.element_at(cent_arr, F.col("cluster") + 1),
        lambda x, y: x - y,
    )
    coded = assigned.withColumn("__r", residual).select(
        F.col(id_col),
        F.col("cluster"),
        F.col("__r"),
        *_pq_codes_cols(F.col("__r"), pq_centroids, bounds),
    )
    q = F.array(*[F.lit(float(v)) for v in query_vec])
    base_term = dot(q, F.element_at(cent_arr, F.col("cluster") + 1))
    adc = base_term + _adc_score(q, pq_centroids, bounds)
    return (
        coded.select(
            F.col(id_col),
            F.col("cluster"),
            F.round(adc, round_to).alias("adc_score"),
        )
        .orderBy(F.desc("adc_score"), F.asc(id_col))
        .limit(k)
    )
