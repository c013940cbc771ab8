"""Round-4: the top-k-fused hybrid retrieval scale form (VERDICT r03
'what's wrong' #1 — the last corpus-global-window query rewritten to
TakeOrderedAndProject per side + bounded rank recovery)."""

from pyspark.sql import Window
from pyspark.sql import functions as F

from nasa_asteroid_data_lakehouse_spark.plans import curation_queries as cq


def test_ranked_topk_matches_window_ranking(spark):
    """_ranked_topk (sort_array/posexplode over the k-row limit result)
    assigns exactly the ranks a global row_number over (score DESC,
    doc_id ASC) would — including tie-breaks — truncated to k."""
    df = spark.createDataFrame(
        [(1, 0.5), (2, 0.9), (3, 0.9), (4, 0.1), (5, 0.7), (6, 0.5)],
        ["doc_id", "score"],
    ).repartition(4)
    got = {
        r["doc_id"]: r["rk"]
        for r in cq._ranked_topk(df, "score", "rk", 4).collect()
    }
    w = Window.orderBy(F.desc("score"), F.asc("doc_id"))
    want = {
        r["doc_id"]: r["rk"]
        for r in df.select("doc_id", F.row_number().over(w).alias("rk"))
        .where(F.col("rk") <= 4)
        .collect()
    }
    assert got == want == {2: 1, 3: 2, 5: 3, 1: 4}


def test_hybrid_plan_has_no_window_node(spark, sf_smoke):
    """The registered hybrid query's executed plan must contain zero
    Window nodes (an unpartitioned row_number is a single-partition
    sort at scale) and take each side through TakeOrderedAndProject."""
    plan = (
        cq.hybrid_retrieval_documents(spark, sf_smoke)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Window" not in plan
    assert plan.count("TakeOrderedAndProject") >= 3


def test_hybrid_fused_equals_corpuswide_when_topk_covers(spark, tmp_path):
    """With BOTH tables inside each side's top-k window the fused form
    and the exhaustive-ranking parity form are the SAME function —
    identical rows, not just identical doc sets.  (At sf0.001 the
    corpus is already 500 docs > k=100, where the two legitimately
    diverge: a doc outside one side's top-k loses that RRF term.)"""
    n = 40
    assert n <= cq._RRF_SIDE_K
    docs = spark.createDataFrame(
        [
            (
                i,
                ("window merge " * (1 + i % 3))
                + ("query join " * (1 + (i * 7) % 4))
                + f"filler text number {i}",
            )
            for i in range(n)
        ],
        "doc_id bigint, text string",
    )
    embs = spark.createDataFrame(
        [
            (i, [float((i * 13) % 7) + 0.5, float((i * 5) % 11), 1.0])
            for i in range(n)
        ],
        "vec_id bigint, embedding array<float>",
    )
    docs.write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    embs.write.mode("overwrite").parquet(str(tmp_path / "embeddings.parquet"))
    fused = sorted(
        map(tuple, cq.hybrid_retrieval_documents(spark, str(tmp_path)).collect())
    )
    wide = sorted(
        map(tuple, cq.hybrid_retrieval_corpuswide(spark, str(tmp_path)).collect())
    )
    assert fused == wide
    assert len(fused) == cq._RRF_TOP


# --- payload dedup (multimodal, r05 registration prep) ------------------------


def test_payload_dedup_stats_accounting(spark):
    from nasa_asteroid_data_lakehouse_spark.llm import multimodal

    df = spark.createDataFrame(
        [
            (1, "web", "aaaa"),
            (2, "web", "aaaa"),
            (3, "web", "bb"),
            (4, "pdf", "aaaa"),
            (5, "pdf", None),
        ],
        "doc_id bigint, source string, text string",
    )
    payloads = multimodal.with_binary_payload(df, "text")
    # NULL text encodes to NULL binary -> excluded
    out = {
        r["source"]: r
        for r in multimodal.payload_dedup_stats(payloads).collect()
    }
    web = out["web"]
    assert (web["n_payloads"], web["n_distinct"]) == (3, 2)
    assert web["dup_ratio"] == round(1 - 2 / 3, 6)
    assert web["dup_bytes"] == 4  # one extra "aaaa"
    pdf = out["pdf"]
    assert (pdf["n_payloads"], pdf["n_distinct"], pdf["dup_bytes"]) == (1, 1, 0)


def test_payload_survivors_min_id_rule(spark):
    """Min-id survivor per distinct payload; NULL-payload rows pass
    through untouched — dedup removes duplicates, never payload-less
    rows (round-4 review finding)."""
    from nasa_asteroid_data_lakehouse_spark.llm import multimodal

    df = spark.createDataFrame(
        [(3, "x"), (1, "x"), (2, "y"), (4, None)],
        "doc_id bigint, text string",
    )
    payloads = multimodal.with_binary_payload(df, "text")
    ids = sorted(
        r["doc_id"] for r in multimodal.payload_survivors(payloads).collect()
    )
    assert ids == [1, 2, 4]


def test_ranked_topk_excludes_null_scores(spark):
    """NULL scores are non-matches: orderBy(desc) sorts them last but
    sort_array sorts NULL struct fields first, so passing them through
    would rank them opposite ways in the two stages."""
    df = spark.createDataFrame(
        [(1, 0.5), (2, None), (3, 0.9)], "doc_id bigint, score double"
    )
    got = {
        r["doc_id"]: r["rk"]
        for r in cq._ranked_topk(df, "score", "rk", 10).collect()
    }
    assert got == {3: 1, 1: 2}


# --- extreme-value totality (round-4 gate: driver_sim --extreme) --------------


def test_cosine_zero_vector_is_null_not_crash(spark):
    """The session runs ANSI, where a raw double division raises
    DIVIDE_BY_ZERO at the first zero-norm embedding (failed encoder,
    padding row).  cosine() must yield NULL — the DuckDB oracles'
    x/0.0 — for every zero-norm side.  Found by driver_sim --extreme
    (counterfactual: the raw-division form crashes the sweep)."""
    from nasa_asteroid_data_lakehouse_spark.llm.similarity import cosine

    df = spark.createDataFrame(
        [
            (0, [0.0, 0.0], [1.0, 2.0]),
            (1, [1.0, 2.0], [0.0, 0.0]),
            (2, [1.0, 0.0], [1.0, 0.0]),
        ],
        "i bigint, a array<float>, b array<float>",
    )
    rows = {
        r["i"]: r["c"]
        for r in df.select("i", cosine(F.col("a"), F.col("b")).alias("c")).collect()
    }
    assert rows[0] is None and rows[1] is None
    assert abs(rows[2] - 1.0) < 1e-12


def test_ranked_topk_excludes_nan_scores(spark):
    """NaN ranks FIRST under orderBy(desc) but LAST under the negated
    sort_array — excluded like NULL (round-4 review finding; oracles
    cannot produce NaN, DuckDB's 0/0 is NULL)."""
    df = spark.createDataFrame(
        [(1, 0.5), (2, float("nan")), (3, 0.9)], "doc_id bigint, score double"
    )
    got = {
        r["doc_id"]: r["rk"]
        for r in cq._ranked_topk(df, "score", "rk", 10).collect()
    }
    assert got == {3: 1, 1: 2}


def test_kmeans_seeds_skip_null_headed_rows(spark):
    """A table whose k lowest ids all carry NULL vectors must still fit
    (seeds filter NULLs before the limit); with_ivf_assignment's
    empty-centroid raise is then unreachable from kmeans_fit."""
    from nasa_asteroid_data_lakehouse_spark.llm.similarity import (
        kmeans_fit,
        with_ivf_assignment,
    )

    rows = [(i, None) for i in range(4)] + [
        (10, [1.0, 2.0]),
        (11, [3.0, 4.0]),
        (12, [1.1, 2.1]),
    ]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    cents = kmeans_fit(df, k=2, iters=2)
    assert len(cents) == 2 and len(cents[0]) == 2
    assigned = with_ivf_assignment(df, cents)
    # NULL vectors get a NULL cluster; valid vectors a real one
    got = {r["vec_id"]: r["cluster"] for r in assigned.collect()}
    assert got[0] is None and got[10] is not None
    # all-NULL table: kmeans returns [], assignment stays total
    nulls = spark.createDataFrame(
        [(1, None)], "vec_id bigint, embedding array<float>"
    )
    assert kmeans_fit(nulls, k=2) == []
    assert with_ivf_assignment(nulls, []).count() == 1


def test_read_scored_total_on_missing_sink(spark, tmp_path):
    from nasa_asteroid_data_lakehouse_spark.streaming.curation import read_scored

    df = read_scored(spark, str(tmp_path / "never_written"), latest_only=True)
    assert df.count() == 0
    assert "mean_surprisal" in df.columns and "batch" in df.columns


def test_null_vector_rows_excluded_from_vector_operators(spark):
    """The similarity-module NULL-vector contract (round-4 adversarial
    sweep): a row with a NULL embedding participates in NO vector
    operator — no bucket (the sign chain would fold it to bucket 0),
    no pair, no cluster, no vote — mirroring the oracles'
    ``embedding IS NOT NULL``.  DuckDB can't even run the unfiltered
    form (list_inner_product raises on a chunk with a NULL list)."""
    from nasa_asteroid_data_lakehouse_spark.llm import similarity as sim

    df = spark.createDataFrame(
        [
            (0, [1.0, 0.0], "a"),
            (1, None, "a"),
            (2, [0.9, 0.1], "b"),
            (3, [-1.0, 0.0], "a"),
        ],
        "vec_id bigint, embedding array<float>, label string",
    )
    # bucketing: the NULL row is dropped, not pooled into bucket 0
    assert {
        r["vec_id"] for r in sim.with_lsh_bucket(df, num_planes=2, dim=2).collect()
    } == {0, 2, 3}
    # exact top-k: NULL row never scored
    ids = {r["vec_id"] for r in sim.cosine_topk(df, [1.0, 0.0], k=10).collect()}
    assert 1 not in ids and ids == {0, 2, 3}
    # near-dup pairs: NULL row pairs with nothing
    pairs = sim.embedding_near_dup_pairs(df, num_planes=2, threshold=-1.0).collect()
    assert all(r["id_a"] != 1 and r["id_b"] != 1 for r in pairs)
    # semantic dedup: NULL row is neither survivor nor dropped
    surv = sim.semantic_dedup(df, [[1.0, 0.0], [-1.0, 0.0]], 0.99).collect()
    assert 1 not in {r["vec_id"] for r in surv}
    # kNN vote: NULL row neither votes nor is classified
    conf = sim.knn_label_agreement(df, k=1).collect()
    assert sum(r["n_vectors"] for r in conf) == 3
    # admission: a NULL-vector batch row is not admitted (not a vector)
    batch = df.where(F.col("vec_id") <= 1)
    corpus = df.where(F.col("vec_id") >= 2)
    admitted = sim.vector_admit(batch, corpus, threshold=0.99).collect()
    assert {r["vec_id"] for r in admitted} == {0}


def test_null_text_rows_excluded_from_shingle_operators(spark):
    """The text twin of the NULL-vector contract (round-4b adversarial
    sweep, NULL-documents fixture): a NULL ``text`` is a failed
    fetch/decode, distinct from an empty document.  Without the guard
    in ``word_shingle_sequence`` the short-doc fallback's ``concat_ws``
    (which ignores NULL args) manufactures the ``''`` shingle for NULL
    docs, silently pairing every failed-fetch row with every EMPTY
    document — while the oracle's NULL propagation drops them.  NULL
    shingles cascade NULL signatures / zero exploded rows, so NULL
    docs participate in NO shingle-keyed operator; empty docs keep
    their (real) single-shingle behavior."""
    from nasa_asteroid_data_lakehouse_spark.llm import dedup

    df = spark.createDataFrame(
        [
            (0, "alpha beta gamma delta"),
            (1, None),
            (2, None),
            (3, ""),
            (4, ""),
            (5, "alpha beta gamma delta"),
        ],
        "doc_id bigint, text string",
    )
    # shingles: NULL -> NULL, empty -> [''], short docs -> 1 shingle
    sh = {
        r["doc_id"]: r["sh"]
        for r in df.select(
            "doc_id", dedup.word_shingles("text", 3).alias("sh")
        ).collect()
    }
    assert sh[1] is None and sh[2] is None
    assert sh[3] == [""] and sh[4] == [""]
    assert len(sh[0]) == 2  # 4 tokens, k=3 -> 2 shingles
    # minhash signature: NULL text -> NULL signature (not the [''] sig)
    sigs = {
        r["doc_id"]: r["minhash"]
        for r in dedup.with_minhash_signature(df, num_hashes=4).collect()
    }
    assert sigs[1] is None and sigs[2] is None
    assert sigs[3] == sigs[4] is not None  # empty docs share a real sig
    # LSH pairs: the two NULL docs pair with NOTHING; the two empty
    # docs and the two identical docs still pair with each other.
    pairs = {
        (r["id_a"], r["id_b"])
        for r in dedup.lsh_near_dup_pairs(
            df, "doc_id", num_hashes=4, bands=2, jaccard_threshold=0.9
        ).collect()
    }
    assert (0, 5) in pairs and (3, 4) in pairs
    assert all(1 not in p and 2 not in p for p in pairs)
    # span coverage: NULL docs excluded; all content docs profiled
    cov = dedup.dup_span_coverage(df, "doc_id", shingle_k=3)
    assert {r["doc_id"] for r in cov.collect()} == {0, 3, 4, 5}


def test_null_payload_features_propagate(spark):
    """NULL binary payload (failed fetch) -> NULL byte features in both
    Arrow-boundary profilers; a real zero-byte payload keeps its
    well-defined profile (len 0, sha256 of b'')."""
    import hashlib

    from nasa_asteroid_data_lakehouse_spark.llm import multimodal as mm

    df = spark.createDataFrame(
        [(0, b"ab cd"), (1, None), (2, b"")],
        "doc_id bigint, payload binary",
    )
    rows = {r["doc_id"]: r for r in mm.byte_feature_profile(df).collect()}
    assert rows[1]["n_bytes"] is None
    assert rows[1]["n_spaces"] is None
    assert rows[1]["sha256_hex"] is None
    assert rows[0]["n_bytes"] == 5 and rows[0]["n_spaces"] == 1
    assert rows[2]["n_bytes"] == 0
    assert rows[2]["sha256_hex"] == hashlib.sha256(b"").hexdigest()
    feats = {r["doc_id"]: r for r in mm.extract_byte_features(df).collect()}
    assert feats[1]["n_bytes"] is None and feats[1]["entropy"] is None
    assert feats[1]["histogram"] is None
    assert feats[2]["n_bytes"] == 0 and feats[2]["entropy"] == 0.0


def test_balanced_mixture_keeps_null_stratum(spark, tmp_path):
    """A NULL source is a real stratum: GROUP BY keeps it on both
    engines, so the totals-to-kept join must be null-safe — a plain
    equi-join silently drops the whole NULL group (round-4b
    adversarial catch on the NULL-attributes documents fixture)."""
    from nasa_asteroid_data_lakehouse_spark.plans import llm_queries as lq

    docs = spark.createDataFrame(
        [(i, "web" if i % 3 == 0 else ("book" if i % 3 == 1 else None))
         for i in range(12)],
        "doc_id bigint, text_ignored string",
    ).withColumnRenamed("text_ignored", "source")
    docs.write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    out = lq.balanced_mixture_documents(spark, str(tmp_path)).collect()
    srcs = [r["source"] for r in out]
    assert None in srcs and len(out) == 3
    by_src = {r["source"]: r for r in out}
    assert by_src[None]["n_total"] == 4
    assert len({r["n_kept"] for r in out}) == 1  # all strata at min size


def test_nan_vector_rows_excluded_from_vector_operators(spark):
    """Round-4c NaN sweep contract: a vector with ANY non-finite or
    NULL component participates in NO vector operator (vec_valid) —
    Spark ranks NaN cosines as LARGEST, so one corrupted encode would
    otherwise take over every top-k; DuckDB's list kernels raise."""
    from nasa_asteroid_data_lakehouse_spark.llm import similarity as sim

    nan, inf = float("nan"), float("inf")
    df = spark.createDataFrame(
        [
            (0, [1.0, 0.0, 0.0]),
            (1, [nan, 1.0, 1.0]),
            (2, [1.0, inf, 1.0]),
            (3, None),
            (4, [0.9, 0.1, 0.0]),
        ],
        "vec_id bigint, embedding array<float>",
    )
    # vec_valid as a predicate
    ok = {r["vec_id"] for r in df.where(sim.vec_valid("embedding")).collect()}
    assert ok == {0, 4}
    # NULL component also invalid
    df2 = spark.createDataFrame(
        [(9, [1.0, None, 1.0])], "vec_id bigint, embedding array<float>"
    )
    assert df2.where(sim.vec_valid("embedding")).count() == 0
    # top-k: the NaN row must never rank
    top = sim.cosine_topk(df, [1.0, 0.0, 0.0], k=3).collect()
    assert [r["vec_id"] for r in top] == [0, 4]
    # bucketing: invalid rows get no bucket
    b = sim.with_lsh_bucket(df, num_planes=2, dim=3)
    assert {r["vec_id"] for r in b.collect()} == {0, 4}


def test_nan_vector_hygiene_rows_keep_null_stats(spark):
    """Hygiene exceptions keep invalid-vector ROWS but with NULL stats
    (NaN must never reach an output: engines render/rank it
    divergently) — quantize profile, vector stats, outlier flag."""
    import math

    from nasa_asteroid_data_lakehouse_spark.llm import similarity as sim

    nan = float("nan")
    df = spark.createDataFrame(
        [(0, [1.0, 2.0]), (1, [nan, 2.0]), (2, None)],
        "vec_id bigint, embedding array<float>",
    )
    rows = {r["vec_id"]: r for r in sim.quantize_embeddings(df).collect()}
    assert len(rows) == 3
    assert rows[0]["scale"] is not None and rows[0]["code_sum"] is not None
    for bad in (1, 2):
        assert rows[bad]["scale"] is None
        assert rows[bad]["code_sum"] is None
        assert rows[bad]["n_sat"] is None
        assert rows[bad]["max_abs_err"] is None
    for r in rows.values():  # no NaN anywhere in the output
        for v in r:
            assert not (isinstance(v, float) and math.isnan(v))


def test_finite_measure_guard(spark):
    """operators/stats.finite — the measure twin of vec_valid: NaN/Inf
    metrics filter like NULLs (ANSI CAST(NaN AS BIGINT) raises; the
    cents idiom must never see one).  benford_profile is the pinned
    consumer: NaN > 0 is TRUE on both engines, so without the guard
    the digit cast crashes."""
    from nasa_asteroid_data_lakehouse_spark.operators import stats

    nan, inf = float("nan"), float("inf")
    df = spark.createDataFrame(
        [(123.45,), (nan,), (inf,), (None,), (678.9,)], "v double"
    )
    kept = df.where(stats.finite("v")).collect()
    assert sorted(r["v"] for r in kept) == [123.45, 678.9]
    digits = stats.benford_profile(df, "v").collect()
    assert {r["digit"] for r in digits} == {1, 6}
    assert sum(r["n"] for r in digits) == 2


def test_ragged_dim_vectors_keep_engine_total(spark):
    """Mixed-length vectors in one table (corrupted store / schema
    drift) are OUT OF ORACLE CONTRACT (DuckDB's list_dot_product
    raises on a length mismatch; the fixtures are fixed-dim) but the
    ENGINE must stay total: zip_with pads the short side with NULL, so
    the dot and cosine come back NULL and the row simply never ranks —
    no crash, no garbage score."""
    from nasa_asteroid_data_lakehouse_spark.llm import similarity as sim

    df = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0]), (1, [1.0, 0.0]), (2, [0.5, 0.5, 0.0])],
        "vec_id bigint, embedding array<float>",
    )
    top = sim.cosine_topk(df, [1.0, 0.0, 0.0], k=3).collect()
    ids = [r["vec_id"] for r in top]
    # the short vector's cosine is NULL -> sorts below every real score
    assert ids[:2] == [0, 2]
    assert top[0]["cosine_sim"] == 1.0
    by_id = {r["vec_id"]: r["cosine_sim"] for r in top}
    assert by_id.get(1) is None or 1 not in by_id
    # pair operators: the ragged row produces NULL sims, never a crash
    pairs = sim.embedding_near_dup_pairs(df, threshold=0.1, num_planes=1)
    got = pairs.collect()  # total: no exception
    assert all(r["id_a"] != 1 and r["id_b"] != 1 or r["cos"] is None for r in got)
