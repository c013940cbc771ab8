"""Unit tests for the LLM-data-pipeline operators (text analysis,
dedup families, similarity search, multimodal plumbing)."""

import math

import pytest
from pyspark.sql import functions as F

from nasa_asteroid_data_lakehouse_spark.llm import dedup, multimodal, similarity, text


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "The quick brown fox jumps over the lazy dog"),
        (2, "the  quick brown fox JUMPS over the lazy dog"),  # near-normalized dup of 1
        (3, "The quick brown fox jumps over the lazy cat today"),  # near-dup of 1
        (4, "le chat est sur la table et il est content"),
        (5, "el perro es grande y la casa es bonita"),
        (6, "der Hund ist groß und die Katze ist klein"),
        (7, "这是一个中文句子测试"),
        (8, "zzz qqq xxx"),
        (9, ""),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_token_counts(spark, docs):
    out = {r["doc_id"]: r for r in text.with_text_stats(docs).collect()}
    assert out[1]["n_tokens"] == 9
    assert out[9]["n_tokens"] == 0
    assert out[1]["n_bpe_tokens"] == 9
    assert out[1]["stopword_ratio"] == pytest.approx(2 / 9, abs=1e-6)
    assert 0.0 <= out[1]["quality_score"] <= 1.0


def test_lang_id(docs):
    out = {r["doc_id"]: r["lang_pred"] for r in text.with_lang_id(docs).collect()}
    assert out[1] == "en"
    assert out[4] == "fr"
    assert out[5] == "es"
    assert out[6] == "de"
    assert out[7] == "zh"
    assert out[8] == "und"


def test_fingerprint_normalization(docs):
    out = {r["doc_id"]: r for r in text.with_fingerprints(docs).collect()}
    # case/whitespace-insensitive: 1 and 2 collide, 3 differs
    assert out[1]["fingerprint"] == out[2]["fingerprint"]
    assert out[1]["fingerprint"] != out[3]["fingerprint"]
    assert out[1]["fingerprint64"] == out[2]["fingerprint64"]
    assert isinstance(out[1]["fingerprint64"], int)


def test_exact_dedup(docs):
    kept = dedup.exact_dedup(docs, "doc_id")
    ids = {r["doc_id"] for r in kept.collect()}
    assert 1 in ids and 2 not in ids  # lowest id survives the content group
    assert len(ids) == 8


def test_word_shingles(spark):
    df = spark.createDataFrame([(1, "a b c d"), (2, "a b")], ["id", "t"])
    out = df.select(dedup.word_shingles("t", 3).alias("sh")).collect()
    assert sorted(out[0]["sh"]) == ["a b c", "b c d"]
    assert out[1]["sh"] == ["a b"]  # shorter than k -> whole text


def test_minhash_lsh_finds_near_dups(docs):
    pairs = dedup.lsh_near_dup_pairs(
        docs.where(F.col("text") != ""), "doc_id",
        num_hashes=16, bands=8, shingle_k=2, jaccard_threshold=0.5,
    ).collect()
    found = {(r["id_a"], r["id_b"]) for r in pairs}
    assert (1, 2) in found  # normalized-identical
    for r in pairs:
        assert 0.5 <= r["jaccard"] <= 1.0


def test_ngram_jaccard_pairs(docs):
    pairs = dedup.ngram_jaccard_pairs(
        docs.where(F.col("doc_id").isin(1, 2, 3)), "doc_id", shingle_k=2
    ).collect()
    sims = {(r["id_a"], r["id_b"]): r["jaccard"] for r in pairs}
    assert sims[(1, 2)] == 1.0
    assert 0.0 < sims[(1, 3)] < 1.0


def test_decontaminate(docs):
    corpus = docs.where(F.col("doc_id").isin(1, 3, 4, 5, 8))
    eval_docs = docs.where(F.col("doc_id").isin(2, 6))  # 2 ~ 1 and 3; 6 disjoint
    hits = dedup.decontamination_hits(corpus, eval_docs, "doc_id", shingle_k=3)
    got = {r["doc_id"]: r["n_overlap"] for r in hits.collect()}
    assert 1 in got and got[1] == 7  # all 7 3-grams of doc 1 appear in doc 2
    assert 3 in got  # shares a prefix with doc 1/2
    assert 4 not in got and 5 not in got and 8 not in got


def test_simhash_near_dups(docs):
    hashed = dedup.simhash_by_key(docs.where(F.col("text") != ""), "doc_id")
    vals = {r["doc_id"]: r["simhash"] for r in hashed.collect()}
    assert vals[1] == vals[2]  # identical after normalization
    assert vals[1] != vals[4]
    pairs = dedup.simhash_near_dup_pairs(
        docs.where(F.col("text") != ""), "doc_id", max_hamming=20
    ).collect()
    assert any((r["id_a"], r["id_b"]) == (1, 2) and r["hamming"] == 0 for r in pairs)


def test_cosine_topk_exact(spark):
    rows = [
        (1, [1.0, 0.0, 0.0]),
        (2, [0.9, 0.1, 0.0]),
        (3, [0.0, 1.0, 0.0]),
        (4, [-1.0, 0.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    top = similarity.cosine_topk(df, [1.0, 0.0, 0.0], k=2).collect()
    assert [r["vec_id"] for r in top] == [1, 2]
    assert top[0]["cosine_sim"] == 1.0
    expected = 0.9 / math.sqrt(0.81 + 0.01)
    assert top[1]["cosine_sim"] == pytest.approx(expected, abs=1e-6)


def test_lsh_topk_approximates(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    query = emb.where(F.col("vec_id") == 0).collect()[0]["embedding"]
    exact = similarity.cosine_topk(emb, query, k=5).collect()
    approx = similarity.lsh_topk(emb, query, k=5, num_planes=6, probe_hamming=2).collect()
    assert exact[0]["vec_id"] == 0 and exact[0]["cosine_sim"] == 1.0
    # the query vector itself must be found by LSH (same bucket trivially)
    assert approx[0]["vec_id"] == 0
    # recall against exact top-5 should be non-trivial
    exact_ids = {r["vec_id"] for r in exact}
    approx_ids = {r["vec_id"] for r in approx}
    assert len(exact_ids & approx_ids) >= 2


def test_embedding_near_dup_pairs(spark):
    rows = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [0.99, 0.01, 0.0, 0.0]),
        (3, [0.0, 0.0, 1.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    pairs = similarity.embedding_near_dup_pairs(df, num_planes=4, threshold=0.95).collect()
    assert {(r["id_a"], r["id_b"]) for r in pairs} == {(1, 2)}


def test_multimodal_features(spark, docs):
    payloads = multimodal.with_binary_payload(docs.where(F.col("doc_id") <= 3), "text")
    meta = multimodal.with_media_metadata(payloads)
    m = meta.select("doc_id", "media_meta.*").collect()[0]
    assert m["n_bytes"] > 0 and len(m["checksum"]) == 32


def test_byte_feature_profile_edges(spark):
    """Oracle-checkable byte profile: unicode (multi-byte vs char
    counts), empty payloads, and sha256 against hashlib ground truth."""
    import hashlib

    rows = [(1, "a b  c"), (2, ""), (3, "naïve café"), (4, None)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    payloads = multimodal.with_binary_payload(df, "text")
    out = {r["doc_id"]: r for r in multimodal.byte_feature_profile(payloads).collect()}
    assert out[1]["n_bytes"] == 6 and out[1]["n_spaces"] == 3
    assert out[2]["n_bytes"] == 0 and out[2]["n_spaces"] == 0
    assert out[2]["sha256_hex"] == hashlib.sha256(b"").hexdigest()
    # ï and é are 2 UTF-8 bytes each; the space byte count still equals
    # the character count of ' '
    assert out[3]["n_bytes"] == len("naïve café".encode()) == 12
    assert out[3]["n_spaces"] == 1
    assert out[3]["sha256_hex"] == hashlib.sha256("naïve café".encode()).hexdigest()
    # NULL text -> encode() yields NULL payload -> NULL features (a
    # failed fetch is NOT the empty payload; round-4b contract)
    assert out[4]["n_bytes"] is None
    assert out[4]["sha256_hex"] is None


def test_kmeans_ivf(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    centroids = similarity.seed_centroids(emb, k=4)
    assert len(centroids) == 4 and len(centroids[0]) == 64
    # deterministic: same input -> same centroids
    again = similarity.seed_centroids(emb.repartition(3), k=4)
    assert centroids == again

    assigned = similarity.with_ivf_assignment(emb, centroids)
    counts = {r["cluster"]: r["n"] for r in assigned.groupBy("cluster").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert sum(counts.values()) == emb.count()
    assert len(counts) >= 2  # non-degenerate clustering

    query = emb.where(F.col("vec_id") == 0).collect()[0]["embedding"]
    top = similarity.ivf_topk(emb, query, centroids, k=5, nprobe=2).collect()
    assert top[0]["vec_id"] == 0 and top[0]["cosine_sim"] == 1.0
    exact = similarity.cosine_topk(emb, query, k=5).collect()
    exact_ids = {r["vec_id"] for r in exact}
    assert len(exact_ids & {r["vec_id"] for r in top}) >= 3  # decent recall


def test_cosine_topk_arrow_backend_agrees(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    query = emb.where(F.col("vec_id") == 0).first()["embedding"]
    sql_rows = similarity.cosine_topk(emb, query, k=10, backend="sql").collect()
    arw_rows = similarity.cosine_topk(emb, query, k=10, backend="arrow").collect()
    assert [r["vec_id"] for r in sql_rows] == [r["vec_id"] for r in arw_rows]
    for a, b in zip(sql_rows, arw_rows):
        # same math, different round-half rule (HALF_UP vs half-to-even)
        assert abs(a["cosine_sim"] - b["cosine_sim"]) < 1e-6


def test_connected_components(spark):
    # two chains + an isolated pair: {1-2-3}, {10-11}, {20-21-22-23}
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (22, 23)],
        ["id_a", "id_b"],
    )
    comp = {r["node"]: r["component"] for r in dedup.connected_components(pairs).collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20, 23: 20}


def test_connected_components_paths_agree(spark):
    """The driver-side union-find fast path and the distributed
    min-label-propagation path must label identically (component =
    min reachable id), including on merge-heavy graphs where naive
    union-find root choice would diverge from min-label."""
    edges = [(5, 4), (4, 3), (9, 8), (8, 7), (3, 9), (100, 5), (50, 50)]
    pairs = spark.createDataFrame(edges, ["id_a", "id_b"])
    fast = {
        (r["node"], r["component"])
        for r in dedup.connected_components(pairs).collect()
    }
    dist = {
        (r["node"], r["component"])
        for r in dedup.connected_components(pairs, small_graph_edges=0).collect()
    }
    assert fast == dist
    # one big component rooted at its min id, plus the self-loop node
    assert {(100, 3), (5, 3), (3, 3), (7, 3), (50, 50)} <= fast


def test_deterministic_sample_per_stratum(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "source")
    s1 = text.deterministic_sample_per_stratum(docs, "source", "doc_id", k=3)
    s2 = text.deterministic_sample_per_stratum(
        docs.repartition(7), "source", "doc_id", k=3
    )
    a = sorted(r["doc_id"] for r in s1.collect())
    b = sorted(r["doc_id"] for r in s2.collect())
    assert a == b  # partitioning-independent selection
    per = {r["source"]: 0 for r in s1.collect()}
    for r in s1.collect():
        per[r["source"]] += 1
    assert all(v == 3 for v in per.values())
    # different seed -> (almost surely) different selection
    s3 = text.deterministic_sample_per_stratum(docs, "source", "doc_id", k=3, seed="v2")
    assert sorted(r["doc_id"] for r in s3.collect()) != a


def test_repetition_stats(spark):
    docs = spark.createDataFrame(
        [(1, "a a a a"), (2, "w x y z"), (3, "  "), (4, "solo")],
        ["doc_id", "text"],
    )
    rows = {r["doc_id"]: r for r in text.with_repetition_stats(docs).collect()}
    assert set(rows) == {1, 2, 4}  # blank doc excluded
    r1 = rows[1]
    assert r1["n_words"] == 4
    assert r1["distinct_word_ratio"] == 0.25
    assert r1["top_word_frac"] == 1.0
    assert r1["dup_bigram_frac"] == pytest.approx(1 - 1 / 3, abs=1e-6)
    r2 = rows[2]
    assert r2["distinct_word_ratio"] == 1.0
    assert r2["top_word_frac"] == 0.25
    assert r2["dup_bigram_frac"] == 0.0
    assert rows[4]["n_words"] == 1 and rows[4]["dup_bigram_frac"] == 0.0


def test_chunk_documents(spark):
    from nasa_asteroid_data_lakehouse_spark.llm.packing import chunk_documents

    docs = spark.createDataFrame(
        [(1, " ".join(f"t{i}" for i in range(10))), (2, "a b"), (3, "")],
        ["doc_id", "text"],
    )
    out = chunk_documents(docs, chunk_size=4, stride=3).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    # doc 1: starts 1,4,7,10 -> windows of 4,4,4,1 tokens
    c1 = sorted(by_doc[1], key=lambda r: r["chunk_idx"])
    assert [r["n_chunk_tokens"] for r in c1] == [4, 4, 4, 1]
    assert c1[0]["chunk_text"] == "t0 t1 t2 t3"
    assert c1[1]["chunk_text"] == "t3 t4 t5 t6"  # overlap of 1 token
    assert c1[3]["chunk_text"] == "t9"
    assert [r["n_chunk_tokens"] for r in by_doc[2]] == [2]
    assert 3 not in by_doc  # blank doc -> no chunks
    with pytest.raises(ValueError):
        chunk_documents(docs, chunk_size=4, stride=5)


def test_scrub_pii(spark):
    from nasa_asteroid_data_lakehouse_spark.llm.text import scrub_pii

    df = spark.createDataFrame(
        [
            (1, "mail me at bob.smith+x@corp.co.uk or https://a.b/c?d=e@f now"),
            (2, "acct 12345678 and 123456 short"),
            (3, "clean text"),
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in scrub_pii(df).collect()}
    # the URL is masked first, so the e@f inside it never counts as email
    assert out[1]["n_url"] == 1 and out[1]["n_email"] == 1
    assert out[1]["text_scrubbed"] == "mail me at <EMAIL> or <URL> now"
    # 8-digit run masked, 6-digit run kept
    assert out[2]["n_long_number"] == 1
    assert out[2]["text_scrubbed"] == "acct <NUMBER> and 123456 short"
    assert out[3]["text_scrubbed"] == "clean text"
    assert out[3]["n_url"] == out[3]["n_email"] == out[3]["n_long_number"] == 0


def test_rebalance_to_min_stratum(spark):
    from nasa_asteroid_data_lakehouse_spark.llm.text import rebalance_to_min_stratum

    rows = [(f"s{i % 3}", i) for i in range(30)] + [("s3", 100), ("s3", 101)]
    df = spark.createDataFrame(rows, ["source", "doc_id"])
    out = rebalance_to_min_stratum(df, "source", "doc_id")
    counts = {r["source"]: r["n"] for r in out.groupBy("source").agg(F.count("*").alias("n")).collect()}
    # every stratum downsampled to the smallest stratum's size (2)
    assert counts == {"s0": 2, "s1": 2, "s2": 2, "s3": 2}
    # deterministic: same selection on re-run
    a = sorted((r["source"], r["doc_id"]) for r in out.collect())
    b = sorted((r["source"], r["doc_id"]) for r in rebalance_to_min_stratum(df, "source", "doc_id").collect())
    assert a == b


def test_weighted_sample_per_stratum(spark):
    # 3 strata x 200 rows; one row per stratum carries ~1000x the weight
    # of the rest -> it must be selected; zero/null weights never are.
    rows = []
    for s in ("a", "b", "c"):
        for i in range(200):
            w = 50_000 if i == 7 else 50
            rows.append((f"{s}-{i}", s, w))
    rows.append(("a-zero", "a", 0))
    rows.append(("a-null", "a", None))
    df = spark.createDataFrame(rows, "id string, stratum string, w int")

    out = text.weighted_sample_per_stratum(df, "stratum", "id", "w", k=10)
    got = {r["stratum"]: set() for r in out.collect()}
    for r in out.collect():
        got[r["stratum"]].add(r["id"])
    for s in ("a", "b", "c"):
        assert len(got[s]) == 10
        assert f"{s}-7" in got[s]  # heavy row always survives
    assert "a-zero" not in got["a"] and "a-null" not in got["a"]

    # deterministic under repartitioning
    again = text.weighted_sample_per_stratum(
        df.repartition(13), "stratum", "id", "w", k=10
    )
    assert {(r["stratum"], r["id"]) for r in again.collect()} == {
        (s, i) for s, ids in got.items() for i in ids
    }


def test_semantic_dedup_planted_dups(spark):
    # 3 well-separated base vectors + near-copies of base 0; the
    # near-copies must be dropped, the lowest-id copy survives.
    import random

    rnd = random.Random(7)
    dim = 8
    bases = [[rnd.uniform(-1, 1) for _ in range(dim)] for _ in range(3)]
    rows = []
    for i, b in enumerate(bases):
        rows.append((i, [float(v) for v in b]))
    # ids 10..13: tiny perturbations of base 0 (cosine ~ 1)
    for j in range(4):
        rows.append((10 + j, [float(v + 0.001 * (j + 1)) for v in bases[0]]))
    # ids 20..24: unique directions, far from everything
    for j in range(5):
        vec = [0.0] * dim
        vec[j] = 1.0
        vec[(j + 3) % dim] = -1.0 if j % 2 else 1.0
        rows.append((20 + j, vec))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    cents = similarity.seed_centroids(df, k=3)
    out = similarity.semantic_dedup(df, cents, threshold=0.98)
    kept = sorted(r["vec_id"] for r in out.collect())
    # copies of base 0 collapse to the lowest id in that neighborhood
    assert 0 in kept
    assert not {10, 11, 12, 13} & set(kept)
    # distinct vectors all survive
    assert {1, 2, 20, 21, 22, 23, 24} <= set(kept)

    # deterministic under repartitioning
    again = similarity.semantic_dedup(df.repartition(5), cents, threshold=0.98)
    assert sorted(r["vec_id"] for r in again.collect()) == kept


def test_incremental_admit(spark):
    corpus = spark.createDataFrame(
        [
            (100, "the quick brown fox jumps over the lazy dog near the river bank"),
            (101, "completely unrelated corpus text about astronomy and orbital mechanics"),
        ],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [
            # near-copy of corpus doc 100 -> rejected (corpus precedence,
            # even though 1 < 100)
            (1, "the quick brown fox jumps over the lazy dog near the river bend"),
            # unique -> admitted
            (2, "a totally fresh document with novel content about deep sea creatures"),
            # identical twins inside the batch -> lower id admitted only
            (3, "duplicate twin text shared by two batch documents exactly"),
            (4, "duplicate twin text shared by two batch documents exactly"),
        ],
        "doc_id long, text string",
    )
    out = dedup.incremental_admit(
        corpus, batch, "doc_id", jaccard_threshold=0.5
    )
    admitted = sorted(r["doc_id"] for r in out.collect())
    assert admitted == [2, 3]
    # admitted rows keep their original columns
    assert set(out.columns) == {"doc_id", "text"}


def test_dedup_by_clusters_best(spark):
    df = spark.createDataFrame(
        [
            (1, "short", 5),
            (2, "the longest exemplar", 20),
            (3, "medium one", 10),
            (10, "unclustered", 11),
        ],
        "doc_id long, text string, n_chars long",
    )
    pairs = spark.createDataFrame([(1, 2), (2, 3)], "id_a long, id_b long")
    out = dedup.dedup_by_clusters_best(
        df, pairs, "doc_id", [F.desc("n_chars"), F.asc("node")]
    )
    kept = sorted(r["doc_id"] for r in out.collect())
    # cluster {1,2,3} keeps longest member (2); unclustered 10 passes through
    assert kept == [2, 10]
