"""Round-2 curation/embedding queries for the driver's correctness gate.

Wraps ``llm/curation.py`` and the round-2 ``llm/similarity.py``
additions (int8 quantization, hard-negative mining, ANN recall) over
the documents/embeddings fixtures.  Oracle SQL mirrors the exact
arithmetic: md5 ranks, double-precision sequential dot products,
``floor(x*scale + 0.5)`` lattice snaps (portable, unlike ROUND of a
double), and integer divisions — every float the driver hashes is
either a single IEEE op on identical inputs or a 6-decimal rounded
value, per the portability rules in docs/ROUND_NOTES.md.

Reference scope: extends the reference's curation surface
(src/etl/silver_to_gold.py — flatten/cast/dedup) with the quality
gates, admission caps, and embedding-store diagnostics a training-data
pipeline runs after that ETL stage.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nasa_asteroid_data_lakehouse_spark.catalog import read_table
from nasa_asteroid_data_lakehouse_spark.scratch import query_scratch
from nasa_asteroid_data_lakehouse_spark.llm import curation, similarity, text
from nasa_asteroid_data_lakehouse_spark.plans import _EN, _NORMC, _TOKSC, _bucket_sql

QUERIES: dict = {}
ORACLES: dict = {}


# --- Gopher-style composite quality gate -------------------------------------


def quality_filter_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite quality gate with per-rule audit flags
    (llm/curation.quality_filter; the gate passes input columns
    through, so the driver projection drops the text payload)."""
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    return curation.quality_filter(docs).drop("text")


QUALITY_FILTER_SQL = rf"""
WITH base AS (
  SELECT doc_id, {_TOKSC} AS w FROM documents
),
core AS (
  SELECT doc_id, w,
    len(w) AS n_words,
    CASE WHEN len(w) > 0
         THEN ROUND(length(array_to_string(w, '')) / len(w), 6)
         ELSE 0.0 END AS avg_word_len,
    CASE WHEN len(w) > 0
         THEN ROUND(len(list_filter(w, t -> t IN ({_EN}))) / len(w), 6)
         ELSE 0.0 END AS stopword_ratio,
    CASE WHEN len(w) > 1
         THEN ROUND(1 - len(list_distinct(list_transform(range(1, len(w)),
                        i -> w[i] || ' ' || w[i+1]))) / (len(w) - 1), 6)
         ELSE 0.0 END AS dup_bigram_frac
  FROM base
),
top AS (
  SELECT doc_id, ROUND(MAX(c) / SUM(c), 6) AS top_word_frac FROM (
    SELECT doc_id, term, COUNT(*) AS c
    FROM (SELECT doc_id, unnest(w) AS term FROM base) GROUP BY 1, 2
  ) GROUP BY doc_id
)
SELECT core.doc_id AS doc_id, n_words, avg_word_len, stopword_ratio,
  dup_bigram_frac,
  COALESCE(top_word_frac, 0.0) AS top_word_frac,
  (n_words >= {curation.QF_MIN_WORDS} AND n_words <= {curation.QF_MAX_WORDS})
    AS ok_word_count,
  (avg_word_len >= {curation.QF_MIN_AVG_WORD_LEN!r}
   AND avg_word_len <= {curation.QF_MAX_AVG_WORD_LEN!r}) AS ok_avg_word_len,
  (COALESCE(top_word_frac, 0.0) <= {curation.QF_MAX_TOP_WORD_FRAC!r}) AS ok_top_word,
  (dup_bigram_frac <= {curation.QF_MAX_DUP_BIGRAM_FRAC!r}) AS ok_dup_bigram,
  (stopword_ratio >= {curation.QF_MIN_STOPWORD_RATIO!r}) AS ok_stopwords,
  (n_words >= {curation.QF_MIN_WORDS} AND n_words <= {curation.QF_MAX_WORDS}
   AND avg_word_len >= {curation.QF_MIN_AVG_WORD_LEN!r}
   AND avg_word_len <= {curation.QF_MAX_AVG_WORD_LEN!r}
   AND COALESCE(top_word_frac, 0.0) <= {curation.QF_MAX_TOP_WORD_FRAC!r}
   AND dup_bigram_frac <= {curation.QF_MAX_DUP_BIGRAM_FRAC!r}
   AND stopword_ratio >= {curation.QF_MIN_STOPWORD_RATIO!r}) AS keep
FROM core LEFT JOIN top ON core.doc_id = top.doc_id
"""

QUERIES["quality_filter_documents"] = quality_filter_documents
ORACLES["quality_filter_documents"] = QUALITY_FILTER_SQL


# --- lexical diversity profile -----------------------------------------------


def lexical_diversity_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc token/type counts, argmax term, type-token ratio
    (llm/curation.lexical_diversity)."""
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    return curation.lexical_diversity(docs)


LEXICAL_DIVERSITY_SQL = rf"""
WITH toks AS (
  SELECT doc_id, unnest(string_split({_NORMC}, ' ')) AS term
  FROM documents WHERE {_NORMC} <> '' AND doc_id IS NOT NULL
),
tf AS (SELECT doc_id, term, COUNT(*) AS c FROM toks GROUP BY 1, 2),
agg AS (
  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tokens,
         COUNT(*) AS n_types, MAX(c) AS max_tf
  FROM tf GROUP BY 1
),
top AS (
  SELECT doc_id, term AS top_term FROM (
    SELECT doc_id, term,
      row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, term ASC) AS rk
    FROM tf) t
  WHERE rk = 1
)
SELECT agg.doc_id AS doc_id, n_tokens, n_types, max_tf, top_term,
       ROUND(n_types / n_tokens, 6) AS type_token_ratio
FROM agg JOIN top ON agg.doc_id = top.doc_id
"""

QUERIES["lexical_diversity_documents"] = lexical_diversity_documents
ORACLES["lexical_diversity_documents"] = LEXICAL_DIVERSITY_SQL


# --- per-domain admission cap ------------------------------------------------

_DOMAIN_CAP = 60
_DOMAIN_SEED = "domain-cap-v1"


def domain_cap_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source admission cap via deterministic md5 rank
    (llm/curation.domain_cap)."""
    docs = read_table(spark, sf_dir, "documents")
    return curation.domain_cap(docs, cap=_DOMAIN_CAP, seed=_DOMAIN_SEED)


DOMAIN_CAP_SQL = f"""
SELECT doc_id, source, admission_rank FROM (
  SELECT doc_id, source,
    row_number() OVER (
      PARTITION BY source
      ORDER BY md5('{_DOMAIN_SEED}' || '|' || CAST(doc_id AS VARCHAR)), doc_id
    ) AS admission_rank
  FROM documents WHERE doc_id IS NOT NULL) t
WHERE admission_rank <= {_DOMAIN_CAP}
"""

QUERIES["domain_cap_documents"] = domain_cap_documents
ORACLES["domain_cap_documents"] = DOMAIN_CAP_SQL


# --- dataset card ------------------------------------------------------------


def dataset_card_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source datasheet rollup (llm/curation.dataset_card)."""
    docs = read_table(spark, sf_dir, "documents")
    return curation.dataset_card(docs)


DATASET_CARD_SQL = rf"""
WITH per_doc AS (
  SELECT source, lang, n_chars,
    CASE WHEN {_NORMC} = '' THEN 0 ELSE len(string_split({_NORMC}, ' ')) END AS ntok
  FROM documents
),
per_source AS (
  SELECT source, COUNT(*) AS n_docs, COUNT(DISTINCT lang) AS n_langs,
         CAST(SUM(n_chars) AS BIGINT) AS total_chars,
         CAST(SUM(ntok) AS BIGINT) AS total_tokens
  FROM per_doc GROUP BY source
),
tot AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS corpus_docs FROM per_source)
SELECT source, n_docs, n_langs, total_chars, total_tokens,
       ROUND(total_chars / n_docs, 6) AS mean_chars,
       ROUND(n_docs / corpus_docs, 6) AS pct_docs
FROM per_source, tot
"""

QUERIES["dataset_card_sources"] = dataset_card_sources
ORACLES["dataset_card_sources"] = DATASET_CARD_SQL


# --- int8 embedding quantization ---------------------------------------------


def quantized_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization profile per vector
    (llm/similarity.quantize_embeddings)."""
    emb = read_table(spark, sf_dir, "embeddings")
    return similarity.quantize_embeddings(emb)


QUANTIZED_SQL = """
-- row-preserving hygiene semantics: invalid vectors (NULL, or any
-- NaN/Inf/NULL component) keep their row with a fully-NULL profile
WITH v AS (
  SELECT vec_id,
    CASE WHEN embedding IS NOT NULL
          AND len(list_filter(embedding,
                x -> x IS NULL OR isnan(x) OR isinf(x))) = 0
         THEN embedding::DOUBLE[] END AS v
  FROM embeddings
),
scaled AS (
  SELECT vec_id, v,
    CASE WHEN v IS NULL THEN NULL
         WHEN list_max(list_transform(v, x -> abs(x))) > 0.0
         THEN 127.0 / list_max(list_transform(v, x -> abs(x)))
         ELSE 1.0 END AS scale
  FROM v
),
coded AS (
  SELECT vec_id, v, scale,
         list_transform(v, x -> floor(x * scale + 0.5)) AS codes
  FROM scaled
)
SELECT vec_id, scale,
  CAST(list_sum(codes) AS BIGINT) AS code_sum,
  len(list_filter(codes, c -> abs(c) = 127)) AS n_sat,
  list_max(list_transform(range(1, len(v) + 1),
                          i -> abs(codes[i] / scale - v[i]))) AS max_abs_err
FROM coded
"""

QUERIES["quantized_embeddings"] = quantized_embeddings
ORACLES["quantized_embeddings"] = QUANTIZED_SQL


# --- contrastive hard negatives ----------------------------------------------

_HN_ANCHOR_MAX = 30
_HN_K = 5

_COS_AB_V = (
    "list_dot_product(a.v, b.v)"
    " / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)))"
)


def hard_negatives_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 most-similar different-label vectors per anchor
    (llm/similarity.hard_negatives)."""
    emb = read_table(spark, sf_dir, "embeddings")
    return similarity.hard_negatives(emb, anchor_max_id=_HN_ANCHOR_MAX, k=_HN_K)


HARD_NEGATIVES_SQL = f"""
WITH base AS (
  SELECT vec_id AS id, embedding::DOUBLE[] AS v, label AS lbl
  FROM embeddings WHERE vec_id IS NOT NULL AND embedding IS NOT NULL AND len(list_filter(embedding, x -> x IS NULL OR isnan(x) OR isinf(x))) = 0
),
pairs AS (
  SELECT a.id AS anchor_id, a.lbl AS anchor_label,
         b.id AS negative_id, b.lbl AS negative_label,
         ROUND({_COS_AB_V}, 6) AS cosine_sim
  FROM base a JOIN base b ON a.lbl <> b.lbl
  WHERE a.id < {_HN_ANCHOR_MAX}
)
SELECT anchor_id, anchor_label, negative_id, negative_label, cosine_sim, neg_rank
FROM (
  SELECT *, row_number() OVER (
    PARTITION BY anchor_id ORDER BY cosine_sim DESC, negative_id ASC
  ) AS neg_rank
  FROM pairs) t
WHERE neg_rank <= {_HN_K}
"""

QUERIES["hard_negatives_embeddings"] = hard_negatives_embeddings
ORACLES["hard_negatives_embeddings"] = HARD_NEGATIVES_SQL


# --- ANN recall vs exact -----------------------------------------------------

_AR_ANCHOR_MAX = 25
_AR_K = 10
_AR_PLANES = 6
_AR_HAMMING = 1


def ann_recall_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of the sign-LSH probe vs the exact ranking, per anchor
    (llm/similarity.ann_recall_lsh)."""
    emb = read_table(spark, sf_dir, "embeddings")
    return similarity.ann_recall_lsh(
        emb,
        anchor_max_id=_AR_ANCHOR_MAX,
        k=_AR_K,
        num_planes=_AR_PLANES,
        probe_hamming=_AR_HAMMING,
    )


ANN_RECALL_SQL = f"""
WITH base AS (
  SELECT vec_id AS id, embedding::DOUBLE[] AS v,
         {_bucket_sql(_AR_PLANES, "embedding")} AS bucket
  FROM embeddings WHERE vec_id IS NOT NULL AND embedding IS NOT NULL AND len(list_filter(embedding, x -> x IS NULL OR isnan(x) OR isinf(x))) = 0
),
pairs AS (
  SELECT a.id AS anchor_id, a.bucket AS abucket, b.id AS nbr,
         b.bucket AS nbucket,
         ROUND({_COS_AB_V}, 6) AS cos
  FROM base a JOIN base b ON a.id <> b.id
  WHERE a.id < {_AR_ANCHOR_MAX}
),
exact AS (
  SELECT anchor_id, nbr FROM (
    SELECT anchor_id, nbr,
      row_number() OVER (PARTITION BY anchor_id
                         ORDER BY cos DESC, nbr ASC) AS rk
    FROM pairs) t
  WHERE rk <= {_AR_K}
),
approx AS (
  SELECT anchor_id, nbr FROM (
    SELECT anchor_id, nbr,
      row_number() OVER (PARTITION BY anchor_id
                         ORDER BY cos DESC, nbr ASC) AS rk
    FROM pairs WHERE bit_count(xor(nbucket, abucket)) <= {_AR_HAMMING}) t
  WHERE rk <= {_AR_K}
),
hits AS (
  SELECT e.anchor_id, COUNT(*) AS n_hits
  FROM exact e JOIN approx a ON a.anchor_id = e.anchor_id AND a.nbr = e.nbr
  GROUP BY 1
),
ex AS (SELECT anchor_id, COUNT(*) AS n_exact FROM exact GROUP BY 1)
SELECT ex.anchor_id AS anchor_id, n_exact,
       COALESCE(n_hits, 0) AS n_hits,
       ROUND(COALESCE(n_hits, 0) / LEAST({_AR_K}, n_exact), 6) AS recall_at_k
FROM ex LEFT JOIN hits ON ex.anchor_id = hits.anchor_id
"""

QUERIES["ann_recall_embeddings"] = ann_recall_embeddings
ORACLES["ann_recall_embeddings"] = ANN_RECALL_SQL


# --- temperature mixture (alpha = 0.5 source rebalancing) --------------------

_TM_TARGET = 300
_TM_SEED = "temp-mix-v1"


def temperature_mixture_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sqrt-temperature source resampling on an integer weight lattice
    (llm/curation.temperature_mixture)."""
    docs = read_table(spark, sf_dir, "documents")
    return curation.temperature_mixture(docs, n_target=_TM_TARGET, seed=_TM_SEED)


TEMPERATURE_MIXTURE_SQL = f"""
WITH counts AS (
  SELECT source, COUNT(*) AS n_docs FROM documents
  WHERE doc_id IS NOT NULL GROUP BY 1
),
w AS (
  SELECT source, n_docs,
         CAST(floor(sqrt(n_docs) * 1000) AS BIGINT) AS weight
  FROM counts
),
tot AS (SELECT CAST(SUM(weight) AS BIGINT) AS total_w FROM w),
keep AS (
  SELECT source, LEAST(n_docs, ({_TM_TARGET} * weight) // total_w) AS n_keep
  FROM w, tot
),
ranked AS (
  SELECT doc_id, source,
    row_number() OVER (
      PARTITION BY source
      ORDER BY md5('{_TM_SEED}' || '|' || CAST(doc_id AS VARCHAR)), doc_id
    ) AS mix_rank
  FROM documents WHERE doc_id IS NOT NULL
)
SELECT r.doc_id AS doc_id, r.source AS source, mix_rank
FROM ranked r JOIN keep k ON r.source = k.source AND r.mix_rank <= k.n_keep
"""

QUERIES["temperature_mixture_documents"] = temperature_mixture_documents
ORACLES["temperature_mixture_documents"] = TEMPERATURE_MIXTURE_SQL


# --- embedding-store incremental admission -----------------------------------

_VA_MOD = 10  # vec_id % 10 == 0 is the incoming batch (~10%)
_VA_PLANES = 4
_VA_THRESHOLD = 0.35


def vector_admit_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Admit batch vectors with no same-bucket corpus neighbor above
    the cosine threshold (llm/similarity.vector_admit)."""
    emb = read_table(spark, sf_dir, "embeddings")
    batch = emb.where(F.col("vec_id") % _VA_MOD == 0)
    corpus = emb.where(F.col("vec_id") % _VA_MOD != 0)
    return similarity.vector_admit(
        batch, corpus, threshold=_VA_THRESHOLD, num_planes=_VA_PLANES
    )


VECTOR_ADMIT_SQL = f"""
WITH b AS (
  SELECT vec_id AS b_id, embedding::DOUBLE[] AS v,
         {_bucket_sql(_VA_PLANES, "embedding")} AS bucket
  FROM embeddings
  WHERE vec_id % {_VA_MOD} = 0 AND vec_id IS NOT NULL
    AND embedding IS NOT NULL AND len(list_filter(embedding, x -> x IS NULL OR isnan(x) OR isinf(x))) = 0
),
c AS (
  SELECT vec_id AS c_id, embedding::DOUBLE[] AS v,
         {_bucket_sql(_VA_PLANES, "embedding")} AS bucket
  FROM embeddings
  WHERE vec_id % {_VA_MOD} <> 0 AND vec_id IS NOT NULL
    AND embedding IS NOT NULL AND len(list_filter(embedding, x -> x IS NULL OR isnan(x) OR isinf(x))) = 0
),
cands AS (
  SELECT b_id, COUNT(*) AS n_candidates,
    MAX(ROUND(list_dot_product(b.v, c.v)
        / (sqrt(list_dot_product(b.v, b.v)) * sqrt(list_dot_product(c.v, c.v))),
        6)) AS best_cos
  FROM b JOIN c ON b.bucket = c.bucket
  GROUP BY b_id
)
SELECT b.b_id AS vec_id,
       COALESCE(n_candidates, 0) AS n_candidates,
       best_cos,
       COALESCE(best_cos < {_VA_THRESHOLD}, TRUE) AS admitted
FROM b LEFT JOIN cands ON b.b_id = cands.b_id
"""

QUERIES["vector_admit_embeddings"] = vector_admit_embeddings
ORACLES["vector_admit_embeddings"] = VECTOR_ADMIT_SQL


# --- near-dup cluster size histogram -----------------------------------------


def cluster_size_histogram_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution of near-dup cluster sizes (how much of the corpus
    sits in 2-doc pairs vs large boilerplate families) — the shape
    diagnostic that decides whether survivor-pick or whole-cluster
    drop is the right dedup policy.  Reuses the session-cached LSH
    pair table and the adaptive connected-components labels; two hash
    aggregations on top.  Singleton documents (no near-dup pair) are
    not in the graph and so not in the histogram."""
    from nasa_asteroid_data_lakehouse_spark.llm import dedup
    from nasa_asteroid_data_lakehouse_spark.plans.llm_queries import (
        _CLUSTER_THRESHOLD,
        _lsh_pairs_cached,
    )

    pairs = _lsh_pairs_cached(spark, sf_dir, _CLUSTER_THRESHOLD)
    labels = dedup.connected_components(pairs)
    return (
        labels.groupBy("component")
        .agg(F.count(F.lit(1)).alias("cluster_size"))
        .groupBy("cluster_size")
        .agg(F.count(F.lit(1)).alias("n_clusters"))
        .orderBy("cluster_size")
    )


def _cluster_histogram_sql() -> str:
    from nasa_asteroid_data_lakehouse_spark.plans.llm_queries import (
        _CLUSTER_THRESHOLD,
        _minhash_lsh_sql,
    )

    return f"""
WITH RECURSIVE
base_pairs AS ({_minhash_lsh_sql(_CLUSTER_THRESHOLD)}),
edges AS (
  SELECT id_a AS a, id_b AS b FROM base_pairs
  UNION
  SELECT id_b, id_a FROM base_pairs
),
reach AS (
  SELECT a AS node, a AS root FROM edges
  UNION
  SELECT e.b, r.root FROM reach r JOIN edges e ON e.a = r.node
),
labels AS (SELECT node, MIN(root) AS component FROM reach GROUP BY node),
sizes AS (SELECT component, COUNT(*) AS cluster_size FROM labels GROUP BY 1)
SELECT cluster_size, CAST(COUNT(*) AS BIGINT) AS n_clusters
FROM sizes GROUP BY cluster_size ORDER BY cluster_size
"""


QUERIES["cluster_size_histogram_documents"] = cluster_size_histogram_documents
ORACLES["cluster_size_histogram_documents"] = _cluster_histogram_sql()


# --- int8 vs full-precision ranking agreement --------------------------------

_QR_ANCHOR_MAX = 25
_QR_K = 10


def quantized_recall_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlap@10 between top-k by int8-code cosine and top-k by exact
    cosine (llm/similarity.quantized_recall)."""
    emb = read_table(spark, sf_dir, "embeddings")
    return similarity.quantized_recall(
        emb, anchor_max_id=_QR_ANCHOR_MAX, k=_QR_K
    )


QUANTIZED_RECALL_SQL = f"""
WITH scaled AS (
  SELECT vec_id AS id, embedding::DOUBLE[] AS v,
    CASE WHEN list_max(list_transform(embedding::DOUBLE[], x -> abs(x))) > 0.0
         THEN 127.0 / list_max(list_transform(embedding::DOUBLE[], x -> abs(x)))
         ELSE 1.0 END AS scale
  FROM embeddings WHERE vec_id IS NOT NULL AND embedding IS NOT NULL AND len(list_filter(embedding, x -> x IS NULL OR isnan(x) OR isinf(x))) = 0
),
base AS (
  SELECT id, v, codes,
         sqrt(list_dot_product(v, v)) AS nrm,
         sqrt(list_dot_product(codes, codes)) AS qnrm
  FROM (SELECT id, v,
               list_transform(v, x -> floor(x * scale + 0.5)) AS codes
        FROM scaled) t
),
pairs AS (
  SELECT a.id AS anchor_id, b.id AS nbr,
    ROUND(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6) AS cos,
    ROUND(list_dot_product(a.codes, b.codes) / (a.qnrm * b.qnrm), 6) AS qcos
  FROM base a JOIN base b ON a.id <> b.id
  WHERE a.id < {_QR_ANCHOR_MAX}
),
exact AS (
  SELECT anchor_id, nbr FROM (
    SELECT anchor_id, nbr,
      row_number() OVER (PARTITION BY anchor_id
                         ORDER BY cos DESC, nbr ASC) AS rk
    FROM pairs) t
  WHERE rk <= {_QR_K}
),
quant AS (
  SELECT anchor_id, nbr FROM (
    SELECT anchor_id, nbr,
      row_number() OVER (PARTITION BY anchor_id
                         ORDER BY qcos DESC, nbr ASC) AS rk
    FROM pairs) t
  WHERE rk <= {_QR_K}
),
hits AS (
  SELECT e.anchor_id, COUNT(*) AS n_hits
  FROM exact e JOIN quant q ON q.anchor_id = e.anchor_id AND q.nbr = e.nbr
  GROUP BY 1
),
ex AS (SELECT anchor_id, COUNT(*) AS n_exact FROM exact GROUP BY 1)
SELECT ex.anchor_id AS anchor_id, n_exact,
       COALESCE(n_hits, 0) AS n_hits,
       ROUND(COALESCE(n_hits, 0) / LEAST({_QR_K}, n_exact), 6) AS overlap_at_k
FROM ex LEFT JOIN hits ON ex.anchor_id = hits.anchor_id
"""

QUERIES["quantized_recall_embeddings"] = quantized_recall_embeddings
ORACLES["quantized_recall_embeddings"] = QUANTIZED_RECALL_SQL


# --- split leakage (near-dup pairs crossing train/val/test) ------------------


def split_leakage_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-leakage audit: MinHash-LSH near-dup pairs whose members
    land in DIFFERENT train/val/test splits — each such pair leaks
    evaluation signal into training.  The matrix every split pipeline
    should publish next to its split counts.

    Composes the stratified split with the session-cached verified
    pair table: two broadcast joins of the tiny split assignment onto
    the pair table, one small aggregation.  At 100 TB both inputs are
    already computed by other stages (split export, dedup), so the
    audit is marginal-cost."""
    from nasa_asteroid_data_lakehouse_spark.plans.llm_queries import (
        _CLUSTER_THRESHOLD,
        _lsh_pairs_cached,
    )

    docs = read_table(spark, sf_dir, "documents")
    splits = text.train_val_test_split(docs, "doc_id", ["lang"]).select(
        "doc_id", "split"
    )
    pairs = _lsh_pairs_cached(spark, sf_dir, _CLUSTER_THRESHOLD)
    sa = splits.select(
        F.col("doc_id").alias("id_a"), F.col("split").alias("split_a")
    )
    sb = splits.select(
        F.col("doc_id").alias("id_b"), F.col("split").alias("split_b")
    )
    return (
        pairs.join(sa, "id_a")
        .join(sb, "id_b")
        .where(F.col("split_a") != F.col("split_b"))
        .groupBy(
            F.least("split_a", "split_b").alias("split_x"),
            F.greatest("split_a", "split_b").alias("split_y"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_leaky_pairs"),
            F.max("jaccard").alias("max_jaccard"),
        )
        .orderBy("split_x", "split_y")
    )


def _split_leakage_sql() -> str:
    from nasa_asteroid_data_lakehouse_spark.plans.llm_queries import (
        _CLUSTER_THRESHOLD,
        _minhash_lsh_sql,
    )
    from nasa_asteroid_data_lakehouse_spark.plans.llm_queries import (
        TRAIN_SPLIT_SQL,
    )

    return f"""
WITH splits AS ({TRAIN_SPLIT_SQL}),
pairs AS ({_minhash_lsh_sql(_CLUSTER_THRESHOLD)})
SELECT LEAST(sa.split, sb.split) AS split_x,
       GREATEST(sa.split, sb.split) AS split_y,
       CAST(COUNT(*) AS BIGINT) AS n_leaky_pairs,
       MAX(jaccard) AS max_jaccard
FROM pairs
JOIN splits sa ON sa.doc_id = pairs.id_a
JOIN splits sb ON sb.doc_id = pairs.id_b
WHERE sa.split <> sb.split
GROUP BY 1, 2
ORDER BY split_x, split_y
"""


QUERIES["split_leakage_documents"] = split_leakage_documents
ORACLES["split_leakage_documents"] = _split_leakage_sql()


# --- tokenizer fertility -----------------------------------------------------


def tokenizer_fertility_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source tokenizer-budget profile: BPE-ish pieces per
    whitespace word (fertility) and characters per piece — the numbers
    that turn a corpus size into a token budget.  One narrow
    projection + one hash aggregation on source."""
    docs = read_table(spark, sf_dir, "documents")
    t = F.coalesce(F.col("text"), F.lit(""))
    per_doc = docs.select(
        "source",
        F.length(t).alias("nc"),
        F.size(text.tokens(t)).alias("nws"),
        F.size(text.bpe_ish_tokens(t)).alias("nbpe"),
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.sum("nc").alias("total_chars"),
            F.sum("nws").alias("total_words"),
            F.sum("nbpe").alias("total_bpe_tokens"),
        )
        .select(
            "source",
            "total_chars",
            "total_words",
            "total_bpe_tokens",
            F.when(
                F.col("total_words") > 0,
                F.round(F.col("total_bpe_tokens") / F.col("total_words"), 6),
            )
            .otherwise(F.lit(0.0))
            .alias("fertility"),
            F.when(
                F.col("total_bpe_tokens") > 0,
                F.round(F.col("total_chars") / F.col("total_bpe_tokens"), 6),
            )
            .otherwise(F.lit(0.0))
            .alias("chars_per_token"),
        )
    )


TOKENIZER_FERTILITY_SQL = r"""
WITH per_doc AS (
  SELECT source,
    length(coalesce(text, '')) AS nc,
    CASE WHEN trim(coalesce(text, '')) = '' THEN 0
         ELSE len(string_split_regex(trim(coalesce(text, '')), '\s+')) END AS nws,
    len(regexp_extract_all(coalesce(text, ''), '\w+|[^\w\s]')) AS nbpe
  FROM documents
),
agg AS (
  SELECT source,
    CAST(SUM(nc) AS BIGINT) AS total_chars,
    CAST(SUM(nws) AS BIGINT) AS total_words,
    CAST(SUM(nbpe) AS BIGINT) AS total_bpe_tokens
  FROM per_doc GROUP BY source
)
SELECT source, total_chars, total_words, total_bpe_tokens,
  CASE WHEN total_words > 0
       THEN ROUND(total_bpe_tokens / total_words, 6) ELSE 0.0 END AS fertility,
  CASE WHEN total_bpe_tokens > 0
       THEN ROUND(total_chars / total_bpe_tokens, 6) ELSE 0.0 END
    AS chars_per_token
FROM agg
"""

QUERIES["tokenizer_fertility_sources"] = tokenizer_fertility_sources
ORACLES["tokenizer_fertility_sources"] = TOKENIZER_FERTILITY_SQL


# --- curation funnel ---------------------------------------------------------


def curation_funnel_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source curation funnel: total docs -> quality-gate
    survivors -> exact-unique survivors (distinct normalized
    fingerprints among the quality-passing docs) — the per-stage
    attrition table a curation run publishes.  One gate pass + one
    join back for source/fingerprint + one hash aggregation."""
    docs = read_table(spark, sf_dir, "documents")
    gated = curation.quality_filter(docs.select("doc_id", "text")).select(
        "doc_id", "keep"
    )
    enriched = docs.select(
        "doc_id",
        "source",
        F.md5(text.normalized_text(F.coalesce(F.col("text"), F.lit("")))).alias(
            "fp"
        ),
    ).join(gated, "doc_id")
    return (
        enriched.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            F.sum(F.when(F.col("keep"), 1).otherwise(0)).alias("n_quality"),
            F.countDistinct(F.when(F.col("keep"), F.col("fp"))).alias("n_unique"),
        )
        .select(
            "source",
            "n_total",
            "n_quality",
            "n_unique",
            F.round(F.col("n_quality") / F.col("n_total"), 6).alias("pct_quality"),
        )
    )


CURATION_FUNNEL_SQL = rf"""
WITH qf AS ({QUALITY_FILTER_SQL}),
d AS (SELECT doc_id, source, md5({_NORMC}) AS fp FROM documents)
SELECT d.source AS source,
  CAST(COUNT(*) AS BIGINT) AS n_total,
  CAST(SUM(CASE WHEN qf.keep THEN 1 ELSE 0 END) AS BIGINT) AS n_quality,
  CAST(COUNT(DISTINCT CASE WHEN qf.keep THEN fp END) AS BIGINT) AS n_unique,
  ROUND(SUM(CASE WHEN qf.keep THEN 1 ELSE 0 END) / COUNT(*), 6) AS pct_quality
FROM d JOIN qf ON d.doc_id = qf.doc_id
GROUP BY d.source
"""

QUERIES["curation_funnel_sources"] = curation_funnel_sources
ORACLES["curation_funnel_sources"] = CURATION_FUNNEL_SQL


# --- near-dup graph analytics ------------------------------------------------


def graph_triangles_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc triangle participation in the verified near-dup graph
    (operators/graph.triangle_counts): cliques mean boilerplate
    families, triangle-free chains mean coincidental collisions."""
    from nasa_asteroid_data_lakehouse_spark.operators.graph import triangle_counts
    from nasa_asteroid_data_lakehouse_spark.plans.llm_queries import (
        _CLUSTER_THRESHOLD,
        _lsh_pairs_cached,
    )

    pairs = _lsh_pairs_cached(spark, sf_dir, _CLUSTER_THRESHOLD)
    return triangle_counts(pairs, src="id_a", dst="id_b").select(
        F.col("node").alias("doc_id"), "n_triangles"
    )


def _graph_triangles_sql() -> str:
    from nasa_asteroid_data_lakehouse_spark.plans.llm_queries import (
        _CLUSTER_THRESHOLD,
        _minhash_lsh_sql,
    )

    return f"""
WITH pairs AS ({_minhash_lsh_sql(_CLUSTER_THRESHOLD)}),
canon AS (
  SELECT DISTINCT LEAST(id_a, id_b) AS lo, GREATEST(id_a, id_b) AS hi
  FROM pairs WHERE id_a <> id_b
),
tris AS (
  SELECT e1.lo AS a, e1.hi AS b, e2.hi AS c
  FROM canon e1
  JOIN canon e2 ON e2.lo = e1.hi
  WHERE e1.lo < e2.hi
    AND EXISTS (SELECT 1 FROM canon e3 WHERE e3.lo = e1.lo AND e3.hi = e2.hi)
),
nodes AS (
  SELECT a AS node FROM tris
  UNION ALL SELECT b FROM tris
  UNION ALL SELECT c FROM tris
)
SELECT node AS doc_id, CAST(COUNT(*) AS BIGINT) AS n_triangles
FROM nodes GROUP BY node
"""


QUERIES["graph_triangles_documents"] = graph_triangles_documents
ORACLES["graph_triangles_documents"] = _graph_triangles_sql()


def graph_degrees_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution of the near-dup graph: how many docs have
    1, 2, ... near-duplicates (operators/graph.degrees + histogram)."""
    from nasa_asteroid_data_lakehouse_spark.operators.graph import degrees
    from nasa_asteroid_data_lakehouse_spark.plans.llm_queries import (
        _CLUSTER_THRESHOLD,
        _lsh_pairs_cached,
    )

    pairs = _lsh_pairs_cached(spark, sf_dir, _CLUSTER_THRESHOLD)
    return (
        degrees(pairs, src="id_a", dst="id_b")
        .groupBy("degree")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("degree")
    )


def _graph_degrees_sql() -> str:
    from nasa_asteroid_data_lakehouse_spark.plans.llm_queries import (
        _CLUSTER_THRESHOLD,
        _minhash_lsh_sql,
    )

    return f"""
WITH pairs AS ({_minhash_lsh_sql(_CLUSTER_THRESHOLD)}),
sym AS (
  SELECT id_a AS a, id_b AS b FROM pairs
  UNION
  SELECT id_b, id_a FROM pairs
),
deg AS (SELECT a AS node, COUNT(*) AS degree FROM sym GROUP BY a)
SELECT degree, CAST(COUNT(*) AS BIGINT) AS n_docs
FROM deg GROUP BY degree ORDER BY degree
"""


QUERIES["graph_degrees_documents"] = graph_degrees_documents
ORACLES["graph_degrees_documents"] = _graph_degrees_sql()


# --- hybrid retrieval (reciprocal rank fusion) -------------------------------

_RRF_K = 60
_RRF_TOP = 20
_RRF_SIDE_K = 100


def _ranked_topk(df: DataFrame, score_col: str, rank_name: str, k: int) -> DataFrame:
    """Top-``k`` of ``df`` by (score DESC, doc_id ASC) with the rank
    materialized — WITHOUT a corpus-global window.

    ``orderBy().limit(k)`` plans to ``TakeOrderedAndProject``: every
    partition keeps a k-row heap and only k rows per partition reach
    the driver-side merge — a linear scan, no global sort, no shuffle
    of the corpus.  The rank is then recovered from the k-row result
    by a single-row ``sort_array(collect_list(struct))`` + posexplode
    (bounded: k structs), so the executed plan contains NO Window node
    at all — an unpartitioned ``row_number`` over the corpus is a
    single-partition sort at 100 TB (VERDICT r03).

    NULL and NaN scores are excluded up front (a score-less row is a
    non-match, not a rank): ``orderBy(desc)`` sorts NULLs last but
    ``sort_array`` sorts NULL struct fields first — and NaN the other
    way around (largest under orderBy, last under the negated
    sort_array) — so letting either through would rank it opposite
    ways in the two stages.  The oracles cannot produce NaN here
    (DuckDB's 0/0 is NULL), so the engine-side NaN filter only guards
    future score columns."""
    top = (
        df.where(F.col(score_col).isNotNull() & ~F.isnan(score_col))
        .orderBy(F.desc(score_col), F.asc("doc_id"))
        .limit(k)
    )
    arr = top.agg(
        F.sort_array(
            F.collect_list(
                F.struct((-F.col(score_col)).alias("__neg"), F.col("doc_id"))
            )
        ).alias("__a")
    )
    return arr.select(F.posexplode("__a").alias("__pos", "__s")).select(
        F.col("__s.doc_id").alias("doc_id"),
        (F.col("__pos") + 1).cast("int").alias(rank_name),
    )


def _hybrid_scored_sides(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """The two scored (doc_id, score) sides both hybrid forms rank:
    BM25 over the fixed 4-term query and embedding-cosine against the
    vec_id-0 probe (embeddings align to documents by id in the fixture
    star).  Shared so the fused and corpus-wide forms cannot drift."""
    from nasa_asteroid_data_lakehouse_spark.plans.llm_queries import (
        _BM25_B,
        _BM25_K1,
        _BM25_TERMS,
    )

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    bm25 = text.bm25_scores(docs, "doc_id", _BM25_TERMS, k1=_BM25_K1, b=_BM25_B)

    emb = read_table(spark, sf_dir, "embeddings")
    qvec = similarity.query_vector(emb, "vec_id", "embedding", 0)
    if qvec is None:
        # Missing/invalid probe ⇒ the cosine side contributes nothing,
        # mirroring the oracle's empty q CTE (ADVICE r04 medium); RRF
        # then ranks on BM25 alone via the full-outer fuse.
        scored = emb.limit(0).select(
            F.col("vec_id").alias("doc_id"),
            F.lit(None).cast("double").alias("cos"),
        )
        return bm25, scored
    q = F.array(*[F.lit(v) for v in qvec])
    scored = emb.select(
        F.col("vec_id").alias("doc_id"),
        F.round(similarity.cosine(F.col("embedding"), q), 6).alias("cos"),
    )
    return bm25, scored


def _rrf_fuse(r_bm25: DataFrame, r_cos: DataFrame) -> DataFrame:
    """RRF over two (doc_id, rank) tables: ``1/(K+r_bm25) +
    1/(K+r_cos)`` added in fixed textual order (two IEEE doubles —
    portable); a missing ranking contributes 0 (Cormack et al. 2009 —
    no score normalization needed).  Shared by both hybrid forms."""
    fused = (
        r_bm25.join(r_cos, "doc_id", "full_outer")
        .select(
            "doc_id",
            "r_bm25",
            "r_cos",
            F.round(
                F.coalesce(1.0 / (F.lit(_RRF_K) + F.col("r_bm25")), F.lit(0.0))
                + F.coalesce(1.0 / (F.lit(_RRF_K) + F.col("r_cos")), F.lit(0.0)),
                9,
            ).alias("rrf_score"),
        )
    )
    return fused.orderBy(F.desc("rrf_score"), F.asc("doc_id")).limit(_RRF_TOP)


def hybrid_retrieval_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid lexical+semantic retrieval: reciprocal-rank fusion of the
    BM25 top-100 and the embedding-cosine top-100; a doc outside a
    side's top-k contributes 0 from that side — the textbook
    top-k-fused RRF.

    This is the scale form (VERDICT r03): each side is a
    ``TakeOrderedAndProject`` top-k (per-partition heaps, no global
    sort), ranks come from the bounded k-row result (``_ranked_topk``
    — no Window node anywhere in the plan), and the fusion is a full
    outer join of two 100-row tables.  Both score scans are one pass
    over their table; the cosine side would swap in the LSH/IVF probe
    (similarity.lsh_topk/ivf_topk) where an index exists.
    ``hybrid_retrieval_corpuswide`` keeps the exhaustive-ranking form
    for parity."""
    bm25, scored = _hybrid_scored_sides(spark, sf_dir)
    r_bm25 = _ranked_topk(bm25, "bm25", "r_bm25", _RRF_SIDE_K)
    r_cos = _ranked_topk(scored, "cos", "r_cos", _RRF_SIDE_K)
    return _rrf_fuse(r_bm25, r_cos)


def hybrid_retrieval_corpuswide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exhaustive-ranking RRF — the parity form the top-k-fused
    registered query replaced (VERDICT r03 'what's wrong' #1).  Ranks
    EVERY document on both sides through unpartitioned windows, so a
    doc ranked 5th lexically and 1000th semantically still collects
    both terms.  Correct, but a corpus-global ``row_number`` is a
    single-partition sort at scale; kept unregistered (and unbenched)
    as the semantic reference for tests that pin the fused form's
    agreement where top-k coverage makes the two identical."""
    from pyspark.sql import Window

    bm25, scored = _hybrid_scored_sides(spark, sf_dir)
    w_b = Window.orderBy(F.desc("bm25"), F.asc("doc_id"))
    r_bm25 = bm25.select("doc_id", F.row_number().over(w_b).alias("r_bm25"))
    w_c = Window.orderBy(F.desc("cos"), F.asc("doc_id"))
    r_cos = scored.select("doc_id", F.row_number().over(w_c).alias("r_cos"))
    return _rrf_fuse(r_bm25, r_cos)


def _hybrid_retrieval_sql() -> str:
    from nasa_asteroid_data_lakehouse_spark.plans.llm_queries import BM25_SQL

    return f"""
WITH bm25_scores AS ({BM25_SQL}),
top_b AS (
  SELECT doc_id, bm25 FROM bm25_scores
  WHERE bm25 IS NOT NULL
  ORDER BY bm25 DESC, doc_id ASC LIMIT {_RRF_SIDE_K}
),
r_bm25 AS (
  SELECT doc_id,
    row_number() OVER (ORDER BY bm25 DESC, doc_id ASC) AS r_bm25
  FROM top_b
),
q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings
      WHERE vec_id = 0 AND embedding IS NOT NULL AND len(list_filter(embedding, x -> x IS NULL OR isnan(x) OR isinf(x))) = 0),
cos_scores AS (
  SELECT vec_id AS doc_id,
    ROUND(list_dot_product(embedding::DOUBLE[], q.qv::DOUBLE[])
          / (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
             * sqrt(list_dot_product(q.qv::DOUBLE[], q.qv::DOUBLE[]))),
          6) AS cos
  FROM embeddings, q
  WHERE embedding IS NOT NULL AND len(list_filter(embedding, x -> x IS NULL OR isnan(x) OR isinf(x))) = 0
),
top_c AS (
  SELECT doc_id, cos FROM cos_scores
  WHERE cos IS NOT NULL
  ORDER BY cos DESC, doc_id ASC LIMIT {_RRF_SIDE_K}
),
r_cos AS (
  SELECT doc_id,
    row_number() OVER (ORDER BY cos DESC, doc_id ASC) AS r_cos
  FROM top_c
)
SELECT COALESCE(r_bm25.doc_id, r_cos.doc_id) AS doc_id, r_bm25, r_cos,
  ROUND(COALESCE(1.0 / ({_RRF_K} + r_bm25), 0.0)
        + COALESCE(1.0 / ({_RRF_K} + r_cos), 0.0), 9) AS rrf_score
FROM r_bm25 FULL OUTER JOIN r_cos ON r_bm25.doc_id = r_cos.doc_id
ORDER BY rrf_score DESC, doc_id ASC
LIMIT {_RRF_TOP}
"""


QUERIES["hybrid_retrieval_documents"] = hybrid_retrieval_documents
ORACLES["hybrid_retrieval_documents"] = _hybrid_retrieval_sql()


# --- language-ID confusion matrix --------------------------------------------


def lang_confusion_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix of the heuristic language router against the
    fixture's ground-truth lang column — the router's measured accuracy
    rather than an assumed one (same pattern as ann_recall /
    quantized_recall: every approximate component ships with its own
    quality gauge)."""
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    return (
        text.with_lang_id(docs)
        .groupBy("lang", "lang_pred")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


def _lang_confusion_sql() -> str:
    from nasa_asteroid_data_lakehouse_spark.plans.llm_queries import LANG_ID_SQL

    return f"""
WITH preds AS ({LANG_ID_SQL})
SELECT lang, lang_pred, CAST(COUNT(*) AS BIGINT) AS n_docs
FROM preds GROUP BY lang, lang_pred
"""


QUERIES["lang_confusion_documents"] = lang_confusion_documents
ORACLES["lang_confusion_documents"] = _lang_confusion_sql()


# --- MinHash estimation-error audit ------------------------------------------


def minhash_error_pairs_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-candidate-pair MinHash estimate vs exact Jaccard — the
    sketch-accuracy audit for the dedup pipeline's N=8 signature
    (matching-component fraction is an unbiased Jaccard estimator;
    this measures its actual error on THIS corpus).  Joins the
    session-cached verified pair table with per-doc signatures; the
    estimate is an integer count divided by the signature length."""
    from nasa_asteroid_data_lakehouse_spark.llm import dedup
    from nasa_asteroid_data_lakehouse_spark.plans.llm_queries import (
        _LSHMH_K,
        _LSHMH_N,
        _lsh_pairs_cached,
    )

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    sigs = dedup.with_minhash_signature(
        docs, num_hashes=_LSHMH_N, shingle_k=_LSHMH_K
    ).select("doc_id", "minhash").localCheckpoint(eager=False)
    pairs = _lsh_pairs_cached(spark, sf_dir, 0.0)
    sa = sigs.select(F.col("doc_id").alias("id_a"), F.col("minhash").alias("__sa"))
    sb = sigs.select(F.col("doc_id").alias("id_b"), F.col("minhash").alias("__sb"))
    matches = F.size(
        F.filter(
            F.zip_with(F.col("__sa"), F.col("__sb"), lambda x, y: x == y),
            lambda t: t,
        )
    )
    return (
        pairs.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            "jaccard",
            F.round(matches / F.lit(_LSHMH_N), 6).alias("est_jaccard"),
            F.round(
                F.abs(F.round(matches / F.lit(_LSHMH_N), 6) - F.col("jaccard")), 6
            ).alias("abs_err"),
        )
    )


def _minhash_error_sql() -> str:
    from nasa_asteroid_data_lakehouse_spark.plans.llm_queries import (
        _LSHMH_N,
        _minhash_lsh_sql,
    )

    return _minhash_lsh_sql(
        final_select=f"""
SELECT id_a, id_b,
  ROUND(len(list_intersect(x.shingles, y.shingles))
        / len(list_distinct(list_concat(x.shingles, y.shingles))), 6) AS jaccard,
  ROUND(len(list_filter(range(1, {_LSHMH_N} + 1), i -> x.s[i] = y.s[i]))
        / {_LSHMH_N}, 6) AS est_jaccard,
  ROUND(abs(
    ROUND(len(list_filter(range(1, {_LSHMH_N} + 1), i -> x.s[i] = y.s[i]))
          / {_LSHMH_N}, 6)
    - ROUND(len(list_intersect(x.shingles, y.shingles))
            / len(list_distinct(list_concat(x.shingles, y.shingles))), 6)), 6)
    AS abs_err
FROM cand
JOIN sig x ON x.doc_id = id_a
JOIN sig y ON y.doc_id = id_b
"""
    )


QUERIES["minhash_error_pairs_documents"] = minhash_error_pairs_documents
ORACLES["minhash_error_pairs_documents"] = _minhash_error_sql()


# --- MAD robust spread per segment -------------------------------------------


def mad_by_segment_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median absolute deviation of order totals per market segment —
    the outlier-robust spread (stddev is dominated by the tail the
    winsorize kit clips).  Two exact-percentile aggregations: the
    per-segment median, broadcast back, then the median of absolute
    deviations.  Spark ``percentile`` and DuckDB ``quantile_cont``
    share linear interpolation on the sorted values (same contract the
    quantile kit relies on)."""
    orders = read_table(spark, sf_dir, "orders")
    cust = read_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    seg = (
        orders.join(
            F.broadcast(cust), orders["o_custkey"] == cust["c_custkey"]
        )
        .select("c_mktsegment", "o_totalprice")
        # measure contract: non-finite prices filter like NULLs (the
        # engines disagree on NaN's quantile rank); NULL rows keep
        # their row (n_orders counts them, percentile ignores them).
        .where(
            F.col("o_totalprice").isNull()
            | (~F.isnan("o_totalprice") & (F.abs("o_totalprice") != float("inf")))
        )
    )
    med = seg.groupBy("c_mktsegment").agg(
        F.expr("percentile(o_totalprice, 0.5)").alias("__med"),
        F.count(F.lit(1)).alias("n_orders"),
    )
    return (
        seg.join(F.broadcast(med), "c_mktsegment")
        .select(
            "c_mktsegment",
            "n_orders",
            "__med",
            F.abs(F.col("o_totalprice") - F.col("__med")).alias("__dev"),
        )
        .groupBy("c_mktsegment")
        .agg(
            F.first("n_orders").alias("n_orders"),
            F.round(F.first("__med"), 4).alias("median_price"),
            F.round(F.expr("percentile(__dev, 0.5)"), 4).alias("mad_price"),
        )
    )


MAD_SQL = """
WITH seg AS (
  SELECT c_mktsegment, o_totalprice
  FROM orders JOIN customer ON o_custkey = c_custkey
  WHERE o_totalprice IS NULL OR isfinite(o_totalprice)
),
med AS (
  SELECT c_mktsegment,
         quantile_cont(o_totalprice, 0.5) AS m,
         COUNT(*) AS n_orders
  FROM seg GROUP BY 1
)
SELECT seg.c_mktsegment AS c_mktsegment,
  CAST(MAX(n_orders) AS BIGINT) AS n_orders,
  ROUND(MAX(m), 4) AS median_price,
  ROUND(quantile_cont(abs(o_totalprice - m), 0.5), 4) AS mad_price
FROM seg JOIN med ON seg.c_mktsegment = med.c_mktsegment
GROUP BY seg.c_mktsegment
"""

QUERIES["mad_by_segment_orders"] = mad_by_segment_orders
ORACLES["mad_by_segment_orders"] = MAD_SQL


# --- session concurrency curve (interval -> bin replication) -----------------


def session_concurrency_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concurrent-session curve per hour: how many user sessions (30-min
    inactivity gap, islands formulation) overlap each hour bucket —
    the capacity-planning view of the event stream.

    This is the bin-replication interval pattern: each session explodes
    into the hour buckets it covers (``sequence`` + ``explode``) and
    the curve is one hash aggregation on the bucket key.  Fanout is
    bounded by session length / bucket width, so the interval overlap
    problem stays linear — the alternative (session x session overlap
    join) is quadratic in concurrent sessions.  NULL users/timestamps
    carry no session and are excluded on both sides.
    """
    from pyspark.sql import Window

    ev = (
        read_table(spark, sf_dir, "events")
        .where(F.col("ts").isNotNull() & F.col("user_id").isNotNull())
        .select("user_id", "ts")
    )
    w = Window.partitionBy("user_id").orderBy("ts")
    # NTZ timestamps reject cast-to-long; interval subtraction is the
    # portable gap test (matches the oracle's `> INTERVAL 30 MINUTE`)
    brk = F.when(
        (F.col("ts") - F.lag("ts").over(w)) > F.expr("INTERVAL 30 MINUTES"),
        1,
    ).otherwise(0)
    sessions = (
        ev.withColumn("__brk", brk)
        .withColumn("__sid", F.sum("__brk").over(w))
        .groupBy("user_id", "__sid")
        .agg(F.min("ts").alias("s"), F.max("ts").alias("e"))
    )
    hours = sessions.select(
        "user_id",
        F.explode(
            F.sequence(
                F.date_trunc("hour", "s"),
                F.date_trunc("hour", "e"),
                F.expr("interval 1 hour"),
            )
        ).alias("hour"),
    )
    return (
        hours.groupBy("hour")
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .orderBy("hour")
    )


SESSION_CONCURRENCY_SQL = """
WITH ev AS (
  SELECT user_id, ts::TIMESTAMP AS ts FROM events
  WHERE ts IS NOT NULL AND user_id IS NOT NULL
),
o AS (
  SELECT user_id, ts,
    CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
              > INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS brk
  FROM ev
),
s AS (
  -- default RANGE frame on purpose: it matches Spark's default, so
  -- duplicated (user, ts) rows get the SAME sid on both engines (a
  -- ROWS frame would make tied-timestamp session splits order-
  -- dependent oracle-side)
  SELECT user_id, ts,
    SUM(brk) OVER (PARTITION BY user_id ORDER BY ts) AS sid
  FROM o
),
sess AS (
  SELECT user_id, sid, MIN(ts) AS s, MAX(ts) AS e
  FROM s GROUP BY user_id, sid
),
hours AS (
  SELECT user_id,
    unnest(generate_series(date_trunc('hour', s), date_trunc('hour', e),
                           INTERVAL 1 HOUR)) AS hour
  FROM sess
)
SELECT hour, CAST(COUNT(*) AS BIGINT) AS n_sessions,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
FROM hours GROUP BY hour ORDER BY hour
"""

QUERIES["session_concurrency_events"] = session_concurrency_events
ORACLES["session_concurrency_events"] = SESSION_CONCURRENCY_SQL


# --- VersionedTable change data feed -----------------------------------------


def versioned_table_cdf_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end change-data-feed over the lakehouse path: build a
    VersionedTable from orders, upsert a deterministic batch (price
    +100 for keys % 10 = 0; brand-new keys for keys % 97 = 0), then
    read the v1 -> v2 row-level diff via time travel
    (lake/table.VersionedTable.changes — the Delta-style CDF surface).
    The oracle recomputes the expected change set from the same
    deterministic mutation, so the manifest/commit/time-travel
    machinery itself is what the driver hash-checks.

    Scratch table lives in a temp dir; the summary materializes
    eagerly before cleanup (same lifecycle as file_skipping_stats).
    NULL-price rows never register as updates: +100 keeps them NULL
    and the diff's null-safe compare sees no change — pinned on both
    sides."""
    from nasa_asteroid_data_lakehouse_spark.lake.table import VersionedTable

    orders = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    with query_scratch("ndl_vtcdf_", sf_dir, "orders") as tmp:
        t = VersionedTable(spark, tmp, num_buckets=8)
        v1 = t.create(orders, keys=["o_orderkey"])
        updates = orders.where(F.col("o_orderkey") % 10 == 0).withColumn(
            "o_totalprice", F.col("o_totalprice") + F.lit(100.0)
        )
        # negated insert keys (-key - 1): disjoint from the real
        # keyspace at EVERY scale factor (ADVICE r05 — a fixed +10M
        # offset collides with real orderkeys from sf>=2)
        inserts = orders.where(F.col("o_orderkey") % 97 == 0).select(
            (-F.col("o_orderkey") - 1).alias("o_orderkey"),
            "o_custkey",
            "o_totalprice",
        )
        v2 = t.upsert(updates.unionByName(inserts))
        return (
            t.changes(from_version=v1, to_version=v2)
            .groupBy("_change_type")
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.sum("o_orderkey").alias("key_sum"),
            )
            .orderBy("_change_type")
            .localCheckpoint(eager=True)
        )


VT_CDF_SQL = """
-- DISTINCT mirrors the table's key-based merge: duplicate source rows
-- for one key collapse to a single stored row, so the change feed
-- carries each key once (exact-duplicate inputs; the clean fixture is
-- key-unique so DISTINCT is a no-op there)
WITH ins AS (
  SELECT 'insert' AS _change_type,
    CAST(COUNT(*) AS BIGINT) AS n_rows,
    CAST(SUM(-o_orderkey - 1) AS BIGINT) AS key_sum
  FROM (SELECT DISTINCT o_orderkey FROM orders WHERE o_orderkey % 97 = 0)
),
upd AS (
  SELECT 'update_postimage' AS _change_type,
    CAST(COUNT(*) AS BIGINT) AS n_rows,
    CAST(SUM(o_orderkey) AS BIGINT) AS key_sum
  FROM (SELECT DISTINCT o_orderkey FROM orders
        WHERE o_orderkey % 10 = 0 AND isfinite(o_totalprice))
)
SELECT * FROM ins WHERE n_rows > 0
UNION ALL
SELECT * FROM upd WHERE n_rows > 0
ORDER BY _change_type
"""

QUERIES["versioned_table_cdf_orders"] = versioned_table_cdf_orders
ORACLES["versioned_table_cdf_orders"] = VT_CDF_SQL


# --- dedup savings report ----------------------------------------------------


def dedup_savings_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-weighted dedup ROI, one row: corpus tokens, tokens after
    exact dedup (one canonical per normalized fingerprint), tokens
    after near-dup cluster dedup (min-id survivor per connected
    component at jaccard >= 0.5), and the saved fractions — the number
    that justifies (or doesn't) running the MinHash pipeline on a new
    corpus.  Reuses the session-cached pair table; everything else is
    two hash aggregations and exact integer arithmetic."""
    from nasa_asteroid_data_lakehouse_spark.llm import dedup
    from nasa_asteroid_data_lakehouse_spark.plans.llm_queries import (
        _CLUSTER_THRESHOLD,
        _lsh_pairs_cached,
    )

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    ntok = F.size(
        text.tokens(text.normalized_text(F.coalesce(F.col("text"), F.lit(""))))
    )
    base = docs.select(
        "doc_id",
        ntok.alias("ntok"),
        F.md5(text.normalized_text(F.coalesce(F.col("text"), F.lit("")))).alias(
            "fp"
        ),
    ).localCheckpoint(eager=False)  # feeds three aggregations below

    totals = base.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("ntok").alias("total_tokens"),
    )
    exact = (
        base.groupBy("fp")
        .agg(F.min("ntok").alias("t"))  # dup fingerprints share the text
        .agg(
            F.count(F.lit(1)).alias("n_exact_unique"),
            F.sum("t").alias("tokens_exact"),
        )
    )
    labels = dedup.connected_components(
        _lsh_pairs_cached(spark, sf_dir, _CLUSTER_THRESHOLD)
    )
    dropped = (
        labels.where(F.col("node") != F.col("component"))
        .join(base, F.col("node") == F.col("doc_id"))
        .agg(
            F.count(F.lit(1)).alias("n_dropped_near"),
            F.coalesce(F.sum("ntok"), F.lit(0)).alias("__dropped_tokens"),
        )
    )
    return (
        totals.crossJoin(F.broadcast(exact))
        .crossJoin(F.broadcast(dropped))
        .select(
            "n_docs",
            "total_tokens",
            "n_exact_unique",
            "tokens_exact",
            "n_dropped_near",
            (F.col("total_tokens") - F.col("__dropped_tokens")).alias(
                "tokens_after_near"
            ),
            F.round(
                1 - F.col("tokens_exact") / F.col("total_tokens"), 6
            ).alias("pct_saved_exact"),
            F.round(
                F.col("__dropped_tokens") / F.col("total_tokens"), 6
            ).alias("pct_saved_near"),
        )
    )


def _dedup_savings_sql() -> str:
    from nasa_asteroid_data_lakehouse_spark.plans.llm_queries import (
        _CLUSTER_THRESHOLD,
        _minhash_lsh_sql,
    )

    return f"""
WITH RECURSIVE
base AS (
  SELECT doc_id,
    CASE WHEN {_NORMC} = '' THEN 0
         ELSE len(string_split({_NORMC}, ' ')) END AS ntok,
    md5({_NORMC}) AS fp
  FROM documents
),
totals AS (
  SELECT COUNT(*) AS n_docs, CAST(SUM(ntok) AS BIGINT) AS total_tokens
  FROM base
),
exact AS (
  SELECT COUNT(*) AS n_exact_unique, CAST(SUM(t) AS BIGINT) AS tokens_exact
  FROM (SELECT fp, MIN(ntok) AS t FROM base GROUP BY fp)
),
base_pairs AS ({_minhash_lsh_sql(_CLUSTER_THRESHOLD)}),
edges AS (
  SELECT id_a AS a, id_b AS b FROM base_pairs
  UNION
  SELECT id_b, id_a FROM base_pairs
),
reach AS (
  SELECT a AS node, a AS root FROM edges
  UNION
  SELECT e.b, r.root FROM reach r JOIN edges e ON e.a = r.node
),
labels AS (SELECT node, MIN(root) AS component FROM reach GROUP BY node),
dropped AS (
  SELECT COUNT(*) AS n_dropped_near,
         CAST(COALESCE(SUM(ntok), 0) AS BIGINT) AS dropped_tokens
  FROM labels JOIN base ON base.doc_id = labels.node
  WHERE node <> component
)
SELECT n_docs, total_tokens, n_exact_unique, tokens_exact, n_dropped_near,
  total_tokens - dropped_tokens AS tokens_after_near,
  ROUND(1 - tokens_exact / total_tokens, 6) AS pct_saved_exact,
  ROUND(dropped_tokens / total_tokens, 6) AS pct_saved_near
FROM totals, exact, dropped
"""


QUERIES["dedup_savings_documents"] = dedup_savings_documents
ORACLES["dedup_savings_documents"] = _dedup_savings_sql()


# --- packing efficiency report -----------------------------------------------

_PACK_BUDGET = 2048


def pack_efficiency_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-lang packing utilization: bins used by the deterministic
    2048-token packer vs the bin-count lower bound (ceil(total/budget))
    and the mean fill fraction — the wasted-compute gauge for a packed
    training run.  Sits on top of pack_documents' assignment; one extra
    aggregation pair."""
    from nasa_asteroid_data_lakehouse_spark.llm.packing import pack_documents

    docs = read_table(spark, sf_dir, "documents").select("lang", "doc_id", "text")
    packed = pack_documents(docs, budget=_PACK_BUDGET, partition_cols=["lang"])
    return (
        packed.groupBy("lang")
        .agg(
            F.sum("n_tokens").alias("total_tokens"),
            F.countDistinct("pack_id").alias("bins_used"),
        )
        .select(
            "lang",
            "total_tokens",
            "bins_used",
            F.expr(f"(total_tokens + {_PACK_BUDGET} - 1) div {_PACK_BUDGET}").alias(
                "bins_lower_bound"
            ),
            F.round(
                F.col("total_tokens") / (F.col("bins_used") * F.lit(_PACK_BUDGET)),
                6,
            ).alias("mean_fill"),
        )
        .orderBy("lang")
    )


PACK_EFFICIENCY_SQL = rf"""
WITH toks AS (
  SELECT lang, doc_id,
    CASE WHEN trim(text) = '' THEN 0
         ELSE len(string_split_regex(trim(text), '\s+')) END AS n_tokens
  FROM documents
),
c AS (
  SELECT lang, doc_id, n_tokens,
    SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                        ROWS UNBOUNDED PRECEDING) AS cum_tokens
  FROM toks
),
packed AS (
  SELECT lang, n_tokens,
    CAST(floor((cum_tokens - n_tokens) / {_PACK_BUDGET}) AS BIGINT) AS pack_id
  FROM c
)
SELECT lang,
  CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
  CAST(COUNT(DISTINCT pack_id) AS BIGINT) AS bins_used,
  (CAST(SUM(n_tokens) AS BIGINT) + {_PACK_BUDGET} - 1) // {_PACK_BUDGET}
    AS bins_lower_bound,
  ROUND(SUM(n_tokens) / (COUNT(DISTINCT pack_id) * {_PACK_BUDGET}), 6)
    AS mean_fill
FROM packed GROUP BY lang ORDER BY lang
"""

QUERIES["pack_efficiency_documents"] = pack_efficiency_documents
ORACLES["pack_efficiency_documents"] = PACK_EFFICIENCY_SQL


# --- embedding norm outliers -------------------------------------------------


def embedding_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-store hygiene: flag vectors whose L2 norm deviates
    more than 3 robust sigmas (MAD) from the corpus median norm —
    degenerate embeddings (failed encodes, zero pads, exploded values)
    poison both ANN probes and cosine thresholds.  One norm projection
    + two single-row percentile aggregates broadcast back; the flag
    compares 6-decimal-rounded values so both engines see identical
    doubles."""
    emb = read_table(spark, sf_dir, "embeddings")
    # Invalid-vector rows stay VISIBLE here (the exception to the
    # similarity-module exclusion contract): a NULL embedding or a
    # NaN/Inf/NULL component is a failed encode — the exact degeneracy
    # this query hunts — so it reports vnorm NULL and is_outlier TRUE,
    # rather than silently dropping the row, voting in the median, or
    # leaking a NaN norm the engines would render/rank divergently.
    norms = emb.select(
        "vec_id",
        F.when(
            similarity.vec_valid(F.col("embedding")),
            F.round(similarity.norm(F.col("embedding")), 6),
        ).alias("vnorm"),
    )
    med = norms.agg(
        F.round(F.expr("percentile(vnorm, 0.5)"), 6).alias("med_norm")
    )
    dev = norms.crossJoin(F.broadcast(med)).withColumn(
        "__dev", F.abs(F.col("vnorm") - F.col("med_norm"))
    )
    mad = dev.agg(
        F.round(F.expr("percentile(__dev, 0.5)"), 6).alias("mad_norm")
    )
    return (
        dev.crossJoin(F.broadcast(mad))
        .select(
            "vec_id",
            "vnorm",
            "med_norm",
            "mad_norm",
            # NULL vnorm (failed encode) => outlier TRUE; the flag is
            # never NULL (a tri-state boolean renders differently in
            # pandas between engines — None vs nan — so the driver's
            # value-hash could never match one).
            F.when(F.col("vnorm").isNull(), F.lit(True))
            .otherwise(F.col("__dev") > 3 * F.col("mad_norm"))
            .alias("is_outlier"),
        )
    )


EMBEDDING_OUTLIERS_SQL = """
WITH norms AS (
  -- CASE guard, NOT a filter: the hygiene query keeps invalid-vector
  -- rows visible (vnorm NULL, flagged TRUE below) — the deliberate
  -- exception to the vector exclusion contract.  The guard is also
  -- load-bearing for DuckDB: list_dot_product RAISES when a scanned
  -- chunk holds any NULL list, and a NaN component would otherwise
  -- leak a NaN norm into the quantile votes.
  SELECT vec_id,
    CASE WHEN embedding IS NOT NULL
          AND len(list_filter(embedding,
                x -> x IS NULL OR isnan(x) OR isinf(x))) = 0
         THEN ROUND(sqrt(
           list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])), 6)
    END AS vnorm
  FROM embeddings
),
med AS (SELECT ROUND(quantile_cont(vnorm, 0.5), 6) AS med_norm FROM norms),
dev AS (
  SELECT vec_id, vnorm, med_norm, abs(vnorm - med_norm) AS d
  FROM norms, med
),
mad AS (SELECT ROUND(quantile_cont(d, 0.5), 6) AS mad_norm FROM dev)
SELECT vec_id, vnorm, med_norm, mad_norm,
       CASE WHEN vnorm IS NULL THEN TRUE
            ELSE (d > 3 * mad_norm) END AS is_outlier
FROM dev, mad
"""

QUERIES["embedding_outliers"] = embedding_outliers
ORACLES["embedding_outliers"] = EMBEDDING_OUTLIERS_SQL
