"""LLM-pipeline queries for the driver's correctness gate.

Wraps the ``llm/`` operators over the documents/embeddings fixtures;
oracle SQL mirrors the exact arithmetic (md5-based hashing, double
precision sequential dot products, identical rounding) so DuckDB
reproduces the results bit-for-bit.  Some oracle strings are generated
programmatically (simhash bit votes, LSH hyperplane literals).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as SparkWindow
from pyspark.sql import functions as F

from nasa_asteroid_data_lakehouse_spark.catalog import read_table
from nasa_asteroid_data_lakehouse_spark.llm import (
    corpus_stats,
    dedup,
    multimodal,
    similarity,
    text,
)
from nasa_asteroid_data_lakehouse_spark.plans import (
    _EN,
    _NORM,
    _bucket_sql,
    _cos_sql,
)

# --- text statistics ---------------------------------------------------------


def text_stats_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    return text.with_text_stats(docs).drop("text")


TEXT_STATS_SQL = rf"""
WITH base AS (
  SELECT doc_id, text,
    length(text) AS n_chars,
    CASE WHEN trim(text) = '' THEN 0
         ELSE len(string_split_regex(trim(text), '\s+')) END AS n_tokens,
    len(regexp_extract_all(text, '\w+|[^\w\s]')) AS n_bpe_tokens,
    length(regexp_replace(text, '\s+', '', 'g')) AS non_space,
    length(text) - length(regexp_replace(text, '[.,;:!?''"()\[\]{{}}-]', '', 'g')) AS punct,
    length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS digits,
    CASE WHEN trim(lower(text)) = '' THEN 0
         ELSE len(list_filter(string_split_regex(trim(lower(text)), '\s+'),
                              t -> t IN ({_EN}))) END AS stop_hits
  FROM documents
)
SELECT doc_id,
  n_chars AS n_chars_measured,
  n_tokens,
  n_bpe_tokens,
  ROUND(non_space / greatest(n_tokens, 1), 6) AS avg_token_len,
  ROUND(punct / greatest(n_chars, 1), 6) AS punct_ratio,
  ROUND(digits / greatest(n_chars, 1), 6) AS digit_ratio,
  ROUND(stop_hits / greatest(n_tokens, 1), 6) AS stopword_ratio,
  ROUND(least(n_tokens / 100.0, 1.0) * 0.4
        + (1 - least(punct / greatest(n_chars, 1) * 5, 1.0)) * 0.3
        + least(stop_hits / greatest(n_tokens, 1) * 5, 1.0) * 0.3, 6) AS quality_score
FROM base
"""


def lang_id_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    return text.with_lang_id(docs).drop("text")


def _hits_sql(lang: str) -> str:
    words = ", ".join(f"'{w}'" for w in text.STOPWORDS[lang])
    return (
        "CASE WHEN trim(lower(text)) = '' THEN 0 "
        f"ELSE len(list_filter(string_split_regex(trim(lower(text)), '\\s+'), "
        f"t -> t IN ({words}))) END"
    )


LANG_ID_SQL = rf"""
WITH scored AS (
  SELECT doc_id, lang,
    length(text) - length(regexp_replace(text, '[一-鿿]', '', 'g')) AS han,
    length(text) AS n_chars,
    {_hits_sql("en")} AS h_en,
    {_hits_sql("fr")} AS h_fr,
    {_hits_sql("es")} AS h_es,
    {_hits_sql("de")} AS h_de
  FROM documents
)
SELECT doc_id, lang,
  CASE WHEN han / greatest(n_chars, 1) > 0.3 THEN 'zh'
       WHEN greatest(h_en, h_fr, h_es, h_de) = 0 THEN 'und'
       WHEN h_en = greatest(h_en, h_fr, h_es, h_de) THEN 'en'
       WHEN h_fr = greatest(h_en, h_fr, h_es, h_de) THEN 'fr'
       WHEN h_es = greatest(h_en, h_fr, h_es, h_de) THEN 'es'
       ELSE 'de' END AS lang_pred
FROM scored
"""


def fingerprint_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    return text.with_fingerprints(docs).drop("text")


FINGERPRINT_SQL = rf"""
SELECT doc_id,
  md5({_NORM}) AS fingerprint,
  ('0x' || substr(md5({_NORM}), 1, 15))::BIGINT AS fingerprint64
FROM documents
"""


def exact_dedup_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source"
    )
    return dedup.exact_dedup(docs, "doc_id")


EXACT_DEDUP_SQL = rf"""
SELECT doc_id, text, lang, source
FROM documents
QUALIFY row_number() OVER (PARTITION BY md5({_NORM}) ORDER BY doc_id) = 1
"""


# --- MinHash signatures -------------------------------------------------------

_MINHASH_K = 3
_MINHASH_N = 4


def minhash_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    sig = dedup.with_minhash_signature(
        docs, num_hashes=_MINHASH_N, shingle_k=_MINHASH_K
    )
    return sig.select(
        "doc_id",
        *[F.col("minhash")[i].alias(f"sig_{i}") for i in range(_MINHASH_N)],
    )


_SHINGLES_SQL = rf"""
  SELECT doc_id,
    CASE WHEN len(words) >= {_MINHASH_K}
         THEN list_distinct(list_transform(range(1, len(words) - {_MINHASH_K - 2}),
                            j -> array_to_string(words[j:j+{_MINHASH_K - 1}], ' ')))
         ELSE [array_to_string(words, ' ')] END AS shingles
  FROM (SELECT doc_id, string_split({_NORM}, ' ') AS words FROM documents)
"""

_MINHASH_COEFFS = dedup._minhash_coeffs(_MINHASH_N)

MINHASH_SQL = rf"""
WITH sh AS ({_SHINGLES_SQL}),
bases AS (
  SELECT doc_id,
    list_transform(shingles, s -> ('0x' || substr(md5(s), 1, 8))::BIGINT) AS bh
  FROM sh
)
SELECT doc_id,
  {", ".join(
      f"list_min(list_transform(bh, h -> ({a} * h + {b}) % {dedup.MINHASH_PRIME})) AS sig_{i}"
      for i, (a, b) in enumerate(_MINHASH_COEFFS)
  )}
FROM bases
"""


# --- n-gram Jaccard (blocked pairs) ------------------------------------------


def ngram_jaccard_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise word-bigram Jaccard within each source block, similarity
    floor 0.05 (word-salad fixtures share vocabulary, not phrasing)."""
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text", "source")
    return dedup.ngram_jaccard_pairs(
        docs, "doc_id", shingle_k=2, group_cols=["source"], threshold=0.05
    )


NGRAM_JACCARD_SQL = rf"""
WITH sh AS (
  SELECT doc_id, source,
    CASE WHEN len(words) >= 2
         THEN list_distinct(list_transform(range(1, len(words)),
                            j -> array_to_string(words[j:j+1], ' ')))
         ELSE [array_to_string(words, ' ')] END AS shingles
  FROM (SELECT doc_id, source, string_split({_NORM}, ' ') AS words FROM documents)
),
sz AS (SELECT doc_id, len(shingles) AS sz FROM sh),
ex AS (SELECT doc_id, source, unnest(shingles) AS shingle FROM sh),
common AS (
  SELECT a.source AS source, a.doc_id AS id_a, b.doc_id AS id_b,
         COUNT(*) AS common
  FROM ex a JOIN ex b
    ON a.source = b.source AND a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2, 3
)
SELECT source, id_a, id_b,
  ROUND(common / (sa.sz + sb.sz - common), 6) AS jaccard
FROM common
JOIN sz sa ON sa.doc_id = id_a
JOIN sz sb ON sb.doc_id = id_b
WHERE ROUND(common / (sa.sz + sb.sz - common), 6) >= 0.05
"""


def ngram_containment_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric n-gram containment within each source block: a short
    document fully embedded in a longer one scores 1.0 where its
    jaccard is tiny — the quote/boilerplate/subset dedup signal.  Same
    explode-join machinery (shuffle key = shingle), different
    denominator (min set size)."""
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text", "source")
    return dedup.ngram_jaccard_pairs(
        docs,
        "doc_id",
        shingle_k=2,
        group_cols=["source"],
        threshold=0.2,
        metric="containment",
    )


NGRAM_CONTAINMENT_SQL = rf"""
WITH sh AS (
  SELECT doc_id, source,
    CASE WHEN len(words) >= 2
         THEN list_distinct(list_transform(range(1, len(words)),
                            j -> array_to_string(words[j:j+1], ' ')))
         ELSE [array_to_string(words, ' ')] END AS shingles
  FROM (SELECT doc_id, source, string_split({_NORM}, ' ') AS words FROM documents)
),
sz AS (SELECT doc_id, len(shingles) AS sz FROM sh),
ex AS (SELECT doc_id, source, unnest(shingles) AS shingle FROM sh),
common AS (
  SELECT a.source AS source, a.doc_id AS id_a, b.doc_id AS id_b,
         COUNT(*) AS common
  FROM ex a JOIN ex b
    ON a.source = b.source AND a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2, 3
)
SELECT source, id_a, id_b,
  ROUND(common / least(sa.sz, sb.sz), 6) AS containment
FROM common
JOIN sz sa ON sa.doc_id = id_a
JOIN sz sb ON sb.doc_id = id_b
WHERE ROUND(common / least(sa.sz, sb.sz), 6) >= 0.2
"""


# --- cosine similarity --------------------------------------------------------


def cosine_topk_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-20 most similar vectors to vec_id=0 (self included)."""
    emb = read_table(spark, sf_dir, "embeddings").where(
        similarity.vec_valid(F.col("embedding"))  # vector contract (llm/similarity.py)
    )
    query = emb.where(F.col("vec_id") == 0).select(
        F.col("embedding").alias("query_vec")
    )
    scored = emb.crossJoin(F.broadcast(query)).select(
        "vec_id",
        F.round(
            similarity.cosine(F.col("embedding"), F.col("query_vec")), 6
        ).alias("cosine_sim"),
    )
    return scored.orderBy(F.desc("cosine_sim"), F.asc("vec_id")).limit(20)


COSINE_TOPK_SQL = """
-- Probe CTEs filter + cast INSIDE the CTE: DuckDB's list functions
-- validity-check the whole scanned chunk, so a probe drawn unfiltered
-- from a column with NULL lists raises even when the probe row itself
-- is non-NULL (adversarial NULL-vector sweep, round 4).
WITH q AS (SELECT embedding::DOUBLE[] AS query_vec FROM embeddings
           WHERE vec_id = 0 AND embedding IS NOT NULL AND len(list_filter(embedding, x -> x IS NULL OR isnan(x) OR isinf(x))) = 0)
SELECT vec_id,
  ROUND(list_dot_product(embedding::DOUBLE[], query_vec::DOUBLE[])
        / (sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
           * sqrt(list_dot_product(query_vec::DOUBLE[], query_vec::DOUBLE[]))),
        6) AS cosine_sim
FROM embeddings, q
WHERE embedding IS NOT NULL AND len(list_filter(embedding, x -> x IS NULL OR isnan(x) OR isinf(x))) = 0
ORDER BY cosine_sim DESC, vec_id
LIMIT 20
"""


# --- LSH bucketing ------------------------------------------------------------

_LSH_PLANES = 6
_LSH_DIM = 64


def lsh_buckets_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperplane-LSH bucket assignment + per-bucket population."""
    emb = read_table(spark, sf_dir, "embeddings")
    bucketed = similarity.with_lsh_bucket(
        emb, num_planes=_LSH_PLANES, dim=_LSH_DIM
    )
    return bucketed.groupBy("bucket").agg(F.count(F.lit(1)).alias("n_vectors"))


def _lsh_sql() -> str:
    planes = similarity.hyperplane_coefficients(_LSH_PLANES, _LSH_DIM)
    terms = []
    for p, coefs in enumerate(planes):
        lits = ", ".join(repr(c) for c in coefs)
        terms.append(
            f"(CASE WHEN list_dot_product(embedding::DOUBLE[], [{lits}]::DOUBLE[]) >= 0"
            f" THEN {1 << p} ELSE 0 END)"
        )
    bucket = " + ".join(terms)
    return f"""
SELECT ({bucket})::BIGINT AS bucket, COUNT(*) AS n_vectors
FROM embeddings WHERE embedding IS NOT NULL AND len(list_filter(embedding, x -> x IS NULL OR isnan(x) OR isinf(x))) = 0 GROUP BY 1
"""


LSH_BUCKETS_SQL = _lsh_sql()


# --- multimodal ---------------------------------------------------------------


def media_metadata_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary payload + JVM-side typed metadata (decode-free path)."""
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    with_payload = multimodal.with_binary_payload(docs, "text")
    meta = multimodal.with_media_metadata(with_payload)
    return meta.select("doc_id", "media_meta.n_bytes", "media_meta.checksum")


MEDIA_METADATA_SQL = """
SELECT doc_id,
  octet_length(encode(text)) AS n_bytes,
  md5(text) AS checksum
FROM documents
"""


def byte_features_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched binary feature extraction (mapInPandas path).

    Emits the oracle-checkable byte profile (``byte_feature_profile``):
    every column is recomputed by DuckDB from the source text
    (octet_length / space count / sha256), so the driver value-hashes
    the whole Arrow round trip.
    """
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    payloads = multimodal.with_binary_payload(docs, "text")
    return multimodal.byte_feature_profile(payloads)


BYTE_FEATURES_SQL = """
SELECT doc_id,
  octet_length(encode(text)) AS n_bytes,
  length(text) - length(replace(text, ' ', '')) AS n_spaces,
  sha256(text) AS sha256_hex
FROM documents
"""


QUERIES = {
    "text_stats_documents": text_stats_documents,
    "lang_id_documents": lang_id_documents,
    "fingerprint_documents": fingerprint_documents,
    "exact_dedup_documents": exact_dedup_documents,
    "minhash_documents": minhash_documents,
    "ngram_jaccard_documents": ngram_jaccard_documents,
    "ngram_containment_documents": ngram_containment_documents,
    "cosine_topk_embeddings": cosine_topk_embeddings,
    "lsh_buckets_embeddings": lsh_buckets_embeddings,
    "media_metadata_documents": media_metadata_documents,
    "byte_features_documents": byte_features_documents,
}

ORACLES = {
    "text_stats_documents": TEXT_STATS_SQL,
    "lang_id_documents": LANG_ID_SQL,
    "fingerprint_documents": FINGERPRINT_SQL,
    "exact_dedup_documents": EXACT_DEDUP_SQL,
    "minhash_documents": MINHASH_SQL,
    "ngram_jaccard_documents": NGRAM_JACCARD_SQL,
    "ngram_containment_documents": NGRAM_CONTAINMENT_SQL,
    "cosine_topk_embeddings": COSINE_TOPK_SQL,
    "lsh_buckets_embeddings": LSH_BUCKETS_SQL,
    "media_metadata_documents": MEDIA_METADATA_SQL,
    "byte_features_documents": BYTE_FEATURES_SQL,
}


def curation_pipeline_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-data curation: stats -> quality floor ->
    exact dedup -> per-(lang, source) yield report.

    Composes with_text_stats + exact_dedup + aggregation in one plan —
    Catalyst fuses the stats projection into the dedup shuffle's map
    side; the report is the only other shuffle.
    """
    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source"
    )
    # Pushdown barrier (same trick as the jaccard verify stage): without
    # it Catalyst pushes the quality/n_tokens predicates below the stats
    # projection and re-instantiates the token fold per predicate — the
    # fold appeared 5x in the optimized plan, and the whole query ran
    # ~2.4x slower (measured at sf0.1: 5.6 s -> 2.3 s).
    scored = text.with_text_stats(docs).withColumn(
        "__barrier", F.monotonically_increasing_id()
    )
    kept = scored.where(
        (F.col("quality_score") >= 0.5) & (F.col("n_tokens") >= 10)
    ).drop("__barrier")
    deduped = dedup.exact_dedup(kept, "doc_id")
    return (
        deduped.groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("docs_kept"),
            # SUM not AVG: quality scores sit on a 1e-6 decimal lattice,
            # so their sum stays 5e-7 from any 6dp rounding boundary —
            # an average lands exactly on boundaries and flips between
            # engines' accumulation orders.
            F.round(F.sum("quality_score"), 6).alias("sum_quality"),
            F.sum("n_tokens").alias("total_tokens"),
        )
        .orderBy("lang", "source")
    )


_STATS_FRAGMENT = rf"""
  SELECT doc_id, text, lang, source,
    CASE WHEN trim(text) = '' THEN 0
         ELSE len(string_split_regex(trim(text), '\s+')) END AS n_tokens,
    length(text) AS n_chars,
    length(text) - length(regexp_replace(text, '[.,;:!?''"()\[\]{{}}-]', '', 'g')) AS punct,
    CASE WHEN trim(lower(text)) = '' THEN 0
         ELSE len(list_filter(string_split_regex(trim(lower(text)), '\s+'),
                              t -> t IN ({_EN}))) END AS stop_hits
  FROM documents
"""

CURATION_SQL = rf"""
WITH stats AS ({_STATS_FRAGMENT}),
scored AS (
  SELECT *,
    ROUND(least(n_tokens / 100.0, 1.0) * 0.4
          + (1 - least(punct / greatest(n_chars, 1) * 5, 1.0)) * 0.3
          + least(stop_hits / greatest(n_tokens, 1) * 5, 1.0) * 0.3, 6) AS quality_score
  FROM stats
),
kept AS (SELECT * FROM scored WHERE quality_score >= 0.5 AND n_tokens >= 10),
deduped AS (
  SELECT * FROM kept
  QUALIFY row_number() OVER (
    PARTITION BY md5({_NORM}) ORDER BY doc_id) = 1
)
SELECT lang, source,
       COUNT(*) AS docs_kept,
       ROUND(SUM(quality_score), 6) AS sum_quality,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
FROM deduped
GROUP BY lang, source
ORDER BY lang, source
"""

QUERIES["curation_pipeline_documents"] = curation_pipeline_documents
ORACLES["curation_pipeline_documents"] = CURATION_SQL


_BUDGET_TOKENS = 10_000


def budget_select_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget dataset selection: greedily admit documents in
    quality order (quality_score desc, doc_id tiebreak) until the
    running token total reaches the budget — the "best N tokens"
    curation primitive for sizing a training mix.

    NOT a global window cumsum (a single-reducer sort of the whole
    corpus — the shape that dies at 100 TB).  Instead: bucket docs by a
    coarse quality quantization, aggregate token mass per bucket (one
    map-side-combinable hash agg), window the ~1000-row bucket table
    for per-bucket base offsets (broadcast back), and cumsum WITHIN
    each bucket (window partitioned by bucket — parallel).  Bucketing
    by floor(q*1000) is order-monotone and ordering within a bucket is
    exact (quality desc, doc_id), so base + within-bucket cumsum equals
    the global cumsum value for value, at corpus-parallel cost."""
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    scored = text.with_text_stats(docs).select(
        "doc_id",
        "n_tokens",
        "quality_score",
        F.floor(F.col("quality_score") * 1000).cast("long").alias("__qb"),
    )
    mass = scored.groupBy("__qb").agg(F.sum("n_tokens").alias("__tok"))
    wb = SparkWindow.orderBy(F.desc("__qb")).rowsBetween(
        SparkWindow.unboundedPreceding, SparkWindow.currentRow
    )
    offsets = mass.select(
        "__qb", (F.sum("__tok").over(wb) - F.col("__tok")).alias("__base")
    )
    wi = (
        SparkWindow.partitionBy("__qb")
        .orderBy(F.desc("quality_score"), F.asc("doc_id"))
        .rowsBetween(SparkWindow.unboundedPreceding, SparkWindow.currentRow)
    )
    return (
        scored.join(F.broadcast(offsets), "__qb")
        .withColumn("cum_tokens", F.col("__base") + F.sum("n_tokens").over(wi))
        .where(F.col("cum_tokens") <= _BUDGET_TOKENS)
        .select("doc_id", "n_tokens", "quality_score", "cum_tokens")
        .orderBy("doc_id")
    )


BUDGET_SELECT_SQL = rf"""
WITH stats AS ({_STATS_FRAGMENT}),
scored AS (
  SELECT *,
    ROUND(least(n_tokens / 100.0, 1.0) * 0.4
          + (1 - least(punct / greatest(n_chars, 1) * 5, 1.0)) * 0.3
          + least(stop_hits / greatest(n_tokens, 1) * 5, 1.0) * 0.3, 6) AS quality_score
  FROM stats
)
SELECT doc_id, n_tokens, quality_score,
       CAST(SUM(n_tokens) OVER (
         ORDER BY quality_score DESC, doc_id
         ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
FROM scored
QUALIFY cum_tokens <= {_BUDGET_TOKENS}
ORDER BY doc_id
"""

QUERIES["budget_select_documents"] = budget_select_documents
ORACLES["budget_select_documents"] = BUDGET_SELECT_SQL


# --- SimHash (fingerprints + near-dup pairs) ---------------------------------

_SIMHASH_BITS = 60
_SIMHASH_PREFIX = 6
_SIMHASH_MAX_HAMMING = 3


_SIMHASH_CACHE: dict[tuple[str, str], DataFrame] = {}


def _simhash_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc, simhash) table computed ONCE per (session, sf_dir) — the
    token-hash vote fold is the whole cost of both simhash queries
    (fingerprints and pairs), so they share one lazy checkpoint; same
    keying and bounds rationale as ``_lsh_pairs_cached``."""
    key = (spark.sparkContext.applicationId, sf_dir)
    cached = _SIMHASH_CACHE.get(key)
    if cached is None:
        docs = (
            read_table(spark, sf_dir, "documents")
            .select("doc_id", "text")
            .where(F.trim("text") != "")
        )
        cached = dedup.simhash_by_key(
            docs.select(F.col("doc_id").alias("doc"), "text"), "doc"
        ).localCheckpoint(eager=False)
        while len(_SIMHASH_CACHE) >= 2:
            _SIMHASH_CACHE.pop(next(iter(_SIMHASH_CACHE)))
        _SIMHASH_CACHE[key] = cached
    return cached


def simhash_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document 60-bit SimHash fingerprint (non-blank docs)."""
    return _simhash_cached(spark, sf_dir).select(
        F.col("doc").alias("doc_id"), "simhash"
    )


def _simhash_sql_core() -> str:
    """CTE chain computing doc_id -> simhash, mirroring
    llm/dedup.py:simhash_by_key bit-for-bit (md5-prefix token hash,
    +/-1 votes per bit, bit set on positive vote sum)."""
    votes = ",\n    ".join(
        f"SUM(CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS v{i}"
        for i in range(_SIMHASH_BITS)
    )
    assemble = " + ".join(
        f"(CASE WHEN v{i} > 0 THEN {1 << i} ELSE 0 END)::BIGINT"
        for i in range(_SIMHASH_BITS)
    )
    return rf"""
tok AS (
  SELECT doc_id, unnest(list_distinct(string_split({_NORM}, ' '))) AS t
  FROM documents WHERE trim(text) <> ''
),
hashed AS (
  SELECT doc_id, ('0x' || substr(md5(t), 1, 15))::BIGINT AS h FROM tok
),
votes AS (
  SELECT doc_id,
    {votes}
  FROM hashed GROUP BY doc_id
),
sim AS (SELECT doc_id, {assemble} AS simhash FROM votes)
"""


SIMHASH_SQL = f"WITH {_simhash_sql_core()} SELECT doc_id, simhash FROM sim"


def simhash_pairs_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup candidate pairs: block on the top prefix bits,
    verify by Hamming distance."""
    docs = (
        read_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .where(F.trim("text") != "")
    )
    return dedup.simhash_near_dup_pairs(
        docs,
        "doc_id",
        max_hamming=_SIMHASH_MAX_HAMMING,
        prefix_bits=_SIMHASH_PREFIX,
        hashed=_simhash_cached(spark, sf_dir),
    )


SIMHASH_PAIRS_SQL = f"""
WITH {_simhash_sql_core()},
blocked AS (
  SELECT doc_id, simhash, simhash >> {_SIMHASH_BITS - _SIMHASH_PREFIX} AS block
  FROM sim
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       bit_count(xor(a.simhash, b.simhash)) AS hamming
FROM blocked a JOIN blocked b
  ON a.block = b.block AND a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= {_SIMHASH_MAX_HAMMING}
"""


# --- embedding-cosine near-duplicates ----------------------------------------

_NEAR_DUP_THRESHOLD = 0.35


def embedding_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs: sign-LSH bucket self-join + exact
    cosine verify (threshold tuned to the synthetic fixture's
    similarity range).

    Plane count is the library DEFAULT — derived from corpus size via
    the occupancy law (``similarity.auto_planes``; promoted from fixed
    4 planes, VERDICT r07 ask #5): bucket occupancy stays <= 64 at any
    scale, so the within-bucket verify never goes quadratic.  Bucket
    ids are the P-bit prefix of the 16-plane code — in the oracle,
    code_16 % 2^P.  At the driver SF the law picks 4, the old fixed
    setting."""
    emb = read_table(spark, sf_dir, "embeddings")
    return similarity.embedding_near_dup_pairs(
        emb, threshold=_NEAR_DUP_THRESHOLD
    )


EMBEDDING_NEAR_DUP_SQL = f"""
WITH valid AS (
  SELECT vec_id, embedding FROM embeddings
  WHERE embedding IS NOT NULL AND len(list_filter(embedding, x -> x IS NULL OR isnan(x) OR isinf(x))) = 0
),
params AS (
  SELECT COALESCE(
    (SELECT MIN(p)
     FROM (SELECT unnest(range({similarity.AUTO_PLANES_MIN}, {similarity.AUTO_PLANES_MAX} + 1)) AS p) ps,
          (SELECT COUNT(*) AS n FROM valid) cn
     WHERE {similarity.AUTO_PLANES_TARGET_OCC} * (CAST(1 AS BIGINT) << p) >= cn.n),
    {similarity.AUTO_PLANES_MAX}) AS p
),
bucketed AS (
  SELECT vec_id, embedding,
         {_bucket_sql(similarity.AUTO_PLANES_MAX, "embedding")}
           % (CAST(1 AS BIGINT) << (SELECT p FROM params)) AS bucket
  FROM valid
)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       ROUND({_cos_sql("a", "b")}, 6) AS cosine_sim
FROM bucketed a JOIN bucketed b
  ON a.bucket = b.bucket AND a.vec_id < b.vec_id
WHERE ROUND({_cos_sql("a", "b")}, 6) >= {_NEAR_DUP_THRESHOLD}
"""


# --- LSH-probed approximate top-k --------------------------------------------

_LSH_TOPK_PLANES = 6
_LSH_TOPK_K = 15
_LSH_PROBE_HAMMING = 2


def lsh_topk_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-k neighbours of vec_id=0: probe only buckets
    within Hamming distance 2 of the query's bucket."""
    emb = read_table(spark, sf_dir, "embeddings")
    qvec = similarity.query_vector(emb, "vec_id", "embedding", 0)
    if qvec is None:
        # No valid probe row (vec_id 0 absent or NULL/NaN vector): the
        # oracle's q CTE is empty, so the answer is empty (ADVICE r04).
        return emb.limit(0).select(
            "vec_id",
            F.lit(None).cast("long").alias("bucket"),
            F.lit(None).cast("double").alias("cosine_sim"),
        )
    return similarity.lsh_topk(
        emb,
        qvec,
        k=_LSH_TOPK_K,
        num_planes=_LSH_TOPK_PLANES,
        probe_hamming=_LSH_PROBE_HAMMING,
    )


_COS_EQ = (
    "list_dot_product(e.embedding::DOUBLE[], q.qv::DOUBLE[])"
    " / (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))"
    " * sqrt(list_dot_product(q.qv::DOUBLE[], q.qv::DOUBLE[])))"
)

LSH_TOPK_SQL = f"""
WITH q AS (
  SELECT embedding::DOUBLE[] AS qv,
         {_bucket_sql(_LSH_TOPK_PLANES, "embedding")} AS qbucket
  FROM embeddings WHERE vec_id = 0 AND embedding IS NOT NULL AND len(list_filter(embedding, x -> x IS NULL OR isnan(x) OR isinf(x))) = 0
),
bucketed AS (
  SELECT vec_id, embedding, {_bucket_sql(_LSH_TOPK_PLANES, "embedding")} AS bucket
  FROM embeddings WHERE embedding IS NOT NULL AND len(list_filter(embedding, x -> x IS NULL OR isnan(x) OR isinf(x))) = 0
)
SELECT e.vec_id, e.bucket, ROUND({_COS_EQ}, 6) AS cosine_sim
FROM bucketed e, q
WHERE bit_count(xor(e.bucket, q.qbucket)) <= {_LSH_PROBE_HAMMING}
ORDER BY cosine_sim DESC, e.vec_id
LIMIT {_LSH_TOPK_K}
"""


# --- IVF (seed coarse quantizer) ---------------------------------------------

_IVF_K_CENTROIDS = 8
_IVF_NPROBE = 2
_IVF_TOPK = 15


def ivf_topk_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF search with a seed quantizer (centroids = the 8 lowest-id
    vectors, i.e. k-means at iteration 0): assign every vector to its
    nearest centroid, probe the query's 2 nearest cells only.  The seed
    quantizer keeps the oracle SQL-expressible so the driver
    hash-checks the IVF plumbing.
    """
    emb = read_table(spark, sf_dir, "embeddings")
    # centroid index == seed rank, matching the oracle's
    # row_number()-based cluster label
    centroids = similarity.seed_centroids(emb, _IVF_K_CENTROIDS)
    qvec = similarity.query_vector(emb, "vec_id", "embedding", 0)
    if qvec is None or not centroids:
        # No valid probe (or no valid vectors at all to seed): the
        # oracle's q CTE is empty, so the answer is empty (ADVICE r04).
        return emb.limit(0).select(
            "vec_id",
            F.lit(None).cast("int").alias("cluster"),
            F.lit(None).cast("double").alias("cosine_sim"),
        )
    return similarity.ivf_topk(
        emb, qvec, centroids, k=_IVF_TOPK, nprobe=_IVF_NPROBE
    )


IVF_TOPK_SQL = f"""
WITH seeds AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS c, cv FROM (
    SELECT vec_id, embedding::DOUBLE[] AS cv FROM embeddings
    WHERE embedding IS NOT NULL AND len(list_filter(embedding, x -> x IS NULL OR isnan(x) OR isinf(x))) = 0 ORDER BY vec_id LIMIT {_IVF_K_CENTROIDS})
),
q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings
      WHERE vec_id = 0 AND embedding IS NOT NULL AND len(list_filter(embedding, x -> x IS NULL OR isnan(x) OR isinf(x))) = 0),
assign AS (
  SELECT e.vec_id, e.embedding, s.c,
    row_number() OVER (
      PARTITION BY e.vec_id
      ORDER BY list_distance(e.embedding::DOUBLE[], s.cv::DOUBLE[]), s.c
    ) AS rn
  FROM embeddings e, seeds s
  WHERE e.embedding IS NOT NULL AND len(list_filter(e.embedding, x -> x IS NULL OR isnan(x) OR isinf(x))) = 0
),
probe AS (
  SELECT s.c FROM seeds s, q
  ORDER BY list_distance(s.cv::DOUBLE[], q.qv::DOUBLE[]), s.c
  LIMIT {_IVF_NPROBE}
)
SELECT e.vec_id, e.c AS cluster, ROUND({_COS_EQ}, 6) AS cosine_sim
FROM assign e JOIN probe p ON e.c = p.c, q
WHERE e.rn = 1
ORDER BY cosine_sim DESC, e.vec_id
LIMIT {_IVF_TOPK}
"""


QUERIES["simhash_documents"] = simhash_documents
ORACLES["simhash_documents"] = SIMHASH_SQL
QUERIES["simhash_pairs_documents"] = simhash_pairs_documents
ORACLES["simhash_pairs_documents"] = SIMHASH_PAIRS_SQL
QUERIES["embedding_near_dups"] = embedding_near_dups
ORACLES["embedding_near_dups"] = EMBEDDING_NEAR_DUP_SQL
QUERIES["lsh_topk_embeddings"] = lsh_topk_embeddings
ORACLES["lsh_topk_embeddings"] = LSH_TOPK_SQL
QUERIES["ivf_topk_embeddings"] = ivf_topk_embeddings
ORACLES["ivf_topk_embeddings"] = IVF_TOPK_SQL


# --- MinHash-LSH banded near-dup pairs ---------------------------------------

_LSHMH_K = 2        # shingle size (words)
_LSHMH_N = 8        # minhash signature length
_LSHMH_BANDS = 4    # bands of N/BANDS rows each
_LSHMH_THRESHOLD = 0.05
_LSHMH_MAX_BUCKET = 1000


_LSH_PAIR_CACHE: dict[tuple[str, str], DataFrame] = {}
_LSH_BASE_CACHE: dict[tuple[str, str], DataFrame] = {}


def _lsh_sig_base_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared ``(doc, sh, sig)`` signature base over the FULL documents
    table with the module's LSH parameters (K=2 word shingles, N=8
    minhash), computed once per (session, sf_dir).

    The md5-shingle-signature build is the common prefix of the
    near-dup family pipeline AND the r08 band sweep (identical K and N
    — the sweep's (8,1)/(4,2)/(2,4) configs re-band the same
    signature).  Sharing it saves a full rebuild per consumer in a
    bench/driver session (VERDICT r11 #4).  Keyed on applicationId so a
    new session never sees a dead checkpoint; single entry per sf_dir,
    bounded to 2 entries total.  Residency note: this is an O(corpus)
    checkpoint, the same frame ``lsh_near_dup_pairs`` has always
    checkpointed per call — the cache extends its lifetime to the
    session but adds no new peak; eviction is FIFO like the pair
    cache."""
    key = (spark.sparkContext.applicationId, sf_dir)
    cached = _LSH_BASE_CACHE.get(key)
    if cached is None:
        docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
        cached = dedup.lsh_signature_base(
            docs, "doc_id", num_hashes=_LSHMH_N, shingle_k=_LSHMH_K
        )
        while len(_LSH_BASE_CACHE) >= 2:
            _LSH_BASE_CACHE.pop(next(iter(_LSH_BASE_CACHE)))
        _LSH_BASE_CACHE[key] = cached
    return cached


def _peek_lsh_sig_base(spark: SparkSession, sf_dir: str) -> DataFrame | None:
    """The shared signature base IF this session already built it, else
    None.  The band sweep samples the corpus (md5-rank cap) before
    shingling, so when the family base is not already materialized it
    is CHEAPER for the sweep to shingle only its sample — reuse must
    never make an isolated run slower at scale."""
    return _LSH_BASE_CACHE.get((spark.sparkContext.applicationId, sf_dir))


def _lsh_pairs_cached(spark: SparkSession, sf_dir: str, threshold: float) -> DataFrame:
    """Verified (id_a, id_b, jaccard) near-dup pairs for the module's
    LSH parameters, computed ONCE per (session, sf_dir) and re-filtered
    per query.

    The shingle -> minhash -> band -> bucket-join -> exact-verify
    pipeline is the dominant cost of four registered queries that differ
    ONLY in their jaccard threshold.  ``lsh_near_dup_pairs`` filters on
    the ROUNDED jaccard, which is threshold-monotone, so a threshold-0
    checkpoint plus ``jaccard >= t`` is bit-identical to a direct
    threshold-t run.  Keyed on applicationId so a new session never sees
    a dead checkpoint; bounded to 2 entries (a checkpoint is O(verified
    pairs), tiny next to the corpus).  Separate driver invocations are
    separate processes — nothing leaks between rounds."""
    key = (spark.sparkContext.applicationId, sf_dir)
    cached = _LSH_PAIR_CACHE.get(key)
    if cached is None:
        docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
        cached = dedup.lsh_near_dup_pairs(
            docs,
            "doc_id",
            num_hashes=_LSHMH_N,
            bands=_LSHMH_BANDS,
            shingle_k=_LSHMH_K,
            jaccard_threshold=0.0,
            max_bucket=_LSHMH_MAX_BUCKET,
            base=_lsh_sig_base_cached(spark, sf_dir),
        ).localCheckpoint(eager=False)
        while len(_LSH_PAIR_CACHE) >= 2:
            _LSH_PAIR_CACHE.pop(next(iter(_LSH_PAIR_CACHE)))
        _LSH_PAIR_CACHE[key] = cached
    return cached.where(F.col("jaccard") >= threshold)


def minhash_lsh_pairs_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The canonical shingle → minhash → band → bucket-join dedup:
    LSH candidate generation with exact-Jaccard verification
    (llm/dedup.py:lsh_near_dup_pairs)."""
    return _lsh_pairs_cached(spark, sf_dir, _LSHMH_THRESHOLD)


def _minhash_lsh_sql(
    threshold: float = _LSHMH_THRESHOLD, final_select: str | None = None
) -> str:
    """Oracle CTE pipeline for the module's LSH parameters.  The
    default final SELECT emits verified (id_a, id_b, jaccard);
    ``final_select`` swaps in a different projection over the same
    ``cand``/``sig`` CTEs (used by the minhash error audit) so the
    candidate-generation SQL has exactly one definition."""
    coeffs = dedup._minhash_coeffs(_LSHMH_N)
    sig = ", ".join(
        f"list_min(list_transform(bh, h -> ({a} * h + {b}) % {dedup.MINHASH_PRIME}))"
        for a, b in coeffs
    )
    rpb = _LSHMH_N // _LSHMH_BANDS
    k = _LSHMH_K
    body = rf"""
WITH sh AS (
  SELECT doc_id,
    CASE WHEN len(words) >= {k}
         THEN list_distinct(list_transform(range(1, len(words) - {k - 2}),
                            j -> array_to_string(words[j:j+{k - 1}], ' ')))
         ELSE [array_to_string(words, ' ')] END AS shingles
  FROM (SELECT doc_id, string_split({_NORM}, ' ') AS words FROM documents)
),
sig AS (
  SELECT doc_id, shingles, [{sig}] AS s
  FROM (SELECT doc_id, shingles,
          list_transform(shingles, x -> ('0x' || substr(md5(x), 1, 8))::BIGINT) AS bh
        FROM sh)
),
bands AS (
  SELECT doc_id, b,
         md5(array_to_string(s[b*{rpb}+1:b*{rpb}+{rpb}], ',')) AS bucket
  FROM sig, (SELECT unnest(range({_LSHMH_BANDS})) AS b)
),
bounded AS (
  SELECT doc_id, b, bucket FROM bands
  QUALIFY COUNT(*) OVER (PARTITION BY b, bucket) <= {_LSHMH_MAX_BUCKET}
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, c.doc_id AS id_b
  FROM bounded a JOIN bounded c
    ON a.b = c.b AND a.bucket = c.bucket AND a.doc_id < c.doc_id
)
"""
    default_select = rf"""
SELECT id_a, id_b,
  ROUND(len(list_intersect(x.shingles, y.shingles))
        / len(list_distinct(list_concat(x.shingles, y.shingles))), 6) AS jaccard
FROM cand
JOIN sig x ON x.doc_id = id_a
JOIN sig y ON y.doc_id = id_b
WHERE ROUND(len(list_intersect(x.shingles, y.shingles))
            / len(list_distinct(list_concat(x.shingles, y.shingles))), 6)
      >= {threshold}
"""
    return body + (final_select if final_select is not None else default_select)


MINHASH_LSH_SQL = _minhash_lsh_sql()

QUERIES["minhash_lsh_pairs_documents"] = minhash_lsh_pairs_documents
ORACLES["minhash_lsh_pairs_documents"] = MINHASH_LSH_SQL


# --- edit-distance verification of LSH candidates ----------------------------


def edit_distance_pairs_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-level verification of the MinHash-LSH candidate pairs:
    full Levenshtein distance on the normalized texts plus the derived
    similarity 1 - lev/maxlen — the expensive exact verifier shingle
    Jaccard approximates (integer-exact, so the oracle agrees
    bit-for-bit; both engines ship the classic DP Levenshtein).

    Scale shape: edit distance is O(len²) per pair, so it runs ONLY on
    the LSH-bucketed candidates (the shared cached pair table — never
    all-pairs); the text join-back is two hash joins on the doc id.

    Unit caveat (unicode sweep, round 3): Spark's levenshtein counts
    CHARACTER edits, DuckDB's counts UTF-8 BYTE edits — identical on
    ASCII (the oracle fixture), divergent on multibyte text.  The
    engine keeps the character semantics; the oracle is exact for
    ASCII only (allowlisted in scripts/adversarial_sim.py).
    """
    pairs = _lsh_pairs_cached(spark, sf_dir, _LSHMH_THRESHOLD).select(
        "id_a", "id_b"
    )
    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id", text.normalized_text("text").alias("norm")
    )
    a = docs.select(F.col("doc_id").alias("id_a"), F.col("norm").alias("na"))
    b = docs.select(F.col("doc_id").alias("id_b"), F.col("norm").alias("nb"))
    lev = F.levenshtein("na", "nb")
    return (
        pairs.join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a",
            "id_b",
            lev.alias("lev"),
            F.round(
                F.lit(1)
                - lev / F.greatest(F.length("na"), F.length("nb"), F.lit(1)),
                6,
            ).alias("edit_sim"),
        )
    )


EDIT_DISTANCE_PAIRS_SQL = rf"""
WITH base_pairs AS ({_minhash_lsh_sql()}),
norm AS (SELECT doc_id, {_NORM} AS n FROM documents)
SELECT id_a, id_b,
       levenshtein(a.n, b.n) AS lev,
       ROUND(1 - levenshtein(a.n, b.n)
                 / greatest(length(a.n), length(b.n), 1), 6) AS edit_sim
FROM base_pairs
JOIN norm a ON a.doc_id = id_a
JOIN norm b ON b.doc_id = id_b
"""

QUERIES["edit_distance_pairs_documents"] = edit_distance_pairs_documents
ORACLES["edit_distance_pairs_documents"] = EDIT_DISTANCE_PAIRS_SQL


_LEV_BOUND = 32


def edit_distance_capped_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded edit-distance verification of the LSH candidate pairs —
    the SCALE form of :func:`edit_distance_pairs_documents` (VERDICT
    r02 ask #4).  Spark's 3-arg ``levenshtein(l, r, bound)`` early-
    exits the O(len²) DP as soon as the distance provably exceeds the
    bound (banded DP, O(len·bound)), returning -1; we snap -1 to
    ``bound+1`` so the capped distance is total and deterministic.
    Pairs beyond the bound keep a NULL ``edit_sim`` — a near-dup
    verifier never needs the exact distance of a far pair.

    Oracle: DuckDB has no thresholded form, so the oracle computes the
    full distance and caps it with ``LEAST(lev, bound+1)`` — identical
    result, integer-exact on both sides.  Same ASCII-only oracle
    caveat as :func:`edit_distance_pairs_documents` (character vs
    byte edit units).
    """
    pairs = _lsh_pairs_cached(spark, sf_dir, _LSHMH_THRESHOLD).select(
        "id_a", "id_b"
    )
    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id", text.normalized_text("text").alias("norm")
    )
    a = docs.select(F.col("doc_id").alias("id_a"), F.col("norm").alias("na"))
    b = docs.select(F.col("doc_id").alias("id_b"), F.col("norm").alias("nb"))
    lev3 = F.levenshtein("na", "nb", _LEV_BOUND)
    capped = F.when(lev3 < 0, F.lit(_LEV_BOUND + 1)).otherwise(lev3)
    return (
        pairs.join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a",
            "id_b",
            capped.cast("int").alias("lev_capped"),
            (capped <= _LEV_BOUND).alias("within_bound"),
            F.when(
                capped <= _LEV_BOUND,
                F.round(
                    F.lit(1)
                    - capped
                    / F.greatest(F.length("na"), F.length("nb"), F.lit(1)),
                    6,
                ),
            ).alias("edit_sim"),
        )
    )


EDIT_DISTANCE_CAPPED_SQL = rf"""
WITH base_pairs AS ({_minhash_lsh_sql()}),
norm AS (SELECT doc_id, {_NORM} AS n FROM documents)
SELECT id_a, id_b,
       CAST(LEAST(levenshtein(a.n, b.n), {_LEV_BOUND + 1}) AS INTEGER)
         AS lev_capped,
       levenshtein(a.n, b.n) <= {_LEV_BOUND} AS within_bound,
       CASE WHEN levenshtein(a.n, b.n) <= {_LEV_BOUND}
            THEN ROUND(1 - levenshtein(a.n, b.n)
                       / greatest(length(a.n), length(b.n), 1), 6)
       END AS edit_sim
FROM base_pairs
JOIN norm a ON a.doc_id = id_a
JOIN norm b ON b.doc_id = id_b
"""

QUERIES["edit_distance_capped_documents"] = edit_distance_capped_documents
ORACLES["edit_distance_capped_documents"] = EDIT_DISTANCE_CAPPED_SQL


# --- near-dup clusters (connected components over LSH pairs) -----------------

_CLUSTER_THRESHOLD = 0.5


def near_dup_clusters_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate clusters: MinHash-LSH pairs at jaccard >= 0.5 ->
    connected components (iterative min-label propagation,
    llm/dedup.connected_components) -> (doc_id, component).

    The oracle expresses the same transitive closure as a DuckDB
    recursive CTE — safe here because verified near-dup clusters are
    small and shallow; the Spark side never materializes the closure,
    only O(V) labels per round."""
    pairs = _lsh_pairs_cached(spark, sf_dir, _CLUSTER_THRESHOLD)
    return (
        dedup.connected_components(pairs)
        .select(F.col("node").alias("doc_id"), "component")
        .orderBy("doc_id")
    )


NEAR_DUP_CLUSTERS_SQL = f"""
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
)
SELECT node AS doc_id, MIN(root) AS component
FROM reach GROUP BY node ORDER BY doc_id
"""

QUERIES["near_dup_clusters_documents"] = near_dup_clusters_documents
ORACLES["near_dup_clusters_documents"] = NEAR_DUP_CLUSTERS_SQL


# --- deterministic per-stratum sample ----------------------------------------


def holdout_sample_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5 documents per source, selected by md5(seed||doc_id) order —
    the bit-reproducible holdout sampler (llm/text.py:
    deterministic_sample_per_stratum)."""
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "source", "lang")
    return text.deterministic_sample_per_stratum(
        docs, "source", "doc_id", k=5
    ).orderBy("source", "doc_id")


HOLDOUT_SAMPLE_SQL = """
SELECT doc_id, source, lang FROM (
  SELECT doc_id, source, lang,
         row_number() OVER (
           PARTITION BY source
           ORDER BY md5('holdout-v1' || CAST(doc_id AS VARCHAR)), doc_id
         ) AS rk
  FROM documents)
WHERE rk <= 5
ORDER BY source, doc_id
"""

QUERIES["holdout_sample_documents"] = holdout_sample_documents
ORACLES["holdout_sample_documents"] = HOLDOUT_SAMPLE_SQL


# --- benchmark decontamination -----------------------------------------------


def decontaminate_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: corpus docs (doc_id % 97 != 0)
    sharing any word 3-gram with the held-out eval slice
    (doc_id % 97 == 0), with distinct-overlap counts.  The eval
    shingle set is broadcast so the corpus side never shuffles
    (llm/dedup.py: decontamination_hits)."""
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    eval_docs = docs.where(F.col("doc_id") % 97 == 0)
    corpus = docs.where(F.col("doc_id") % 97 != 0)
    return dedup.decontamination_hits(corpus, eval_docs, "doc_id").orderBy("doc_id")


DECONTAMINATE_SQL = rf"""
WITH sh AS (
  SELECT doc_id,
    CASE WHEN len(words) >= 3
         THEN list_distinct(list_transform(range(1, len(words) - 1),
                            j -> array_to_string(words[j:j+2], ' ')))
         ELSE [array_to_string(words, ' ')] END AS shingles
  FROM (SELECT doc_id, string_split({_NORM}, ' ') AS words FROM documents)
),
ev AS (SELECT DISTINCT unnest(shingles) AS shingle FROM sh WHERE doc_id % 97 = 0),
corpus AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh WHERE doc_id % 97 <> 0)
SELECT c.doc_id, COUNT(*) AS n_overlap
FROM corpus c JOIN ev USING (shingle)
GROUP BY c.doc_id
ORDER BY doc_id
"""

QUERIES["decontaminate_documents"] = decontaminate_documents
ORACLES["decontaminate_documents"] = DECONTAMINATE_SQL


# --- per-vector array analytics ----------------------------------------------


def vector_stats_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector component analytics entirely in JVM array algebra:
    L2 norm (sequential fold — portable accumulation order), component
    mean/min/max, and argmax via array_position — the array-function
    kit (SURVEY.md §2 H11: net-new surface) as an oracle-checked
    query.  Pure projection: no shuffle, no UDF."""
    emb = read_table(spark, sf_dir, "embeddings")
    v = F.col("embedding")
    dv = F.transform(v, lambda x: x.cast("double"))
    sq = F.aggregate(dv, F.lit(0.0), lambda acc, x: acc + x * x)
    total = F.aggregate(dv, F.lit(0.0), lambda acc, x: acc + x)
    mx = F.array_max(dv)
    # hygiene semantics: every vector keeps its row, but an invalid
    # vector (NULL, or any NaN/Inf/NULL component) gets NULL stats —
    # NaN must never reach the output (engines render/rank it
    # divergently), same rule as embedding_outliers.
    ok = similarity.vec_valid(v)

    def g(c):  # noqa: ANN001 — guard a stat behind the validity flag
        return F.when(ok, c)

    return emb.select(
        "vec_id",
        g(F.round(F.sqrt(sq), 6)).alias("l2_norm"),
        g(F.round(total / F.size(v), 6)).alias("mean_component"),
        g(F.round(F.array_min(dv), 6)).alias("min_component"),
        g(F.round(mx, 6)).alias("max_component"),
        g(F.array_position(dv, mx).cast("int")).alias("argmax_1based"),
    ).orderBy("vec_id")


VECTOR_STATS_SQL = """
-- hygiene semantics: invalid vectors (NULL, or any NaN/Inf/NULL
-- component) keep their row with NULL stats; the CASE-guarded CTE
-- NULLs the vector so every stat propagates NULL
WITH g AS (
  SELECT vec_id,
    CASE WHEN embedding IS NOT NULL
          AND len(list_filter(embedding,
                x -> x IS NULL OR isnan(x) OR isinf(x))) = 0
         THEN embedding END AS embedding
  FROM embeddings
)
SELECT vec_id,
  ROUND(sqrt(list_aggregate(list_transform(embedding, x -> x::DOUBLE * x::DOUBLE), 'sum')), 6) AS l2_norm,
  ROUND(list_aggregate(list_transform(embedding, x -> x::DOUBLE), 'sum') / len(embedding), 6) AS mean_component,
  ROUND(list_min(list_transform(embedding, x -> x::DOUBLE)), 6) AS min_component,
  ROUND(list_max(list_transform(embedding, x -> x::DOUBLE)), 6) AS max_component,
  CAST(list_position(list_transform(embedding, x -> x::DOUBLE),
                     list_max(list_transform(embedding, x -> x::DOUBLE))) AS INTEGER) AS argmax_1based
FROM g
ORDER BY vec_id
"""

QUERIES["vector_stats_embeddings"] = vector_stats_embeddings
ORACLES["vector_stats_embeddings"] = VECTOR_STATS_SQL


# --- repetition quality filters ----------------------------------------------


def repetition_stats_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher/C4-style repetition filters: distinct-word ratio,
    top-word fraction, duplicate-bigram fraction per document
    (llm/text.py: with_repetition_stats)."""
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    return text.with_repetition_stats(docs).orderBy("doc_id")


REPETITION_SQL = rf"""
WITH w AS (
  SELECT doc_id, string_split({_NORM}, ' ') AS words
  FROM documents WHERE {_NORM} <> ''
),
arr AS (
  SELECT doc_id,
         len(words) AS n_words,
         ROUND(len(list_distinct(words)) / len(words), 6) AS distinct_word_ratio,
         CASE WHEN len(words) >= 2
              THEN ROUND(1 - len(list_distinct(list_transform(range(1, len(words)),
                         j -> words[j] || ' ' || words[j + 1]))) / (len(words) - 1), 6)
              ELSE 0.0 END AS dup_bigram_frac
  FROM w
),
wc AS (
  SELECT doc_id, word, COUNT(*) AS c
  FROM (SELECT doc_id, unnest(words) AS word FROM w)
  GROUP BY 1, 2
),
top AS (
  SELECT doc_id, ROUND(MAX(c) / SUM(c), 6) AS top_word_frac
  FROM wc GROUP BY 1
)
SELECT arr.doc_id, n_words, distinct_word_ratio, dup_bigram_frac, top_word_frac
FROM arr JOIN top USING (doc_id)
ORDER BY doc_id
"""

QUERIES["repetition_stats_documents"] = repetition_stats_documents
ORACLES["repetition_stats_documents"] = REPETITION_SQL


# --- deterministic training shards -------------------------------------------


def training_shards_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shard-assignment profile for the training export: per-shard doc
    count, char volume, and id range under the md5-bucket assignment
    (llm/sharding.py).  Balanced counts here mean the 100 TB export
    produces even file groups."""
    from nasa_asteroid_data_lakehouse_spark.llm import sharding

    docs = read_table(spark, sf_dir, "documents")
    return (
        docs.select(sharding.shard_id("doc_id", 16).alias("shard"), "doc_id", "n_chars")
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.min("doc_id").alias("min_doc_id"),
            F.max("doc_id").alias("max_doc_id"),
        )
        .orderBy("shard")
    )


TRAINING_SHARDS_SQL = """
SELECT CAST(('0x' || substr(md5('shards-v1' || '||' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 16 AS INTEGER) AS shard,
       COUNT(*) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       MIN(doc_id) AS min_doc_id,
       MAX(doc_id) AS max_doc_id
FROM documents
GROUP BY 1
ORDER BY shard
"""

QUERIES["training_shards_documents"] = training_shards_documents
ORACLES["training_shards_documents"] = TRAINING_SHARDS_SQL


# --- context-window chunking --------------------------------------------------


def chunk_documents_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping 32-token windows every 24 tokens per document
    (llm/packing.py: chunk_documents) — chunk text fingerprinted so the
    result stays compact.  Narrow transform: sequence + slice +
    posexplode, no shuffle."""
    from nasa_asteroid_data_lakehouse_spark.llm.packing import chunk_documents

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    return (
        chunk_documents(docs, chunk_size=32, stride=24)
        .select(
            "doc_id",
            "chunk_idx",
            "n_chunk_tokens",
            F.md5("chunk_text").alias("chunk_md5"),
        )
        .orderBy("doc_id", "chunk_idx")
    )


CHUNK_SQL = r"""
WITH w AS (
  SELECT doc_id,
         CASE WHEN trim(text) = '' THEN []
              ELSE string_split_regex(trim(text), '\s+') END AS words
  FROM documents
),
ch AS (
  SELECT doc_id,
         list_transform(range(1, len(words) + 1, 24),
                        s -> struct_pack(idx := CAST((s - 1) // 24 AS INTEGER),
                                         n := len(words[s:s+31]),
                                         h := md5(array_to_string(words[s:s+31], ' ')))) AS cs
  FROM w WHERE len(words) > 0
)
SELECT doc_id,
       u.idx AS chunk_idx,
       u.n AS n_chunk_tokens,
       u.h AS chunk_md5
FROM (SELECT doc_id, unnest(cs) AS u FROM ch)
ORDER BY doc_id, chunk_idx
"""

QUERIES["chunk_documents_windows"] = chunk_documents_windows
ORACLES["chunk_documents_windows"] = CHUNK_SQL


# --- PII scrubbing ------------------------------------------------------------


def pii_scrub_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII masking (llm/text.py: scrub_pii) demonstrated on a
    deterministically PII-augmented view of the corpus (the synthetic
    fixture text contains no URLs/emails, so the query first appends a
    derived contact line — both engines build the identical string).
    Output keeps the replacement counts and an md5 of the scrubbed
    text; the whole thing is one narrow codegen projection."""
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    augmented = docs.withColumn(
        "text",
        F.concat(
            F.col("text"),
            F.lit(" contact u"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or call 555"),
            F.lpad(F.col("doc_id").cast("string"), 7, "0"),
            F.lit(" via https://ex.com/d/"),
            F.col("doc_id").cast("string"),
        ),
    )
    return (
        text.scrub_pii(augmented)
        .select(
            "doc_id",
            "n_url",
            "n_email",
            "n_long_number",
            F.md5("text_scrubbed").alias("scrubbed_md5"),
        )
        .orderBy("doc_id")
    )


PII_SCRUB_SQL = r"""
WITH augmented AS (
  SELECT doc_id,
         text || ' contact u' || CAST(doc_id AS VARCHAR) || '@example.com or call 555'
              || lpad(CAST(doc_id AS VARCHAR), 7, '0') || ' via https://ex.com/d/'
              || CAST(doc_id AS VARCHAR) AS text
  FROM documents
),
s1 AS (
  SELECT doc_id,
         len(regexp_extract_all(text, 'https?://[^\s]+')) AS n_url,
         regexp_replace(text, 'https?://[^\s]+', '<URL>', 'g') AS t
  FROM augmented
),
s2 AS (
  SELECT doc_id, n_url,
         len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_email,
         regexp_replace(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g') AS t
  FROM s1
),
s3 AS (
  SELECT doc_id, n_url, n_email,
         len(regexp_extract_all(t, '\b\d{7,}\b')) AS n_long_number,
         regexp_replace(t, '\b\d{7,}\b', '<NUMBER>', 'g') AS t
  FROM s2
)
SELECT doc_id, n_url, n_email, n_long_number, md5(t) AS scrubbed_md5
FROM s3
ORDER BY doc_id
"""

QUERIES["pii_scrub_documents"] = pii_scrub_documents
ORACLES["pii_scrub_documents"] = PII_SCRUB_SQL


# --- uniform-mixture rebalancing ----------------------------------------------


def balanced_mixture_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uniform source-mixture rebalancing (llm/text.py:
    rebalance_to_min_stratum): every source downsampled to the
    smallest source's size by deterministic md5 rank.  Result reports
    per-source totals, kept counts (all equal the min), and the exact
    sum of kept doc ids as a selection fingerprint."""
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "source")
    totals = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_total"))
    kept = (
        text.rebalance_to_min_stratum(docs, "source", "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_kept"),
            F.sum("doc_id").alias("kept_id_sum"),
        )
    )
    from pyspark.sql.functions import broadcast

    # Null-safe join key: a NULL source is a real stratum (both
    # engines' GROUP BY keeps it); an equi-join would silently drop it.
    return (
        totals.join(broadcast(kept), totals["source"].eqNullSafe(kept["source"]))
        .select(totals["source"], "n_total", "n_kept", "kept_id_sum")
        .orderBy("source")
    )


BALANCED_MIXTURE_SQL = """
WITH ranked AS (
  SELECT source, doc_id,
         row_number() OVER (
           PARTITION BY source
           ORDER BY md5('mix-v1' || CAST(doc_id AS VARCHAR)), doc_id
         ) AS rn
  FROM documents
),
m AS (
  SELECT MIN(cnt) AS min_stratum
  FROM (SELECT COUNT(*) AS cnt FROM documents GROUP BY source)
)
SELECT source,
       COUNT(*) AS n_total,
       CAST(SUM(CASE WHEN rn <= min_stratum THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       CAST(SUM(CASE WHEN rn <= min_stratum THEN doc_id ELSE 0 END) AS BIGINT) AS kept_id_sum
FROM ranked, m
GROUP BY source
ORDER BY source
"""

QUERIES["balanced_mixture_documents"] = balanced_mixture_documents
ORACLES["balanced_mixture_documents"] = BALANCED_MIXTURE_SQL


def weighted_sample_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """8 documents per source sampled with probability proportional to
    n_chars (llm/text.py: weighted_sample_per_stratum, deterministic
    Efraimidis–Spirakis) — the length-proportional mixture-sampling
    pattern, bit-reproducible across engines."""
    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "lang", "n_chars"
    )
    return text.weighted_sample_per_stratum(
        docs, "source", "doc_id", "n_chars", k=8
    ).orderBy("source", "doc_id")


WEIGHTED_SAMPLE_SQL = """
SELECT doc_id, source, lang, n_chars FROM (
  SELECT doc_id, source, lang, n_chars,
         row_number() OVER (
           PARTITION BY source
           ORDER BY ln((('0x' || substr(md5('wsample-v1' || '||' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT + 1)
                       / 4294967296.0) / CAST(n_chars AS DOUBLE) DESC,
                    doc_id
         ) AS rk
  FROM documents
  WHERE n_chars IS NOT NULL AND n_chars > 0)
WHERE rk <= 8
ORDER BY source, doc_id
"""

QUERIES["weighted_sample_documents"] = weighted_sample_documents
ORACLES["weighted_sample_documents"] = WEIGHTED_SAMPLE_SQL


# --- SemDeDup semantic dedup -------------------------------------------------

_SEMDEDUP_K = 16
_SEMDEDUP_THRESHOLD = 0.35


def semantic_dedup_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (llm/similarity.py: semantic_dedup): cluster embeddings
    to a 16-seed quantizer, then drop any vector whose cluster holds a
    lower-id neighbor with cosine >= 0.35 — cluster-then-prune keeps
    the pairwise compare at O(n^2/k).  Seed centroids (16 lowest ids,
    k-means at iteration 0) keep the oracle SQL-expressible."""
    emb = read_table(spark, sf_dir, "embeddings")
    centroids = similarity.seed_centroids(emb, _SEMDEDUP_K)
    return similarity.semantic_dedup(
        emb, centroids, _SEMDEDUP_THRESHOLD
    ).orderBy("vec_id")


SEMDEDUP_SQL = f"""
WITH seeds AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS c, cv FROM (
    SELECT vec_id, embedding::DOUBLE[] AS cv FROM embeddings
    WHERE embedding IS NOT NULL AND len(list_filter(embedding, x -> x IS NULL OR isnan(x) OR isinf(x))) = 0 ORDER BY vec_id LIMIT {_SEMDEDUP_K})
),
assign AS (
  SELECT e.vec_id, e.embedding, s.c,
    row_number() OVER (
      PARTITION BY e.vec_id
      ORDER BY list_distance(e.embedding::DOUBLE[], s.cv::DOUBLE[]), s.c
    ) AS rn
  FROM embeddings e, seeds s
  WHERE e.embedding IS NOT NULL AND len(list_filter(e.embedding, x -> x IS NULL OR isnan(x) OR isinf(x))) = 0
),
a AS (SELECT vec_id, embedding, c FROM assign WHERE rn = 1),
dropped AS (
  SELECT DISTINCT b.vec_id
  FROM a x, a b
  WHERE x.c = b.c AND x.vec_id < b.vec_id
    AND ROUND({_cos_sql("x", "b")}, 6) >= {_SEMDEDUP_THRESHOLD}
)
SELECT a.vec_id, a.c AS cluster
FROM a LEFT JOIN dropped d ON a.vec_id = d.vec_id
WHERE d.vec_id IS NULL
ORDER BY a.vec_id
"""

QUERIES["semantic_dedup_embeddings"] = semantic_dedup_embeddings
ORACLES["semantic_dedup_embeddings"] = SEMDEDUP_SQL


# --- incremental corpus dedup ------------------------------------------------


def incremental_admit_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous-ingest dedup (llm/dedup.py: incremental_admit): the
    20% of documents with doc_id % 10 < 2 arrive as a new batch and
    are screened against the other 80% (the accepted corpus) plus
    lower-id batchmates via MinHash-LSH banding + exact-Jaccard
    verify.  Corpus-corpus pairs are never formed."""
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text", "source")
    batch = docs.where(F.pmod("doc_id", F.lit(10)) < 2)
    corpus = docs.where(F.pmod("doc_id", F.lit(10)) >= 2)
    return (
        dedup.incremental_admit(
            corpus,
            batch,
            "doc_id",
            num_hashes=_LSHMH_N,
            bands=_LSHMH_BANDS,
            shingle_k=_LSHMH_K,
            jaccard_threshold=_LSHMH_THRESHOLD,
            max_bucket=_LSHMH_MAX_BUCKET,
        )
        .select("doc_id", "source")
        .orderBy("doc_id")
    )


def _incremental_admit_sql() -> str:
    coeffs = dedup._minhash_coeffs(_LSHMH_N)
    sig = ", ".join(
        f"list_min(list_transform(bh, h -> ({a} * h + {b}) % {dedup.MINHASH_PRIME}))"
        for a, b in coeffs
    )
    rpb = _LSHMH_N // _LSHMH_BANDS
    k = _LSHMH_K
    return rf"""
WITH sh AS (
  SELECT doc_id,
    CASE WHEN doc_id % 10 < 2 THEN 'batch' ELSE 'corpus' END AS side,
    CASE WHEN len(words) >= {k}
         THEN list_distinct(list_transform(range(1, len(words) - {k - 2}),
                            j -> array_to_string(words[j:j+{k - 1}], ' ')))
         ELSE [array_to_string(words, ' ')] END AS shingles
  FROM (SELECT doc_id, string_split({_NORM}, ' ') AS words FROM documents)
),
sig AS (
  SELECT doc_id, side, shingles, [{sig}] AS s
  FROM (SELECT doc_id, side, shingles,
          list_transform(shingles, x -> ('0x' || substr(md5(x), 1, 8))::BIGINT) AS bh
        FROM sh)
),
bands AS (
  SELECT doc_id, side, b,
         md5(array_to_string(s[b*{rpb}+1:b*{rpb}+{rpb}], ',')) AS bucket
  FROM sig, (SELECT unnest(range({_LSHMH_BANDS})) AS b)
),
bounded AS (
  SELECT doc_id, side, b, bucket FROM bands
  QUALIFY COUNT(*) OVER (PARTITION BY b, bucket) <= {_LSHMH_MAX_BUCKET}
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, c.doc_id AS id_b
  FROM bounded a JOIN bounded c
    ON a.b = c.b AND a.bucket = c.bucket
   AND c.side = 'batch'
   AND (a.side = 'corpus' OR a.doc_id < c.doc_id)
),
dropped AS (
  SELECT DISTINCT id_b FROM cand
  JOIN sig x ON x.doc_id = id_a
  JOIN sig y ON y.doc_id = id_b
  WHERE ROUND(len(list_intersect(x.shingles, y.shingles))
              / len(list_distinct(list_concat(x.shingles, y.shingles))), 6)
        >= {_LSHMH_THRESHOLD}
)
SELECT d.doc_id, d.source
FROM documents d
WHERE d.doc_id % 10 < 2 AND d.doc_id NOT IN (SELECT id_b FROM dropped)
ORDER BY d.doc_id
"""


INCREMENTAL_ADMIT_SQL = _incremental_admit_sql()

QUERIES["incremental_admit_documents"] = incremental_admit_documents
ORACLES["incremental_admit_documents"] = INCREMENTAL_ADMIT_SQL


# --- count-min sketch token frequencies --------------------------------------

_CMS_DEPTH = 4
_CMS_WIDTH = 1024


def cms_token_counts_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch frequency estimation (operators/sketches.py):
    build depth=4 x width=1024 counters over all document tokens — a
    fixed-size, merge-by-sum table however large the corpus — then
    estimate the 20 most frequent tokens and expose exact counts
    alongside (CMS overestimates only; collisions inflate).  The md5
    bucket hashing is engine-portable, so unlike the DataSketches
    profiles this sketch is DuckDB-oracle-checked bit-for-bit."""
    from nasa_asteroid_data_lakehouse_spark.operators import sketches as sk

    docs = read_table(spark, sf_dir, "documents").select("text")
    norm = F.trim(F.regexp_replace(F.lower("text"), r"\s+", " "))
    toks = docs.select(F.explode(F.split(norm, " ")).alias("token")).where(
        F.col("token") != ""
    )
    counters = sk.count_min_counters(toks, "token", _CMS_DEPTH, _CMS_WIDTH)
    top = (
        toks.groupBy("token")
        .agg(F.count(F.lit(1)).alias("exact_cnt"))
        .orderBy(F.desc("exact_cnt"), "token")
        .limit(20)
    )
    est = sk.count_min_estimate(
        counters, top.select("token"), "token", _CMS_DEPTH, _CMS_WIDTH
    ).withColumnRenamed("item", "token")
    return (
        top.join(F.broadcast(est), "token")
        .select("token", "exact_cnt", "cms_est")
        .orderBy(F.desc("exact_cnt"), "token")
    )


CMS_TOKEN_SQL = rf"""
WITH t AS (
  SELECT unnest(string_split({_NORM}, ' ')) AS token FROM documents
),
tok AS (SELECT token FROM t WHERE token <> ''),
js AS (SELECT unnest(range({_CMS_DEPTH})) AS j),
cells AS (
  SELECT js.j,
         ('0x' || substr(md5('cms-v1-' || CAST(js.j AS VARCHAR) || '|' || token), 1, 8))::BIGINT
           % {_CMS_WIDTH} AS bucket,
         COUNT(*) AS cnt
  FROM tok, js
  GROUP BY 1, 2
),
top AS (
  SELECT token, COUNT(*) AS exact_cnt FROM tok
  GROUP BY token ORDER BY exact_cnt DESC, token LIMIT 20
),
est AS (
  SELECT token, MIN(cnt) AS cms_est FROM (
    SELECT top.token, c.cnt
    FROM top, js
    JOIN cells c
      ON c.j = js.j
     AND c.bucket = ('0x' || substr(md5('cms-v1-' || CAST(js.j AS VARCHAR) || '|' || top.token), 1, 8))::BIGINT
                    % {_CMS_WIDTH}
  ) GROUP BY token
)
SELECT top.token, top.exact_cnt, est.cms_est
FROM top JOIN est USING (token)
ORDER BY exact_cnt DESC, token
"""

QUERIES["cms_token_counts_documents"] = cms_token_counts_documents
ORACLES["cms_token_counts_documents"] = CMS_TOKEN_SQL


def best_of_near_dup_clusters_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware cluster curation (llm/dedup.py:
    dedup_by_clusters_best): near-dup clusters at jaccard >= 0.5 keep
    their LONGEST member (n_chars desc, doc_id tie-break) instead of
    the minimum id — the keep-best-exemplar curation pattern.
    Unclustered documents pass through untouched."""
    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "source", "n_chars"
    )
    pairs = _lsh_pairs_cached(spark, sf_dir, _CLUSTER_THRESHOLD)
    return (
        dedup.dedup_by_clusters_best(
            docs, pairs, "doc_id", [F.desc("n_chars"), F.asc("node")]
        )
        .select("doc_id", "source", "n_chars")
        .orderBy("doc_id")
    )


BEST_OF_CLUSTERS_SQL = f"""
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
comp AS (
  SELECT node, MIN(root) AS component FROM reach GROUP BY node
),
ranked AS (
  SELECT c.node,
         row_number() OVER (
           PARTITION BY c.component
           ORDER BY d.n_chars DESC, c.node
         ) AS rk
  FROM comp c JOIN documents d ON d.doc_id = c.node
),
losers AS (SELECT node FROM ranked WHERE rk > 1)
SELECT doc_id, source, n_chars
FROM documents
WHERE doc_id NOT IN (SELECT node FROM losers)
ORDER BY doc_id
"""

QUERIES["best_of_near_dup_clusters_documents"] = best_of_near_dup_clusters_documents
ORACLES["best_of_near_dup_clusters_documents"] = BEST_OF_CLUSTERS_SQL


def cross_source_dup_matrix_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curation analytics on top of the near-dup pair generator: which
    SOURCES duplicate each other, and how strongly.  Near-dup pairs
    (MinHash-LSH + exact-Jaccard verify) are joined to each side's
    source label and rolled up to an unordered source-pair matrix —
    the report that tells a corpus owner where crawl overlap lives
    (intra-source boilerplate vs cross-source mirroring).  The rollup
    input is |pairs| rows — negligible next to the pair generation it
    reuses unchanged."""
    docs = read_table(spark, sf_dir, "documents")
    pairs = _lsh_pairs_cached(spark, sf_dir, _LSHMH_THRESHOLD)
    src = docs.select("doc_id", "source")
    labeled = (
        pairs.join(
            F.broadcast(src.select(F.col("doc_id").alias("id_a"), F.col("source").alias("src_a"))),
            "id_a",
        )
        .join(
            F.broadcast(src.select(F.col("doc_id").alias("id_b"), F.col("source").alias("src_b"))),
            "id_b",
        )
    )
    return (
        labeled.select(
            F.least("src_a", "src_b").alias("source_x"),
            F.greatest("src_a", "src_b").alias("source_y"),
            "jaccard",
        )
        .groupBy("source_x", "source_y")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            # min/max are order-free selections of per-pair doubles the
            # two engines compute identically; AVG would re-order FP
            # summation and break round() on ties (ROUND_NOTES)
            F.min("jaccard").alias("min_jaccard"),
            F.max("jaccard").alias("max_jaccard"),
        )
        .orderBy("source_x", "source_y")
    )


CROSS_SOURCE_DUP_SQL = f"""
WITH pairs AS ({_minhash_lsh_sql()})
SELECT LEAST(da.source, db.source) AS source_x,
       GREATEST(da.source, db.source) AS source_y,
       COUNT(*) AS n_pairs,
       MIN(jaccard) AS min_jaccard,
       MAX(jaccard) AS max_jaccard
FROM pairs
JOIN documents da ON da.doc_id = pairs.id_a
JOIN documents db ON db.doc_id = pairs.id_b
GROUP BY 1, 2
ORDER BY source_x, source_y
"""

QUERIES["cross_source_dup_matrix_documents"] = cross_source_dup_matrix_documents
ORACLES["cross_source_dup_matrix_documents"] = CROSS_SOURCE_DUP_SQL


# --- sequence-level duplication profile --------------------------------------


def dup_span_coverage_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc fraction of word 3-grams shared with other documents —
    the span-level dedup signal (boilerplate detection)."""
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    return dedup.dup_span_coverage(docs, "doc_id", shingle_k=3)


DUP_SPAN_SQL = rf"""
WITH sh AS ({_SHINGLES_SQL}),
ex AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
freq AS (SELECT shingle, COUNT(*) AS n_docs FROM ex GROUP BY 1)
SELECT ex.doc_id AS doc_id,
  CAST(COUNT(*) AS BIGINT) AS n_shingles,
  CAST(SUM(CASE WHEN n_docs >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_shingles,
  ROUND(SUM(CASE WHEN n_docs >= 2 THEN 1 ELSE 0 END) / COUNT(*), 6) AS dup_fraction
FROM ex JOIN freq USING (shingle)
GROUP BY ex.doc_id
"""

QUERIES["dup_span_coverage_documents"] = dup_span_coverage_documents
ORACLES["dup_span_coverage_documents"] = DUP_SPAN_SQL


# --- stratified train/val/test split -----------------------------------------


def train_val_test_split_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 split, exact proportions per language."""
    docs = read_table(spark, sf_dir, "documents")
    return text.train_val_test_split(docs, "doc_id", ["lang"])


TRAIN_SPLIT_SQL = r"""
WITH ranked AS (
  SELECT doc_id, lang,
    row_number() OVER (PARTITION BY lang
                       ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS r,
    COUNT(*) OVER (PARTITION BY lang) AS n
  FROM documents WHERE doc_id IS NOT NULL
)
SELECT doc_id, lang,
  CASE WHEN r <= (n * 80 + 99) // 100 THEN 'train'
       WHEN r <= (n * 90 + 99) // 100 THEN 'val'
       ELSE 'test' END AS split
FROM ranked
"""

QUERIES["train_val_test_split_documents"] = train_val_test_split_documents
ORACLES["train_val_test_split_documents"] = TRAIN_SPLIT_SQL


# --- inverted index ----------------------------------------------------------


def inverted_index_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 terms by document frequency with capped posting lists."""
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    return text.inverted_index(docs, "doc_id", min_df=2, top_terms=50,
                               postings_cap=20)


INVERTED_INDEX_SQL = rf"""
WITH toks AS (
  SELECT doc_id, unnest(list_distinct(string_split({_NORM}, ' '))) AS term
  FROM documents
  WHERE trim(text) <> ''  -- blank docs tokenize to no terms (engine [])
)
SELECT term, COUNT(*) AS df,
  array_to_string(list_sort(array_agg(doc_id))[1:20], ',') AS postings
FROM toks GROUP BY term
HAVING COUNT(*) >= 2
ORDER BY df DESC, term
LIMIT 50
"""

QUERIES["inverted_index_documents"] = inverted_index_documents
ORACLES["inverted_index_documents"] = INVERTED_INDEX_SQL


# --- BM25 --------------------------------------------------------------------

_BM25_TERMS = ["window", "merge", "query", "join"]
_BM25_K1 = 1.2
_BM25_B = 0.75


def bm25_scores_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 of every document against a fixed 4-term query."""
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    return text.bm25_scores(docs, "doc_id", _BM25_TERMS, k1=_BM25_K1, b=_BM25_B)


def _bm25_sql() -> str:
    """Oracle generated from the SAME constants as the engine: float
    literals embedded via repr() so DuckDB parses the exact doubles
    Python computed, and the per-term scores add in fixed textual
    order (float addition is not associative)."""
    k1, b = _BM25_K1, _BM25_B
    k1p1 = repr(k1 + 1.0)
    one_minus_b = repr(1.0 - b)
    tf_cols = ",\n    ".join(
        f"CAST(SUM(CASE WHEN term = '{t}' THEN 1 ELSE 0 END) AS BIGINT) AS tf_{i}"
        for i, t in enumerate(_BM25_TERMS)
    )
    df_cols = ", ".join(
        f"CAST(SUM(CASE WHEN tf_{i} > 0 THEN 1 ELSE 0 END) AS BIGINT) AS df_{i}"
        for i in range(len(_BM25_TERMS))
    )
    s_cols = ",\n    ".join(
        f"CASE WHEN tf_{i} > 0 THEN ROUND(ln(1.0 + (n_docs - df_{i} + 0.5) / (df_{i} + 0.5))"
        f" * ((tf_{i} * {k1p1}) / (tf_{i} + {k1!r} * ({one_minus_b} + {b!r} * (dl / (sum_dl / n_docs))))), 6)"
        f" ELSE 0.0 END AS s_{i}"
        for i in range(len(_BM25_TERMS))
    )
    total = " + ".join(f"s_{i}" for i in range(len(_BM25_TERMS)))
    in_list = ", ".join(f"'{t}'" for t in _BM25_TERMS)
    tf_out = ", ".join(f"tf_{i}" for i in range(len(_BM25_TERMS)))
    return rf"""
WITH base AS (
  SELECT doc_id, text,
    CASE WHEN text IS NULL THEN NULL
         WHEN trim(text) = '' THEN 0
         ELSE len(string_split({_NORM}, ' ')) END AS dl
  FROM documents
),
stats AS (SELECT COUNT(*) AS n_docs, CAST(SUM(dl) AS BIGINT) AS sum_dl FROM base),
toks AS (
  SELECT doc_id, dl, unnest(string_split({_NORM}, ' ')) AS term
  FROM base WHERE trim(text) <> ''
),
tf AS (
  SELECT doc_id, dl,
    {tf_cols}
  FROM toks
  WHERE term IN ({in_list})
  GROUP BY doc_id, dl
),
dfs AS (SELECT {df_cols} FROM tf),
scored AS (
  SELECT doc_id, dl, {tf_out},
    {s_cols}
  FROM tf, stats, dfs
)
SELECT doc_id, dl, {tf_out}, ROUND({total}, 6) AS bm25 FROM scored
"""


BM25_SQL = _bm25_sql()

QUERIES["bm25_scores_documents"] = bm25_scores_documents
ORACLES["bm25_scores_documents"] = BM25_SQL


# --- exact kNN label agreement -----------------------------------------------


_KNN_BLOCK = 1000  # exact kNN is O(N^2) BY DESIGN; the registered
# query bounds its block so the benchmark exercises the operator
# without letting one quadratic baseline dominate the suite.  At the
# driver's correctness scale (sf0.01, 500 vecs) the cap is inactive.


def knn_label_agreement_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out exact 3-NN majority-vote confusion matrix — the
    embedding-space label-coherence diagnostic (and the exact baseline
    the LSH/IVF approximate paths are measured against).  Blocked to
    the first _KNN_BLOCK vectors: the exact form is quadratic by
    design; run the same vote over LSH/IVF candidates at corpus
    scale."""
    emb = read_table(spark, sf_dir, "embeddings").where(
        F.col("vec_id") < _KNN_BLOCK
    )
    return similarity.knn_label_agreement(emb, k=3)


KNN_LABEL_SQL = f"""
WITH blocked AS (
  SELECT * FROM embeddings
  WHERE vec_id < {_KNN_BLOCK} AND embedding IS NOT NULL AND len(list_filter(embedding, x -> x IS NULL OR isnan(x) OR isinf(x))) = 0
),
pairs AS (
  SELECT a.vec_id AS id, a.label AS lbl, b.vec_id AS nbr, b.label AS nbr_lbl,
    ROUND(list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[])
          / (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[]))
             * sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))),
          6) AS cos
  FROM blocked a JOIN blocked b ON a.vec_id <> b.vec_id
  WHERE a.vec_id IS NOT NULL AND b.vec_id IS NOT NULL
),
topk AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY id
                                 ORDER BY cos DESC NULLS LAST, nbr ASC) AS rk
    FROM pairs) t
  WHERE rk <= 3
),
votes AS (SELECT id, lbl, nbr_lbl, COUNT(*) AS nv FROM topk GROUP BY 1, 2, 3),
pred AS (
  SELECT id, lbl, nbr_lbl AS pred_label FROM (
    SELECT *, row_number() OVER (PARTITION BY id
                                 ORDER BY nv DESC, nbr_lbl ASC NULLS FIRST) AS rv
    FROM votes) t
  WHERE rv = 1
)
SELECT lbl AS label, pred_label, CAST(COUNT(*) AS BIGINT) AS n_vectors
FROM pred GROUP BY lbl, pred_label
"""

QUERIES["knn_label_agreement_embeddings"] = knn_label_agreement_embeddings
ORACLES["knn_label_agreement_embeddings"] = KNN_LABEL_SQL


# --- PageRank over the similarity graph --------------------------------------


def pagerank_similarity_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Authority scores over the verified near-dup pair graph
    (operators/graph.pagerank, 5 fixed iterations): the most-connected
    exemplar of a boilerplate family is its canonical copy — a
    graph-aware alternative to min-id / quality-score survivor picks.
    Reuses the session-cached LSH pair table; each iteration is one
    shuffle on the node key with per-round lattice rounding for
    engine-portable determinism."""
    from nasa_asteroid_data_lakehouse_spark.operators.graph import pagerank

    pairs = _lsh_pairs_cached(spark, sf_dir, _LSHMH_THRESHOLD)
    ranks = pagerank(pairs, src="id_a", dst="id_b", iterations=5)
    return ranks.select(F.col("node").alias("doc_id"), F.col("rank").alias("pagerank"))


def _pagerank_sql(iterations: int = 5, damping: float = 0.85) -> str:
    pairs_sql = _minhash_lsh_sql(_LSHMH_THRESHOLD)
    base = repr(1.0 - damping)
    d = repr(damping)
    its = []
    prev = "it0"
    for i in range(1, iterations + 1):
        its.append(
            f"""it{i} AS (
  SELECT n.node, ROUND({base} + {d} * COALESCE(c.s, CAST(0.0 AS DOUBLE)), 9) AS rank
  FROM nodes n LEFT JOIN (
    SELECT e.dst AS node, SUM(p.rank / e.deg) AS s
    FROM edges_deg e JOIN {prev} p ON p.node = e.src
    GROUP BY e.dst
  ) c ON c.node = n.node
)"""
        )
        prev = f"it{i}"
    its_sql = ",\n".join(its)
    return f"""
WITH pairs AS ({pairs_sql}),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION
  SELECT id_b AS src, id_a AS dst FROM pairs
),
deg AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY src),
edges_deg AS (SELECT e.src, e.dst, d.deg FROM edges e JOIN deg d ON d.src = e.src),
nodes AS (SELECT DISTINCT src AS node FROM edges),
it0 AS (SELECT node, CAST(1.0 AS DOUBLE) AS rank FROM nodes),
{its_sql}
SELECT node AS doc_id, rank AS pagerank FROM it{iterations}
"""


PAGERANK_SQL = _pagerank_sql()

QUERIES["pagerank_similarity_documents"] = pagerank_similarity_documents
ORACLES["pagerank_similarity_documents"] = PAGERANK_SQL


# --- longest common spans (exact-substring dedup signal) ---------------------


def longest_common_spans_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest common word span per doc pair within each source block
    (llm/dedup.longest_common_spans — the positional diagonal trick:
    shingle equi-join + gaps-and-islands per (pair, pos_a - pos_b))."""
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text", "source")
    return dedup.longest_common_spans(
        docs, "doc_id", shingle_k=3, group_cols=["source"], min_span_words=4
    )


LONGEST_SPAN_SQL = rf"""
WITH sh AS (
  SELECT doc_id, source,
    CASE WHEN len(words) >= 3
         THEN list_transform(range(1, len(words) - 1),
                             j -> array_to_string(words[j:j+2], ' '))
         ELSE [array_to_string(words, ' ')] END AS shingles
  FROM (SELECT doc_id, source, string_split({_NORM}, ' ') AS words FROM documents)
),
ex AS (
  SELECT doc_id, source, pos, shingles[pos] AS shingle
  FROM (SELECT doc_id, source, shingles,
               unnest(range(1, len(shingles) + 1)) AS pos
        FROM sh)
),
m AS (
  SELECT a.source AS source, a.doc_id AS id_a, b.doc_id AS id_b,
         a.pos AS pos_a, a.pos - b.pos AS diag
  FROM ex a JOIN ex b
    ON a.source = b.source AND a.shingle = b.shingle AND a.doc_id < b.doc_id
),
runs AS (
  SELECT *, pos_a - row_number() OVER (PARTITION BY source, id_a, id_b, diag
                                       ORDER BY pos_a) AS grp
  FROM m
),
spans AS (
  SELECT source, id_a, id_b, CAST(COUNT(*) + 2 AS BIGINT) AS span_words
  FROM runs GROUP BY source, id_a, id_b, diag, grp
)
SELECT source, id_a, id_b,
       MAX(span_words) AS span_words,
       CAST(COUNT(*) AS BIGINT) AS n_spans
FROM spans WHERE span_words >= 4
GROUP BY source, id_a, id_b
"""

QUERIES["longest_common_spans_documents"] = longest_common_spans_documents
ORACLES["longest_common_spans_documents"] = LONGEST_SPAN_SQL


# --- PMI co-occurrence --------------------------------------------------------

_PMI_MIN_DF = 25
_PMI_MIN_BOTH = 5


def pmi_cooccurrence_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 token pairs by document-level pointwise mutual
    information: ln(P(a,b) / (P(a)P(b))) over distinct-per-doc token
    occurrence — the collocation/phrase-mining signal.  Tokens pruned
    to df >= 25 BEFORE pairing (the per-doc pair blowup is quadratic in
    distinct tokens; frequency pruning is what bounds it at corpus
    scale), pairs to n_both >= 5."""
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    n_docs = docs.count()
    toks = docs.select(
        "doc_id",
        F.explode(F.array_distinct(text.tokens(text.normalized_text("text")))).alias(
            "term"
        ),
    )
    dfc = toks.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    kept = toks.join(
        F.broadcast(dfc.where(F.col("df") >= _PMI_MIN_DF)), "term"
    ).select("doc_id", "term", "df")
    a, b = kept.alias("a"), kept.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.doc_id") == F.col("b.doc_id"))
            & (F.col("a.term") < F.col("b.term")),
        )
        .groupBy(
            F.col("a.term").alias("term_a"),
            F.col("b.term").alias("term_b"),
            F.col("a.df").alias("df_a"),
            F.col("b.df").alias("df_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_both"))
        .where(F.col("n_both") >= _PMI_MIN_BOTH)
    )
    pmi = pairs.select(
        "term_a",
        "term_b",
        "n_both",
        F.round(
            F.log(
                (F.col("n_both") * F.lit(float(n_docs)))
                / (F.col("df_a") * F.col("df_b"))
            ),
            6,
        ).alias("pmi"),
    )
    return pmi.orderBy(F.desc("pmi"), "term_a", "term_b").limit(50)


PMI_SQL = rf"""
WITH toks AS (
  SELECT doc_id, unnest(list_distinct(string_split({_NORM}, ' '))) AS term
  FROM documents WHERE trim(text) <> ''
),
dfc AS (SELECT term, COUNT(*) AS df FROM toks GROUP BY 1),
kept AS (
  SELECT t.doc_id, t.term, d.df FROM toks t JOIN dfc d ON t.term = d.term
  WHERE d.df >= {_PMI_MIN_DF}
),
pairs AS (
  SELECT a.term AS term_a, b.term AS term_b, a.df AS df_a, b.df AS df_b,
         COUNT(*) AS n_both
  FROM kept a JOIN kept b ON a.doc_id = b.doc_id AND a.term < b.term
  GROUP BY 1, 2, 3, 4
  HAVING COUNT(*) >= {_PMI_MIN_BOTH}
),
n AS (SELECT COUNT(*) AS n_docs FROM documents)
SELECT term_a, term_b, n_both,
       ROUND(ln((n_both * CAST(n_docs AS DOUBLE)) / (df_a * df_b)), 6) AS pmi
FROM pairs, n
ORDER BY pmi DESC, term_a, term_b
LIMIT 50
"""

QUERIES["pmi_cooccurrence_documents"] = pmi_cooccurrence_documents
ORACLES["pmi_cooccurrence_documents"] = PMI_SQL


# --- source vocabulary overlap ------------------------------------------------


def vocab_overlap_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise vocabulary Jaccard between sources — the corpus-mix
    diagnostic (how lexically distinct are the mixture components).
    Same explode-join shape as ngram_jaccard, one level up: the set
    element is the token, the 'document' is the whole source."""
    docs = read_table(spark, sf_dir, "documents").select("source", "text")
    vocab = docs.select(
        "source",
        F.explode(F.array_distinct(text.tokens(text.normalized_text("text")))).alias(
            "term"
        ),
    ).distinct()
    sizes = vocab.groupBy("source").agg(F.count(F.lit(1)).alias("sz"))
    a, b = vocab.alias("a"), vocab.alias("b")
    common = (
        a.join(
            b,
            (F.col("a.term") == F.col("b.term"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("source_a"), F.col("b.source").alias("source_b")
        )
        .agg(F.count(F.lit(1)).alias("common"))
    )
    sz_a = sizes.select(F.col("source").alias("source_a"), F.col("sz").alias("sz_a"))
    sz_b = sizes.select(F.col("source").alias("source_b"), F.col("sz").alias("sz_b"))
    return (
        common.join(sz_a, "source_a")
        .join(sz_b, "source_b")
        .select(
            "source_a",
            "source_b",
            "common",
            "sz_a",
            "sz_b",
            F.round(
                F.col("common") / (F.col("sz_a") + F.col("sz_b") - F.col("common")), 6
            ).alias("vocab_jaccard"),
        )
    )


VOCAB_OVERLAP_SQL = rf"""
WITH vocab AS (
  SELECT DISTINCT source, unnest(list_distinct(string_split({_NORM}, ' '))) AS term
  FROM documents WHERE trim(text) <> ''
),
sizes AS (SELECT source, COUNT(*) AS sz FROM vocab GROUP BY 1),
common AS (
  SELECT a.source AS source_a, b.source AS source_b, COUNT(*) AS common
  FROM vocab a JOIN vocab b ON a.term = b.term AND a.source < b.source
  GROUP BY 1, 2
)
SELECT source_a, source_b, common, sa.sz AS sz_a, sb.sz AS sz_b,
       ROUND(common / (sa.sz + sb.sz - common), 6) AS vocab_jaccard
FROM common
JOIN sizes sa ON sa.source = source_a
JOIN sizes sb ON sb.source = source_b
"""

QUERIES["vocab_overlap_sources"] = vocab_overlap_sources
ORACLES["vocab_overlap_sources"] = VOCAB_OVERLAP_SQL


# --- unigram surprisal (perplexity-proxy quality score) ----------------------


def unigram_surprisal_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document mean unigram surprisal, the classic
    perplexity-proxy quality filter (CCNet-style: score every document
    under a language model built from the corpus itself; outlier
    surprisal = boilerplate or gibberish).

    mean_surprisal(d) = ln(N) - sum(tf·ln(c(t)))/sum(tf) over the
    doc's distinct terms, where c(t) is the corpus occurrence count
    and N the total token count — algebraically the mean of -ln(p(t))
    under the corpus unigram LM, in the tf-weighted form whose float
    ops both engines reproduce (llm/corpus_stats.py).

    Scale shape: one explode + one groupBy(term) build the LM; the
    vocabulary table is O(|V|) — bounded, tiny next to the corpus —
    so the score join is an explicit broadcast (map-side, no shuffle
    of the token stream); the per-doc agg shuffles on doc_id with
    map-side partials.  The corpus total is a single bounded scalar
    (PMI precedent).
    """
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    return corpus_stats.unigram_surprisal(docs)


_CORPUS_TOKS_SQL = rf"""
  SELECT doc_id, source, unnest(string_split({_NORM}, ' ')) AS term
  FROM documents WHERE text IS NOT NULL AND trim(text) <> ''
"""

UNIGRAM_SURPRISAL_SQL = rf"""
WITH toks AS ({_CORPUS_TOKS_SQL}),
dtf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
cnt AS (SELECT term, CAST(SUM(tf) AS BIGINT) AS c FROM dtf GROUP BY 1),
tot AS (SELECT CAST(SUM(c) AS BIGINT) AS total FROM cnt)
SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_tokens,
       ROUND(ln(CAST(total AS DOUBLE)) - SUM(tf * ln(c)) / SUM(tf), 6)
         AS mean_surprisal
FROM dtf JOIN cnt USING (term), tot
GROUP BY doc_id, total
"""

QUERIES["unigram_surprisal_documents"] = unigram_surprisal_documents
ORACLES["unigram_surprisal_documents"] = UNIGRAM_SURPRISAL_SQL


# --- per-source KL divergence vs the corpus token distribution ---------------


def kl_divergence_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KL(P_source || P_corpus) over unigram distributions — the
    distributional mixture diagnostic (vocab_overlap_sources measures
    set overlap; this measures how differently the shared vocabulary
    is USED).  Every source term has corpus support by construction,
    so the divergence is finite.

    contribution(t) = (c_st/n_s) * ln((c_st/n_s) / (c_t/N)) with the
    division order written identically in the oracle (bit-identical
    IEEE ops before the rounded sum).

    Scale shape: two hash aggregations over the token stream (by
    (source, term) and by term), then a broadcast of the O(|V|)
    corpus-count table onto the per-source counts; final agg shuffles
    |V_s| rows per source.
    """
    docs = read_table(spark, sf_dir, "documents").select("source", "text")
    return corpus_stats.kl_by_group(docs, group_col="source")


KL_SOURCES_SQL = rf"""
WITH toks AS ({_CORPUS_TOKS_SQL}),
tot AS (SELECT COUNT(*) AS total FROM toks),
st AS (SELECT source, term, COUNT(*) AS c_st FROM toks GROUP BY 1, 2),
ct AS (SELECT term, COUNT(*) AS c_t FROM toks GROUP BY 1),
srcs AS (
  SELECT source, CAST(SUM(c_st) AS BIGINT) AS n_tokens, COUNT(*) AS n_terms
  FROM st GROUP BY 1
)
SELECT s.source, s.n_tokens, s.n_terms,
       ROUND(SUM((st.c_st / s.n_tokens)
                 * ln((st.c_st / s.n_tokens) / (ct.c_t / tot.total))), 6)
         AS kl_vs_corpus
FROM st
JOIN ct USING (term)
JOIN srcs s USING (source)
CROSS JOIN tot
GROUP BY 1, 2, 3
"""

QUERIES["kl_divergence_sources"] = kl_divergence_sources
ORACLES["kl_divergence_sources"] = KL_SOURCES_SQL


# --- pairwise Jensen-Shannon divergence between sources ----------------------


def jsd_source_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise JSD between source unigram distributions
    (llm/corpus_stats.jsd_pairs) — symmetric, bounded [0, ln 2]; the
    all-vs-all twin of kl_divergence_sources, via the closed form over
    intersection support (single-only terms contribute p·ln 2)."""
    docs = read_table(spark, sf_dir, "documents").select("source", "text")
    return corpus_stats.jsd_pairs(docs, group_col="source")


JSD_SOURCES_SQL = rf"""
WITH toks AS ({_CORPUS_TOKS_SQL}),
st AS (SELECT source, term, COUNT(*) AS c_st FROM toks GROUP BY 1, 2),
tot AS (
  SELECT source, CAST(SUM(c_st) AS BIGINT) AS n FROM st GROUP BY 1
),
p AS (
  SELECT st.source AS g, term, st.c_st / t.n AS p
  FROM st JOIN tot t USING (source)
),
pairs AS (
  SELECT a.g AS ia, b.g AS ib,
         COUNT(*) AS n_common,
         SUM(a.p) AS sum_pa, SUM(b.p) AS sum_pb,
         SUM(a.p * ln(2 * a.p / (a.p + b.p))
             + b.p * ln(2 * b.p / (a.p + b.p))) AS crossed
  FROM p a JOIN p b ON a.term = b.term AND a.g < b.g
  GROUP BY 1, 2
),
skel AS (
  SELECT a.source AS source_a, b.source AS source_b
  FROM tot a JOIN tot b ON a.source < b.source
)
SELECT source_a, source_b,
       COALESCE(n_common, 0) AS n_common_terms,
       ROUND(0.5 * COALESCE(crossed, 0)
             + 0.5 * {corpus_stats.LN2!r}
               * ((1 - COALESCE(sum_pa, 0)) + (1 - COALESCE(sum_pb, 0))),
             6) AS jsd
FROM skel LEFT JOIN pairs ON source_a = ia AND source_b = ib
"""

QUERIES["jsd_source_pairs"] = jsd_source_pairs
ORACLES["jsd_source_pairs"] = JSD_SOURCES_SQL


# --- per-source token entropy / evenness -------------------------------------


def token_entropy_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy + Pielou evenness of each source's unigram
    distribution (llm/corpus_stats.token_entropy_by_group) — the
    concentration gauge completing the distributional kit (KL: vs the
    corpus; JSD: pairwise; entropy: absolute)."""
    docs = read_table(spark, sf_dir, "documents").select("source", "text")
    return corpus_stats.token_entropy_by_group(docs, group_col="source")


TOKEN_ENTROPY_SQL = rf"""
WITH toks AS ({_CORPUS_TOKS_SQL}),
st AS (SELECT source, term, COUNT(*) AS c_st FROM toks GROUP BY 1, 2)
SELECT source,
       COUNT(*) AS n_terms,
       CAST(SUM(c_st) AS BIGINT) AS n_tokens,
       ROUND(ln(SUM(c_st)) - SUM(c_st * ln(c_st)) / SUM(c_st), 6) AS entropy,
       ROUND(CASE WHEN COUNT(*) > 1
                  THEN (ln(SUM(c_st)) - SUM(c_st * ln(c_st)) / SUM(c_st))
                       / ln(CAST(COUNT(*) AS DOUBLE))
             END, 6) AS evenness
FROM st
GROUP BY 1
"""

QUERIES["token_entropy_sources"] = token_entropy_sources
ORACLES["token_entropy_sources"] = TOKEN_ENTROPY_SQL


# --- Zipf rank-frequency slope -----------------------------------------------

_ZIPF_TOP = 1000


def zipf_slope_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OLS fit of ln(frequency) on ln(rank) over the top-1000 corpus
    tokens — the Zipf's-law corpus-health gauge (natural text slopes
    near -1; template/boilerplate corpora flatten or steepen it).

    Rank = global position under (count DESC, term ASC) — the
    deterministic tie-break both engines reproduce.  The top-k cut is
    TakeOrderedAndProject on the O(|V|) count table, so the
    single-partition ranking window only ever sees ``_ZIPF_TOP`` rows
    — bounded regardless of corpus size.
    """
    docs = read_table(spark, sf_dir, "documents").select("text")
    return corpus_stats.zipf_slope(docs, top=_ZIPF_TOP)


ZIPF_SLOPE_SQL = rf"""
WITH toks AS ({_CORPUS_TOKS_SQL}),
cnt AS (SELECT term, COUNT(*) AS c FROM toks GROUP BY 1),
top AS (SELECT term, c FROM cnt ORDER BY c DESC, term LIMIT {_ZIPF_TOP}),
ranked AS (
  SELECT c, ROW_NUMBER() OVER (ORDER BY c DESC, term) AS rank FROM top
)
SELECT COUNT(*) AS n_terms,
       ROUND(REGR_SLOPE(ln(c), ln(rank)), 4) AS slope,
       ROUND(REGR_INTERCEPT(ln(c), ln(rank)), 4) AS intercept,
       ROUND(REGR_R2(ln(c), ln(rank)), 6) AS r2
FROM ranked
"""

QUERIES["zipf_slope_tokens"] = zipf_slope_tokens
ORACLES["zipf_slope_tokens"] = ZIPF_SLOPE_SQL


# --- vocabulary coverage curve -----------------------------------------------

_COVERAGE_RANKS = (1, 2, 5, 10, 20, 50, 100, 200, 500, 1000, 2000, 5000, 10000)


def vocab_coverage_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Share of corpus token occurrences covered by the top-k terms,
    at k on a 1-2-5 series up to 10000 (marks beyond the vocabulary
    simply don't appear) — the vocabulary-sizing gauge (how big a
    tokenizer vocab must be before the OOV tail is negligible).

    The cumulative sum runs over at most max(k) rows cut by
    TakeOrderedAndProject on the O(|V|) count table (rank ties broken
    (count DESC, term ASC)), so the single-partition window is
    constant-size at any corpus scale; coverage = exact integer
    cumsum / exact integer total, one float division per row.
    """
    docs = read_table(spark, sf_dir, "documents").select("text")
    toks = corpus_stats.token_stream(docs, keep=())
    cnt = toks.groupBy("term").agg(F.count(F.lit(1)).alias("c"))
    total = cnt.agg(F.sum("c")).collect()[0][0] or 0
    n_terms = cnt.count()
    top = cnt.orderBy(F.desc("c"), "term").limit(max(_COVERAGE_RANKS))
    w = (
        SparkWindow.orderBy(F.desc("c"), "term")
        .rowsBetween(SparkWindow.unboundedPreceding, 0)
    )
    ranked = top.select(
        F.row_number().over(SparkWindow.orderBy(F.desc("c"), "term")).alias(
            "rank"
        ),
        F.sum("c").over(w).alias("cum"),
    )
    marks = ranked.where(
        F.col("rank").isin(*[r for r in _COVERAGE_RANKS])
    )
    return marks.select(
        F.col("rank").alias("top_k"),
        F.col("cum").alias("covered_tokens"),
        F.lit(total).alias("total_tokens"),
        F.lit(n_terms).alias("n_terms"),
        F.round(F.col("cum") / F.lit(total), 6).alias("coverage"),
    ).orderBy("top_k")


VOCAB_COVERAGE_SQL = rf"""
WITH toks AS ({_CORPUS_TOKS_SQL}),
cnt AS (SELECT term, COUNT(*) AS c FROM toks GROUP BY 1),
tot AS (SELECT CAST(SUM(c) AS BIGINT) AS total, COUNT(*) AS n_terms FROM cnt),
top AS (SELECT term, c FROM cnt ORDER BY c DESC, term
        LIMIT {max(_COVERAGE_RANKS)}),
ranked AS (
  SELECT ROW_NUMBER() OVER (ORDER BY c DESC, term) AS rank,
         CAST(SUM(c) OVER (ORDER BY c DESC, term
                           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
  FROM top
)
SELECT rank AS top_k, cum AS covered_tokens,
       tot.total AS total_tokens, tot.n_terms AS n_terms,
       ROUND(cum / tot.total, 6) AS coverage
FROM ranked, tot
WHERE rank IN ({", ".join(str(r) for r in _COVERAGE_RANKS)})
ORDER BY top_k
"""

QUERIES["vocab_coverage_curve"] = vocab_coverage_curve
ORACLES["vocab_coverage_curve"] = VOCAB_COVERAGE_SQL


# --- corpus-adaptive boilerplate stripping -----------------------------------

_BOILER_MAX_DF_FRAC = 0.5


def boilerplate_strip_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strip tokens present in more than half the corpus' documents,
    rebuilding each document in original token order
    (llm/curation.strip_ubiquitous_tokens) — the token-level analog of
    line-level boilerplate filters (CCNet/RefinedWeb strip lines
    repeated across many pages)."""
    from nasa_asteroid_data_lakehouse_spark.llm import curation

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    return curation.strip_ubiquitous_tokens(
        docs, max_df_frac=_BOILER_MAX_DF_FRAC
    )


BOILERPLATE_STRIP_SQL = rf"""
WITH base AS (
  SELECT doc_id, string_split({_NORM}, ' ') AS words
  FROM documents WHERE text IS NOT NULL AND trim(text) <> ''
),
toks AS (
  SELECT doc_id, unnest(words) AS term,
         generate_subscripts(words, 1) AS pos
  FROM base
),
n AS (SELECT COUNT(*) AS n_docs FROM base),
dfc AS (SELECT term, COUNT(DISTINCT doc_id) AS doc_freq FROM toks GROUP BY 1)
SELECT t.doc_id,
       COUNT(*) AS n_before,
       COUNT(*) FILTER (WHERE d.doc_freq <= {_BOILER_MAX_DF_FRAC!r} * n.n_docs)
         AS n_after,
       COALESCE(
         string_agg(t.term, ' ' ORDER BY t.pos)
           FILTER (WHERE d.doc_freq <= {_BOILER_MAX_DF_FRAC!r} * n.n_docs),
         '') AS stripped_text
FROM toks t
JOIN dfc d USING (term)
CROSS JOIN n
GROUP BY t.doc_id, n.n_docs
"""

QUERIES["boilerplate_strip_documents"] = boilerplate_strip_documents
ORACLES["boilerplate_strip_documents"] = BOILERPLATE_STRIP_SQL
