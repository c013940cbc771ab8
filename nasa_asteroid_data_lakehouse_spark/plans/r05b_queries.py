"""Round-5 surface growth: text profiling, classical two-sample
statistics, robust estimators, event funnels/as-of joins, embedding
diagnostics (per-dimension stats, product quantization), and the
lakehouse schema-evolution / key-pruned-delete / compaction paths.

Every query follows the repo's portability contract (docs/ROUND_NOTES):
integer SUMs cast to BIGINT, data-derived denominators try_divide'd on
the engine side and NULL-on-zero in DuckDB, float constants via repr()
of the engine's own Python float, NULL text/lang/source/user treated as
real groups or excluded identically on both sides, NaN filtered via
operators/stats.finite where a metric feeds quantiles/stddev.

No reference analog for any of these: the reference
(``src/etl/silver_to_gold.py``) stops at null-count profiling.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from nasa_asteroid_data_lakehouse_spark.catalog import read_table
from nasa_asteroid_data_lakehouse_spark.scratch import query_scratch
from nasa_asteroid_data_lakehouse_spark.llm import dedup, text
from nasa_asteroid_data_lakehouse_spark.operators.stats import finite
from nasa_asteroid_data_lakehouse_spark.plans import (
    _NORM,
    _TOKS,
    _VEC_VALID_SQL,
    _d2_sql,
)

QUERIES: dict = {}
ORACLES: dict = {}


# --- character-class profile per source --------------------------------------


def char_class_profile_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source character-class census over RAW text (letters /
    digits / whitespace / other) — the encoding-health screen a crawl
    pipeline runs before tokenizer decisions.

    One narrow projection (four subtraction-counted regexp_replace
    lengths, whole-stage codegen), one hash aggregate keyed on the
    bounded source domain.  NULL text rows stay visible (counted in
    ``n_null_text``, contributing no characters — the byte-profiler
    convention from round 4b); NULL source is a real group."""
    docs = read_table(spark, sf_dir, "documents").select("source", "text")
    ln = F.length("text")
    letters = ln - F.length(F.regexp_replace("text", "[A-Za-z]", ""))
    digits = ln - F.length(F.regexp_replace("text", "[0-9]", ""))
    spaces = ln - F.length(F.regexp_replace("text", r"\s", ""))
    return (
        docs.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count(F.when(F.col("text").isNull(), 1)).alias("n_null_text"),
            F.coalesce(F.sum(ln), F.lit(0)).alias("n_chars"),
            F.coalesce(F.sum(letters), F.lit(0)).alias("n_letters"),
            F.coalesce(F.sum(digits), F.lit(0)).alias("n_digits"),
            F.coalesce(F.sum(spaces), F.lit(0)).alias("n_spaces"),
        )
        .select(
            "source",
            "n_docs",
            "n_null_text",
            "n_chars",
            "n_letters",
            "n_digits",
            "n_spaces",
            (
                F.col("n_chars")
                - F.col("n_letters")
                - F.col("n_digits")
                - F.col("n_spaces")
            ).alias("n_other"),
            F.round(F.try_divide("n_letters", "n_chars"), 6).alias(
                "letter_ratio"
            ),
        )
    )


CHAR_CLASS_PROFILE_SQL = r"""
WITH per_doc AS (
  SELECT source,
         text IS NULL AS is_null,
         length(text) AS n,
         length(text) - length(regexp_replace(text, '[A-Za-z]', '', 'g')) AS l,
         length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS d,
         length(text) - length(regexp_replace(text, '\s', '', 'g')) AS s
  FROM documents
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COUNT(*) FILTER (is_null) AS BIGINT) AS n_null_text,
       CAST(COALESCE(SUM(n), 0) AS BIGINT) AS n_chars,
       CAST(COALESCE(SUM(l), 0) AS BIGINT) AS n_letters,
       CAST(COALESCE(SUM(d), 0) AS BIGINT) AS n_digits,
       CAST(COALESCE(SUM(s), 0) AS BIGINT) AS n_spaces,
       CAST(COALESCE(SUM(n), 0) - COALESCE(SUM(l), 0)
            - COALESCE(SUM(d), 0) - COALESCE(SUM(s), 0) AS BIGINT) AS n_other,
       ROUND(COALESCE(SUM(l), 0) / NULLIF(COALESCE(SUM(n), 0), 0), 6)
         AS letter_ratio
FROM per_doc
GROUP BY source
"""

QUERIES["char_class_profile_documents"] = char_class_profile_documents
ORACLES["char_class_profile_documents"] = CHAR_CLASS_PROFILE_SQL


# --- hapax legomena ratio ----------------------------------------------------


def hapax_ratio_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary size and hapax-legomena share (tokens seen
    exactly once) — the classic heap-of-the-Zipf-tail health check for
    tokenizer training.  Token explode -> hash aggregate on the token
    (map-side partials shrink the shuffle to |vocab|), then one bounded
    reduction.  NULL text tokenizes to NULL and explodes to nothing."""
    docs = read_table(spark, sf_dir, "documents").select("text")
    toks = docs.select(
        F.explode(text.tokens(text.normalized_text("text"))).alias("tok")
    )
    freq = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    return freq.agg(
        F.count(F.lit(1)).alias("vocab_size"),
        F.count(F.when(F.col("c") == 1, 1)).alias("hapax_count"),
        F.round(
            F.try_divide(
                F.count(F.when(F.col("c") == 1, 1)), F.count(F.lit(1))
            ),
            6,
        ).alias("hapax_ratio"),
    )


HAPAX_RATIO_SQL = f"""
WITH toks AS (
  SELECT unnest({_TOKS}) AS tok FROM documents WHERE text IS NOT NULL
),
freq AS (SELECT tok, COUNT(*) AS c FROM toks GROUP BY tok)
SELECT CAST(COUNT(*) AS BIGINT) AS vocab_size,
       CAST(COUNT(*) FILTER (c = 1) AS BIGINT) AS hapax_count,
       ROUND(COUNT(*) FILTER (c = 1) / NULLIF(COUNT(*), 0), 6) AS hapax_ratio
FROM freq
"""

QUERIES["hapax_ratio_documents"] = hapax_ratio_documents
ORACLES["hapax_ratio_documents"] = HAPAX_RATIO_SQL


# --- readability profile -----------------------------------------------------


def readability_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document readability proxies: word count, mean word length,
    vowel-cluster syllable estimate per word, long-word share — the
    cheap complexity screen (a Flesch-style score needs sentence
    boundaries the corpus does not have; these are its deterministic
    ingredients).  One narrow projection, no shuffle, no UDFs.

    NULL text -> NULL metrics (hygiene convention: failed fetches stay
    visible, never fold into the empty-document bucket)."""
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    norm = text.normalized_text("text")
    toks = text.tokens(norm)
    n_words = F.size(toks)
    n_letters = F.length(F.regexp_replace(norm, " ", ""))
    n_syll = F.size(F.regexp_extract_all(norm, F.lit("[aeiouy]+"), 0))
    n_long = F.size(F.filter(toks, lambda t: F.length(t) >= 7))
    return docs.select(
        "doc_id",
        n_words.cast("bigint").alias("n_words"),
        F.round(F.try_divide(n_letters, n_words), 4).alias("avg_word_len"),
        F.round(F.try_divide(n_syll, n_words), 4).alias("syll_per_word"),
        F.round(F.try_divide(n_long, n_words), 4).alias("long_word_ratio"),
    )


READABILITY_SQL = f"""
SELECT doc_id,
  CAST(len({_TOKS}) AS BIGINT) AS n_words,
  ROUND(length(replace({_NORM}, ' ', ''))
        / NULLIF(len({_TOKS}), 0), 4) AS avg_word_len,
  ROUND(len(regexp_extract_all({_NORM}, '[aeiouy]+'))
        / NULLIF(len({_TOKS}), 0), 4) AS syll_per_word,
  ROUND(len(list_filter({_TOKS}, t -> length(t) >= 7))
        / NULLIF(len({_TOKS}), 0), 4) AS long_word_ratio
FROM documents
"""

QUERIES["readability_documents"] = readability_documents
ORACLES["readability_documents"] = READABILITY_SQL


# --- TF-IDF keyword extraction ----------------------------------------------


_KW_MAX_DOC = 100
_KW_TOP = 3


def keyword_extract_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF keywords per document (first 100 doc_ids) — the
    per-document topical fingerprint.  Document frequency is computed
    over the WHOLE corpus (two hash aggregates keyed on token), the
    per-document ranking is a window partitioned by doc_id — the
    distributed-safe window shape (InferWindowGroupLimit turns the
    rank filter into a per-partition top-k).  The anchor-doc filter is
    applied to the tf side only, so at scale the expensive df table is
    shared while the ranked side stays small."""
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    n_docs = docs.count()  # bounded scalar (driver-side literal)
    toks = docs.select(
        "doc_id", F.explode(text.tokens(text.normalized_text("text"))).alias("tok")
    )
    tf = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = (
        toks.select("doc_id", "tok")
        .distinct()
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    scored = (
        tf.where(F.col("doc_id") < _KW_MAX_DOC)
        .join(dfreq, "tok")
        .select(
            "doc_id",
            F.col("tok").alias("keyword"),
            "tf",
            F.round(
                F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df")), 6
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("tfidf"), F.asc("keyword")
    )
    return (
        scored.withColumn("__rk", F.row_number().over(w))
        .where(F.col("__rk") <= _KW_TOP)
        .select("doc_id", "keyword", "tf", "tfidf")
    )


KEYWORD_EXTRACT_SQL = f"""
WITH n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs FROM documents),
toks AS (
  SELECT doc_id, unnest({_TOKS}) AS tok FROM documents WHERE text IS NOT NULL
),
tf AS (SELECT doc_id, tok, COUNT(*) AS tf FROM toks GROUP BY doc_id, tok),
dfreq AS (
  SELECT tok, COUNT(*) AS df FROM (SELECT DISTINCT doc_id, tok FROM toks)
  GROUP BY tok
),
scored AS (
  SELECT tf.doc_id, tf.tok AS keyword, tf.tf,
         ROUND(tf.tf * ln(n.n_docs / dfreq.df), 6) AS tfidf
  FROM tf JOIN dfreq USING (tok), n
  WHERE tf.doc_id < {_KW_MAX_DOC}
),
ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY doc_id ORDER BY tfidf DESC, keyword ASC
  ) AS rk FROM scored
)
SELECT doc_id, keyword, CAST(tf AS BIGINT) AS tf, tfidf
FROM ranked WHERE rk <= {_KW_TOP}
"""

QUERIES["keyword_extract_documents"] = keyword_extract_documents
ORACLES["keyword_extract_documents"] = KEYWORD_EXTRACT_SQL


# --- shingle novelty (who introduces n-grams) --------------------------------


def ngram_novelty_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document novelty: the share of a document's distinct 3-gram
    shingles that it INTRODUCES to the corpus (no lower-id document
    contains them) — the incremental-information complement of
    containment dedup.

    Shuffle is keyed on the shingle (the LSH family's partitioning);
    the min-id reduction and the join-back are both shingle-local, so
    the plan scales as two hash aggregates + one equi-join.  NULL text
    has NULL shingles and joins nothing (round-4b contract); empty
    docs carry the canonical ``''`` shingle and pool together, exactly
    like the MinHash oracle."""
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    ex = docs.select(
        "doc_id", F.explode(dedup.word_shingles("text", 3)).alias("sh")
    )
    first = ex.groupBy("sh").agg(F.min("doc_id").alias("first_doc"))
    return (
        ex.join(first, "sh")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.count(F.when(F.col("first_doc") == F.col("doc_id"), 1)).alias(
                "n_novel"
            ),
            F.round(
                F.try_divide(
                    F.count(F.when(F.col("first_doc") == F.col("doc_id"), 1)),
                    F.count(F.lit(1)),
                ),
                6,
            ).alias("novel_ratio"),
        )
    )


NGRAM_NOVELTY_SQL = f"""
WITH sh AS (
  SELECT doc_id,
    CASE WHEN len({_TOKS}) >= 3
         THEN list_distinct(list_transform(range(1, len({_TOKS}) - 1),
                            j -> array_to_string({_TOKS}[j:j+2], ' ')))
         -- COALESCE: DuckDB array_to_string([], ' ') is NULL, Spark
         -- concat_ws over [] is '' — pin the engine's '' shingle
         ELSE [COALESCE(array_to_string({_TOKS}, ' '), '')] END AS shingles
  FROM documents WHERE text IS NOT NULL
),
ex AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
first AS (SELECT s, MIN(doc_id) AS first_doc FROM ex GROUP BY s)
SELECT ex.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_shingles,
       CAST(COUNT(*) FILTER (first.first_doc = ex.doc_id) AS BIGINT)
         AS n_novel,
       ROUND(COUNT(*) FILTER (first.first_doc = ex.doc_id)
             / NULLIF(COUNT(*), 0), 6) AS novel_ratio
FROM ex JOIN first USING (s)
GROUP BY ex.doc_id
"""

QUERIES["ngram_novelty_documents"] = ngram_novelty_documents
ORACLES["ngram_novelty_documents"] = NGRAM_NOVELTY_SQL


# === classical statistics over events / orders ===============================

from nasa_asteroid_data_lakehouse_spark.operators import stats as ops_stats

# finite-measure filter twin (round-4c NaN rule)
_FIN_VAL = "value IS NOT NULL AND isfinite(value)"
_FIN_PRICE = "o_totalprice IS NOT NULL AND isfinite(o_totalprice)"


def _events_finite(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_table(spark, sf_dir, "events")
    return ev.where(finite(F.col("value")))


def welch_ttest_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's t between click and view event values — one conditional
    hash aggregate (operators/stats.welch_ttest); moments via the
    fixed-textual-order sum identities shared with the oracle."""
    return ops_stats.welch_ttest(
        _events_finite(spark, sf_dir), "event_type", "value", "click", "view"
    )


WELCH_TTEST_SQL = f"""
WITH f AS (
  SELECT event_type, value FROM events
  WHERE {_FIN_VAL} AND event_type IN ('click', 'view')
),
agg AS (
  SELECT COUNT(*) FILTER (event_type = 'click') AS n_a,
         COUNT(*) FILTER (event_type = 'view') AS n_b,
         COALESCE(SUM(value) FILTER (event_type = 'click'), 0.0) AS s_a,
         COALESCE(SUM(value) FILTER (event_type = 'view'), 0.0) AS s_b,
         COALESCE(SUM(value * value) FILTER (event_type = 'click'), 0.0) AS ss_a,
         COALESCE(SUM(value * value) FILTER (event_type = 'view'), 0.0) AS ss_b
  FROM f
),
m AS (
  SELECT n_a, n_b, s_a / n_a AS m_a, s_b / n_b AS m_b,
         (ss_a - s_a * s_a / n_a) / (n_a - 1) AS var_a,
         (ss_b - s_b * s_b / n_b) / (n_b - 1) AS var_b
  FROM agg
)
SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
  ROUND(m_a, 6) AS mean_a, ROUND(m_b, 6) AS mean_b,
  CASE WHEN n_a >= 2 AND n_b >= 2 THEN
    ROUND((m_a - m_b) / sqrt(var_a / n_a + var_b / n_b), 6) END AS t_stat,
  CASE WHEN n_a >= 2 AND n_b >= 2 THEN
    ROUND((var_a / n_a + var_b / n_b) * (var_a / n_a + var_b / n_b)
          / ((var_a / n_a) * (var_a / n_a) / (n_a - 1)
             + (var_b / n_b) * (var_b / n_b) / (n_b - 1)), 4) END AS welch_df
FROM m
"""

QUERIES["welch_ttest_events"] = welch_ttest_events
ORACLES["welch_ttest_events"] = WELCH_TTEST_SQL


def mannwhitney_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney rank-sum z between click and view values
    (operators/stats.mann_whitney_u): distinct-value rank table, exact
    half-integer rank sums, tie-corrected normal approximation."""
    return ops_stats.mann_whitney_u(
        _events_finite(spark, sf_dir), "event_type", "value", "click", "view"
    )


MANNWHITNEY_SQL = f"""
WITH f AS (
  SELECT event_type, value FROM events
  WHERE {_FIN_VAL} AND event_type IN ('click', 'view')
),
per_v AS (
  SELECT value AS v,
         COUNT(*) FILTER (event_type = 'click') AS c_a,
         COUNT(*) FILTER (event_type = 'view') AS c_b
  FROM f GROUP BY value
),
rt AS (
  SELECT c_a, c_b,
         SUM(c_a + c_b) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum_all
  FROM per_v
),
agg AS (
  SELECT CAST(COALESCE(SUM(c_a), 0) AS BIGINT) AS n_a,
         CAST(COALESCE(SUM(c_b), 0) AS BIGINT) AS n_b,
         COALESCE(SUM(c_a * ((cum_all - (c_a + c_b)) + (c_a + c_b + 1) / 2.0)),
                  0.0) AS r_a,
         CAST(COALESCE(SUM((c_a + c_b) * (c_a + c_b) * (c_a + c_b)
                           - (c_a + c_b)), 0) AS BIGINT) AS tie_sum
  FROM rt
)
SELECT n_a, n_b,
  ROUND(r_a - n_a * (n_a + 1) / 2.0, 2) AS u_stat,
  CASE WHEN n_a >= 1 AND n_b >= 1 AND n_a + n_b >= 2 THEN
    ROUND((r_a - n_a * (n_a + 1) / 2.0 - n_a * n_b / 2.0)
          / NULLIF(sqrt(n_a * n_b / 12.0
              * ((n_a + n_b + 1)
                 - tie_sum / ((n_a + n_b) * (n_a + n_b - 1)))), 0.0), 6)
  END AS z_score
FROM agg
"""

QUERIES["mannwhitney_events"] = mannwhitney_events
ORACLES["mannwhitney_events"] = MANNWHITNEY_SQL


def ks_test_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov D between click and view values
    (operators/stats.ks_two_sample) over the bounded distinct-value
    ECDF table."""
    return ops_stats.ks_two_sample(
        _events_finite(spark, sf_dir), "event_type", "value", "click", "view"
    )


KS_TEST_SQL = f"""
WITH f AS (
  SELECT event_type, value FROM events
  WHERE {_FIN_VAL} AND event_type IN ('click', 'view')
),
per_v AS (
  SELECT value AS v,
         COUNT(*) FILTER (event_type = 'click') AS c_a,
         COUNT(*) FILTER (event_type = 'view') AS c_b
  FROM f GROUP BY value
),
rt AS (
  SELECT SUM(c_a) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum_a,
         SUM(c_b) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum_b
  FROM per_v
),
tot AS (
  SELECT CAST(COALESCE(SUM(c_a), 0) AS BIGINT) AS n_a,
         CAST(COALESCE(SUM(c_b), 0) AS BIGINT) AS n_b
  FROM per_v
),
d AS (
  SELECT MAX(ABS(rt.cum_a / CAST(tot.n_a AS DOUBLE)
              - rt.cum_b / CAST(tot.n_b AS DOUBLE))) AS d_raw
  FROM rt, tot
)
SELECT tot.n_a, tot.n_b,
  CASE WHEN tot.n_a > 0 AND tot.n_b > 0
       THEN ROUND(d.d_raw, 6) END AS d_stat,
  CASE WHEN tot.n_a > 0 AND tot.n_b > 0
       THEN ROUND(d.d_raw * sqrt(tot.n_a * tot.n_b / (tot.n_a + tot.n_b)), 6)
  END AS ks_scaled
FROM tot, d
"""

QUERIES["ks_test_events"] = ks_test_events
ORACLES["ks_test_events"] = KS_TEST_SQL


# --- robust daily-trend estimators -------------------------------------------


def _daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Finite event values, NULL-ts excluded, day totals on the cents
    lattice (reduction-order noise dies at round 2 long before it)."""
    ev = read_table(spark, sf_dir, "events").where(
        finite(F.col("value")) & F.col("ts").isNotNull()
    )
    return ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.round(F.sum("value"), 2).alias("y")
    )


_DAILY_SQL = f"""
  SELECT CAST(ts AS DATE) AS day, ROUND(SUM(value), 2) AS y
  FROM events WHERE {_FIN_VAL} AND ts IS NOT NULL
  GROUP BY CAST(ts AS DATE)
"""


def theil_sen_daily_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust slope of daily revenue
    (operators/stats.theil_sen_slope): O(days²) pair median on the
    O(days) aggregate — bounded by the calendar, not the event count."""
    return ops_stats.theil_sen_slope(
        _daily_revenue(spark, sf_dir), "day", "y"
    )


THEIL_SEN_SQL = f"""
WITH daily AS ({_DAILY_SQL}),
slopes AS (
  SELECT (b.y - a.y) / date_diff('day', a.day, b.day) AS slope
  FROM daily a JOIN daily b ON a.day < b.day
)
SELECT CAST(COUNT(slope) AS BIGINT) AS n_pairs,
       ROUND(quantile_cont(slope, 0.5), 6) AS sen_slope
FROM slopes
"""

QUERIES["theil_sen_daily_events"] = theil_sen_daily_events
ORACLES["theil_sen_daily_events"] = THEIL_SEN_SQL


def changepoint_daily_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Best single change-point in daily revenue by between-segment
    sum-of-squares gain (operators/stats.binary_changepoint) —
    lattice-rounded cumsums so segment-tree vs running-sum float noise
    cannot flip the argmax."""
    return ops_stats.binary_changepoint(
        _daily_revenue(spark, sf_dir), "day", "y"
    )


CHANGEPOINT_SQL = f"""
WITH daily AS ({_DAILY_SQL}),
tot AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         ROUND(COALESCE(SUM(y), 0.0), 4) AS s
  FROM daily
),
cum AS (
  SELECT day AS split_day,
         row_number() OVER (ORDER BY day) AS i,
         ROUND(SUM(y) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING), 4) AS cs
  FROM daily
)
SELECT c.split_day, CAST(c.i AS BIGINT) AS n_left,
  ROUND(c.cs * c.cs / c.i
        + (t.s - c.cs) * (t.s - c.cs) / (t.n - c.i)
        - t.s * t.s / t.n, 6) AS gain
FROM cum c, tot t
WHERE c.i < t.n AND t.n >= 2
ORDER BY gain DESC, split_day ASC
LIMIT 1
"""

QUERIES["changepoint_daily_events"] = changepoint_daily_events
ORACLES["changepoint_daily_events"] = CHANGEPOINT_SQL


# --- robust spread estimators over orders ------------------------------------


def winsorized_stats_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized mean/stddev of order value per status: per-group
    p01/p99 (exact interior percentiles — swap percentile_approx at
    scale), broadcast join-back (eqNullSafe: NULL groups are real),
    clamp, one aggregate.  Finite-measure filter per the NaN rule."""
    o = read_table(spark, sf_dir, "orders").where(
        finite(F.col("o_totalprice"))
    )
    from pyspark.sql.functions import broadcast

    pct = o.groupBy("o_orderstatus").agg(
        F.expr("percentile(o_totalprice, 0.01)").alias("p01"),
        F.expr("percentile(o_totalprice, 0.99)").alias("p99"),
    )
    j = o.join(
        broadcast(pct.withColumnRenamed("o_orderstatus", "__st")),
        F.col("o_orderstatus").eqNullSafe(F.col("__st")),
    )
    clamp = F.least(F.greatest(F.col("o_totalprice"), F.col("p01")), F.col("p99"))
    return j.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.min("p01"), 2).alias("p01"),
        F.round(F.min("p99"), 2).alias("p99"),
        F.round(F.avg(clamp), 2).alias("wins_mean"),
        F.round(F.stddev_samp(clamp), 2).alias("wins_std"),
    )


WINSORIZED_SQL = f"""
WITH f AS (
  SELECT o_orderstatus, o_totalprice FROM orders WHERE {_FIN_PRICE}
),
pct AS (
  SELECT o_orderstatus AS st,
         quantile_cont(o_totalprice, 0.01) AS p01,
         quantile_cont(o_totalprice, 0.99) AS p99
  FROM f GROUP BY o_orderstatus
),
j AS (
  SELECT f.o_orderstatus, pct.p01, pct.p99,
         LEAST(GREATEST(f.o_totalprice, pct.p01), pct.p99) AS cp
  FROM f JOIN pct ON f.o_orderstatus IS NOT DISTINCT FROM pct.st
)
SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(MIN(p01), 2) AS p01, ROUND(MIN(p99), 2) AS p99,
       ROUND(AVG(cp), 2) AS wins_mean,
       ROUND(STDDEV_SAMP(cp), 2) AS wins_std
FROM j GROUP BY o_orderstatus
"""

QUERIES["winsorized_stats_orders"] = winsorized_stats_orders
ORACLES["winsorized_stats_orders"] = WINSORIZED_SQL


def iqr_outliers_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey-fence outlier census per order priority: q1/q3, 1.5·IQR
    fences, outlier count and share.  Same bounded join-back shape as
    the winsorized stats; counts are exact integers."""
    o = read_table(spark, sf_dir, "orders").where(
        finite(F.col("o_totalprice"))
    )
    from pyspark.sql.functions import broadcast

    pct = o.groupBy("o_orderpriority").agg(
        F.expr("percentile(o_totalprice, 0.25)").alias("q1"),
        F.expr("percentile(o_totalprice, 0.75)").alias("q3"),
    )
    j = o.join(
        broadcast(pct.withColumnRenamed("o_orderpriority", "__pr")),
        F.col("o_orderpriority").eqNullSafe(F.col("__pr")),
    )
    lo = F.col("q1") - 1.5 * (F.col("q3") - F.col("q1"))
    hi = F.col("q3") + 1.5 * (F.col("q3") - F.col("q1"))
    is_out = (F.col("o_totalprice") < lo) | (F.col("o_totalprice") > hi)
    return j.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.min(lo), 2).alias("fence_lo"),
        F.round(F.min(hi), 2).alias("fence_hi"),
        F.count(F.when(is_out, 1)).alias("n_outliers"),
        F.round(
            F.try_divide(F.count(F.when(is_out, 1)), F.count(F.lit(1))), 6
        ).alias("outlier_ratio"),
    )


IQR_OUTLIERS_SQL = f"""
WITH f AS (
  SELECT o_orderpriority, o_totalprice FROM orders WHERE {_FIN_PRICE}
),
pct AS (
  SELECT o_orderpriority AS pr,
         quantile_cont(o_totalprice, 0.25) AS q1,
         quantile_cont(o_totalprice, 0.75) AS q3
  FROM f GROUP BY o_orderpriority
),
j AS (
  SELECT f.o_orderpriority, f.o_totalprice,
         pct.q1 - 1.5 * (pct.q3 - pct.q1) AS lo,
         pct.q3 + 1.5 * (pct.q3 - pct.q1) AS hi
  FROM f JOIN pct ON f.o_orderpriority IS NOT DISTINCT FROM pct.pr
)
SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(MIN(lo), 2) AS fence_lo, ROUND(MIN(hi), 2) AS fence_hi,
       CAST(COUNT(*) FILTER (o_totalprice < lo OR o_totalprice > hi)
            AS BIGINT) AS n_outliers,
       ROUND(COUNT(*) FILTER (o_totalprice < lo OR o_totalprice > hi)
             / NULLIF(COUNT(*), 0), 6) AS outlier_ratio
FROM j GROUP BY o_orderpriority
"""

QUERIES["iqr_outliers_orders"] = iqr_outliers_orders
ORACLES["iqr_outliers_orders"] = IQR_OUTLIERS_SQL


# === event-stream funnels and as-of joins ====================================


def funnel_steps_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered 3-step funnel (view -> first click AFTER the first view
    -> first purchase AFTER that click) with per-stage user counts and
    conversion rates.

    Three stacked min-windows over the SAME user partitioning — one
    shuffle, reused across all three stages (the plan keeps a single
    Exchange), then one bounded summary row.  The classic self-join
    formulation re-shuffles the events table once per stage; this form
    scans once.  NULL user/ts excluded (the conversion_latency
    convention)."""
    ev = (
        read_table(spark, sf_dir, "events")
        .where(F.col("user_id").isNotNull() & F.col("ts").isNotNull())
        .select("user_id", "event_type", "ts")
    )
    w = Window.partitionBy("user_id")
    d1 = ev.withColumn(
        "t_view",
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).over(w),
    )
    d2 = d1.withColumn(
        "t_click",
        F.min(
            F.when(
                (F.col("event_type") == "click")
                & (F.col("ts") > F.col("t_view")),
                F.col("ts"),
            )
        ).over(w),
    )
    d3 = d2.withColumn(
        "t_purchase",
        F.min(
            F.when(
                (F.col("event_type") == "purchase")
                & (F.col("ts") > F.col("t_click")),
                F.col("ts"),
            )
        ).over(w),
    )
    per_user = d3.groupBy("user_id").agg(
        F.min("t_view").alias("t_view"),
        F.min("t_click").alias("t_click"),
        F.min("t_purchase").alias("t_purchase"),
    )
    return per_user.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.count("t_view").alias("n_view"),
        F.count("t_click").alias("n_click"),
        F.count("t_purchase").alias("n_purchase"),
        F.round(F.try_divide(F.count("t_click"), F.count("t_view")), 6).alias(
            "view_to_click"
        ),
        F.round(
            F.try_divide(F.count("t_purchase"), F.count("t_click")), 6
        ).alias("click_to_purchase"),
    )


FUNNEL_STEPS_SQL = """
WITH e AS (
  SELECT user_id, event_type, ts FROM events
  WHERE user_id IS NOT NULL AND ts IS NOT NULL
),
u AS (
  SELECT user_id, MIN(ts) FILTER (event_type = 'view') AS t_view
  FROM e GROUP BY user_id
),
c AS (
  SELECT u.user_id, u.t_view, MIN(e.ts) AS t_click
  FROM u LEFT JOIN e
    ON e.user_id = u.user_id AND e.event_type = 'click'
   AND e.ts > u.t_view
  GROUP BY u.user_id, u.t_view
),
p AS (
  SELECT c.user_id, c.t_view, c.t_click, MIN(e.ts) AS t_purchase
  FROM c LEFT JOIN e
    ON e.user_id = c.user_id AND e.event_type = 'purchase'
   AND e.ts > c.t_click
  GROUP BY c.user_id, c.t_view, c.t_click
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
       CAST(COUNT(t_view) AS BIGINT) AS n_view,
       CAST(COUNT(t_click) AS BIGINT) AS n_click,
       CAST(COUNT(t_purchase) AS BIGINT) AS n_purchase,
       ROUND(COUNT(t_click) / NULLIF(COUNT(t_view), 0), 6) AS view_to_click,
       ROUND(COUNT(t_purchase) / NULLIF(COUNT(t_click), 0), 6)
         AS click_to_purchase
FROM p
"""

QUERIES["funnel_steps_events"] = funnel_steps_events
ORACLES["funnel_steps_events"] = FUNNEL_STEPS_SQL


def dwell_percentiles_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-event dwell-time percentiles per event type: the gap from
    each user's previous event (any type) to the current one, diffed
    at MICROSECOND (exact integers on both engines), interpolated
    percentiles per the percentile/quantile_cont contract.

    One lag window partitioned by user (duplicated timestamps
    tie-broken by event_id — the round-2 adversarial lesson), one hash
    aggregate on the bounded event-type domain.  The NULL-user
    partition is real and identical on both engines."""
    ev = read_table(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    d = ev.withColumn("__prev", F.lag("ts").over(w))
    g = d.select(
        "event_type",
        F.expr("timestampdiff(MICROSECOND, __prev, ts)").alias("gap"),
    )
    return g.groupBy("event_type").agg(
        F.count("gap").alias("n_gaps"),
        F.round(F.expr("percentile(gap, 0.5)"), 1).alias("p50_us"),
        F.round(F.expr("percentile(gap, 0.9)"), 1).alias("p90_us"),
    )


DWELL_PERCENTILES_SQL = """
WITH g AS (
  SELECT event_type,
         date_diff('microsecond',
                   lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id),
                   ts) AS gap
  FROM events WHERE ts IS NOT NULL
)
SELECT event_type, CAST(COUNT(gap) AS BIGINT) AS n_gaps,
       ROUND(quantile_cont(gap, 0.5), 1) AS p50_us,
       ROUND(quantile_cont(gap, 0.9), 1) AS p90_us
FROM g GROUP BY event_type
"""

QUERIES["dwell_percentiles_events"] = dwell_percentiles_events
ORACLES["dwell_percentiles_events"] = DWELL_PERCENTILES_SQL


def asof_last_error_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AS-OF join expressed as a carry-forward window: for every click,
    the microseconds since the same user's most recent PRIOR error —
    the point-in-time enrichment pattern (no range join, no self-join:
    ``last(..., ignorenulls)`` over (user, ts, event_id) order carries
    the error timestamp forward in one pass).

    At scale this is the canonical distributed as-of join: partition
    by the entity key, sort within partition, single window — the
    shuffle is one hash exchange on user_id.  Clicks with no prior
    error keep a NULL gap (visible, not dropped)."""
    ev = read_table(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    d = ev.withColumn(
        "__last_err",
        F.last(
            F.when(F.col("event_type") == "error", F.col("ts")), ignorenulls=True
        ).over(w),
    )
    return d.where(F.col("event_type") == "click").select(
        "event_id",
        "user_id",
        F.expr("timestampdiff(MICROSECOND, __last_err, ts)").alias(
            "us_since_error"
        ),
    )


ASOF_LAST_ERROR_SQL = """
WITH e AS (SELECT * FROM events WHERE ts IS NOT NULL),
d AS (
  SELECT event_id, user_id, event_type, ts,
         last_value(CASE WHEN event_type = 'error' THEN ts END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_err
  FROM e
)
SELECT event_id, user_id,
       date_diff('microsecond', last_err, ts) AS us_since_error
FROM d WHERE event_type = 'click'
"""

QUERIES["asof_last_error_events"] = asof_last_error_events
ORACLES["asof_last_error_events"] = ASOF_LAST_ERROR_SQL


# === embedding diagnostics ===================================================

from nasa_asteroid_data_lakehouse_spark.llm import similarity


def dim_stats_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension moments of the embedding matrix (n / mean / min /
    max / sample stddev) — the collapse/anisotropy screen run before
    trusting an encoder.  posexplode -> one hash aggregate keyed on
    the bounded dimension index; vectors under the module validity
    contract only."""
    emb = read_table(spark, sf_dir, "embeddings").where(
        similarity.vec_valid(F.col("embedding"))
    )
    ex = emb.select(
        F.posexplode(
            F.transform(F.col("embedding"), lambda x: x.cast("double"))
        ).alias("dim", "x")
    )
    return ex.groupBy(F.col("dim").cast("bigint").alias("dim")).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg("x"), 6).alias("mean_val"),
        F.round(F.min("x"), 6).alias("min_val"),
        F.round(F.max("x"), 6).alias("max_val"),
        F.round(F.stddev_samp("x"), 6).alias("std_val"),
    )


DIM_STATS_SQL = f"""
WITH v AS (SELECT embedding::DOUBLE[] AS e FROM embeddings
           WHERE {_VEC_VALID_SQL}),
ex AS (
  -- no WITH ORDINALITY in DuckDB: index the list explicitly
  SELECT CAST(g.i - 1 AS BIGINT) AS dim, v.e[g.i] AS x
  FROM v, UNNEST(range(1, len(v.e) + 1)) AS g(i)
)
SELECT dim, CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(AVG(x), 6) AS mean_val,
       ROUND(MIN(x), 6) AS min_val,
       ROUND(MAX(x), 6) AS max_val,
       ROUND(STDDEV_SAMP(x), 6) AS std_val
FROM ex GROUP BY dim
"""

QUERIES["dim_stats_embeddings"] = dim_stats_embeddings
ORACLES["dim_stats_embeddings"] = DIM_STATS_SQL


# --- product quantization ----------------------------------------------------

_PQ_M = 4
_PQ_K = 8


def _pq_geometry(d: int) -> list[tuple[int, int]]:
    """(lo, hi) 0-based half-open bounds per subspace: contiguous
    blocks of ceil(d/m); trailing subspaces may be short or empty when
    d < m·ceil(d/m) — both engines then score the empty slice 0 for
    every centroid and the tie falls to centroid 0."""
    import math

    sub = max(1, math.ceil(d / _PQ_M))
    return [(s * sub, min((s + 1) * sub, d)) for s in range(_PQ_M)]


def pq_codes_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization code assignment: m=4 contiguous subspaces,
    per-subspace argmin over 8 seed centroids — the storage half of a
    PQ index (codes are 4 small ints per vector instead of 64 floats:
    a 64x memory cut at serving time).

    The assignment is a pure projection (centroid subvectors inlined
    as literals, k·m squared-distance folds per row, no shuffle, no
    join) — at 100 TB this is a map-only pass writing the code table
    partitioned however the serving layer wants it."""
    emb = read_table(spark, sf_dir, "embeddings")
    valid = emb.where(similarity.vec_valid(F.col("embedding")))
    cents = similarity.seed_centroids(emb, _PQ_K)
    if not cents:
        return valid.select(
            "vec_id",
            *[F.lit(None).cast("int").alias(f"c{s}") for s in range(_PQ_M)],
        )
    vcol = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    codes = similarity._pq_codes_cols(vcol, cents, _pq_geometry(len(cents[0])))
    return valid.select(
        "vec_id", *[c.alias(f"c{s}") for s, c in enumerate(codes)]
    )


def _pq_sub_bounds_sql(s: int, vec: str = "e.v") -> tuple[str, str]:
    sub = f"GREATEST(1, CAST(ceil(len({vec}) / 4.0) AS INT))"
    return (f"({s} * {sub})", f"LEAST(({s} + 1) * {sub}, len({vec}))")


PQ_CODES_SQL = f"""
WITH valid AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
  WHERE {_VEC_VALID_SQL}
),
seeds AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS c, v AS cv
  FROM (SELECT vec_id, v FROM valid ORDER BY vec_id LIMIT {_PQ_K})
),
assign AS (
  SELECT e.vec_id, sub.s, seeds.c,
    row_number() OVER (
      PARTITION BY e.vec_id, sub.s
      ORDER BY
        CASE sub.s
          {" ".join(
              f"WHEN {s} THEN " + _d2_sql(
                  "e.v", "seeds.cv", _pq_sub_bounds_sql(s)[0],
                  _pq_sub_bounds_sql(s)[1]
              )
              for s in range(_PQ_M)
          )}
        END,
        seeds.c
    ) AS rn
  FROM valid e, (SELECT unnest(range({_PQ_M})) AS s) sub, seeds
)
SELECT vec_id,
  {", ".join(
      f"CAST(MAX(CASE WHEN s = {s} THEN c END) AS INTEGER) AS c{s}"
      for s in range(_PQ_M)
  )}
FROM assign WHERE rn = 1
GROUP BY vec_id
"""

QUERIES["pq_codes_embeddings"] = pq_codes_embeddings
ORACLES["pq_codes_embeddings"] = PQ_CODES_SQL


def centroid_inertia_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cluster size and inertia (sum of squared distance to the
    assigned centroid) under the 8-seed quantizer — the k-means
    quality gauge at iteration 0 (the seed form keeps the oracle
    expressible).

    Distances fold sequentially on both engines and are
    lattice-rounded (1e-6) BEFORE the per-cluster sum, which is then
    rounded at 1e-4 — reduction-order noise dies two orders below
    each rounding step.  Same map-only assignment projection as PQ;
    the aggregate is keyed on the bounded cluster id."""
    emb = read_table(spark, sf_dir, "embeddings")
    valid = emb.where(similarity.vec_valid(F.col("embedding")))
    cents = similarity.seed_centroids(emb, _PQ_K)
    if not cents:
        return valid.select(
            F.lit(None).cast("int").alias("cluster"),
            F.lit(None).cast("bigint").alias("n"),
            F.lit(None).cast("double").alias("inertia"),
        ).limit(0)
    vcol = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    dists = F.array(*[similarity._sq_dist(vcol, c) for c in cents])
    assigned = valid.select(
        (F.array_position(dists, F.array_min(dists)) - 1)
        .cast("int")
        .alias("cluster"),
        F.round(F.array_min(dists), 6).alias("d2"),
    )
    return assigned.groupBy("cluster").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("d2"), 4).alias("inertia"),
    )


_CI_D2 = _d2_sql("e.v", "seeds.cv", "0", "len(e.v)")

CENTROID_INERTIA_SQL = f"""
WITH valid AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
  WHERE {_VEC_VALID_SQL}
),
seeds AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS c, v AS cv
  FROM (SELECT vec_id, v FROM valid ORDER BY vec_id LIMIT {_PQ_K})
),
assign AS (
  SELECT e.vec_id, seeds.c, ROUND({_CI_D2}, 6) AS d2,
    row_number() OVER (
      PARTITION BY e.vec_id ORDER BY {_CI_D2}, seeds.c
    ) AS rn
  FROM valid e, seeds
)
SELECT CAST(c AS INTEGER) AS cluster,
       CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(SUM(d2), 4) AS inertia
FROM assign WHERE rn = 1
GROUP BY c
"""

QUERIES["centroid_inertia_embeddings"] = centroid_inertia_embeddings
ORACLES["centroid_inertia_embeddings"] = CENTROID_INERTIA_SQL


# === lakehouse write paths: schema evolution, key-pruned delete, compaction ==


def versioned_table_schema_evolution_orders(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Additive schema evolution through the lakehouse path: create
    from orders (key, custkey), then upsert a frame carrying a NEW
    ``seg`` column for 1/4 of the keys plus synthetic inserts — old
    rows read back NULL-padded (parquet mergeSchema semantics), and
    the v0->v1 CDF classifies inserts vs updates across the evolved
    schema (changes() diffs the UNION of both snapshots' columns —
    the ADVICE r04 fix, driver-checked here).

    Every output is KEY-derived (membership and the new column's value
    are functions of the key), so duplicate-key payload ambiguity
    cannot leak in — the versioned_table_cdf oracle trick."""
    from nasa_asteroid_data_lakehouse_spark.lake.table import VersionedTable

    base = (
        read_table(spark, sf_dir, "orders")
        .where(F.col("o_orderkey").isNotNull())
        .select("o_orderkey", "o_custkey")
    )
    with query_scratch("ndl_vtevo_", sf_dir, "orders") as tmp:
        t = VersionedTable(spark, tmp, num_buckets=8)
        v0 = t.create(base, keys=["o_orderkey"])
        keys = base.select("o_orderkey").distinct()
        upsert = (
            keys.where(F.col("o_orderkey") % 4 == 0)
            .unionByName(
                # synthetic INSERT keys: negate (-key - 1) so they are
                # disjoint from the real keyspace at EVERY scale factor
                # (ADVICE r05: a fixed +10M offset collides with real
                # orderkeys, which reach 6M*sf, from sf>=2)
                keys.where(F.col("o_orderkey") % 9 == 0).select(
                    (-F.col("o_orderkey") - 1).alias("o_orderkey")
                )
            )
            .select(
                "o_orderkey",
                (F.col("o_orderkey") % 100).alias("o_custkey"),
                F.concat(F.lit("S"), (F.col("o_orderkey") % 3).cast("string"))
                .alias("seg"),
            )
        )
        v1 = t.upsert(upsert)
        snap = t.read()
        ch = t.changes(from_version=v0, to_version=v1)
        out = snap.agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.count(F.when(F.col("seg").isNull(), 1)).alias("n_nullpad"),
            F.count("seg").alias("n_with_seg"),
        ).crossJoin(
            ch.agg(
                F.count(
                    F.when(F.col("_change_type") == "insert", 1)
                ).alias("cdf_inserts"),
                # "rows the upsert changed": update_postimage plus
                # schema_add — a re-written row whose custkey already
                # equalled key % 100 differs ONLY in the added seg
                # column and classifies as schema_add (the r07
                # symmetric schema-evolution type; to the apply
                # algebra both are updates)
                F.count(
                    F.when(
                        F.col("_change_type").isin(
                            "update_postimage", "schema_add"
                        ),
                        1,
                    )
                ).alias("cdf_updates"),
            )
        )
        return out.localCheckpoint(eager=True)


VT_SCHEMA_EVOLUTION_SQL = """
WITH k AS (
  SELECT DISTINCT o_orderkey AS key FROM orders WHERE o_orderkey IS NOT NULL
),
up AS (SELECT key FROM k WHERE key % 4 = 0),
ins AS (SELECT -key - 1 AS key FROM k WHERE key % 9 = 0)
SELECT
  CAST((SELECT COUNT(*) FROM k) + (SELECT COUNT(*) FROM ins) AS BIGINT)
    AS n_rows,
  CAST((SELECT COUNT(*) FROM k) - (SELECT COUNT(*) FROM up) AS BIGINT)
    AS n_nullpad,
  CAST((SELECT COUNT(*) FROM up) + (SELECT COUNT(*) FROM ins) AS BIGINT)
    AS n_with_seg,
  CAST((SELECT COUNT(*) FROM ins) AS BIGINT) AS cdf_inserts,
  CAST((SELECT COUNT(*) FROM up) AS BIGINT) AS cdf_updates
"""

QUERIES["versioned_table_schema_evolution_orders"] = (
    versioned_table_schema_evolution_orders
)
ORACLES["versioned_table_schema_evolution_orders"] = VT_SCHEMA_EVOLUTION_SQL


def versioned_table_key_delete_orders(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Key-targeted DELETE through the pruned path (ADVICE r04 low,
    driver-checked): ``delete_where(key_values=...)`` computes the
    candidate buckets from the typed key hash — an O(|keys|) probe
    frame instead of the O(table) discovery scan — then rewrites only
    those buckets.  Outputs are key-derived (count + key sum of the
    delete CDF, survivor count)."""
    from nasa_asteroid_data_lakehouse_spark.lake.table import VersionedTable

    base = (
        read_table(spark, sf_dir, "orders")
        .where(F.col("o_orderkey").isNotNull())
        .select("o_orderkey", "o_custkey")
    )
    with query_scratch("ndl_vtkdel_", sf_dir, "orders") as tmp:
        t = VersionedTable(spark, tmp, num_buckets=8)
        v0 = t.create(base, keys=["o_orderkey"])
        targets = [
            int(r["o_orderkey"])
            for r in base.select("o_orderkey")
            .distinct()
            .where(F.col("o_orderkey") % 997 == 0)
            .collect()
        ]
        v1 = t.delete_where(
            F.col("o_orderkey") % 997 == 0,
            key_values=[(k,) for k in targets],
        )
        ch = t.changes(from_version=v0, to_version=v1)
        out = ch.where(F.col("_change_type") == "delete").agg(
            F.count(F.lit(1)).alias("n_deleted"),
            F.coalesce(F.sum("o_orderkey"), F.lit(0))
            .cast("bigint")
            .alias("deleted_key_sum"),
        ).crossJoin(
            t.read().agg(F.count(F.lit(1)).alias("n_remaining"))
        )
        return out.localCheckpoint(eager=True)


VT_KEY_DELETE_SQL = """
WITH k AS (
  SELECT DISTINCT o_orderkey AS key FROM orders WHERE o_orderkey IS NOT NULL
),
del AS (SELECT key FROM k WHERE key % 997 = 0)
SELECT CAST((SELECT COUNT(*) FROM del) AS BIGINT) AS n_deleted,
       CAST((SELECT COALESCE(SUM(key), 0) FROM del) AS BIGINT)
         AS deleted_key_sum,
       CAST((SELECT COUNT(*) FROM k) - (SELECT COUNT(*) FROM del) AS BIGINT)
         AS n_remaining
"""

QUERIES["versioned_table_key_delete_orders"] = versioned_table_key_delete_orders
ORACLES["versioned_table_key_delete_orders"] = VT_KEY_DELETE_SQL


def compaction_roundtrip_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-files maintenance end-to-end: create + two bucket-touching
    upserts accumulate multiple files per bucket; ``compact()``
    consolidates to one file per bucket WITHOUT changing data — pinned
    by the row count (key-derived), the post-compact max files per
    bucket (1 by contract), and an EMPTY compact CDF (0 changes).
    File-count deltas are hash-placement-dependent and deliberately
    not emitted (the oracle cannot evaluate xxhash64)."""
    from nasa_asteroid_data_lakehouse_spark.lake.table import VersionedTable

    base = (
        read_table(spark, sf_dir, "orders")
        .where(F.col("o_orderkey").isNotNull())
        .select("o_orderkey", "o_custkey")
    )
    with query_scratch("ndl_vtcomp_", sf_dir, "orders") as tmp:
        t = VersionedTable(spark, tmp, num_buckets=8)
        t.create(base, keys=["o_orderkey"])
        keys = base.select("o_orderkey").distinct()
        for mod in (5, 7):
            t.upsert(
                keys.where(F.col("o_orderkey") % mod == 0).select(
                    "o_orderkey",
                    (F.col("o_orderkey") % mod).alias("o_custkey"),
                )
            )
        v_pre = t.latest_version()
        v_post = t.compact(target_files_per_bucket=1)
        manifest = t._load_manifest(v_post)
        max_files = max(
            (len(fs) for fs in manifest["buckets"].values()), default=0
        )
        n_changes = (
            t.changes(from_version=v_pre, to_version=v_post).count()
            if v_post > v_pre
            else 0
        )
        out = t.read().agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.lit(max_files).cast("int").alias("max_files_per_bucket"),
            F.lit(n_changes).cast("bigint").alias("n_compact_changes"),
        )
        return out.localCheckpoint(eager=True)


COMPACTION_ROUNDTRIP_SQL = """
SELECT CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS n_rows,
       CASE WHEN COUNT(DISTINCT o_orderkey) > 0 THEN 1 ELSE 0 END
         AS max_files_per_bucket,
       CAST(0 AS BIGINT) AS n_compact_changes
FROM orders WHERE o_orderkey IS NOT NULL
"""

QUERIES["compaction_roundtrip_orders"] = compaction_roundtrip_orders
ORACLES["compaction_roundtrip_orders"] = COMPACTION_ROUNDTRIP_SQL


# === broadcast range join: overlapping promo windows =========================

_PROMOS = [
    ("launch95", "1995-03-01", "1996-02-28"),
    ("longtail", "1995-09-01", "1997-12-31"),
    ("y98", "1998-01-01", "1998-12-31"),
    ("millennium", "2000-06-01", "2001-06-30"),
]


def promo_window_join_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval (range) join: orders against 4 OVERLAPPING literal promo
    windows — overlap is what makes this a genuine range join (a
    width_bucket equi-rewrite cannot express multi-membership).  The
    promo dim is a bounded broadcast side, so the non-equi join is a
    BroadcastNestedLoopJoin over 4 rows — the sanctioned bounded-dim
    shape (at scale the dim stays tiny; the fact side streams).
    Finite-price filter per the NaN rule."""
    o = read_table(spark, sf_dir, "orders").where(
        finite(F.col("o_totalprice")) & F.col("o_orderdate").isNotNull()
    )
    from pyspark.sql.functions import broadcast

    promos = spark.createDataFrame(
        _PROMOS, "promo string, d_start string, d_end string"
    ).select(
        "promo",
        F.col("d_start").cast("date").alias("d_start"),
        F.col("d_end").cast("date").alias("d_end"),
    )
    j = o.join(
        broadcast(promos),
        (F.to_date("o_orderdate") >= F.col("d_start"))
        & (F.to_date("o_orderdate") <= F.col("d_end")),
    )
    return j.groupBy("promo").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("revenue"),
    )


_PROMO_VALUES = ", ".join(
    f"('{p}', DATE '{a}', DATE '{b}')" for p, a, b in _PROMOS
)

PROMO_WINDOW_JOIN_SQL = f"""
WITH promos(promo, d_start, d_end) AS (VALUES {_PROMO_VALUES}),
f AS (
  SELECT o_orderdate, o_totalprice FROM orders
  WHERE o_totalprice IS NOT NULL AND isfinite(o_totalprice)
    AND o_orderdate IS NOT NULL
)
SELECT p.promo, CAST(COUNT(*) AS BIGINT) AS n_orders,
       ROUND(SUM(f.o_totalprice), 2) AS revenue
FROM f JOIN promos p
  ON CAST(f.o_orderdate AS DATE) >= p.d_start
 AND CAST(f.o_orderdate AS DATE) <= p.d_end
GROUP BY p.promo
"""

QUERIES["promo_window_join_orders"] = promo_window_join_orders
ORACLES["promo_window_join_orders"] = PROMO_WINDOW_JOIN_SQL


# --- silhouette score under the seed quantizer -------------------------------


def silhouette_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simplified silhouette per cluster (centroid form: a = distance
    to own centroid, b = distance to the nearest OTHER centroid,
    s = (b-a)/max(a,b)) under the 8-seed quantizer — the
    separation-vs-cohesion gauge that complements inertia.

    Pure projection again: the k distances are one array; a and b are
    the two smallest after sort.  Both are lattice-rounded (1e-6)
    before the ratio so the two engines rank and divide identical
    inputs.  Mean silhouette aggregates per bounded cluster id."""
    emb = read_table(spark, sf_dir, "embeddings")
    valid = emb.where(similarity.vec_valid(F.col("embedding")))
    cents = similarity.seed_centroids(emb, _PQ_K)
    if not cents:
        return valid.select(
            F.lit(None).cast("int").alias("cluster"),
            F.lit(None).cast("bigint").alias("n"),
            F.lit(None).cast("double").alias("mean_silhouette"),
        ).limit(0)
    vcol = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    dists = F.array(*[similarity._sq_dist(vcol, c) for c in cents])
    srt = F.array_sort(dists)
    a = F.round(F.element_at(srt, 1), 6)
    # try_element_at: a single-centroid quantizer (one valid vector)
    # has no "nearest other" — b and s degrade to NULL on both engines
    b = F.round(F.try_element_at(srt, F.lit(2)), 6)
    s = F.round(F.try_divide(b - a, F.greatest(a, b)), 6)
    assigned = valid.select(
        (F.array_position(dists, F.array_min(dists)) - 1)
        .cast("int")
        .alias("cluster"),
        s.alias("s"),
    )
    return assigned.groupBy("cluster").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg("s"), 6).alias("mean_silhouette"),
    )


SILHOUETTE_SQL = f"""
WITH valid AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
  WHERE {_VEC_VALID_SQL}
),
seeds AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS c, v AS cv
  FROM (SELECT vec_id, v FROM valid ORDER BY vec_id LIMIT {_PQ_K})
),
assign AS (
  SELECT e.vec_id, seeds.c, {_CI_D2} AS d2,
    row_number() OVER (
      PARTITION BY e.vec_id ORDER BY {_CI_D2}, seeds.c
    ) AS rn
  FROM valid e, seeds
),
ab AS (
  SELECT vec_id,
         MAX(CASE WHEN rn = 1 THEN c END) AS cluster,
         ROUND(MAX(CASE WHEN rn = 1 THEN d2 END), 6) AS a,
         ROUND(MAX(CASE WHEN rn = 2 THEN d2 END), 6) AS b
  FROM assign WHERE rn <= 2 GROUP BY vec_id
)
SELECT CAST(cluster AS INTEGER) AS cluster,
       CAST(COUNT(*) AS BIGINT) AS n,
       ROUND(AVG(ROUND((b - a) / NULLIF(GREATEST(a, b), 0.0), 6)), 6)
         AS mean_silhouette
FROM ab GROUP BY cluster
"""

QUERIES["silhouette_embeddings"] = silhouette_embeddings
ORACLES["silhouette_embeddings"] = SILHOUETTE_SQL


# --- label balance -----------------------------------------------------------


def label_balance_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class-balance census of the embedding store: per label (NULL is
    a real class — unlabeled rows), row count, corpus share, how many
    carry a valid vector, and the mean norm of those vectors.  One
    hash aggregate on the bounded label domain; the grand total is a
    bounded driver-side scalar."""
    emb = read_table(spark, sf_dir, "embeddings")
    total = emb.count()
    valid = similarity.vec_valid(F.col("embedding"))
    return emb.groupBy("label").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(
            F.try_divide(F.count(F.lit(1)), F.lit(total).cast("bigint")), 6
        ).alias("share"),
        F.count(F.when(valid, 1)).alias("n_valid_vec"),
        F.round(
            F.avg(
                F.when(valid, similarity.norm(
                    F.transform(F.col("embedding"), lambda x: x.cast("double"))
                ))
            ),
            6,
        ).alias("mean_norm"),
    )


LABEL_BALANCE_SQL = f"""
SELECT label, CAST(COUNT(*) AS BIGINT) AS n,
  ROUND(COUNT(*) / NULLIF((SELECT COUNT(*) FROM embeddings), 0), 6) AS share,
  CAST(COUNT(*) FILTER ({_VEC_VALID_SQL}) AS BIGINT) AS n_valid_vec,
  ROUND(AVG(CASE WHEN {_VEC_VALID_SQL}
        THEN sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
        END), 6) AS mean_norm
FROM embeddings GROUP BY label
"""

QUERIES["label_balance_embeddings"] = label_balance_embeddings
ORACLES["label_balance_embeddings"] = LABEL_BALANCE_SQL


# --- leading-dimension covariance --------------------------------------------

_COV_DIMS = 8


def dim_covariance_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Covariance/correlation of the first 8 embedding dimensions (28
    unordered pairs) — the redundancy screen before dimension
    truncation (a high |corr| pair means truncation is cheap).

    MAP-SIDE pair expansion: all 28 (i, j) pair products are fixed
    projection expressions per vector feeding partial aggregation —
    zero data shuffle, 28 partial rows per partition.  (The original
    self-joined the posexploded corpus on vec_id — a full 2x corpus
    shuffle that the 1M-vector probe showed dominating the plan; the
    r06 PCA queries hit the same wall and share this shape now.)
    Ragged vectors contribute only pairs with j < len(v), exactly like
    the oracle's LEAST(len, dims) unnest."""
    emb = read_table(spark, sf_dir, "embeddings").where(
        similarity.vec_valid(F.col("embedding"))
    )
    vecs = emb.select(
        F.slice(
            F.transform(F.col("embedding"), lambda x: x.cast("double")),
            1,
            _COV_DIMS,
        ).alias("v")
    ).select("v", F.size("v").alias("sz"))
    pair_structs = [
        F.struct(
            F.lit(i).cast("bigint").alias("dim_i"),
            F.lit(j).cast("bigint").alias("dim_j"),
            F.col("v")[i].alias("xi"),
            F.col("v")[j].alias("xj"),
        )
        for i in range(_COV_DIMS)
        for j in range(i + 1, _COV_DIMS)
    ]
    ex = (
        vecs.select(F.explode(F.array(*pair_structs)).alias("p"), "sz")
        .where(F.col("p.dim_j") < F.col("sz"))
        .select("p.*")
    )
    g = ex.groupBy("dim_i", "dim_j").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("xi").alias("sx"),
        F.sum("xj").alias("sy"),
        F.sum(F.col("xi") * F.col("xj")).alias("sxy"),
        F.sum(F.col("xi") * F.col("xi")).alias("sxx"),
        F.sum(F.col("xj") * F.col("xj")).alias("syy"),
    )
    n = F.col("n")
    cov = F.try_divide(
        F.col("sxy") - F.col("sx") * F.col("sy") / n, n - 1
    )
    var_i = F.try_divide(
        F.col("sxx") - F.col("sx") * F.col("sx") / n, n - 1
    )
    var_j = F.try_divide(
        F.col("syy") - F.col("sy") * F.col("sy") / n, n - 1
    )
    # Lattice-round the variances before the ratio: on degenerate
    # (all-identical) input the sum identities leave ~1e-12 residuals
    # that differ per engine; rounded to 0 they make corr NULL on both
    # sides instead of dividing by different near-zeros.  `+ 0.0`
    # normalizes IEEE -0.0 (renders differently under exact hashing).
    var_i_r = F.round(var_i, 9)
    var_j_r = F.round(var_j, 9)
    return g.select(
        "dim_i",
        "dim_j",
        n.alias("n"),
        (F.round(cov, 6) + F.lit(0.0)).alias("cov"),
        (F.round(F.try_divide(cov, F.sqrt(var_i_r * var_j_r)), 6)
         + F.lit(0.0)).alias("corr"),
    )


DIM_COVARIANCE_SQL = f"""
WITH v AS (SELECT embedding::DOUBLE[] AS e FROM embeddings
           WHERE {_VEC_VALID_SQL}),
ex AS (
  -- ROW-WISE pair expansion (two lateral unnests over the same row),
  -- mirroring the engine's map-side shape: a self-join on vec_id
  -- would quadratically cross-multiply rows under duplicate ids
  -- (the --const/--dup catch when the engine moved off the join)
  SELECT CAST(g.i - 1 AS BIGINT) AS dim_i,
         CAST(h.j - 1 AS BIGINT) AS dim_j,
         v.e[g.i] AS xi, v.e[h.j] AS xj
  FROM v,
       UNNEST(range(1, LEAST(len(v.e), {_COV_DIMS}) + 1)) AS g(i),
       UNNEST(range(1, LEAST(len(v.e), {_COV_DIMS}) + 1)) AS h(j)
  WHERE h.j > g.i
),
g AS (
  SELECT dim_i, dim_j, COUNT(*) AS n,
         SUM(xi) AS sx, SUM(xj) AS sy, SUM(xi * xj) AS sxy,
         SUM(xi * xi) AS sxx, SUM(xj * xj) AS syy
  FROM ex GROUP BY dim_i, dim_j
)
SELECT dim_i, dim_j, CAST(n AS BIGINT) AS n,
  ROUND((sxy - sx * sy / n) / NULLIF(n - 1, 0), 6) + 0.0 AS cov,
  ROUND(((sxy - sx * sy / n) / NULLIF(n - 1, 0))
        / NULLIF(sqrt(ROUND((sxx - sx * sx / n) / NULLIF(n - 1, 0), 9)
                      * ROUND((syy - sy * sy / n) / NULLIF(n - 1, 0), 9)),
                 0.0), 6) + 0.0
    AS corr
FROM g
"""

QUERIES["dim_covariance_embeddings"] = dim_covariance_embeddings
ORACLES["dim_covariance_embeddings"] = DIM_COVARIANCE_SQL


# === customer / behavioral segmentation ======================================


def rfm_segments_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation: per-customer recency / frequency / monetary,
    median-split into 8 segments, segment census.  The split uses
    FIXED global thresholds (three bounded driver-side scalars), not a
    per-row NTILE — the unpartitioned-rank-all cliff documented in
    BASELINE.md is exactly what this avoids at scale.  Finite-price
    and non-NULL customer/date filters per repo contract."""
    o = read_table(spark, sf_dir, "orders").where(
        F.col("o_custkey").isNotNull()
        & F.col("o_orderdate").isNotNull()
        & finite(F.col("o_totalprice"))
    )
    maxd = o.agg(F.max(F.to_date("o_orderdate")).alias("d")).collect()[0]["d"]
    per_cust = o.groupBy("o_custkey").agg(
        F.datediff(F.lit(maxd), F.max(F.to_date("o_orderdate"))).alias(
            "recency"
        ),
        F.count(F.lit(1)).alias("freq"),
        F.round(F.sum("o_totalprice"), 2).alias("monetary"),
    )
    th = per_cust.agg(
        F.expr("percentile(recency, 0.5)").alias("rm"),
        F.expr("percentile(freq, 0.5)").alias("fm"),
        F.expr("percentile(monetary, 0.5)").alias("mm"),
    ).collect()[0]
    seg = F.concat(
        F.when(F.col("recency") <= F.lit(th["rm"]), F.lit("R1")).otherwise(
            F.lit("R0")
        ),
        F.when(F.col("freq") >= F.lit(th["fm"]), F.lit("F1")).otherwise(
            F.lit("F0")
        ),
        F.when(F.col("monetary") >= F.lit(th["mm"]), F.lit("M1")).otherwise(
            F.lit("M0")
        ),
    )
    return per_cust.groupBy(seg.alias("segment")).agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.round(F.avg("monetary"), 2).alias("avg_monetary"),
    )


RFM_SEGMENTS_SQL = """
WITH f AS (
  SELECT o_custkey, CAST(o_orderdate AS DATE) AS d, o_totalprice
  FROM orders
  WHERE o_custkey IS NOT NULL AND o_orderdate IS NOT NULL
    AND o_totalprice IS NOT NULL AND isfinite(o_totalprice)
),
pc AS (
  SELECT o_custkey,
         date_diff('day', MAX(d), (SELECT MAX(d) FROM f)) AS recency,
         COUNT(*) AS freq,
         ROUND(SUM(o_totalprice), 2) AS monetary
  FROM f GROUP BY o_custkey
),
th AS (
  SELECT quantile_cont(recency, 0.5) AS rm,
         quantile_cont(freq, 0.5) AS fm,
         quantile_cont(monetary, 0.5) AS mm
  FROM pc
)
SELECT (CASE WHEN pc.recency <= th.rm THEN 'R1' ELSE 'R0' END
        || CASE WHEN pc.freq >= th.fm THEN 'F1' ELSE 'F0' END
        || CASE WHEN pc.monetary >= th.mm THEN 'M1' ELSE 'M0' END)
         AS segment,
       CAST(COUNT(*) AS BIGINT) AS n_customers,
       ROUND(AVG(pc.monetary), 2) AS avg_monetary
FROM pc, th
GROUP BY segment
"""

QUERIES["rfm_segments_orders"] = rfm_segments_orders
ORACLES["rfm_segments_orders"] = RFM_SEGMENTS_SQL


def type_cooccurrence_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-type co-occurrence at the user grain: for each unordered
    type pair, how many users emit BOTH, plus the Jaccard overlap of
    the two user sets — the feature-correlation screen for behavioral
    models.  Distinct (user, type) first (the shuffle shrinks to the
    user-type lattice), self-join on user, bounded pair aggregate,
    per-type totals broadcast back."""
    from pyspark.sql.functions import broadcast

    ut = (
        read_table(spark, sf_dir, "events")
        .where(F.col("user_id").isNotNull() & F.col("event_type").isNotNull())
        .select("user_id", "event_type")
        .distinct()
    )
    per_type = ut.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_t"))
    a, b = ut.alias("a"), ut.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.event_type") < F.col("b.event_type")),
        )
        .groupBy(
            F.col("a.event_type").alias("type_a"),
            F.col("b.event_type").alias("type_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_both"))
    )
    na = per_type.select(
        F.col("event_type").alias("type_a"), F.col("n_t").alias("n_a")
    )
    nb = per_type.select(
        F.col("event_type").alias("type_b"), F.col("n_t").alias("n_b")
    )
    return (
        pairs.join(broadcast(na), "type_a")
        .join(broadcast(nb), "type_b")
        .select(
            "type_a",
            "type_b",
            "n_both",
            "n_a",
            "n_b",
            F.round(
                F.try_divide(
                    F.col("n_both"),
                    F.col("n_a") + F.col("n_b") - F.col("n_both"),
                ),
                6,
            ).alias("jaccard"),
        )
    )


TYPE_COOCCURRENCE_SQL = """
WITH ut AS (
  SELECT DISTINCT user_id, event_type FROM events
  WHERE user_id IS NOT NULL AND event_type IS NOT NULL
),
per_type AS (
  SELECT event_type, COUNT(*) AS n_t FROM ut GROUP BY event_type
),
pairs AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b,
         COUNT(*) AS n_both
  FROM ut a JOIN ut b
    ON a.user_id = b.user_id AND a.event_type < b.event_type
  GROUP BY a.event_type, b.event_type
)
SELECT p.type_a, p.type_b,
       CAST(p.n_both AS BIGINT) AS n_both,
       CAST(na.n_t AS BIGINT) AS n_a,
       CAST(nb.n_t AS BIGINT) AS n_b,
       ROUND(p.n_both / NULLIF(na.n_t + nb.n_t - p.n_both, 0), 6) AS jaccard
FROM pairs p
JOIN per_type na ON na.event_type = p.type_a
JOIN per_type nb ON nb.event_type = p.type_b
"""

QUERIES["type_cooccurrence_events"] = type_cooccurrence_events
ORACLES["type_cooccurrence_events"] = TYPE_COOCCURRENCE_SQL


# --- PQ asymmetric-distance recall (completes the recall quartet) ------------

_ADC_ANCHOR_MAX = 10
_ADC_K = 10


def pq_adc_recall_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of PQ-ADC inner-product search vs the exact ranking
    (llm/similarity.pq_adc_recall) — the fourth member of the measured
    recall family (LSH: ann_recall, int8: quantized_recall, IVF:
    ivf_recall, PQ: here)."""
    emb = read_table(spark, sf_dir, "embeddings")
    # the oracle's seeds come from its vec_id IS NOT NULL scan
    cents = similarity.seed_centroids(emb.where(F.col("vec_id").isNotNull()), _PQ_K)
    if not cents:
        return emb.limit(0).select(
            F.col("vec_id").alias("anchor_id"),
            F.lit(None).cast("bigint").alias("n_exact"),
            F.lit(None).cast("bigint").alias("n_hits"),
            F.lit(None).cast("double").alias("recall_at_k"),
        )
    return similarity.pq_adc_recall(
        emb,
        cents,
        _pq_geometry(len(cents[0])),
        anchor_max_id=_ADC_ANCHOR_MAX,
        k=_ADC_K,
    )


def _adc_term_sql(s: int) -> str:
    lo_a, hi_a = _pq_sub_bounds_sql(s, "a.av")
    return (
        f"COALESCE(list_dot_product("
        f"a.av[{lo_a} + 1:{hi_a}], s2.cv[{lo_a} + 1:{hi_a}]), 0.0)"
    )


PQ_ADC_RECALL_SQL = f"""
WITH valid AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
  WHERE vec_id IS NOT NULL AND {_VEC_VALID_SQL}
),
seeds AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS c, v AS cv
  FROM (SELECT vec_id, v FROM valid ORDER BY vec_id LIMIT {_PQ_K})
),
assign AS (
  SELECT e.vec_id, sub.s, seeds.c,
    row_number() OVER (
      PARTITION BY e.vec_id, sub.s
      ORDER BY
        CASE sub.s
          {" ".join(
              f"WHEN {sp} THEN " + _d2_sql(
                  "e.v", "seeds.cv", _pq_sub_bounds_sql(sp)[0],
                  _pq_sub_bounds_sql(sp)[1]
              )
              for sp in range(_PQ_M)
          )}
        END,
        seeds.c
    ) AS rn
  FROM valid e, (SELECT unnest(range({_PQ_M})) AS s) sub, seeds
),
codes AS (SELECT vec_id, s, c FROM assign WHERE rn = 1),
anchors AS (
  SELECT vec_id AS aid, v AS av FROM valid WHERE vec_id < {_ADC_ANCHOR_MAX}
),
terms AS (
  SELECT a.aid, cd.vec_id AS nbr, cd.s,
    CASE cd.s
      {" ".join(f"WHEN {sp} THEN " + _adc_term_sql(sp) for sp in range(_PQ_M))}
    END AS term
  FROM anchors a
  JOIN codes cd ON cd.vec_id != a.aid
  JOIN seeds s2 ON s2.c = cd.c
),
adc AS (
  SELECT aid, nbr,
    {" + ".join(
        f"COALESCE(MAX(CASE WHEN s = {sp} THEN term END), 0.0)"
        for sp in range(_PQ_M)
    )} AS adc_score
  FROM terms GROUP BY aid, nbr
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
    FROM exact) WHERE rk <= {_ADC_K}
),
adc_top AS (
  SELECT aid, nbr FROM (
    SELECT aid, nbr, row_number() OVER (
      PARTITION BY aid ORDER BY adc_score DESC, nbr ASC) AS rk
    FROM adc) WHERE rk <= {_ADC_K}
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
             / LEAST({_ADC_K}, n_ex.n_exact), 6) AS recall_at_k
FROM n_ex LEFT JOIN hits ON hits.aid = n_ex.aid
"""

QUERIES["pq_adc_recall_embeddings"] = pq_adc_recall_embeddings
ORACLES["pq_adc_recall_embeddings"] = PQ_ADC_RECALL_SQL


# === corpus distribution profiles ============================================


def doc_length_histogram_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-length histogram per language: 100-char buckets capped
    at 20 (exact integer arithmetic — no float log boundaries), NULL
    text a visible NULL-bucket group, NULL lang a real group.  One
    projection + hash aggregate on the bounded (lang, bucket)
    lattice."""
    docs = read_table(spark, sf_dir, "documents").select("lang", "text")
    # floor, not cast: DuckDB CAST(double AS BIGINT) ROUNDS where
    # Spark's cast truncates — floor() agrees on both engines
    bucket = F.least(
        F.floor(F.length("text") / F.lit(100)), F.lit(20).cast("bigint")
    )
    return docs.groupBy(
        "lang", bucket.alias("len_bucket")
    ).agg(F.count(F.lit(1)).alias("n_docs"))


DOC_LENGTH_HISTOGRAM_SQL = """
SELECT lang,
       LEAST(CAST(floor(length(text) / 100) AS BIGINT), 20) AS len_bucket,
       CAST(COUNT(*) AS BIGINT) AS n_docs
FROM documents
GROUP BY lang, LEAST(CAST(floor(length(text) / 100) AS BIGINT), 20)
"""

QUERIES["doc_length_histogram_documents"] = doc_length_histogram_documents
ORACLES["doc_length_histogram_documents"] = DOC_LENGTH_HISTOGRAM_SQL


def token_length_distribution_documents(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Token-length distribution (capped at 15) over the normalized
    corpus — the tokenizer-design input (where does the subword
    budget go).  Explode + hash aggregate on the bounded length
    domain."""
    docs = read_table(spark, sf_dir, "documents").select("text")
    toks = docs.select(
        F.explode(text.tokens(text.normalized_text("text"))).alias("tok")
    )
    return toks.groupBy(
        F.least(F.length("tok").cast("bigint"), F.lit(15).cast("bigint")).alias(
            "tok_len"
        )
    ).agg(F.count(F.lit(1)).alias("n_tokens"))


TOKEN_LENGTH_DISTRIBUTION_SQL = f"""
WITH toks AS (
  SELECT unnest({_TOKS}) AS tok FROM documents WHERE text IS NOT NULL
)
SELECT LEAST(CAST(length(tok) AS BIGINT), 15) AS tok_len,
       CAST(COUNT(*) AS BIGINT) AS n_tokens
FROM toks GROUP BY LEAST(CAST(length(tok) AS BIGINT), 15)
"""

QUERIES["token_length_distribution_documents"] = (
    token_length_distribution_documents
)
ORACLES["token_length_distribution_documents"] = TOKEN_LENGTH_DISTRIBUTION_SQL


def numeric_token_stats_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Numeric-token share per source (all-digit tokens / total) — a
    boilerplate/table-content signal.  NULL source is a real group;
    NULL text contributes no tokens."""
    docs = read_table(spark, sf_dir, "documents").select("source", "text")
    toks = docs.select(
        "source",
        F.explode(text.tokens(text.normalized_text("text"))).alias("tok"),
    )
    is_num = F.col("tok").rlike("^[0-9]+$")
    return toks.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.count(F.when(is_num, 1)).alias("n_numeric"),
        F.round(
            F.try_divide(F.count(F.when(is_num, 1)), F.count(F.lit(1))), 6
        ).alias("numeric_ratio"),
    )


NUMERIC_TOKEN_STATS_SQL = f"""
WITH toks AS (
  SELECT source, unnest({_TOKS}) AS tok
  FROM documents WHERE text IS NOT NULL
)
SELECT source,
       CAST(COUNT(*) AS BIGINT) AS n_tokens,
       CAST(COUNT(*) FILTER (regexp_full_match(tok, '[0-9]+')) AS BIGINT)
         AS n_numeric,
       ROUND(COUNT(*) FILTER (regexp_full_match(tok, '[0-9]+'))
             / NULLIF(COUNT(*), 0), 6) AS numeric_ratio
FROM toks GROUP BY source
"""

QUERIES["numeric_token_stats_documents"] = numeric_token_stats_documents
ORACLES["numeric_token_stats_documents"] = NUMERIC_TOKEN_STATS_SQL


# --- pointwise mutual information over adjacent bigrams ----------------------

_PMI_MIN_COUNT = 5
_PMI_TOP = 20


def bigram_pmi_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 adjacent bigrams by PMI (count >= 5) — collocation
    mining on top of the BPE pair-count machinery
    (llm/tokenizer.pair_counts_from_tokens).  Two hash aggregates
    (pairs, unigrams) + two equi-joins keyed on the token; the corpus
    totals are bounded driver-side scalars.  Ranking orders by the
    ROUNDED score with the pair as tie-break (float-order-safe)."""
    from nasa_asteroid_data_lakehouse_spark.llm import tokenizer

    docs = read_table(spark, sf_dir, "documents").select("text")
    toks = docs.select(
        text.tokens(text.normalized_text("text")).alias("toks")
    )
    pairs = tokenizer.pair_counts_from_tokens(toks)
    uni = toks.select(F.explode("toks").alias("tok")).groupBy("tok").agg(
        F.count(F.lit(1)).alias("c")
    )
    totals = pairs.agg(
        F.coalesce(F.sum("pair_count"), F.lit(0)).alias("np")
    ).collect()[0]
    n_pairs = int(totals["np"])
    n_toks = int(
        uni.agg(F.coalesce(F.sum("c"), F.lit(0)).alias("nt")).collect()[0]["nt"]
    )
    if n_pairs == 0 or n_toks == 0:
        return pairs.limit(0).select(
            "a", "b", F.col("pair_count"),
            F.lit(None).cast("double").alias("pmi"),
        )
    ua = uni.select(F.col("tok").alias("a"), F.col("c").alias("ca"))
    ub = uni.select(F.col("tok").alias("b"), F.col("c").alias("cb"))
    scored = (
        pairs.where(F.col("pair_count") >= _PMI_MIN_COUNT)
        .join(ua, "a")
        .join(ub, "b")
        .select(
            "a",
            "b",
            "pair_count",
            F.round(
                F.log(
                    (F.col("pair_count") / F.lit(float(n_pairs)))
                    / (
                        (F.col("ca") / F.lit(float(n_toks)))
                        * (F.col("cb") / F.lit(float(n_toks)))
                    )
                ),
                6,
            ).alias("pmi"),
        )
    )
    return scored.orderBy(F.desc("pmi"), "a", "b").limit(_PMI_TOP)


BIGRAM_PMI_SQL = f"""
WITH toks AS (
  SELECT {_TOKS} AS t FROM documents WHERE text IS NOT NULL
),
prs AS (
  SELECT t[i] AS a, t[i + 1] AS b
  FROM toks, UNNEST(range(1, len(t))) AS g(i)
  WHERE len(t) >= 2
),
pc AS (SELECT a, b, COUNT(*) AS pair_count FROM prs GROUP BY a, b),
uni AS (
  SELECT unnest(t) AS tok FROM toks
),
uc AS (SELECT tok, COUNT(*) AS c FROM uni GROUP BY tok),
np AS (SELECT CAST(COALESCE(SUM(pair_count), 0) AS DOUBLE) AS v FROM pc),
nt AS (SELECT CAST(COALESCE(SUM(c), 0) AS DOUBLE) AS v FROM uc),
scored AS (
  SELECT pc.a, pc.b, pc.pair_count,
    ROUND(ln((pc.pair_count / np.v)
             / ((ua.c / nt.v) * (ub.c / nt.v))), 6) AS pmi
  FROM pc
  JOIN uc ua ON ua.tok = pc.a
  JOIN uc ub ON ub.tok = pc.b, np, nt
  WHERE pc.pair_count >= {_PMI_MIN_COUNT}
)
SELECT a, b, CAST(pair_count AS BIGINT) AS pair_count, pmi
FROM scored ORDER BY pmi DESC, a, b LIMIT {_PMI_TOP}
"""

QUERIES["bigram_pmi_documents"] = bigram_pmi_documents
ORACLES["bigram_pmi_documents"] = BIGRAM_PMI_SQL


# --- Heaps-law vocabulary growth ---------------------------------------------

_VG_BUCKETS = 20


def vocab_growth_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary growth (Heaps' law) over 20 id-range buckets: tokens
    FIRST seen in each bucket, plus the running vocabulary size.  The
    min-id reduction runs on the token shuffle key; the cumulative
    window covers only the 20-row bucket table (never the corpus).
    Bucket boundaries are exact integer arithmetic off the max id (a
    bounded driver scalar)."""
    docs = read_table(spark, sf_dir, "documents").where(
        F.col("doc_id").isNotNull()
    )
    mx = docs.agg(F.max("doc_id").alias("m")).collect()[0]["m"]
    if mx is None:
        return spark.createDataFrame(
            [], "bucket bigint, new_tokens bigint, cum_vocab bigint"
        )
    toks = docs.select(
        "doc_id",
        F.explode(text.tokens(text.normalized_text("text"))).alias("tok"),
    )
    first = toks.groupBy("tok").agg(F.min("doc_id").alias("first_doc"))
    per_bucket = first.groupBy(
        F.least(
            F.floor(F.col("first_doc") * _VG_BUCKETS / F.lit(int(mx) + 1)),
            F.lit(_VG_BUCKETS - 1).cast("bigint"),
        ).alias("bucket")
    ).agg(F.count(F.lit(1)).alias("new_tokens"))
    w = Window.orderBy("bucket").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return per_bucket.select(
        "bucket",
        "new_tokens",
        F.sum("new_tokens").over(w).alias("cum_vocab"),
    )


VOCAB_GROWTH_SQL = f"""
WITH toks AS (
  SELECT doc_id, unnest({_TOKS}) AS tok
  FROM documents WHERE text IS NOT NULL AND doc_id IS NOT NULL
),
first AS (SELECT tok, MIN(doc_id) AS first_doc FROM toks GROUP BY tok),
mx AS (SELECT MAX(doc_id) AS m FROM documents WHERE doc_id IS NOT NULL),
per_bucket AS (
  SELECT LEAST(CAST(floor(first.first_doc * {_VG_BUCKETS} / (mx.m + 1))
                    AS BIGINT),
               {_VG_BUCKETS - 1}) AS bucket,
         COUNT(*) AS new_tokens
  FROM first, mx
  GROUP BY 1
)
SELECT bucket, CAST(new_tokens AS BIGINT) AS new_tokens,
       CAST(SUM(new_tokens) OVER (
         ORDER BY bucket ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_vocab
FROM per_bucket
"""

QUERIES["vocab_growth_documents"] = vocab_growth_documents
ORACLES["vocab_growth_documents"] = VOCAB_GROWTH_SQL


# === order cadence and lineitem pricing ======================================


def order_gap_summary_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-order gap summary: per customer, days between consecutive
    orders (lag window over the customer partition, date-ordered with
    the order key as tie-break), reduced to one bounded row (count,
    median, p90, mean).  Gaps are exact day integers."""
    o = read_table(spark, sf_dir, "orders").where(
        F.col("o_custkey").isNotNull() & F.col("o_orderdate").isNotNull()
    )
    w = Window.partitionBy("o_custkey").orderBy(
        F.to_date("o_orderdate"), "o_orderkey"
    )
    g = o.select(
        F.datediff(
            F.to_date("o_orderdate"), F.lag(F.to_date("o_orderdate")).over(w)
        ).alias("gap")
    )
    return g.agg(
        F.count("gap").alias("n_gaps"),
        F.round(F.expr("percentile(gap, 0.5)"), 1).alias("p50_days"),
        F.round(F.expr("percentile(gap, 0.9)"), 1).alias("p90_days"),
        F.round(F.avg("gap"), 4).alias("mean_days"),
    )


ORDER_GAP_SUMMARY_SQL = """
WITH g AS (
  SELECT date_diff('day',
           lag(CAST(o_orderdate AS DATE)) OVER (
             PARTITION BY o_custkey
             ORDER BY CAST(o_orderdate AS DATE), o_orderkey),
           CAST(o_orderdate AS DATE)) AS gap
  FROM orders WHERE o_custkey IS NOT NULL AND o_orderdate IS NOT NULL
)
SELECT CAST(COUNT(gap) AS BIGINT) AS n_gaps,
       ROUND(quantile_cont(gap, 0.5), 1) AS p50_days,
       ROUND(quantile_cont(gap, 0.9), 1) AS p90_days,
       ROUND(AVG(gap), 4) AS mean_days
FROM g
"""

QUERIES["order_gap_summary_orders"] = order_gap_summary_orders
ORACLES["order_gap_summary_orders"] = ORDER_GAP_SUMMARY_SQL


def discount_band_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue and volume per discount band (exact integer cents-pct
    band — no float group keys), the pricing-curve profile.  NULL
    discount is a visible NULL band; finite-price filter per the NaN
    rule.  One projection + hash aggregate on the bounded band
    domain."""
    li = read_table(spark, sf_dir, "lineitem").where(
        finite(F.col("l_extendedprice"))
    )
    # cast metrics to DOUBLE up front: a DECIMAL-typed quantity column
    # would otherwise surface as Decimal in avg() while the oracle
    # returns DOUBLE (type, not value, divergence)
    price = F.col("l_extendedprice").cast("double")
    disc = F.col("l_discount").cast("double")
    qty = F.col("l_quantity").cast("double")
    band = F.round(disc * 100).cast("int")
    return li.groupBy(band.alias("discount_pct")).agg(
        F.count(F.lit(1)).alias("n_items"),
        F.round(F.sum(price * (1 - disc)), 2).alias("net_revenue"),
        F.round(F.avg(qty), 4).alias("avg_quantity"),
    )


DISCOUNT_BAND_SQL = """
SELECT CAST(ROUND(CAST(l_discount AS DOUBLE) * 100) AS INTEGER) AS discount_pct,
       CAST(COUNT(*) AS BIGINT) AS n_items,
       ROUND(SUM(CAST(l_extendedprice AS DOUBLE)
                 * (1 - CAST(l_discount AS DOUBLE))), 2) AS net_revenue,
       ROUND(AVG(CAST(l_quantity AS DOUBLE)), 4) AS avg_quantity
FROM lineitem
WHERE l_extendedprice IS NOT NULL AND isfinite(CAST(l_extendedprice AS DOUBLE))
GROUP BY CAST(ROUND(CAST(l_discount AS DOUBLE) * 100) AS INTEGER)
"""

QUERIES["discount_band_lineitem"] = discount_band_lineitem
ORACLES["discount_band_lineitem"] = DISCOUNT_BAND_SQL


# === k-core peel over the near-dup graph =====================================


def kcore_peel_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-round k-core (k=2) peel of the MinHash-LSH near-dup graph
    (operators/graph.kcore_peel over the session-shared verified pair
    table): surviving node/edge counts — the dense-boilerplate-cluster
    detector (cliques survive, coincidental chains dissolve)."""
    from nasa_asteroid_data_lakehouse_spark.operators.graph import kcore_peel
    from nasa_asteroid_data_lakehouse_spark.plans.llm_queries import (
        _CLUSTER_THRESHOLD,
        _lsh_pairs_cached,
    )

    pairs = _lsh_pairs_cached(spark, sf_dir, _CLUSTER_THRESHOLD)
    return kcore_peel(pairs, src="id_a", dst="id_b", k=2, iters=3)


def _kcore_sql() -> str:
    from nasa_asteroid_data_lakehouse_spark.plans.llm_queries import (
        _CLUSTER_THRESHOLD,
        _minhash_lsh_sql,
    )

    peels = []
    prev = "c0"
    for i in (1, 2, 3):
        peels.append(f"""
d{i} AS (
  SELECT node, COUNT(*) AS deg FROM (
    SELECT lo AS node FROM {prev} UNION ALL SELECT hi FROM {prev})
  GROUP BY node
),
k{i} AS (SELECT node FROM d{i} WHERE deg >= 2),
c{i} AS (
  SELECT e.lo, e.hi FROM {prev} e
  JOIN k{i} a ON a.node = e.lo
  JOIN k{i} b ON b.node = e.hi
)""")
        prev = f"c{i}"
    return f"""
WITH pairs AS ({_minhash_lsh_sql(_CLUSTER_THRESHOLD)}),
c0 AS (
  SELECT DISTINCT LEAST(id_a, id_b) AS lo, GREATEST(id_a, id_b) AS hi
  FROM pairs WHERE id_a <> id_b
),{",".join(peels)}
SELECT
  CAST((SELECT COUNT(DISTINCT node) FROM (
     SELECT lo AS node FROM c3 UNION ALL SELECT hi FROM c3)) AS BIGINT)
    AS n_nodes,
  CAST((SELECT COUNT(*) FROM c3) AS BIGINT) AS n_edges
"""


QUERIES["kcore_peel_documents"] = kcore_peel_documents
ORACLES["kcore_peel_documents"] = _kcore_sql()
