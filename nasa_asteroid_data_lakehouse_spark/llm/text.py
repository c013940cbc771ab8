"""Text analysis for large-scale training-data pipelines.

Everything here is built-in Column algebra (JVM-side, whole-stage
codegen) — no Python UDFs in the hot path.  At 100 TB these run as one
narrow projection over the documents table: no shuffle, no
materialization, fully pushdown-compatible.

Operators: tokenization (whitespace + BPE-ish regex), quality scoring
(length/punct/stopword ratios), language ID (stopword + script
heuristic), document fingerprinting (normalized content hash).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Tiny per-language stopword inventories: enough signal for a cheap
# first-pass router; a real pipeline would swap in fastText & co. via
# the same column interface.
STOPWORDS = {
    "en": ("the", "a", "of", "and", "to", "is", "in", "it", "you", "that"),
    "fr": ("le", "la", "les", "et", "de", "un", "une", "est", "que", "pour"),
    "es": ("el", "los", "de", "y", "un", "una", "es", "que", "por", "con"),
    "de": ("der", "die", "das", "und", "ein", "ist", "zu", "nicht", "mit", "auf"),
}

PUNCT_CLASS = r"[.,;:!?'\"()\[\]{}-]"
BPE_ISH_PATTERN = r"\w+|[^\w\s]"


def tokens(col: Column | str) -> Column:
    """Whitespace tokenization; empty/blank text -> empty array."""
    c = F.col(col) if isinstance(col, str) else col
    trimmed = F.trim(c)
    return F.when(trimmed == "", F.array().cast("array<string>")).otherwise(
        F.split(trimmed, r"\s+")
    )


def bpe_ish_tokens(col: Column | str) -> Column:
    """BPE-style pre-tokenization: word pieces + individual punctuation
    (the regex family GPT-2/tiktoken pre-tokenizers use)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_extract_all(c, F.lit(BPE_ISH_PATTERN), 0)


def token_count(col: Column | str) -> Column:
    return F.size(tokens(col))


def stopword_hits(col: Column | str, lang: str = "en") -> Column:
    """How many tokens are stopwords of ``lang`` (lowercased match)."""
    words = STOPWORDS[lang]
    toks = tokens(F.lower(F.col(col) if isinstance(col, str) else col))
    return F.size(F.filter(toks, lambda t: t.isin(*words)))


def with_text_stats(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document quality statistics + a composite quality score.

    Columns added: n_chars_measured, n_tokens, n_bpe_tokens,
    avg_token_len, punct_ratio, stopword_ratio, digit_ratio,
    quality_score (all deterministic, SQL-mirrorable).

    The token-derived components (count, stopword hits, non-space
    length) come from ONE fold over the token array — Catalyst does not
    CSE tokenization across output columns, so expressing each stat
    independently re-split the text per stat (~2.5x slower, measured).
    Char-class counts are single regexp_replace passes on the raw text.
    """
    c = F.col(text_col)
    n_chars = F.length(c)
    words = STOPWORDS["en"]
    # fold accumulator: [n_tokens, stopword_hits, non_space_chars]
    core = F.aggregate(
        tokens(text_col),
        F.array(F.lit(0), F.lit(0), F.lit(0)),
        lambda acc, tk: F.array(
            acc[0] + 1,
            acc[1] + F.when(F.lower(tk).isin(*words), 1).otherwise(0),
            acc[2] + F.length(tk),
        ),
    )
    punct = n_chars - F.length(F.regexp_replace(c, PUNCT_CLASS, ""))
    digits = n_chars - F.length(F.regexp_replace(c, r"[0-9]", ""))

    staged = df.withColumns(
        {
            "__core": core,
            "__punct": punct,
            "__digits": digits,
            "__nchars": n_chars,
            "n_bpe_tokens": F.size(bpe_ish_tokens(text_col)),
        }
    )
    n_tokens = F.col("__core")[0]
    stop_hits = F.col("__core")[1]
    non_space = F.col("__core")[2]
    safe_tokens = F.greatest(n_tokens, F.lit(1))
    safe_chars = F.greatest(F.col("__nchars"), F.lit(1))
    return staged.withColumns(
        {
            "n_chars_measured": F.col("__nchars"),
            "n_tokens": n_tokens,
            "avg_token_len": F.round(non_space / safe_tokens, 6),
            "punct_ratio": F.round(F.col("__punct") / safe_chars, 6),
            "digit_ratio": F.round(F.col("__digits") / safe_chars, 6),
            "stopword_ratio": F.round(stop_hits / safe_tokens, 6),
            "quality_score": F.round(
                F.least(n_tokens / F.lit(100.0), F.lit(1.0)) * 0.4
                + (1 - F.least(F.col("__punct") / safe_chars * 5, F.lit(1.0))) * 0.3
                + F.least(stop_hits / safe_tokens * 5, F.lit(1.0)) * 0.3,
                6,
            ),
        }
    ).drop("__core", "__punct", "__digits", "__nchars")


def with_lang_id(df: DataFrame, text_col: str = "text", out: str = "lang_pred") -> DataFrame:
    """Heuristic language ID: Han-script ratio routes zh; otherwise the
    language with the most stopword hits (priority en>fr>es>de on ties,
    'und' when nothing matches)."""
    c = F.col(text_col)
    han = F.length(c) - F.length(F.regexp_replace(c, r"[一-鿿]", ""))
    han_ratio = han / F.greatest(F.length(c), F.lit(1))
    hits = {lang: stopword_hits(text_col, lang) for lang in STOPWORDS}
    best = F.greatest(*hits.values())
    pred = (
        F.when(han_ratio > 0.3, F.lit("zh"))
        .when(best == 0, F.lit("und"))
        .when(hits["en"] == best, F.lit("en"))
        .when(hits["fr"] == best, F.lit("fr"))
        .when(hits["es"] == best, F.lit("es"))
        .otherwise(F.lit("de"))
    )
    return df.withColumn(out, pred)


def with_repetition_stats(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Gopher/C4-style repetition quality signals per document:
    word count, distinct-word ratio, most-frequent-word fraction, and
    duplicate-bigram fraction.  High top-word or duplicate-bigram
    fractions flag boilerplate/spam for corpus filtering.

    Distinct ratios are pure array algebra (no shuffle); the top-word
    fraction needs a per-(doc, word) count — explode + two hash aggs,
    both map-side-combinable, keyed by doc so 100 TB fans out cleanly.
    Blank documents are excluded (no words, ratios undefined).
    """
    toks = tokens(normalized_text(text_col))
    # __barrier pins the blank-doc filter ABOVE this projection —
    # pushed below, Catalyst re-instantiates the tokenize pipeline
    # inside the filter (no CSE between a pushed predicate and its
    # project; same hazard as the jaccard verify stage).
    base = (
        df.select(
            F.col(id_col),
            toks.alias("w"),
            F.monotonically_increasing_id().alias("__barrier"),
        )
        .where(F.size("w") > 0)
        .drop("__barrier")
    )
    n = F.size("w")
    m = n - 1  # bigram count
    grams = F.zip_with(
        F.slice("w", 1, m), F.slice("w", 2, m), lambda a, b: F.concat(a, F.lit(" "), b)
    )
    arr_stats = base.select(
        id_col,
        n.alias("n_words"),
        F.round(F.size(F.array_distinct("w")) / n, 6).alias("distinct_word_ratio"),
        F.when(m > 0, F.round(1 - F.size(F.array_distinct(grams)) / m, 6))
        .otherwise(0.0)
        .alias("dup_bigram_frac"),
    )
    top = (
        base.select(id_col, F.explode("w").alias("word"))
        .groupBy(id_col, "word")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy(id_col)
        .agg(F.round(F.max("c") / F.sum("c"), 6).alias("top_word_frac"))
    )
    return arr_stats.join(top, id_col)


def normalized_text(col: Column | str) -> Column:
    """Canonical form for content hashing: lowercase, whitespace
    collapsed to single spaces, trimmed."""
    c = F.col(col) if isinstance(col, str) else col
    return F.trim(F.regexp_replace(F.lower(c), r"\s+", " "))


def fingerprint(col: Column | str) -> Column:
    """128-bit content fingerprint (md5 hex of normalized text)."""
    return F.md5(normalized_text(col))


def fingerprint64(col: Column | str) -> Column:
    """60-bit integer fingerprint: first 15 hex chars of the md5,
    base-16 decoded.  Integer form for compact storage / joins; same
    construction is expressible in any SQL dialect."""
    return F.conv(F.substring(fingerprint(col), 1, 15), 16, 10).cast("long")


def with_fingerprints(df: DataFrame, text_col: str = "text") -> DataFrame:
    return df.withColumns(
        {
            "fingerprint": fingerprint(text_col),
            "fingerprint64": fingerprint64(text_col),
        }
    )


def deterministic_sample_per_stratum(
    df: DataFrame,
    strata_col: str,
    id_col: str,
    k: int,
    seed: str = "holdout-v1",
) -> DataFrame:
    """Exactly-k-per-stratum deterministic sample: rank rows inside
    each stratum by ``md5(seed || id)`` and keep the first ``k``.

    Unlike ``sampleBy`` (Bernoulli — approximate counts, engine-
    specific RNG), this is bit-reproducible across runs, engines, and
    partitionings: the hash order is a pure function of (seed, id).
    That's the property a training-data holdout needs — re-running the
    pipeline a year later selects the same documents.  One shuffle on
    the stratum for the ranking window; at scale prefer a salted
    two-phase top-k if a stratum is pathologically hot.
    """
    from pyspark.sql import Window

    rank_key = F.md5(F.concat(F.lit(seed), F.col(id_col).cast("string")))
    w = Window.partitionBy(strata_col).orderBy(rank_key, id_col)
    return (
        df.withColumn("__rk", F.row_number().over(w))
        .where(F.col("__rk") <= k)
        .drop("__rk")
    )


def train_val_test_split(
    df: DataFrame,
    id_col: str,
    strata_cols: list[str],
    train_pct: int = 80,
    val_pct: int = 10,
    out_col: str = "split",
) -> DataFrame:
    """Deterministic stratified train/val/test assignment with EXACT
    per-stratum proportions.

    Rows are ranked inside each stratum by ``md5(id)`` (a pure function
    of the id — reproducible across runs, engines, partitionings) and
    cut at ceil(n*train_pct/100) / ceil(n*(train+val)/100).  Rank-based
    cuts give exact counts per stratum, unlike hash-mod bucketing whose
    proportions only hold in expectation; the thresholds use integer
    arithmetic (``(n*p + 99) div 100``) so every engine agrees on the
    boundary row.

    Rows with a NULL id are dropped (a split keyed on identity is
    undefined without one).  One shuffle (the per-stratum window); at
    100 TB the stratum count is small (languages, sources) so windows
    are wide — if a single stratum exceeds one executor's sort budget,
    pre-aggregate stratum sizes and assign by hash-rank ranges instead.
    """
    if not (0 < train_pct and train_pct + val_pct <= 100):
        raise ValueError("percents must satisfy 0 < train, train+val <= 100")
    from pyspark.sql import Window

    w = Window.partitionBy(*strata_cols).orderBy(
        F.md5(F.col(id_col).cast("string")), F.col(id_col)
    )
    n = F.count(F.lit(1)).over(Window.partitionBy(*strata_cols))
    t1 = F.expr(f"(__n * {train_pct} + 99) div 100")
    t2 = F.expr(f"(__n * {train_pct + val_pct} + 99) div 100")
    return (
        df.where(F.col(id_col).isNotNull())
        .select(id_col, *strata_cols)
        .withColumn("__n", n)
        .withColumn("__r", F.row_number().over(w))
        .withColumn(
            out_col,
            F.when(F.col("__r") <= t1, F.lit("train"))
            .when(F.col("__r") <= t2, F.lit("val"))
            .otherwise(F.lit("test")),
        )
        .drop("__n", "__r")
    )


def inverted_index(
    df: DataFrame,
    id_col: str,
    text_col: str = "text",
    min_df: int = 2,
    top_terms: int = 50,
    postings_cap: int = 20,
) -> DataFrame:
    """Corpus inverted index: per term, the document frequency and the
    first ``postings_cap`` doc ids (ascending) as a CSV string.

    Distinct tokens per doc explode to (term, doc) rows; one shuffle on
    the term groups them into posting lists.  The postings string is
    capped so the result stays bounded even for stopword-frequency
    terms — the full posting list at scale would be written as an
    array<long> column partitioned by term-hash instead of collected
    into a row; the cap keeps the driver-checkable projection small
    (df still counts ALL postings).  Blank/NULL docs contribute no
    terms.
    """
    terms = df.select(
        F.col(id_col).alias("doc"),
        F.explode(F.array_distinct(tokens(normalized_text(text_col)))).alias("term"),
    )
    agg = terms.groupBy("term").agg(
        F.count(F.lit(1)).alias("df"),
        F.array_join(
            F.transform(
                F.slice(F.sort_array(F.collect_list("doc")), 1, postings_cap),
                lambda d: d.cast("string"),
            ),
            ",",
        ).alias("postings"),
    )
    return (
        agg.where(F.col("df") >= min_df)
        .orderBy(F.desc("df"), F.asc("term"))
        .limit(top_terms)
    )


def bm25_scores(
    df: DataFrame,
    id_col: str,
    query_terms: list[str],
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Okapi BM25 relevance of every document for a fixed term set.

    All-JVM column algebra: token counts per (doc, term) pivot to one
    column per query term; document frequencies and avgdl are scalar
    aggregates broadcast back (single-row cross join, the same shape
    the TPC-H scalar subqueries plan to).  Per-term scores round to 6
    decimals and the total adds them in FIXED textual order — float
    addition is not associative, so a SUM() over term rows would be
    run-order-dependent; column-wise addition is deterministic and
    oracle-reproducible.

    Only documents containing at least one query term are returned
    (BM25 of a no-hit document is 0 and at corpus scale emitting them
    all would be a full-table write).
    """
    toks = df.select(
        F.col(id_col).alias("doc"), tokens(normalized_text(text_col)).alias("__toks")
    ).select("doc", F.size("__toks").alias("dl"), F.explode("__toks").alias("term"))
    tf = (
        toks.where(F.col("term").isin(*query_terms))
        .groupBy("doc", "dl")
        .pivot("term", query_terms)
        .agg(F.count(F.lit(1)))
        .na.fill(0)
        # referenced twice (df scalars + the scored projection) and
        # Catalyst does not CSE across them — without the checkpoint
        # the explode+pivot pipeline runs twice (see ROUND_NOTES)
        .localCheckpoint(eager=False)
    )
    # scalar stats over the WHOLE corpus (not just hit docs)
    stats = df.select(
        F.col(id_col).alias("doc"), tokens(normalized_text(text_col)).alias("__toks")
    ).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size("__toks")).alias("sum_dl"),
    )
    dfs = tf.select(
        *[
            F.sum(F.when(F.col(t) > 0, F.lit(1)).otherwise(F.lit(0))).alias(f"df_{i}")
            for i, t in enumerate(query_terms)
        ]
    )
    scored = tf.crossJoin(F.broadcast(stats)).crossJoin(F.broadcast(dfs))
    avgdl = F.col("sum_dl") / F.col("n_docs")
    score_cols = []
    for i, t in enumerate(query_terms):
        tf_c = F.col(t).cast("double")
        idf = F.log(
            F.lit(1.0)
            + (F.col("n_docs") - F.col(f"df_{i}") + 0.5) / (F.col(f"df_{i}") + 0.5)
        )
        s = idf * (
            (tf_c * (k1 + 1.0))
            / (tf_c + k1 * ((1.0 - b) + b * (F.col("dl") / avgdl)))
        )
        score_cols.append(
            F.when(tf_c > 0, F.round(s, 6)).otherwise(F.lit(0.0)).alias(f"s_{i}")
        )
    total = None
    for i in range(len(query_terms)):
        c = F.col(f"s_{i}")
        total = c if total is None else total + c
    return (
        scored.select(
            F.col("doc").alias(id_col),
            "dl",
            *[F.col(t).alias(f"tf_{i}") for i, t in enumerate(query_terms)],
            *score_cols,
        )
        .withColumn("bm25", F.round(total, 6))
        .drop(*[f"s_{i}" for i in range(len(query_terms))])
    )


# PII scrubbing: patterns applied in order (URLs first — they can embed
# '@' and digit runs that the later patterns would otherwise mangle).
# The regex subset is chosen to mean the same thing under Java regex
# (Spark) and RE2 (DuckDB/Go) so oracles can reproduce the scrub.
PII_PATTERNS = (
    ("url", r"https?://[^\s]+", "<URL>"),
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("long_number", r"\b\d{7,}\b", "<NUMBER>"),
)


def scrub_pii(df: DataFrame, text_col: str = "text", out_col: str | None = None) -> DataFrame:
    """Mask URLs, email addresses, and long digit runs (phone/account
    numbers) with typed placeholders; count each replacement.

    Pure ``regexp_replace``/``regexp_count`` column algebra — a narrow
    per-row projection with no shuffle, so it runs as one
    whole-stage-codegen pass at any scale.  Counts are taken on the
    text as each pattern sees it (post prior replacements), so
    ``n_email`` never double-counts an address that lived inside a
    masked URL.  Adds ``<out_col>`` (default ``<text_col>_scrubbed``)
    and ``n_url``/``n_email``/``n_long_number`` columns.
    """
    out = out_col or f"{text_col}_scrubbed"
    cur = F.col(text_col)
    cols: dict[str, Column] = {}
    for name, pat, repl in PII_PATTERNS:
        cols[f"n_{name}"] = F.regexp_count(cur, F.lit(pat))
        cur = F.regexp_replace(cur, pat, repl)
    cols[out] = cur
    return df.withColumns(cols)


def rebalance_to_min_stratum(
    df: DataFrame,
    strata_col: str,
    id_col: str,
    seed: str = "mix-v1",
) -> DataFrame:
    """Downsample every stratum to the size of the smallest one
    (uniform training-mixture rebalancing), deterministically.

    Rows are ranked inside each stratum by ``md5(seed || id)`` (same
    bit-reproducible order as
    :func:`deterministic_sample_per_stratum`); the cutoff is the
    smallest stratum's row count, reduced to one scalar row and
    broadcast.  The cutoff branch re-scans the input (Catalyst doesn't
    CSE across plan branches), but its count-per-stratum aggregate is
    map-side-combined down to ~#strata rows per task before its
    shuffle — the window's full-data shuffle is the only real data
    mover.  Re-running on the same input always keeps the same rows,
    on any engine.
    """
    from pyspark.sql import Window
    from pyspark.sql.functions import broadcast

    rank_key = F.md5(F.concat(F.lit(seed), F.col(id_col).cast("string")))
    w = Window.partitionBy(strata_col).orderBy(rank_key, id_col)
    min_size = (
        df.groupBy(strata_col)
        .agg(F.count(F.lit(1)).alias("__cnt"))
        .agg(F.min("__cnt").alias("__min_stratum"))
    )
    return (
        df.withColumn("__rk", F.row_number().over(w))
        .join(broadcast(min_size))
        .where(F.col("__rk") <= F.col("__min_stratum"))
        .drop("__rk", "__min_stratum")
    )

def weighted_sample_per_stratum(
    df: DataFrame,
    strata_col: str,
    id_col: str,
    weight_col: str,
    k: int,
    seed: str = "wsample-v1",
) -> DataFrame:
    """Deterministic weighted reservoir sample (Efraimidis–Spirakis
    A-ES): keep the top ``k`` rows per stratum ranked by
    ``ln(u) / w`` descending, where ``u ∈ (0, 1]`` is a uniform
    derived from ``md5(seed || id)`` and ``w`` is the row weight —
    each row survives with probability proportional to its weight,
    exactly the "sample documents proportional to token count"
    pattern for mixture construction.

    Like :func:`deterministic_sample_per_stratum`, the selection is a
    pure function of (seed, id, weight): bit-reproducible across runs,
    engines, and partitionings (md5 → first-8-hex uniform is the same
    integer everywhere; ln/divide are IEEE).  Rows with null or
    non-positive weight are excluded.  One ranking-window shuffle on
    the stratum; A-ES keys are mergeable, so at scale this can run as
    a salted two-phase top-k (operators/topk.py).
    """
    from pyspark.sql import Window

    h = F.conv(
        F.substring(
            F.md5(F.concat_ws("||", F.lit(seed), F.col(id_col).cast("string"))), 1, 8
        ),
        16,
        10,
    ).cast("long")
    u = (h + F.lit(1)).cast("double") / F.lit(4294967296.0)
    key = F.log(u) / F.col(weight_col).cast("double")
    w = Window.partitionBy(strata_col).orderBy(F.desc(key), F.col(id_col))
    return (
        df.where(F.col(weight_col).isNotNull() & (F.col(weight_col) > 0))
        .withColumn("__rk", F.row_number().over(w))
        .where(F.col("__rk") <= k)
        .drop("__rk")
    )
