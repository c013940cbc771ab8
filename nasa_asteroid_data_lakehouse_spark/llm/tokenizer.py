"""Distributed tokenizer-training primitives (BPE merge statistics).

BPE training is an iterated count: find the most frequent *adjacent*
symbol pair in the corpus, merge it everywhere, repeat.  The count step
is the distributed part — at 100 TB it is one narrow pair projection
(zip of two array slices, no shuffle) followed by a hash aggregate
whose shuffle key is the pair itself, with map-side partial counts
doing almost all the reduction (pair vocabulary is tiny next to the
token stream).  This module holds that count step; the
``bpe_pair_counts_documents`` query serves one iteration of it.

No reference analog: the reference's text surface is
profile/normalize only (``src/etl/silver_to_gold.py``); net-new per
the LLM-pipeline brief (tokenizer support).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from nasa_asteroid_data_lakehouse_spark.llm import text

__all__ = [
    "adjacent_pairs",
    "pair_counts",
    "pair_counts_from_tokens",
]

_PAIR_T = "array<struct<a:string,b:string>>"


def adjacent_pairs(tokens_col: Column) -> Column:
    """Array of adjacent (a, b) token pairs from a token array.

    ``zip_with`` over two slices of the SAME array — a narrow,
    codegen-friendly expression, no explode until the caller wants
    rows.  Arrays with fewer than two tokens contribute no pairs.
    """
    t = tokens_col
    n = F.size(t)
    zipped = F.zip_with(
        F.slice(t, 1, n - 1),
        F.slice(t, 2, n - 1),
        lambda a, b: F.struct(a.alias("a"), b.alias("b")),
    )
    return F.when(n >= 2, zipped).otherwise(F.array().cast(_PAIR_T))


def pair_counts_from_tokens(tok_df: DataFrame, tokens_col: str = "toks") -> DataFrame:
    """Adjacent-pair frequencies over a token-array column:
    (a, b, pair_count).

    One projection + explode + hash aggregate.  The shuffle moves one
    row per DISTINCT pair per map partition (partial aggregation), not
    one per occurrence.
    """
    t = F.col(tokens_col)
    return (
        tok_df.where(F.size(t) >= 2)
        .select(F.explode(adjacent_pairs(t)).alias("p"))
        .select("p.a", "p.b")
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("pair_count"))
    )


def pair_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Corpus-wide adjacent-pair frequencies from raw text (whitespace
    tokenization of the normalized text)."""
    toks = text.tokens(text.normalized_text(text_col))
    return pair_counts_from_tokens(df.select(toks.alias("toks")))
