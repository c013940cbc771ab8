"""Registered query modules.  This package module holds the DuckDB
oracle fragments that several of them share, each defined once."""

from nasa_asteroid_data_lakehouse_spark.llm import similarity as _similarity
from nasa_asteroid_data_lakehouse_spark.llm import text as _text

# DuckDB twin of llm/text.normalized_text (NULL propagates)
_NORM = r"trim(regexp_replace(lower(text), '\s+', ' ', 'g'))"
# DuckDB twin of llm/text.tokens(normalized_text): blank -> [], NULL -> NULL
_TOKS = (
    f"CASE WHEN {_NORM} = '' THEN []::VARCHAR[] "
    f"ELSE string_split({_NORM}, ' ') END"
)
# the same two with NULL text pinned to '' (engine coalesces the same way)
_NORMC = r"trim(regexp_replace(lower(coalesce(text, '')), '\s+', ' ', 'g'))"
_TOKSC = (
    f"CASE WHEN {_NORMC} = '' THEN []::VARCHAR[] "
    f"ELSE string_split({_NORMC}, ' ') END"
)
# English stopwords as a SQL list body
_EN = ", ".join(f"'{w}'" for w in _text.STOPWORDS["en"])
# the llm/similarity.vec_valid contract: non-NULL, every component finite
_VEC_VALID_SQL = (
    "embedding IS NOT NULL AND len(list_filter(embedding,"
    " x -> x IS NULL OR isnan(x) OR isinf(x))) = 0"
)
# embedding width of the fixture's embeddings table
_EMB_DIM = 64


def _cos_sql(a: str, b: str) -> str:
    """Cosine of the ``embedding`` columns of table aliases ``a`` and
    ``b``, in double precision."""
    return (
        f"list_dot_product({a}.embedding::DOUBLE[], {b}.embedding::DOUBLE[])"
        f" / (sqrt(list_dot_product({a}.embedding::DOUBLE[], {a}.embedding::DOUBLE[]))"
        f" * sqrt(list_dot_product({b}.embedding::DOUBLE[], {b}.embedding::DOUBLE[])))"
    )


def _d2_sql(vec: str, cent: str, lo: str, hi: str) -> str:
    """Squared distance over ``vec[lo+1..hi]`` in SEQUENTIAL fold order —
    the textual twin of llm/similarity._sq_dist (COALESCE: an empty
    slice folds to 0.0 like the engine's empty aggregate)."""
    return (
        f"COALESCE(list_sum(list_transform(range({lo} + 1, {hi} + 1), "
        f"j -> ({vec}[j] - {cent}[j]) * ({vec}[j] - {cent}[j]))), 0.0)"
    )


def _bucket_sql(num_planes: int, vec_expr: str) -> str:
    """Sign-LSH bucket id of ``vec_expr``: bit p (weight 2^p) set when
    the vector lies on the non-negative side of hyperplane p — the
    twin of llm/similarity.bucket_id over the same planes."""
    planes = _similarity.hyperplane_coefficients(num_planes, _EMB_DIM)
    terms = []
    for p, coefs in enumerate(planes):
        lits = ", ".join(repr(c) for c in coefs)
        terms.append(
            f"(CASE WHEN list_dot_product({vec_expr}::DOUBLE[], [{lits}]::DOUBLE[]) >= 0"
            f" THEN {1 << p} ELSE 0 END)"
        )
    return "(" + " + ".join(terms) + ")::BIGINT"
