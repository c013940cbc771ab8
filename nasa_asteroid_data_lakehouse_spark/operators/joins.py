"""Anti-join helper (SURVEY.md §2 C1).

The reference *designs* a star schema (fact carries sha2 SKs matching
each dim — reference ``src/etl/silver_to_gold.py:131-133`` vs
``:66-69,79-82,118-121``) but ships zero joins.  The registered
``neows_star_join`` query builds and joins that star inline; this
module keeps the anti-join the reference's merge is built on.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def anti_join(left: DataFrame, right: DataFrame, on: list[str]) -> DataFrame:
    """Rows of ``left`` with NO match in ``right``.

    This is the precise relational core of the reference's merge:
    ``new ∪ (old ANTI JOIN new ON keys)`` (reference
    ``src/utils/bucket.py:79-82`` does it as union+dropDuplicates).
    """
    return left.join(right, on=on, how="left_anti")
