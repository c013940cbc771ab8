"""Surrogate-key kit (SURVEY.md §2 H4-H5).

Parity with the reference's content-derived SHA-256 surrogate keys
(reference ``src/etl/silver_to_gold.py:66-69,79-82,118-121,131-133``):
``sk = sha2(concat_ws('||', natural key cols), 256)``.  Deterministic
content hashing means dims and facts can be (re)built independently on
different clusters/days and still join — no key-assignment coordination
point, which is exactly what distributed rebuilds at 100 TB need.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.column import Column

KEY_SEPARATOR = "||"


def surrogate_key(*cols: Column | str, sep: str = KEY_SEPARATOR) -> Column:
    """sha2-256 hex of the ||-joined natural key columns.

    Note ``concat_ws`` skips nulls (null key part == missing key part);
    callers who must distinguish should coalesce to a sentinel first.
    """
    normalized = [F.col(c).cast("string") if isinstance(c, str) else c.cast("string") for c in cols]
    return F.sha2(F.concat_ws(sep, *normalized), 256)
