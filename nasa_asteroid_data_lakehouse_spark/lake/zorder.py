"""Z-order (Morton curve) multi-key clustered layout.

Single-key range clustering (``repartitionByRange`` + sort) gives
perfect file skipping on one key — and none on any other.  Tables
filtered independently on two or more keys need a space-filling curve:
interleave the bit patterns of each key's bucket rank so files cover
small hyper-rectangles of the key space, and a selective predicate on
*any* clustered key skips ~sqrt-of-everything instead of nothing.

This is net-new surface relative to the reference (its only layout tool
is Hive partitioning — ``src/utils/bucket.py:52-61``), motivated by the
100 TB goal: partitionBy explodes on high-cardinality keys, Z-order
does not.

Scale design:

* Bucket ranks for numeric keys are **equi-depth** (quantile
  boundaries via ``approxQuantile`` — a driver-side sample, never a
  full shuffle), so skewed distributions still fill all 2^bits buckets.
* Non-numeric keys fall back to hash buckets: locality is meaningless
  for them, but equality predicates still prune.
* The final exchange is one ``repartitionByRange`` on the z-value —
  the same single shuffle a plain sorted write costs.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_NUMERIC = ("int", "bigint", "smallint", "tinyint", "float", "double", "decimal", "date", "timestamp")


def morton_interleave(bucket_cols: list[Column], bits: int = 8) -> Column:
    """Interleave the low ``bits`` bits of integer columns into one
    z-value (column j contributes bit i at position ``i*len+j``).
    Inputs must lie in [0, 2**bits)."""
    n = len(bucket_cols)
    terms = [
        F.shiftleft(F.shiftright(c.cast("long"), i).bitwiseAND(F.lit(1)), i * n + j)
        for j, c in enumerate(bucket_cols)
        for i in range(bits)
    ]
    return reduce(lambda a, b: a + b, terms)


def equi_depth_bucket(df: DataFrame, key: str, bits: int = 8, rel_err: float = 0.001) -> Column:
    """Bucket rank in [0, 2**bits) by quantile boundaries of ``key``.

    ``approxQuantile`` reads a mergeable sketch (one pass, small driver
    result); the per-row rank is then a pure projection — count of
    boundaries <= value over a literal array, no join, no shuffle.
    Heavily repeated values collapse boundaries and leave some buckets
    empty; that skews file sizes, not correctness.
    """
    nb = 2**bits
    probs = [i / nb for i in range(1, nb)]
    v = _as_double(df, key)
    bounds = df.select(v.alias("__q")).approxQuantile("__q", probs, rel_err)
    arr = F.array([F.lit(float(b)) for b in bounds])
    return F.size(F.filter(arr, lambda b: b <= v))


def _as_double(df: DataFrame, key: str) -> Column:
    """Numeric view of a sortable key (temporal types via epoch)."""
    dtype = dict(df.dtypes)[key]
    c = F.col(key)
    if dtype in ("date", "timestamp_ntz"):
        c = c.cast("timestamp")
    return c.cast("double")


def zorder_buckets(df: DataFrame, keys: list[str], bits: int = 8) -> list[Column]:
    """Per-key bucket ranks: equi-depth for numeric/temporal keys,
    xxhash64 buckets for everything else."""
    dtypes = dict(df.dtypes)
    out = []
    for k in keys:
        if dtypes[k].startswith(_NUMERIC):
            out.append(equi_depth_bucket(df, k, bits))
        else:
            out.append(F.pmod(F.xxhash64(F.col(k)), F.lit(2**bits)))
    return out
