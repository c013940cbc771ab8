"""Deterministic training-shard assignment and within-shard order.

The last step of a training-data pipeline splits the curated corpus
into N shards whose assignment is a pure function of the document id
(md5 bucket — reproducible across engines, runs, and re-exports after
upstream fixes), with a deterministic pseudo-random order *within*
each shard so examples arrive decorrelated without ever globally
sorting the corpus.  ``shard_id`` and ``shuffle_order`` are those two
keys; an export is one ``repartition(num_shards, shard)`` exchange plus
a partition-local sort on them, with no global window and no
driver-side state.  The reference has no export surface at all (its
gold tables are the terminal layer); this extends SURVEY.md §2 K.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

DEFAULT_SEED = "shards-v1"


def _md5_bucket(c: Column, seed: str) -> Column:
    """First 8 md5 hex digits of ``seed||id`` as a long — the same
    integer DuckDB computes with ('0x' || substr(md5(...), 1, 8))::BIGINT."""
    h = F.md5(F.concat_ws("||", F.lit(seed), c.cast("string")))
    return F.conv(F.substring(h, 1, 8), 16, 10).cast("long")


def shard_id(id_col: Column | str, num_shards: int, seed: str = DEFAULT_SEED) -> Column:
    """Deterministic shard assignment in [0, num_shards)."""
    c = F.col(id_col) if isinstance(id_col, str) else id_col
    return F.pmod(_md5_bucket(c, seed), F.lit(num_shards)).cast("int")


def shuffle_order(id_col: Column | str, seed: str = DEFAULT_SEED) -> Column:
    """Deterministic shuffle key: full md5 hex of ``seed||id`` —
    uniform, collision-negligible, and engine-portable."""
    c = F.col(id_col) if isinstance(id_col, str) else id_col
    return F.md5(F.concat_ws("||", F.lit(seed + "-order"), c.cast("string")))
