"""Seeded input generators for the three workloads.

Every generator is a pure function of its seed and size arguments: the
same seed gives byte-identical documents and parquet files.  The
package under test only ever sees the generated inputs.

* ``neows_days`` -- consecutive NeoWs feed documents, shaped like
  ``pipeline/neows_fixture.py`` (same ``_neo``/``_approach`` layout).
* ``write_tables`` -- the star-schema fixture tables the registered
  queries read (``region`` .. ``embeddings``), with the value domains
  of the repository's synthetic fixture tables (``TESTDATA.md``).
* ``orders_table`` / ``change_feed`` -- the base table and the staged
  change batches of the lake CDC stream.
"""

from __future__ import annotations

import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_MONTHS = "Jan Feb Mar Apr May Jun Jul Aug Sep Oct Nov Dec".split()
_BODIES = ["Earth", "Earth", "Earth", "Moon", "Mars", "Venus"]
_EPOCH = dt.datetime(1970, 1, 1)


# --- NeoWs feed -------------------------------------------------------------


def _neo(neo_id: str, name: str, magnitude: float, hazardous: bool,
         approaches: list[dict], jpl_url: str) -> dict:
    return {
        "id": neo_id,
        "neo_reference_id": neo_id,
        "name": name,
        "absolute_magnitude_h": magnitude,
        "is_potentially_hazardous_asteroid": hazardous,
        "is_sentry_object": False,
        "nasa_jpl_url": jpl_url,
        "links": {"self": f"http://api.nasa.gov/neo/rest/v1/neo/{neo_id}"},
        "estimated_diameter": {
            "kilometers": {"estimated_diameter_min": 0.1, "estimated_diameter_max": 0.23},
            "meters": {"estimated_diameter_min": 100.0, "estimated_diameter_max": 230.0},
            "miles": {"estimated_diameter_min": 0.06, "estimated_diameter_max": 0.14},
            "feet": {"estimated_diameter_min": 330.0, "estimated_diameter_max": 755.0},
        },
        "close_approach_data": approaches,
    }


def _approach(ts: dt.datetime, body: str, vel: str) -> dict:
    return {
        "close_approach_date": ts.strftime("%Y-%m-%d"),
        "close_approach_date_full": (
            f"{ts.year:04d}-{_MONTHS[ts.month - 1]}-{ts.day:02d} {ts:%H:%M}"
        ),
        "epoch_date_close_approach": int((ts - _EPOCH).total_seconds()) * 1000,
        "relative_velocity": {
            "kilometers_per_second": vel,
            "kilometers_per_hour": f"{float(vel) * 3600:.2f}",
            "miles_per_hour": f"{float(vel) * 2236.94:.2f}",
        },
        "miss_distance": {
            "astronomical": "0.0334",
            "lunar": "13.01",
            "kilometers": "5000612.5",
            "miles": "3107265.8",
        },
        "orbiting_body": body,
    }


def neows_days(seed: int, n_days: int, pool_size: int = 400,
               first_day: str = "2025-12-20") -> list[tuple[str, dict]]:
    """``n_days`` consecutive (day, document) pairs.

    Each day holds 60-140 NEOs with 1-3 close approaches each.  Ids are
    drawn from a fixed pool of ``pool_size`` asteroids, so asteroids
    recur across days and the gold merge really deduplicates.  About 5%
    of names are ``""`` and 5% of JPL urls are ``"NULL"`` (placeholders
    the silver stage turns into nulls)."""
    rng = np.random.default_rng([seed, 1])
    pool = rng.choice(np.arange(2_000_000, 60_000_000), size=pool_size, replace=False)
    start = dt.datetime.fromisoformat(first_day)
    out = []
    for d in range(n_days):
        day = start + dt.timedelta(days=d)
        day_s = day.strftime("%Y-%m-%d")
        n_neos = int(rng.integers(60, 141))
        neos = []
        for neo_id in rng.choice(pool, size=n_neos, replace=False):
            n_app = int(rng.integers(1, 4))
            minutes = np.sort(rng.choice(24 * 60, size=n_app, replace=False))
            approaches = [
                _approach(
                    day + dt.timedelta(minutes=int(m)),
                    _BODIES[int(rng.integers(len(_BODIES)))],
                    f"{rng.uniform(2.0, 40.0):.4f}",
                )
                for m in minutes
            ]
            name = "" if rng.random() < 0.05 else f"({2000 + int(neo_id) % 25} XK{int(neo_id) % 97})"
            url = "NULL" if rng.random() < 0.05 else "https://ssd.jpl.nasa.gov/tools/sbdb_lookup.html"
            neos.append(
                _neo(str(int(neo_id)), name, round(float(rng.uniform(14.0, 30.0)), 2),
                     bool(rng.random() < 0.15), approaches, url)
            )
        out.append((day_s, {"near_earth_objects": {day_s: neos}}))
    return out


def document_bytes(days: list[tuple[str, dict]]) -> int:
    """Bytes of the documents as the bronze stage serialises them."""
    return sum(len(json.dumps(doc).encode()) for _, doc in days)


# --- star-schema fixture tables ---------------------------------------------

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_STATUSES = ["F", "O", "P"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_ADJ = ["blue", "red", "hot", "cold", "old", "new", "small", "large"]
_NOUN = ["bolt", "gear", "ring", "rod", "plate", "anvil", "widget", "gizmo"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_VOCAB = (
    "a the data table row column key value query join agg sort hash merge "
    "scan filter group order line part customer window stream batch spark "
    "vector small big fast slow"
).split()
_LANGS = ["en", "en", "en", "zh", "fr", "es", "de"]
_US_PER_DAY = 86_400_000_000


def _days_us(rng: np.random.Generator, lo: str, hi: str, n: int) -> np.ndarray:
    """Uniform whole days in [lo, hi] as microseconds since the epoch."""
    a = (dt.date.fromisoformat(lo) - _EPOCH.date()).days
    b = (dt.date.fromisoformat(hi) - _EPOCH.date()).days
    return rng.integers(a, b + 1, size=n).astype(np.int64) * _US_PER_DAY


def _ts(values_us: np.ndarray) -> pa.Array:
    return pa.array(values_us, type=pa.timestamp("us"))


def orders_table(seed: int, n_orders: int, n_customers: int) -> pa.Table:
    rng = np.random.default_rng([seed, 2])
    return pa.table({
        "o_orderkey": pa.array(np.arange(n_orders, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_customers, n_orders, dtype=np.int64)),
        "o_orderstatus": pa.array(rng.choice(_STATUSES, n_orders)),
        "o_totalprice": pa.array(np.round(rng.uniform(1000.0, 500000.0, n_orders), 2)),
        "o_orderdate": _ts(_days_us(rng, "1995-01-01", "2001-08-01", n_orders)),
        "o_orderpriority": pa.array(rng.choice(_PRIORITIES, n_orders)),
    })


def _documents(rng: np.random.Generator, n_docs: int) -> pa.Table:
    """Word-salad documents over a 33-word vocabulary.  One in 25 is a
    near-duplicate of an earlier document (suffix " dup") and one in 60
    an exact duplicate, so the dedup operators find real clusters."""
    texts: list[str] = []
    for i in range(n_docs):
        r = rng.random()
        if i > 10 and r < 0.04:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i > 10 and r < 0.04 + 1 / 60:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            n_words = int(rng.integers(8, 90))
            texts.append(" ".join(rng.choice(_VOCAB, n_words)))
    return pa.table({
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(_LANGS, n_docs)),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def _embeddings(rng: np.random.Generator, n_vecs: int, dim: int = 64) -> pa.Table:
    """Unit vectors scattered around ten label centroids."""
    centers = rng.normal(size=(10, dim))
    labels = rng.integers(0, 10, n_vecs)
    vecs = centers[labels] + rng.normal(scale=1.5, size=(n_vecs, dim))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    vecs = vecs.astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n_vecs, dtype=np.int64)),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(labels.astype(np.int32)),
    })


def star_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """The ten fixture tables at scale factor ``sf`` (row counts follow
    the repository's fixtures: 15k customers, 150k orders, 600k lineitems
    at sf0.1)."""
    rng = np.random.default_rng([seed, 3])
    n_cust = max(10, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(20, int(200_000 * sf))
    n_orders = max(100, int(1_500_000 * sf))
    n_line = 4 * n_orders
    n_events = max(100, int(1_000_000 * sf))
    n_users = max(10, int(15_000 * sf))
    n_docs = max(100, int(50_000 * sf))
    n_vecs = max(100, int(50_000 * sf))

    tables: dict[str, pa.Table] = {}
    tables["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]),
    })
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
    })
    tables["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_cust), 2)),
        "c_mktsegment": pa.array(rng.choice(_SEGMENTS, n_cust)),
    })
    tables["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)),
    })
    names = [f"{a} {n}" for a in _ADJ for n in _NOUN]
    tables["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
        "p_name": pa.array(rng.choice(names, n_part)),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": pa.array(rng.choice(_PTYPES, n_part)),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 1)),
    })
    tables["orders"] = orders_table(seed, n_orders, n_cust)
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_orders, n_line, dtype=np.int64)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line, dtype=np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line).astype(np.int32)),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900.0, 2100.0, n_line), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_line)),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n_line)),
        "l_shipdate": _ts(_days_us(rng, "1995-01-02", "2001-11-04", n_line)),
    })
    t0 = (dt.date(2024, 1, 1) - _EPOCH.date()).days * _US_PER_DAY
    tables["events"] = pa.table({
        "event_id": pa.array(np.arange(n_events, dtype=np.int64)),
        "ts": _ts(np.sort(t0 + rng.integers(0, 30 * _US_PER_DAY, n_events))),
        "user_id": pa.array(rng.integers(0, n_users, n_events, dtype=np.int64)),
        "event_type": pa.array(rng.choice(_EVENT_TYPES, n_events)),
        "value": pa.array(np.round(rng.exponential(50.0, n_events) + 0.01, 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)]),
    })
    tables["documents"] = _documents(rng, n_docs)
    tables["embeddings"] = _embeddings(rng, n_vecs)
    return tables


def write_table(table: pa.Table, path: str) -> int:
    """Write one parquet file; returns its size in bytes."""
    pq.write_table(table, path)
    return os.path.getsize(path)


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> int:
    """Write ``<name>.parquet`` per table; returns total bytes."""
    os.makedirs(out_dir, exist_ok=True)
    return sum(
        write_table(t, os.path.join(out_dir, f"{name}.parquet"))
        for name, t in tables.items()
    )


# --- lake change feed -------------------------------------------------------


def change_feed(seed: int, base: pa.Table, n_batches: int,
                rows_per_batch: int = 2000, new_share: float = 0.1) -> list[pa.Table]:
    """``n_batches`` upsert batches against ``base`` (an orders table).

    Each batch re-prices a random contiguous key range and inserts some
    new keys.  Batches touch disjoint key sets, so the final snapshot
    does not depend on the order the stream picks the files in."""
    rng = np.random.default_rng([seed, 4])
    n_base = base.num_rows
    n_new = int(rows_per_batch * new_share)
    n_upd = rows_per_batch - n_new
    segment = n_base // n_batches
    if segment < n_upd:
        raise ValueError("base table too small for the requested feed")
    batches = []
    for b in range(n_batches):
        lo = b * segment + int(rng.integers(0, segment - n_upd + 1))
        upd = np.arange(lo, lo + n_upd, dtype=np.int64)
        new = n_base + b * n_new + np.arange(n_new, dtype=np.int64)
        src = np.concatenate([upd, rng.integers(0, n_base, n_new)])
        rows = base.take(pa.array(src))
        prices = np.round(rng.uniform(1000.0, 500000.0, len(src)), 2)
        rows = rows.set_column(0, "o_orderkey", pa.array(np.concatenate([upd, new])))
        rows = rows.set_column(3, "o_totalprice", pa.array(prices))
        batches.append(rows)
    return batches
