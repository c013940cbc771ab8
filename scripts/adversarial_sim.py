#!/usr/bin/env python
"""Adversarial oracle gate: rerun every queries()/oracle_sql() pair on a
MUTATED copy of the fixture tables — NULL join/fact keys, empty and
whitespace-only documents, NULL metric values, duplicated timestamps —
the data shapes where engine-vs-oracle semantics silently diverge
(NULL never matching a join key, NOT IN dropping NULL rows, ties broken
by different NULL orderings).  ADVICE r1 found two such latent
divergences by reading code; this finds them by execution.

A mismatch here is NOT automatically a bug: it is a semantics decision
to make explicitly (and then either fix a side or document why the
divergence is out of contract).  Clean-fixture behavior is the driver's
gate (scripts/driver_sim.py) and must stay green regardless.

Usage: python scripts/adversarial_sim.py [--only name1,name2]
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile

import duckdb

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from scripts.driver_sim import TABLES, frames_match, load_entry, norm  # noqa: E402

SRC = "/root/testdata/sf0.001"


def build_mutated(dst: str) -> None:
    """Copy sf0.001 with targeted corruptions, preserving schemas."""
    os.makedirs(dst, exist_ok=True)
    con = duckdb.connect()
    mutations = {
        # ~3% NULL fact keys + a few NULL prices: ref-integrity, joins,
        # aggregates over NULL metrics.
        "orders": """
            SELECT o_orderkey,
                   CASE WHEN o_orderkey % 37 = 0 THEN NULL ELSE o_custkey END
                     AS o_custkey,
                   o_orderstatus,
                   CASE WHEN o_orderkey % 41 = 0 THEN NULL
                        WHEN o_orderkey % 73 = 0 THEN 'nan'::DOUBLE
                        ELSE o_totalprice END AS o_totalprice,
                   o_orderdate, o_orderpriority
            FROM read_parquet('{src}/orders.parquet')
        """,
        # empty, whitespace-only, duplicated, and NULL texts (round-4:
        # a NULL payload is a fetch/decode failure, distinct from an
        # empty document) + NULL lang/source grouping attributes:
        # tokenizers, shingles, dedup, quality scores, per-source aggs.
        "documents": """
            SELECT doc_id,
                   CASE WHEN doc_id % 23 = 0 THEN ''
                        WHEN doc_id % 29 = 0 THEN '   '
                        WHEN doc_id % 31 = 0 THEN text || ' '
                        WHEN doc_id % 37 = 0 THEN NULL
                        ELSE text END AS text,
                   CASE WHEN doc_id % 41 = 0 THEN NULL ELSE lang END AS lang,
                   CASE WHEN doc_id % 43 = 0 THEN NULL ELSE source END
                     AS source,
                   n_chars
            FROM read_parquet('{src}/documents.parquet')
        """,
        # NULL grouping attributes + NULL metrics: GROUP BY NULL keys,
        # left-join fan-out to NULL dims.
        "customer": """
            SELECT c_custkey, c_name, c_nationkey,
                   CASE WHEN c_custkey % 19 = 0 THEN NULL ELSE c_acctbal END
                     AS c_acctbal,
                   CASE WHEN c_custkey % 17 = 0 THEN NULL ELSE c_mktsegment END
                     AS c_mktsegment
            FROM read_parquet('{src}/customer.parquet')
        """,
        # NULL discounts + zero/negative prices: SUM-over-NULL parity,
        # revenue expressions, winsorize boundary behavior.
        "lineitem": """
            SELECT l_orderkey, l_partkey, l_suppkey, l_linenumber,
                   l_quantity,
                   CASE WHEN l_orderkey % 59 = 0 THEN 0.0
                        WHEN l_orderkey % 61 = 0 THEN -l_extendedprice
                        ELSE l_extendedprice END AS l_extendedprice,
                   CASE WHEN l_orderkey % 67 = 0 THEN NULL ELSE l_discount END
                     AS l_discount,
                   l_tax, l_returnflag, l_linestatus, l_shipdate
            FROM read_parquet('{src}/lineitem.parquet')
        """,
        # NULL values + duplicated (user_id, ts): as-of ties, windows,
        # sessionization.
        "events": """
            SELECT event_id, ts,
                   CASE WHEN event_id % 43 = 0 THEN NULL ELSE user_id END
                     AS user_id,
                   event_type,
                   CASE WHEN event_id % 47 = 0 THEN NULL
                        WHEN event_id % 71 = 0 THEN 'nan'::DOUBLE
                        ELSE value END AS value,
                   props
            FROM read_parquet('{src}/events.parquet')
            UNION ALL
            SELECT event_id + 1000000, ts, user_id, event_type, value, props
            FROM read_parquet('{src}/events.parquet')
            WHERE event_id % 53 = 0
        """,
        # NULL labels: the embedding-side label consumers (hard
        # negatives, kNN vote, label centroids) must agree with the
        # oracle on whether NULL-labeled vectors pair/vote.  NULL
        # VECTORS (~3%, round-4): failed-encoder rows — cosine/bucket/
        # centroid paths must propagate NULL, not crash or pair them
        # (vec_id 0, the query probe, stays non-NULL: the zero-probe
        # case is the --extreme sweep's job).
        # NaN COMPONENTS (~1/37, round-4c): corrupted-encoder rows —
        # the vector contract (llm/similarity.vec_valid) excludes them
        # from every operator; hygiene queries keep them with NULL
        # stats (a NaN must never reach an output or a rank).
        "embeddings": """
            SELECT vec_id,
                   CASE WHEN vec_id % 29 = 0 AND vec_id != 0
                        THEN NULL
                        WHEN vec_id % 37 = 0 AND vec_id != 0
                        THEN CAST(list_append(
                               embedding[1:len(embedding) - 1],
                               'nan'::FLOAT) AS FLOAT[])
                        ELSE embedding END AS embedding,
                   CASE WHEN vec_id % 13 = 0 THEN NULL ELSE label END AS label
            FROM read_parquet('{src}/embeddings.parquet')
        """,
    }
    for t in TABLES:
        src_path = os.path.join(SRC, f"{t}.parquet")
        if not os.path.exists(src_path):
            continue
        out = os.path.join(dst, f"{t}.parquet")
        if t in mutations:
            sql = mutations[t].format(src=SRC)
            con.execute(f"COPY ({sql}) TO '{out}' (FORMAT PARQUET)")
        else:
            shutil.copyfile(src_path, out)


# Queries whose oracle is only exact on ASCII input — engine-intrinsic
# divergence, not a bug: DuckDB's levenshtein counts UTF-8 BYTE edits
# while Spark's counts CHARACTER edits (probe: lev('Café déjà vu',
# 'Cafe deja vu') = 3 in Spark, 6 in DuckDB).  The engine keeps the
# character semantics (the right unit for text dedup); the clean
# fixture is ASCII so the driver gate is unaffected.
UNICODE_ORACLE_ASCII_ONLY = {
    "edit_distance_pairs_documents",
    "edit_distance_capped_documents",
}


def build_unicode(dst: str) -> None:
    """Copy sf0.001 with unicode-mutated documents: accents, CJK,
    emoji, combining marks — the shapes where byte-vs-character
    semantics and non-ASCII casing silently diverge between engines."""
    os.makedirs(dst, exist_ok=True)
    con = duckdb.connect()
    con.execute(f"""
COPY (
  SELECT doc_id,
         CASE WHEN doc_id % 11 = 0 THEN 'Café déjà vu naïve Zürich ' || text
              WHEN doc_id % 13 = 0 THEN '数据湖仓 分布式 计算 ' || text
              WHEN doc_id % 17 = 0 THEN 'emoji 🚀✨ mixed ' || text
              WHEN doc_id % 19 = 0 THEN 'combining é and nbsp word ' || text
              ELSE text END AS text,
         lang, source, n_chars
  FROM read_parquet('{SRC}/documents.parquet')
) TO '{dst}/documents.parquet' (FORMAT PARQUET)
""")
    for t in TABLES:
        if t == "documents":
            continue
        src_path = os.path.join(SRC, f"{t}.parquet")
        if os.path.exists(src_path):
            shutil.copyfile(src_path, os.path.join(dst, f"{t}.parquet"))


def run_fixture(spark, mod, dst: str, only, skip=frozenset(), tag="") -> list[str]:
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(dst, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    qs, oracles = mod.queries(), mod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only is not None and name not in only:
            continue
        if name not in oracles:
            continue
        if name in skip:
            print(f"  {name}: SKIP (known engine-intrinsic divergence{tag})")
            continue
        try:
            actual = norm(fn(spark, dst).toPandas())
        except Exception as exc:  # noqa: BLE001 — survey, keep going
            print(f"  {name}: SPARK ERROR {type(exc).__name__}: {exc}")
            failures.append(name)
            continue
        try:
            expected = norm(con.execute(oracles[name]).df())
        except Exception as exc:  # noqa: BLE001
            print(f"  {name}: ORACLE ERROR {type(exc).__name__}: {exc}")
            failures.append(name)
            continue
        diff = frames_match(actual, expected)
        if diff:
            print(f"  {name}: MISMATCH {diff}")
            failures.append(name)
        else:
            print(f"  {name}: rows={len(actual)} MATCH")
    return failures


def main() -> int:
    argv = sys.argv[1:]
    only: set[str] | None = None
    if "--only" in argv:
        i = argv.index("--only")
        only = set(argv[i + 1].split(","))

    dst = tempfile.mkdtemp(prefix="ndl_adversarial_")
    udst = tempfile.mkdtemp(prefix="ndl_unicode_")
    try:
        build_mutated(dst)
        build_unicode(udst)
        mod = load_entry()

        from nasa_asteroid_data_lakehouse_spark.session import get_spark

        spark = get_spark(app_name="adversarial-sim", master="local[8]")
        spark.sparkContext.setLogLevel("ERROR")

        failures = run_fixture(spark, mod, dst, only)
        print("--- unicode fixture ---")
        failures += run_fixture(
            spark, mod, udst, only,
            skip=UNICODE_ORACLE_ASCII_ONLY, tag=": byte-vs-char levenshtein",
        )
        spark.stop()
        print(f"ADVERSARIAL FAILURES: {len(failures)}")
        if failures:
            print("  " + "\n  ".join(failures))
        return 1 if failures else 0
    finally:
        shutil.rmtree(dst, ignore_errors=True)
        shutil.rmtree(udst, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
