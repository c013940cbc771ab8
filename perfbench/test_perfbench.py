"""Fast tests of the benchmark itself.

Run from the repository root::

    python -m pytest perfbench -q

The end-to-end cases run each workload at its smallest size
(``--seconds 1``) and take a few minutes in all.
"""

from __future__ import annotations

import copy
import hashlib
import json
import os
import shutil
import subprocess
import sys

import pandas as pd
import pytest

import gen
import harness
import lakehouse_mix
import metrics
import neows_daily

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _run(args, cwd=ROOT, timeout=300):
    return subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), *args],
        cwd=cwd, capture_output=True, text=True, timeout=timeout,
    )


# --- inputs -------------------------------------------------------------------


def test_neows_days_are_byte_identical_per_seed():
    a = json.dumps(gen.neows_days(7, 3))
    assert a == json.dumps(gen.neows_days(7, 3))
    assert a != json.dumps(gen.neows_days(8, 3))


def test_neows_days_shape():
    days = gen.neows_days(3, 4)
    ids = []
    for day, doc in days:
        neos = doc["near_earth_objects"][day]
        assert 60 <= len(neos) <= 140
        assert all(1 <= len(n["close_approach_data"]) <= 3 for n in neos)
        ids += [n["id"] for n in neos]
    assert len(set(ids)) < len(ids)  # asteroids recur across days


def _digest(path):
    with open(path, "rb") as fh:
        return hashlib.sha256(fh.read()).hexdigest()


def test_tables_and_feed_are_byte_identical_per_seed(tmp_path):
    digests = []
    for rep in ("a", "b"):
        out = tmp_path / rep
        gen.write_tables(gen.star_tables(5, 0.001), str(out))
        base, feed, _ = lakehouse_mix.stage_inputs(
            5, 4, str(out / "base.parquet"), str(out / "feed"))
        digests.append(sorted(
            (os.path.relpath(os.path.join(d, f), out), _digest(os.path.join(d, f)))
            for d, _, fs in os.walk(out) for f in fs))
    assert digests[0] == digests[1]


def test_change_feed_batches_touch_disjoint_keys():
    base = gen.orders_table(1, 20_000, 100)
    feed = gen.change_feed(1, base, 4, rows_per_batch=1000)
    keys = [set(b.column("o_orderkey").to_pylist()) for b in feed]
    assert all(len(k) == 1000 for k in keys)
    assert len(set().union(*keys)) == 4000


# --- checks reject corrupted results ---------------------------------------------


def test_neows_expected_tables_detect_a_changed_row():
    days = gen.neows_days(2, 2)
    want = neows_daily.expected_tables(days)
    bad = copy.deepcopy(want)
    row = bad["dim_asteroid"][0]
    bad["dim_asteroid"][0] = (row[0], row[1], row[2] + 0.01, row[3])
    assert neows_daily.key_hash(want["dim_asteroid"]) != neows_daily.key_hash(bad["dim_asteroid"])
    assert neows_daily.key_hash(want["silver"]) != neows_daily.key_hash(want["silver"][1:])


def test_neows_latest_day_wins():
    days = gen.neows_days(4, 3)
    last = {}
    for _, doc in days:
        for neos in doc["near_earth_objects"].values():
            for n in neos:
                last[int(n["id"])] = n["absolute_magnitude_h"]
    got = {r[0]: r[2] for r in neows_daily.expected_tables(days)["dim_asteroid"]}
    assert got == last


def test_neows_check_rejects_tampered_gold(tmp_path):
    import glob

    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    sys.path.insert(0, ROOT)
    from nasa_asteroid_data_lakehouse_spark.pipeline.runner import run_pipeline
    from nasa_asteroid_data_lakehouse_spark.session import get_spark

    class Checks:
        def __init__(self):
            self.checks = {}

        def check(self, name, ok, detail=None):
            self.checks[name] = ok

    spark = get_spark(master="local[2]", extra_conf={"spark.driver.memory": "1g"})
    root = str(tmp_path / "lake")
    days = gen.neows_days(9, 2)
    for day, doc in days:
        run_pipeline(spark, root, day, doc)
    clean = Checks()
    neows_daily.check(clean, spark, root, days)
    assert clean.checks and all(clean.checks.values())

    path = sorted(glob.glob(f"{root}/gold/dim_asteroid/*.parquet"))[0]
    t = pq.read_table(path)
    col = t.schema.get_field_index("absolute_magnitude_h")
    t = t.set_column(col, "absolute_magnitude_h", pc.add(t.column(col), 0.5))
    pq.write_table(t, path)
    # the Hadoop checksum sidecar would refuse the rewritten file
    os.remove(os.path.join(os.path.dirname(path), f".{os.path.basename(path)}.crc"))
    tampered = Checks()
    neows_daily.check(tampered, spark, root, days)
    spark.stop()
    assert tampered.checks["dim_asteroid_rows_and_keys"] is False
    assert tampered.checks["silver_rows_and_keys"] is True


def test_oracle_rule_rejects_corruption():
    sim = lakehouse_mix.driver_sim(ROOT)
    a = sim.norm(pd.DataFrame({"k": [2, 1], "v": [0.5, 1.5], "s": ["b", "a"]}))
    assert sim.frames_match(a, a.copy()) is None
    b = a.copy()
    b.loc[0, "v"] = 0.5000001
    assert "col v" in sim.frames_match(a, b)
    assert "rows" in sim.frames_match(a, a.iloc[:1])
    c = a.copy()
    c["k"] = c["k"].astype(float)
    assert "dtype split" in sim.frames_match(a, c)


def test_lake_expected_snapshot_applies_feed_then_deletes():
    base = gen.orders_table(1, 20_000, 100)
    feed = gen.change_feed(1, base, 4, rows_per_batch=1000)
    k0 = feed[0].column("o_orderkey")[0].as_py()
    snap = lakehouse_mix.expected_snapshot(base, feed, {k0})
    assert k0 not in snap
    assert len(snap) == 20_000 + 4 * 100 - 1
    k1 = feed[1].column("o_orderkey")[5].as_py()
    assert snap[k1] == feed[1].column("o_totalprice")[5].as_py()


# --- harness -------------------------------------------------------------------------


def test_tail_needs_enough_samples():
    assert harness.tail(range(20)) == (None, None, 20)
    value, pct, n = harness.tail(range(100))
    assert (value, n) == (89, 100) and pct == 90.0


def test_self_time_subtracts_children():
    tr = harness.Tracer(None, enabled=True)
    tr._set_group = lambda group: None
    with tr.span("outer", op_id="op1"):
        with tr.span("inner"):
            pass
    outer, inner = tr.spans
    assert inner["parent"] == outer["id"] and inner["op"] == "op1"
    st = tr.self_times()
    assert abs(st["outer"][0] - ((outer["end"] - outer["start"]) - (inner["end"] - inner["start"]))) < 1e-9


def test_benchmark_json_matches_metric_tables():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    e2e = {m["name"]: (m["unit"], m["better"], m["bound"]) for m in bench["end_to_end"]}
    assert e2e == metrics.END_TO_END
    per_layer = {m["name"]: (m["unit"], m["better"]) for m in bench["per_layer"]}
    assert per_layer == metrics.PER_LAYER
    assert [w["name"] for w in bench["workloads"]] == list(
        __import__("run").WORKLOADS)


# --- end to end ------------------------------------------------------------------------


def test_fails_without_the_package(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "neows_daily",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120)
    assert p.returncode != 0
    assert p.stdout.strip() == ""


def _result(p):
    assert p.returncode == 0, p.stderr[-3000:]
    return json.loads(p.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", ["neows_daily", "lakehouse_mix"])
def test_workload_prints_every_end_to_end_metric(workload):
    res = _result(_run(["--workload", workload, "--seed", "1", "--seconds", "1", "--trace", "0"]))
    assert res["correct"] is True and res["failed"] == 0 and res["attempted"] >= 1
    assert set(res["metrics"]) == set(metrics.END_TO_END)
    for name, (unit, _, _) in metrics.END_TO_END.items():
        assert res["metrics"][name]["unit"] == unit
        assert res["metrics"][name]["value"] > 0


def test_traced_run_prints_every_per_layer_metric():
    res = _result(_run(["--workload", "lakehouse_mix", "--seed", "2", "--seconds", "1", "--trace", "1"]))
    assert res["correct"] is True
    assert set(res["metrics"]) == set(metrics.PER_LAYER)
    m = {k: v["value"] for k, v in res["metrics"].items()}
    assert m["lake.upsert_s"] > 0 and m["streaming.trigger_s"] > 0
    assert m["spark.jobs"] > 0 and m["lake.files_written"] > 0
    assert m["plans.build_s"] > 0 and m["plans.exec_s"] > 0
    assert m["pipeline.silver.write_s"] == 0  # lakehouse_mix bypasses pipeline
