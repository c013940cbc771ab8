"""Smoke + oracle tests for the driver contract in __spark_entry__.py."""

import importlib.util
import os
import types

import pytest

from tests.oracle import assert_matches_oracle

_spec = importlib.util.spec_from_file_location(
    "__spark_entry__",
    os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "__spark_entry__.py"),
)
spark_entry = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(spark_entry)


def test_entry_smoke(spark):
    df = spark_entry.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert df.columns[0] == "l_returnflag"


def test_every_query_has_oracle_or_is_declared():
    qs = spark_entry.queries()
    oracles = spark_entry.oracle_sql()
    assert set(oracles) <= set(qs)


@pytest.mark.parametrize("name", list(spark_entry.oracle_sql()))
def test_query_matches_oracle(spark, sf_dir, name):
    fn = spark_entry.queries()[name]
    sql = spark_entry.oracle_sql()[name]
    assert_matches_oracle(fn(spark, sf_dir), sql, sf_dir)


def test_registry_fails_closed_on_duplicate_key(monkeypatch):
    """A later module must not silently replace an earlier module's
    query or oracle of the same name."""
    dup = types.ModuleType("dup_queries")
    dup.QUERIES = {"q1_pricing_summary": lambda spark, sf_dir: None}
    dup.ORACLES = {"q1_pricing_summary": "SELECT 1"}
    monkeypatch.setattr(spark_entry, "_MODULES", (*spark_entry._MODULES, dup))
    for kind in ("QUERIES", "ORACLES"):
        with pytest.raises(ValueError, match="q1_pricing_summary"):
            spark_entry._registry(kind)


def test_entry_twice_same_session(spark):
    a = spark_entry.entry(spark).collect()
    b = spark_entry.entry(spark).collect()
    assert a == b


def test_queries_fail_cleanly_on_missing_sf_dir(spark):
    from pyspark.errors import AnalysisException

    fn = spark_entry.queries()["q1_pricing_summary"]
    with pytest.raises(AnalysisException):
        fn(spark, "/root/testdata/does-not-exist").collect()


def test_rotate_serves_pinned_head_first(monkeypatch):
    full = {f"q{i}": i for i in range(8)}
    monkeypatch.setattr(
        spark_entry,
        "_driver_history",
        lambda: (["q5"], ["q0", "q1"], {"q5": 1, "q0": 1, "q1": 1}),
    )
    monkeypatch.setattr(
        spark_entry, "_rotation_state", lambda: (["q3", "q2"], [], 2)
    )
    order = list(spark_entry._rotate(full))
    # pinned head verbatim, then red, then never-seen, greens last
    assert order[:2] == ["q3", "q2"]
    assert order[2] == "q5"
    assert set(order[-2:]) == {"q0", "q1"}


def test_rotate_consumes_all_green_pin(monkeypatch):
    """VERDICT r02 ask #2: a pin whose names were all re-proved green by
    its own round's driver run must not be re-served — fall through to
    red -> never-seen order."""
    full = {f"q{i}": i for i in range(8)}
    monkeypatch.setattr(
        spark_entry,
        "_driver_history",
        lambda: (["q6"], ["q2", "q3", "q0"], {"q6": 1, "q2": 1, "q3": 1, "q0": 1}),
    )
    monkeypatch.setattr(
        spark_entry, "_rotation_state", lambda: (["q3", "q2"], [], 1)
    )
    order = list(spark_entry._rotate(full))
    assert order[0] == "q6"  # red fix first, not the consumed pin
    never_seen = {"q1", "q4", "q5", "q7"}
    assert set(order[1:5]) == never_seen
    # consumed pin names demoted behind never-seen, greens last
    assert set(order[5:]) == {"q0", "q2", "q3"}


def test_rotate_drops_consumed_green_members_from_pin(monkeypatch):
    """A pin member re-proved green by its own round's driver run drops
    out individually; red and never-checked members keep the front."""
    full = {f"q{i}": i for i in range(4)}
    monkeypatch.setattr(
        spark_entry, "_driver_history", lambda: ([], ["q1"], {"q1": 1})
    )
    monkeypatch.setattr(
        spark_entry, "_rotation_state", lambda: (["q1", "q2"], [], 1)
    )
    order = list(spark_entry._rotate(full))
    # q2 (never checked) stays pinned first; consumed green q1 demotes
    assert order[0] == "q2"
    assert order[-1] == "q1"
    assert set(order[1:3]) == {"q0", "q3"}


def test_rotate_keeps_stale_green_pin_for_recycling(monkeypatch):
    """Refined r07: a green whose last driver check PRECEDES the pin's
    round was pinned deliberately (stale-confirmation recycling,
    VERDICT r05 ask #5) and must be served verbatim, not dropped —
    dropping it re-served first-checked greens instead of stalest."""
    full = {f"q{i}": i for i in range(4)}
    monkeypatch.setattr(
        spark_entry, "_driver_history", lambda: ([], ["q1", "q3"], {"q1": 1, "q3": 6})
    )
    monkeypatch.setattr(
        spark_entry, "_rotation_state", lambda: (["q2", "q1"], [], 7)
    )
    order = list(spark_entry._rotate(full))
    # q1 last checked in r1 < pin round 7 -> stays pinned behind q2
    assert order[:2] == ["q2", "q1"]


def test_rotate_green_tail_stalest_first(monkeypatch):
    """The unpinned green tail orders by last driver check ascending, so
    stale confirmations refresh before recent ones."""
    full = {f"q{i}": i for i in range(4)}
    monkeypatch.setattr(
        spark_entry,
        "_driver_history",
        lambda: ([], ["q0", "q1", "q2"], {"q0": 5, "q1": 2, "q2": 4}),
    )
    monkeypatch.setattr(spark_entry, "_rotation_state", lambda: ([], [], 0))
    order = list(spark_entry._rotate(full))
    assert order == ["q3", "q1", "q2", "q0"]
