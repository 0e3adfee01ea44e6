"""Oracle-differential tests for the relational surface (SURVEY.md §2.3)."""

from __future__ import annotations

import json

import pytest

from fraud_detetion_with__kafkastreams_and_grafana_spark import testing
from fraud_detetion_with__kafkastreams_and_grafana_spark.plans import relational


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = testing.duckdb_conn(sf_dir)
    yield con
    con.close()


@pytest.mark.parametrize("name", sorted(relational.QUERIES))
def test_relational_oracle_parity(spark, duck, sf_dir, name):
    res = testing.check_query(
        spark, duck, name, relational.QUERIES[name], relational.ORACLES.get(name), sf_dir
    )
    assert res.ok, res.detail


def test_every_query_has_oracle():
    """Every relational query is SQL-expressible -> full-strength check."""
    assert set(relational.QUERIES) == set(relational.ORACLES)


def test_asof_join_semantics(spark):
    """Backward as-of: latest right row at-or-before each left ts, per key;
    nulls when no prior right row; inclusive boundary."""
    from fraud_detetion_with__kafkastreams_and_grafana_spark.operators.asof import (
        asof_join_backward,
    )

    left = spark.createDataFrame(
        [(1, 5, "a"), (1, 10, "b"), (1, 20, "c"), (2, 7, "d")],
        "k INT, t INT, tag STRING",
    )
    right = spark.createDataFrame(
        [(1, 5, 100), (1, 15, 200), (3, 1, 999)], "k INT, t INT, payload INT"
    )
    out = asof_join_backward(
        left, right, by=["k"], left_ts="t", right_ts="t", payload_cols=["payload"]
    )
    got = {(r.k, r.tag): r.asof_payload for r in out.collect()}
    assert got == {
        (1, "a"): 100,  # inclusive: right row AT t=5 matches
        (1, "b"): 100,  # latest <= 10 is t=5
        (1, "c"): 200,  # latest <= 20 is t=15
        (2, "d"): None,  # key 2 has no right rows
    }


def test_asof_join_exclusive(spark):
    from fraud_detetion_with__kafkastreams_and_grafana_spark.operators.asof import (
        asof_join_backward,
    )

    left = spark.createDataFrame([(1, 5, "a")], "k INT, t INT, tag STRING")
    right = spark.createDataFrame([(1, 5, 100)], "k INT, t INT, payload INT")
    out = asof_join_backward(
        left, right, by=["k"], left_ts="t", right_ts="t",
        payload_cols=["payload"], inclusive=False,
    )
    assert out.collect()[0].asof_payload is None


def test_registry_window_rotation_order(tmp_path, monkeypatch):
    """The driver value-hashes ~the first 50 registered queries, so the
    registry order is derived from the committed CORRECTNESS artifacts:
    never-checked < last-seen-red < rewritten since the last hash <
    ascending staleness, ties in family order then by name."""
    from fraud_detetion_with__kafkastreams_and_grafana_spark.plans import registry

    # The real registry: checks that hold across artifact syncs.
    last, red = registry._load_rotation(registry._ROOT)
    assert last, "no CORRECTNESS_r*.json found in the checkout root"
    newest = max(last.values())
    rewritten = registry._REWRITTEN
    assert all(1 <= n <= newest for n in rewritten.values()), rewritten
    ranked = [(n, registry._registry_order(n)[0]) for n in registry.all_queries()]
    live = [i for i, (_, r) in enumerate(ranked) if r == 0.75]
    stale = [i for i, (_, r) in enumerate(ranked) if r >= 1]
    assert {ranked[i][0].split("_", 1)[0] for i in live} == {
        k for k, n in rewritten.items() if 0 < last.get(k, 0) <= n
    } - red
    assert not live or not stale or max(live) < min(stale)
    fresh_green = [
        n for n, _ in ranked[:50]
        if last.get(k := n.split("_", 1)[0]) == newest
        and k not in red
        and rewritten.get(k, 0) < newest
    ]
    assert not fresh_green, f"rows green in r{newest} re-hashed again: {fresh_green}"

    # Synthetic artifacts. Rounds 1, 2, 10: a lexicographic read (r1,
    # r10, r2) would leave r02 red, so this also pins numeric order.
    green = {"hash_match": True, "err": None}
    bad = {"hash_match": False, "err": None}
    rows_only = {"hash_match": None, "err": "no_oracle"}
    artifacts = {
        1: {"q1_a": green, "s01_a": green, "r01_a": green, "l01_a": bad,
            "l02_a": bad, "m01_a": rows_only, "u01_a": green},
        2: {"l02_a": green, "r02_a": bad, "r03_a": bad},
        10: {"r02_a": green, "u01_a": green, "q2_a": green},
    }
    for rnd, rows in artifacts.items():
        (tmp_path / f"CORRECTNESS_r{rnd}.json").write_text(json.dumps(rows))
    assert registry._load_rotation(tmp_path)[1] == {"l01", "r03"}
    # u01's rewrite was hashed by round 10 (cleared); q2's postdates it.
    monkeypatch.setattr(registry, "_REWRITTEN", {"u01": 2, "s01": 2, "q2": 10})
    monkeypatch.setattr(registry, "_ROOT", tmp_path)
    names = sorted(
        {n for rows in artifacts.values() for n in rows} | {"r09_a", "m09_a"}
    )
    assert sorted(names, key=registry._registry_order) == [
        "m09_a", "r09_a",                     # never checked
        "l01_a", "r03_a",                     # newest row red
        "q2_a", "s01_a",                      # rewritten since last hash
        "q1_a", "m01_a", "r01_a",             # round 1 (no_oracle = checked)
        "l02_a",                              # red, then green in round 2
        "u01_a", "r02_a",                     # round 10
    ]
    # No artifacts: everything is never-checked, family order then name.
    monkeypatch.setattr(registry, "_ROOT", tmp_path / "absent")
    assert sorted(names, key=registry._registry_order) == [
        "q1_a", "q2_a", "s01_a", "u01_a", "m01_a", "m09_a",
        "l01_a", "l02_a", "r01_a", "r02_a", "r03_a", "r09_a",
    ]


def test_registry_oracle_consistency():
    """The registry holds all 430 queries and 422 oracles, every oracle
    key maps to a registered query, and the rows-only set
    (queries without an oracle) stays exactly the 8 documented
    learned-model/probabilistic ops — a new query silently missing its
    oracle (or a typo'd key) fails here before the driver ever runs."""
    from fraud_detetion_with__kafkastreams_and_grafana_spark.plans.registry import (
        all_oracles,
        all_queries,
    )

    q, o = set(all_queries()), set(all_oracles())
    # The registry is frozen at 430: a plan module that fails to import
    # must fail here, not silently drop its queries.
    assert (len(q), len(o)) == (430, 422)
    assert o <= q, f"oracle keys without a query: {o - q}"
    rows_only = {n.split("_", 1)[0] for n in q - o}
    assert rows_only == {
        "l03", "l04", "l07", "l13", "l28", "m01", "m02", "m03"
    }, f"undocumented rows-only queries: {sorted(q - o)}"
