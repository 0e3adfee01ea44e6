"""Oracle parity + plan pins for the time-series continuous-aggregate
surface (plans/timeseries.py)."""

from __future__ import annotations

import pytest

from fraud_detetion_with__kafkastreams_and_grafana_spark import testing
from fraud_detetion_with__kafkastreams_and_grafana_spark.plans import timeseries


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = testing.duckdb_conn(sf_dir)
    yield con
    con.close()


@pytest.mark.parametrize("name", sorted(timeseries.QUERIES))
def test_timeseries_oracle_parity(spark, duck, sf_dir, name):
    res = testing.check_query(
        spark, duck, name, timeseries.QUERIES[name], timeseries.ORACLES.get(name), sf_dir
    )
    assert res.ok, res.detail


def test_rollup_query_never_reads_raw_events(spark, sf_dir):
    """The 6-hour query must be answered from the materialized hourly
    rollup alone — its scan set contains the rollup path and NOT the
    raw events table. That independence is the whole point of the
    continuous-aggregate pattern."""
    df = timeseries.QUERIES["r60_rollup_merge"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "spark_graft_rollup_" in plan
    assert "events.parquet" not in plan


def test_gapfill_spine_is_dense_and_zero_filled(spark, sf_dir):
    """Every (user, day) cell inside the [min_day, max_day] range is
    present exactly once; days without events carry n_tx=0 and a
    non-null ff_mean once the user has at least one earlier data day."""
    rows = timeseries.QUERIES["r61_gapfill"](spark, sf_dir).collect()
    by_user: dict[int, list] = {}
    for r in rows:
        by_user.setdefault(r.user_id, []).append(r)
    days_global = {r.day for r in rows}
    n_days = len(days_global)
    assert n_days == (max(days_global) - min(days_global)).days + 1
    for user_rows in by_user.values():
        assert len(user_rows) == n_days
        assert len({r.day for r in user_rows}) == n_days
        seen_data = False
        for r in sorted(user_rows, key=lambda r: r.day):
            if r.n_tx > 0:
                seen_data = True
                assert r.day_total > 0.0
            if seen_data:
                assert r.ff_mean is not None


def test_r119_ohlc_brute(spark, sf_dir):
    from pyspark.sql import functions as F

    from fraud_detetion_with__kafkastreams_and_grafana_spark.plans import timeseries
    from fraud_detetion_with__kafkastreams_and_grafana_spark.sources.tables import event_seconds, load_table

    ev = load_table(spark, sf_dir, "events")
    sec = event_seconds()
    rows = ev.select(
        sec.alias("s"),
        "event_id",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    ).collect()
    import collections

    per_day = collections.defaultdict(list)
    for r in rows:
        per_day[r.s // 86400].append((r.s, r.event_id, r.cents))
    got = {r.d: r for r in timeseries.QUERIES["r119_ohlc_resample"](spark, sf_dir).collect()}
    assert set(got) == set(per_day)
    for d, evs in per_day.items():
        evs.sort()
        r = got[d]
        assert r.open_cents == evs[0][2]
        assert r.close_cents == evs[-1][2]
        assert r.high_cents == max(c for _, _, c in evs)
        assert r.low_cents == min(c for _, _, c in evs)
        assert r.n == len(evs)
        assert r.volume_cents == sum(c for _, _, c in evs)


def test_ohlc_partials_merge_invariant_to_batching(spark, sf_dir):
    """The carried-key argmin/argmax merge must be invariant to HOW
    events are batched: partials built over three arbitrary,
    non-chronological splits (event_id % 3) must merge to exactly the
    batch r119 result."""
    from pyspark.sql import functions as F

    from fraud_detetion_with__kafkastreams_and_grafana_spark.plans.timeseries import (
        ohlc_from_partials,
    )
    from fraud_detetion_with__kafkastreams_and_grafana_spark.sources.tables import event_seconds, load_table

    ev = load_table(spark, sf_dir, "events")
    sec = event_seconds()
    e = ev.select(
        "event_id",
        sec.alias("s"),
        (sec / 86400).cast("long").alias("d"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )

    def partial(part):
        b = e.where(F.col("event_id") % 3 == part)
        agg = b.groupBy("d").agg(
            F.expr("min_by(struct(s, event_id, cents), struct(s, event_id))").alias("o"),
            F.expr("max_by(struct(s, event_id, cents), struct(s, event_id))").alias("cl"),
            F.max("cents").alias("high_cents"),
            F.min("cents").alias("low_cents"),
            F.count("*").alias("n"),
            F.sum("cents").alias("volume_cents"),
        )
        return agg.select(
            "d",
            F.col("o.s").alias("open_s"),
            F.col("o.event_id").alias("open_id"),
            F.col("o.cents").alias("open_cents"),
            F.col("cl.s").alias("close_s"),
            F.col("cl.event_id").alias("close_id"),
            F.col("cl.cents").alias("close_cents"),
            "high_cents",
            "low_cents",
            "n",
            "volume_cents",
        )

    merged = ohlc_from_partials(
        partial(0).unionAll(partial(1)).unionAll(partial(2))
    )
    from fraud_detetion_with__kafkastreams_and_grafana_spark.plans import timeseries

    want = {
        r.d: r for r in timeseries.QUERIES["r119_ohlc_resample"](spark, sf_dir).collect()
    }
    got = {r.d: r for r in merged.collect()}
    assert set(got) == set(want)
    for d in want:
        assert tuple(got[d]) == tuple(want[d]), (d, got[d], want[d])
