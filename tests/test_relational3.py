"""Oracle parity for relational batch 4 (maps, higher-order lambdas,
date arithmetic, bitwise, local-supplier join) + plan-shape evidence that
r47's dimension joins broadcast."""

from __future__ import annotations

import pytest

from fraud_detetion_with__kafkastreams_and_grafana_spark import testing
from fraud_detetion_with__kafkastreams_and_grafana_spark.plans import relational3


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = testing.duckdb_conn(sf_dir)
    yield con
    con.close()


@pytest.mark.parametrize("name", sorted(relational3.QUERIES))
def test_relational3_oracle_parity(spark, duck, sf_dir, name):
    res = testing.check_query(
        spark, duck, name, relational3.QUERIES[name], relational3.ORACLES.get(name), sf_dir
    )
    assert res.ok, res.detail


def test_r47_broadcasts_dims(spark, sf_dir):
    """The Q5-shape join must broadcast customer/supplier/nation: the only
    sort-merge/shuffle join allowed in the plan is lineitem-orders."""
    plan = (
        relational3.QUERIES["r47_local_supplier_join"](spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("BroadcastHashJoin") >= 3, plan


def test_r44_exactness_anchor(spark, sf_dir):
    """Integer-valued quantities make the lambda folds exact: sum of
    squares must equal the relational formulation row-for-row."""
    from fraud_detetion_with__kafkastreams_and_grafana_spark.sources.tables import (
        load_table,
    )
    from pyspark.sql import functions as F

    got = {
        r.l_orderkey: r.sum_sq_qty
        for r in relational3.QUERIES["r44_higher_order"](spark, sf_dir).collect()
    }
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 1000)
    want = {
        r.l_orderkey: r.s
        for r in li.groupBy("l_orderkey")
        .agg(F.round(F.sum(F.col("l_quantity") * F.col("l_quantity")), 2).alias("s"))
        .collect()
    }
    assert got == want


def test_r43_single_shuffle(spark, sf_dir):
    """The repartition on l_orderkey must serve BOTH aggregations: exactly
    one hash-partitioning exchange in the executed plan."""
    plan = (
        relational3.QUERIES["r43_map_funcs"](spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_scd2_pointintime_boundary_belongs_to_next_version(spark):
    """[from, to) interval semantics: a probe at EXACTLY a version's end
    must land in the successor version, never both, never neither."""
    from pyspark.sql import functions as F

    # user 1 flips state at t=100 and t=200 (epoch seconds)
    ev = spark.createDataFrame(
        [
            (1, 1, "2024-01-01 00:00:10", "a"),
            (2, 1, "2024-01-01 00:01:40", "b"),   # change at es(t1)
            (3, 1, "2024-01-01 00:03:20", "a"),   # change at es(t2)
        ],
        "event_id long, user_id long, ts string, event_type string",
    ).select(
        "user_id", "event_id",
        F.to_timestamp("ts").alias("t"), "event_type",
    ).withColumn("es", F.unix_timestamp("t"))

    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("es", "event_id")
    chg = (
        ev.withColumn("prev_type", F.lag("event_type").over(w))
        .where(F.col("prev_type").isNull() | (F.col("prev_type") != F.col("event_type")))
    )
    v = chg.select(
        "user_id", "event_type",
        F.col("es").alias("from_es"),
        F.lead("es").over(w).alias("to_es"),
    )
    boundary = ev.where(F.col("event_id") == 2).select(F.col("es").alias("t"))
    hit = v.join(
        F.broadcast(boundary),
        (F.col("from_es") <= F.col("t"))
        & (F.col("to_es").isNull() | (F.col("t") < F.col("to_es"))),
    ).collect()
    assert len(hit) == 1 and hit[0].event_type == "b", hit


def test_xml_source_preserves_doubles_bitexact(spark, tmp_path):
    """r79 relies on doubles surviving the XML text round trip: the
    writer emits the shortest repr that parses back to the same bits.
    Pin it on adversarial values (subnormal, many-digit, negative-zero
    magnitude, huge) rather than trusting the corpus to exercise them."""
    import math
    import struct

    from pyspark.sql import functions as F

    vals = [
        0.1, 1 / 3, math.pi, 2.0**-1074, 1.7976931348623157e308,
        123456789.123456789, 5e-324, 1e-17,
    ]
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], "id long, v double"
    )
    d = str(tmp_path / "xml")
    df.write.format("xml").option("rowTag", "r").save(d)
    back = (
        spark.read.schema("id long, v double")
        .format("xml")
        .option("rowTag", "r")
        .load(d)
    )
    got = {r.id: r.v for r in back.collect()}
    for i, v in enumerate(vals):
        assert struct.pack("<d", got[i]) == struct.pack("<d", v), (i, v, got[i])


def test_snapshot_diff_classification(spark):
    """r76's four change classes on planted snapshots: a key only in A is
    'deleted', only in B 'inserted', equal state 'unchanged', differing
    state 'changed' — and the totals are exact integer cents."""
    from pyspark.sql import functions as F

    # window split midpoint: es <= m in A, > m in B; craft es around m=100
    rows = [
        # user 1: only in A -> deleted
        (1, 50, 10.0),
        # user 2: only in B -> inserted
        (2, 150, 20.0),
        # user 3: same count+cents both sides -> unchanged
        (3, 60, 30.0), (3, 160, 30.0),
        # user 4: differing cents -> changed
        (4, 70, 40.0), (4, 170, 41.0),
    ]
    e = spark.createDataFrame(rows, "user_id long, es long, value double")
    # force the midpoint the query derives: min=50, max=170 -> m=110
    mid = e.agg(
        F.floor((F.min("es") + F.max("es")) / 2.0).cast("long").alias("m")
    )
    j = e.crossJoin(F.broadcast(mid))
    cents = F.sum(F.round(F.col("value") * 100, 0).cast("long"))
    a = j.where(F.col("es") <= F.col("m")).groupBy("user_id").agg(
        F.count("*").alias("n_a"), cents.alias("cents_a"))
    b = j.where(F.col("es") > F.col("m")).groupBy("user_id").agg(
        F.count("*").alias("n_b"), cents.alias("cents_b"))
    d = a.join(b, "user_id", "full_outer")
    change = (
        F.when(F.col("n_a").isNull(), "inserted")
        .when(F.col("n_b").isNull(), "deleted")
        .when((F.col("n_a") == F.col("n_b"))
              & (F.col("cents_a") == F.col("cents_b")), "unchanged")
        .otherwise("changed")
    )
    got = {r.user_id: r.c for r in d.select("user_id", change.alias("c")).collect()}
    assert got == {1: "deleted", 2: "inserted", 3: "unchanged", 4: "changed"}, got


def test_r84_zorder_buckets_are_tiles(spark, sf_dir):
    """The data-skipping property the layout exists for: zbucket =
    z >> 8 fixes the top 4 bits of BOTH dimensions, so every bucket's
    (a, b) min/max must sit inside one 16x16 tile — tight per-file
    stats on either dimension."""
    from fraud_detetion_with__kafkastreams_and_grafana_spark.plans import (
        relational3 as R3,
    )

    rows = R3.QUERIES["r84_zorder_clustering"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.min_a >> 4 == r.max_a >> 4, r
        assert r.min_b >> 4 == r.max_b >> 4, r
        assert r.n > 0


def test_r89_merge_invariant_to_batching(spark, sf_dir):
    """The IVM merge algebra must be invariant to HOW inserts are
    batched: maintaining through per-priority deltas (a different,
    non-chronological split than the query's date cuts) and through a
    degenerate empty delta must both equal the direct aggregate."""
    from pyspark.sql import functions as F

    from fraud_detetion_with__kafkastreams_and_grafana_spark.plans.relational3 import (
        _r89_agg,
        _r89_merge,
    )
    from fraud_detetion_with__kafkastreams_and_grafana_spark.sources.tables import load_table

    ord_ = load_table(spark, sf_dir, "orders")
    direct = {r[0]: tuple(r[1:]) for r in _r89_agg(ord_).collect()}

    prios = [r[0] for r in ord_.select("o_orderpriority").distinct().collect()]
    view = _r89_agg(ord_.where(F.col("o_orderpriority") == prios[0]))
    for p in prios[1:]:
        view = _r89_merge(
            view, _r89_agg(ord_.where(F.col("o_orderpriority") == p))
        ).localCheckpoint()
    # an empty delta must be the identity
    view = _r89_merge(view, _r89_agg(ord_.where(F.lit(False))))
    got = {r[0]: tuple(r[1:]) for r in view.collect()}
    assert got == direct


# ---------------------------------------------------------------------------
# Fraud-rules pack (r106-r115): independent brute-force closures in plain
# Python over the collected event list — no SQL on either side.
# ---------------------------------------------------------------------------


def _events_secs(spark, sf_dir):
    from pyspark.sql import functions as F

    from fraud_detetion_with__kafkastreams_and_grafana_spark.sources.tables import event_seconds, load_table

    ev = load_table(spark, sf_dir, "events")
    s = event_seconds()
    return [
        (r.user_id, r.s, r.cents)
        for r in ev.select(
            "user_id",
            s.alias("s"),
            F.round(F.col("value") * 100).cast("long").alias("cents"),
        ).collect()
    ]


def test_r106_velocity_brute_force(spark, sf_dir):
    rows = _events_secs(spark, sf_dir)
    by_user: dict = {}
    for u, s, _ in rows:
        by_user.setdefault(u, []).append(s)
    want = {}
    for u, ss in by_user.items():
        ss.sort()
        alerts = 0
        mx = 0
        for i, s in enumerate(ss):
            c = sum(1 for x in ss if s - 86399 <= x <= s)
            mx = max(mx, c)
            alerts += c >= 8
        if alerts:
            want[u] = (alerts, mx)
    got = {
        r.user_id: (r.n_alerts, r.max_trailing)
        for r in relational3.QUERIES["r106_velocity_alerts"](spark, sf_dir).collect()
    }
    assert got == want


def test_r109_dormancy_brute_force(spark, sf_dir):
    rows = _events_secs(spark, sf_dir)
    by_user: dict = {}
    for u, s, _ in rows:
        by_user.setdefault(u, []).append(s)
    want = set()
    for u, ss in by_user.items():
        ss.sort()
        for prev, cur in zip(ss, ss[1:]):
            gap = cur - prev
            if gap > 3 * 86400:
                burst = sum(1 for x in ss if cur <= x <= cur + 86399)
                want.add((u, cur, gap, burst, burst >= 2))
    got = {
        (r.user_id, r.reactivated_s, r.dormant_s, r.burst_n, r.burst_flag)
        for r in relational3.QUERIES["r109_dormancy_reactivation"](
            spark, sf_dir
        ).collect()
    }
    assert got == want


def test_r113_streak_brute_force(spark, sf_dir):
    rows = _events_secs(spark, sf_dir)
    by_user: dict = {}
    for u, s, _ in rows:
        by_user.setdefault(u, set()).add(s // 86400)
    for r in relational3.QUERIES["r113_longest_streak"](spark, sf_dir).collect():
        days = sorted(by_user[r.user_id])
        runs = []
        start = prev = days[0]
        for d in days[1:]:
            if d == prev + 1:
                prev = d
                continue
            runs.append((prev - start + 1, start))
            start = prev = d
        runs.append((prev - start + 1, start))
        best = max(L for L, _ in runs)
        first_best = min(s0 for L, s0 in runs if L == best)
        assert (r.longest_streak, r.streak_start_d, r.n_runs) == (
            best,
            first_best,
            len(runs),
        ), r


def test_r114_bins_partition_the_corpus(spark, sf_dir):
    rows = relational3.QUERIES["r114_equiwidth_histogram"](spark, sf_dir).collect()
    assert [r.bin for r in sorted(rows, key=lambda r: r.bin)] == list(range(10))
    ev = _events_secs(spark, sf_dir)
    assert sum(r.n for r in rows) == len(ev)
    assert sum(r.sum_cents for r in rows) == sum(c for _, _, c in ev)


def test_r115_mom_chain_consistency(spark, sf_dir):
    rows = sorted(
        relational3.QUERIES["r115_period_over_period"](spark, sf_dir).collect(),
        key=lambda r: (r.y, r.mo),
    )
    assert rows[0].mom_delta_cents is None and rows[0].mom_pct is None
    for prev, cur in zip(rows, rows[1:]):
        assert cur.mom_delta_cents == cur.rev_cents - prev.rev_cents
        assert abs(cur.mom_pct - cur.mom_delta_cents / prev.rev_cents) < 1e-12


def test_r116_attribution_brute(spark, sf_dir):
    from pyspark.sql import functions as F

    from fraud_detetion_with__kafkastreams_and_grafana_spark.sources.tables import event_seconds, load_table

    ev = load_table(spark, sf_dir, "events")
    s = event_seconds()
    rows = ev.select(
        "user_id", "event_id", "event_type", s.alias("t")
    ).collect()
    import collections

    per_user = collections.defaultdict(list)
    for r in rows:
        if r.event_type in ("click", "view", "purchase"):
            kind = 0 if r.event_type != "purchase" else 1
            per_user[r.user_id].append((r.t, kind, r.event_id, r.event_type))
    want = collections.Counter()
    for u, evs in per_user.items():
        evs.sort()
        last_touch = None  # (t, type)
        for t, kind, _, etype in evs:
            if kind == 1:
                if last_touch is not None and last_touch[0] >= t - 86400:
                    want[last_touch[1]] += 1
                else:
                    want["none"] += 1
            else:
                last_touch = (t, etype)
    got = {
        r.touch_type: r.n_purchases
        for r in relational3.QUERIES["r116_touch_attribution"](spark, sf_dir).collect()
    }
    assert got == dict(want)


def test_r117_rfm_brute(spark, sf_dir):
    from pyspark.sql import functions as F

    from fraud_detetion_with__kafkastreams_and_grafana_spark.sources.tables import load_table

    o = load_table(spark, sf_dir, "orders")
    rows = o.select(
        "o_custkey",
        F.unix_timestamp(F.col("o_orderdate").cast("timestamp")).alias("e"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
    ).collect()
    import collections

    per = collections.defaultdict(lambda: [0, 0, 0])  # last_e, f, m
    for r in rows:
        p = per[r.o_custkey]
        p[0] = max(p[0], r.e)
        p[1] += 1
        p[2] += r.cents
    gmax = max(p[0] for p in per.values())
    rfm = {
        ck: ((gmax - p[0]) // 86400, p[1], p[2]) for ck, p in per.items()
    }
    n = len(rfm)

    def bounds(vals):
        import collections as _c

        hist = sorted(_c.Counter(vals).items())
        out = []
        for k in range(1, 5):
            cum = 0
            for v, c in hist:
                cum += c
                if 5 * cum >= k * n:
                    out.append(v)
                    break
        return out

    br = bounds([v[0] for v in rfm.values()])
    bf = bounds([v[1] for v in rfm.values()])
    bm = bounds([v[2] for v in rfm.values()])
    seg = collections.defaultdict(lambda: [0, 0])
    for ck, (r_, f_, m_) in rfm.items():
        rs = 1 + sum(r_ > b for b in br)
        fs = 1 + sum(f_ > b for b in bf)
        ms = 1 + sum(m_ > b for b in bm)
        seg[(rs, fs, ms)][0] += 1
        seg[(rs, fs, ms)][1] += m_
    got = {
        (r.r_score, r.f_score, r.m_score): [r.n_cust, r.seg_cents]
        for r in relational3.QUERIES["r117_rfm_segments"](spark, sf_dir).collect()
    }
    assert got == {k: list(v) for k, v in seg.items()}


def test_r118_rings_brute(spark, sf_dir):
    rows = _events_secs(spark, sf_dir)
    import collections
    import itertools

    by_minute = collections.defaultdict(set)
    for u, s, _ in rows:
        by_minute[s // 60].add(u)
    want = collections.Counter()
    for us in by_minute.values():
        for a, b in itertools.combinations(sorted(us), 2):
            want[(a, b)] += 1
    want = {k: v for k, v in want.items() if v >= 2}
    got = {
        (r.user_a, r.user_b): r.n_shared_minutes
        for r in relational3.QUERIES["r118_cooccurrence_rings"](spark, sf_dir).collect()
    }
    assert got == want


def test_r120_ewma_brute(spark, sf_dir):
    rows = _events_secs(spark, sf_dir)
    import collections

    daily = collections.Counter()
    for _, s, cents in rows:
        daily[s // 86400] += cents
    days = sorted(daily)
    got = {
        r.d: r
        for r in relational3.QUERIES["r120_ewma_smoothing"](spark, sf_dir).collect()
    }
    assert set(got) == set(days)
    for t in days:
        num = sum(daily[i] * 2.0 ** (-(t - i)) for i in days if i <= t)
        den = sum(2.0 ** (-(t - i)) for i in days if i <= t)
        assert got[t].day_cents == daily[t]
        assert abs(got[t].ewma_cents - num / den) < 1e-6 * max(1, abs(num / den))


def test_r121_scorecard_composes_the_rules(spark, sf_dir):
    """The capstone must equal the weighted composition of its five
    member rules' own outputs — computed here by re-collecting each
    registered rule and recombining in Python."""
    import collections

    q = relational3.QUERIES
    sig = collections.defaultdict(lambda: [0, 0, 0, 0, 0])
    for r in q["r106_velocity_alerts"](spark, sf_dir).collect():
        sig[r.user_id][0] += r.n_alerts
    for r in q["r107_duplicate_txn"](spark, sf_dir).collect():
        sig[r.user_id][1] += r.n_repeats
    for r in q["r108_structuring"](spark, sf_dir).collect():
        sig[r.user_id][2] += 1
    for r in q["r109_dormancy_reactivation"](spark, sf_dir).collect():
        sig[r.user_id][3] += bool(r.burst_flag)
    for r in q["r110_round_amount_bias"](spark, sf_dir).collect():
        if r.z > 3.0:
            sig[r.user_id][4] = 1
    want = {}
    for u, (a, b, c, d, e) in sig.items():
        score = 5 * a + 2 * b + 8 * c + 10 * d + 15 * e
        if score > 0:
            want[u] = (a, b, c, d, e, score)
    got = {
        r.user_id: (
            r.n_alerts, r.n_repeats, r.n_struct_days, r.n_bursts,
            r.round_flag, r.score,
        )
        for r in q["r121_fraud_scorecard"](spark, sf_dir).collect()
    }
    assert got == want


def test_velocity_partials_merge_invariant_to_batching(spark, sf_dir):
    """(user, second) count partials from arbitrary splits must merge
    to exactly r106's event-level result — the s50 twin's soundness
    argument (RANGE frames give same-second events identical trailing
    counts)."""
    from pyspark.sql import functions as F

    from fraud_detetion_with__kafkastreams_and_grafana_spark.plans.relational3 import (
        velocity_from_second_counts,
    )
    from fraud_detetion_with__kafkastreams_and_grafana_spark.sources.tables import event_seconds, load_table

    ev = load_table(spark, sf_dir, "events")
    s = event_seconds()
    e = ev.select("user_id", "event_id", s.alias("s"))
    parts = [
        e.where(F.col("event_id") % 3 == p)
        .groupBy("user_id", "s")
        .agg(F.count("*").alias("c"))
        for p in range(3)
    ]
    merged = (
        parts[0].unionAll(parts[1]).unionAll(parts[2])
        .groupBy("user_id", "s")
        .agg(F.sum("c").alias("c"))
    )
    got = {
        r.user_id: (r.n_alerts, r.max_trailing)
        for r in velocity_from_second_counts(merged).collect()
    }
    want = {
        r.user_id: (r.n_alerts, r.max_trailing)
        for r in relational3.QUERIES["r106_velocity_alerts"](spark, sf_dir).collect()
    }
    assert got == want


def test_r122_ties_kept_and_rank_gaps(spark, sf_dir):
    """WITH TIES semantics: every day whose revenue equals a kept
    day's revenue is kept; ranks gap after ties (ANSI rank())."""
    import collections

    rows = _events_secs(spark, sf_dir)
    daily = collections.defaultdict(collections.Counter)
    for u, s, cents in rows:
        daily[u][s // 86400] += cents
    got = collections.defaultdict(list)
    for r in relational3.QUERIES["r122_topk_with_ties"](spark, sf_dir).collect():
        got[r.user_id].append((r.d, r.day_cents, r.rk))
    for u, days in daily.items():
        vals = sorted(days.values(), reverse=True)
        cut = vals[2] if len(vals) >= 3 else vals[-1]
        want = {(d, c) for d, c in days.items() if c >= cut}
        have = {(d, c) for d, c, _ in got[u]}
        assert have == want, (u, have, want)
        for d, c, rk in got[u]:
            assert rk == 1 + sum(1 for x in vals if x > c)


def _events_typed_secs(spark, sf_dir):
    from pyspark.sql import functions as F

    from fraud_detetion_with__kafkastreams_and_grafana_spark.sources.tables import event_seconds, load_table

    ev = load_table(spark, sf_dir, "events")
    s = event_seconds()
    return [
        (r.user_id, r.event_id, r.s, r.event_type)
        for r in ev.select("user_id", "event_id", s.alias("s"), "event_type").collect()
    ]


def test_r124_markov_brute(spark, sf_dir):
    """Global transition matrix + per-user mean log-likelihood vs a
    pure-Python walk replicating the micro rounding."""
    import collections
    import decimal
    import math

    rows = _events_typed_secs(spark, sf_dir)
    byu = collections.defaultdict(list)
    for u, eid, s, t in rows:
        byu[u].append((s, eid, t))
    trans = []
    for u, evs in byu.items():
        evs.sort()
        for (_, _, a), (_, _, b) in zip(evs, evs[1:]):
            trans.append((u, a, b))
    tr = collections.Counter((a, b) for _, a, b in trans)
    marg = collections.Counter()
    for (a, _), c in tr.items():
        marg[a] += c
    lp = {
        k: int(
            decimal.Decimal(math.log(c / marg[k[0]]) * 1e6).quantize(
                decimal.Decimal(1), rounding=decimal.ROUND_HALF_UP
            )
        )
        for k, c in tr.items()
    }
    us = collections.defaultdict(lambda: [0, 0])
    for u, a, b in trans:
        us[u][0] += 1
        us[u][1] += lp[(a, b)]
    cand = sorted(
        (s / n / 1e6, u, n, s) for u, (n, s) in us.items() if n >= 5
    )[:10]
    got = [
        (r.user_id, r.n_trans, r.sum_lp_micro)
        for r in relational3.QUERIES["r124_markov_sequence_anomaly"](spark, sf_dir).collect()
    ]
    assert got == [(u, n, s) for _, u, n, s in cand]


def test_r125_fifo_brute(spark, sf_dir):
    """Rank-matching reconciliation vs a per-user sorted zip."""
    import collections

    rows = _events_typed_secs(spark, sf_dir)
    legs = collections.defaultdict(lambda: {"view": [], "purchase": []})
    for u, eid, s, t in rows:
        if t in ("view", "purchase"):
            legs[u][t].append((s, eid))
    want = {}
    for u, d in legs.items():
        v = sorted(d["view"])
        p = sorted(d["purchase"])
        m = min(len(v), len(p))
        lat = sum(pt - vt for (vt, _), (pt, _) in zip(v, p))
        want[u] = (m, len(v) - m, len(p) - m, lat if m else None)
    got = {
        r.user_id: (r.matched, r.unmatched_views, r.unmatched_purchases,
                    r.latency_total_s)
        for r in relational3.QUERIES["r125_fifo_event_matching"](spark, sf_dir).collect()
    }
    assert got == want


def test_r126_drawdown_brute(spark, sf_dir):
    """MDD vs a per-user running-peak walk over the signed ledger."""
    import collections

    from pyspark.sql import functions as F

    from fraud_detetion_with__kafkastreams_and_grafana_spark.sources.tables import event_seconds, load_table

    ev = load_table(spark, sf_dir, "events")
    s = event_seconds()
    rows = ev.where(F.col("event_type").isin("purchase", "error")).select(
        "user_id", "event_id", s.alias("s"), "event_type",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    ).collect()
    byu = collections.defaultdict(list)
    for r in rows:
        x = r.cents if r.event_type == "purchase" else -r.cents
        byu[r.user_id].append((r.s, r.event_id, x))
    want = {}
    for u, mv in byu.items():
        mv.sort()
        bal = peak = 0
        mdd = 0
        first = True
        for _, _, x in mv:
            bal += x
            peak = bal if first else max(peak, bal)
            first = False
            mdd = max(mdd, peak - bal)
        want[u] = (len(mv), peak, mdd)
    got = {
        r.user_id: (r.n_moves, r.peak_cents, r.max_drawdown_cents)
        for r in relational3.QUERIES["r126_max_drawdown"](spark, sf_dir).collect()
    }
    assert got == want


def test_r127_fd_expected_outcomes(spark, sf_dir):
    """The structural candidates must hold; the behavioral ones must
    not (at any sf with >1 event per user); violation counts match a
    dict walk."""
    import collections

    from pyspark.sql import functions as F

    from fraud_detetion_with__kafkastreams_and_grafana_spark.sources.tables import event_seconds, load_table

    ev = load_table(spark, sf_dir, "events")
    s = event_seconds()
    rows = ev.select(
        "event_id", "user_id", "event_type", (s / 86400).cast("long").alias("d")
    ).collect()
    cand = {
        "event_id->user_id": [(str(r.event_id), str(r.user_id)) for r in rows],
        "user_id->event_type": [(str(r.user_id), r.event_type) for r in rows],
        "day->isodow": [(str(r.d), str((r.d + 3) % 7 + 1)) for r in rows],
        "user_id->day": [(str(r.user_id), str(r.d)) for r in rows],
    }
    got = {
        r.fd: (r.n_keys, r.n_violating_keys, r.max_ndv, r.holds)
        for r in relational3.QUERIES["r127_fd_discovery"](spark, sf_dir).collect()
    }
    for fd, pairs in cand.items():
        deps = collections.defaultdict(set)
        for det, dep in pairs:
            deps[det].add(dep)
        viol = sum(1 for v in deps.values() if len(v) > 1)
        mx = max(len(v) for v in deps.values())
        assert got[fd] == (len(deps), viol, mx, int(mx == 1)), fd
    assert got["event_id->user_id"][3] == 1
    assert got["day->isodow"][3] == 1


def test_r128_winsorized_brute(spark, sf_dir):
    """Fences and clamped sums vs a sorted-list walk per type."""
    import collections
    import math

    from pyspark.sql import functions as F

    from fraud_detetion_with__kafkastreams_and_grafana_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    rows = ev.select(
        "event_type", F.round(F.col("value") * 100).cast("long").alias("cents")
    ).collect()
    byg = collections.defaultdict(list)
    for r in rows:
        byg[r.event_type].append(r.cents)
    got = {
        r.event_type: (r.n, r.p05_cents, r.p95_cents, r.winsorized_sum)
        for r in relational3.QUERIES["r128_winsorized_stats"](spark, sf_dir).collect()
    }
    for g, xs in byg.items():
        xs.sort()
        n = len(xs)
        p05 = xs[math.ceil(n * 0.05) - 1] if n else None
        p95 = xs[math.ceil(n * 0.95) - 1]
        wsum = sum(min(max(x, p05), p95) for x in xs)
        assert got[g] == (n, p05, p95, wsum), g


def test_r129_bellman_ford_brute(spark, sf_dir):
    """3-hop ball vs a pure-Python Bellman-Ford on the same graph."""
    import collections

    from pyspark.sql import functions as F

    from fraud_detetion_with__kafkastreams_and_grafana_spark.sources.tables import event_seconds, load_table

    ev = load_table(spark, sf_dir, "events")
    s = event_seconds()
    rows = ev.select(
        "user_id", (s / 60).cast("long").alias("minute"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    ).collect()
    mins = collections.defaultdict(set)
    tot = collections.Counter()
    for r in rows:
        mins[r.minute].add(r.user_id)
        tot[r.user_id] += r.cents
    shared = collections.Counter()
    for us in mins.values():
        us = sorted(us)
        for i in range(len(us)):
            for j in range(i + 1, len(us)):
                shared[(us[i], us[j])] += 1
    adj = collections.defaultdict(list)
    for (a, b), c in shared.items():
        cost = 1000000 // c
        adj[a].append((b, cost))
        adj[b].append((a, cost))
    src = min(tot, key=lambda u: (-tot[u], u))
    dist = {src: 0}
    for _ in range(3):
        nxt = dict(dist)
        for u, d0 in dist.items():
            for v, c in adj[u]:
                if d0 + c < nxt.get(v, float("inf")):
                    nxt[v] = d0 + c
        dist = nxt
    got = {
        r.user_id: r.dist_cost
        for r in relational3.QUERIES["r129_khop_shortest_path"](spark, sf_dir).collect()
    }
    assert got == dist


def test_r130_marginal_bracket_invariants(spark, sf_dir):
    """Fees match a per-tx bracket walk; effective rate is
    non-increasing in spend across the bracket boundaries."""
    import collections

    from pyspark.sql import functions as F

    from fraud_detetion_with__kafkastreams_and_grafana_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    rows = ev.where(F.col("event_type") == "purchase").select(
        "user_id", F.round(F.col("value") * 100).cast("long").alias("cents")
    ).collect()
    agg = collections.defaultdict(lambda: [0, 0, 0])
    for r in rows:
        c = r.cents
        fee = (
            min(c, 200_000) * 30_000
            + min(max(c - 200_000, 0), 300_000) * 20_000
            + max(c - 500_000, 0) * 10_000
        )
        a = agg[r.user_id]
        a[0] += 1
        a[1] += c
        a[2] += fee
    got = {
        r.user_id: (r.n_tx, r.total_cents, r.fee_ppm_cents)
        for r in relational3.QUERIES["r130_tiered_fees"](spark, sf_dir).collect()
    }
    assert got == {u: tuple(v) for u, v in agg.items()}
    # marginal-bracket invariant on single transactions
    def fee1(c):
        return (
            min(c, 200_000) * 30_000
            + min(max(c - 200_000, 0), 300_000) * 20_000
            + max(c - 500_000, 0) * 10_000
        )

    rates = [fee1(c) / (c * 1e6) for c in (100_000, 300_000, 900_000)]
    assert rates == sorted(rates, reverse=True)


def test_r131_reach_brute(spark, sf_dir):
    """Daily new/returning/reach vs a first-seen dict walk."""
    import collections

    rows = _events_secs(spark, sf_dir)
    byday = collections.defaultdict(set)
    first = {}
    for u, s, _ in rows:
        d = s // 86400
        byday[d].add(u)
    for d in sorted(byday):
        for u in byday[d]:
            first.setdefault(u, d)
    got = {
        r.d: (r.active, r.new_users, r.returning, r.cumulative_reach)
        for r in relational3.QUERIES["r131_reach_curve"](spark, sf_dir).collect()
    }
    reach = 0
    for d in sorted(byday):
        new = sum(1 for u in byday[d] if first[u] == d)
        reach += new
        assert got[d] == (len(byday[d]), new, len(byday[d]) - new, reach), d


def test_r132_shares_close(spark, sf_dir):
    """Shares sum to 1 within each region and across regions."""
    import collections

    rows = relational3.QUERIES["r132_share_of_parent"](spark, sf_dir).collect()
    by_region = collections.defaultdict(float)
    region_share = {}
    for r in rows:
        by_region[r.region] += r.share_of_region
        region_share[r.region] = r.region_share_of_total
        assert abs(r.nation_cents / r.region_cents - r.share_of_region) < 1e-12
    for reg, s in by_region.items():
        assert abs(s - 1.0) < 1e-9, reg
    assert abs(sum(region_share.values()) - 1.0) < 1e-9


def test_r133_sql_udf_inlines_into_plan(spark, sf_dir):
    """SQL UDFs must cost nothing at runtime: no Python eval operator
    anywhere in the compiled plan, and the composed function
    (high_risk calling risk) still inlines."""
    df = relational3.QUERIES["r133_sql_udf"](spark, sf_dir)
    p = df._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p, p
    # behavioral spot-check: risk clamps to [0, 1]
    rows = df.collect()
    assert all(0 <= r.risk_micro_sum <= r.n_tx * 1000000 for r in rows)
    assert all(r.n_high <= r.n_tx for r in rows)


def test_r134_sequential_rules_brute(spark, sf_dir):
    """Support/confidence vs a per-user ordered-pair walk."""
    import collections

    rows = _events_typed_secs(spark, sf_dir)
    byu = collections.defaultdict(list)
    for u, eid, s, t in rows:
        byu[u].append((s, t))
    pat = set()
    users_with = collections.defaultdict(set)
    for u, evs in byu.items():
        evs.sort()
        for i, (sa, ta) in enumerate(evs):
            users_with[ta].add(u)
            for sb, tb in evs[i + 1:]:
                if sb > sa + 3600:
                    break
                if sb > sa and ta != tb:
                    pat.add((u, ta, tb))
    n_users = len(byu)
    ab = collections.Counter((a, b) for _, a, b in pat)
    got = {
        (r.ante, r.cons): (r.n_users_ab, r.n_users_a,
                           round(r.support, 12), round(r.confidence, 12))
        for r in relational3.QUERIES["r134_sequential_rules"](spark, sf_dir).collect()
    }
    assert set(got) == set(ab)
    for (a, b), n_ab in ab.items():
        na = len(users_with[a])
        assert got[(a, b)] == (
            n_ab, na, round(n_ab / n_users, 12), round(n_ab / na, 12),
        ), (a, b)


def test_asof_forward_semantics(spark):
    """Inclusive boundary, tie-break to smallest payload, null when no
    following right row."""
    from pyspark.sql import functions as F

    from fraud_detetion_with__kafkastreams_and_grafana_spark.operators.asof import asof_join_forward

    left = spark.createDataFrame(
        [(1, 10, "a"), (1, 99, "b"), (2, 5, "c")], "k INT, t INT, tag STRING"
    )
    right = spark.createDataFrame(
        [(1, 10, 100), (1, 10, 50), (1, 20, 200)], "k INT, t INT, payload INT"
    )
    out = {
        r.tag: r.asof_payload
        for r in asof_join_forward(
            left, right, by=["k"], left_ts="t", right_ts="t",
            payload_cols=["t", "payload"],
        ).select("tag", F.col("asof_payload")).collect()
    }
    assert out["a"] == 50   # t=10 inclusive; tie -> smallest payload
    assert out["b"] is None  # nothing after t=99
    assert out["c"] is None  # key 2 has no right rows

    out_excl = {
        r.tag: r.asof_payload
        for r in asof_join_forward(
            left, right, by=["k"], left_ts="t", right_ts="t",
            payload_cols=["t", "payload"], inclusive=False,
        ).select("tag", "asof_payload").collect()
    }
    assert out_excl["a"] == 200  # strict >: skips the t=10 rows


def test_r135_forward_brute(spark, sf_dir):
    """Next-purchase attachment vs a sorted per-user walk."""
    import collections

    rows = _events_typed_secs(spark, sf_dir)
    views = [(u, eid, s) for u, eid, s, t in rows if t == "view"]
    purch = collections.defaultdict(list)
    from pyspark.sql import functions as F

    from fraud_detetion_with__kafkastreams_and_grafana_spark.sources.tables import event_seconds, load_table

    ev = load_table(spark, sf_dir, "events")
    sec = event_seconds()
    for r in ev.where(F.col("event_type") == "purchase").select(
        "user_id", sec.alias("s"), "event_id",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    ).collect():
        purch[r.user_id].append((r.s, r.event_id, r.cents))
    for v in purch.values():
        v.sort()
    want = {}
    for u, eid, s in views:
        nxt = next(((ps, c) for ps, _, c in purch.get(u, []) if ps >= s), None)
        if nxt and nxt[0] - s <= 7200:
            want[eid] = (nxt[1], nxt[0] - s)
        else:
            want[eid] = (None, None)
    got = {
        r.event_id: (r.next_purchase_cents, r.latency_s)
        for r in relational3.QUERIES["r135_asof_forward"](spark, sf_dir).collect()
    }
    assert got == want


def test_event_seconds_equals_untyped_truncation_off_utc(spark, sf_dir):
    """r76/r77 read `event_seconds()`, which casts the second-truncated
    `ts` to `timestamp` before `unix_timestamp`. Without the cast the
    value is the same on every row, also under a session zone with a
    non-hour offset. The zone is in effect: `ts` is a zone-free
    timestamp_ntz, read as Kathmandu wall time (UTC+05:45)."""
    from pyspark.sql import functions as F

    from fraud_detetion_with__kafkastreams_and_grafana_spark.sources.tables import (
        event_seconds,
        load_table,
    )

    def read(tz):
        spark.conf.set("spark.sql.session.timeZone", tz)
        ev = load_table(spark, sf_dir, "events")
        return ev.select(
            "event_id",
            event_seconds().alias("typed"),
            F.unix_timestamp(F.date_trunc("second", "ts")).alias("untyped"),
        ).collect()

    old = spark.conf.get("spark.sql.session.timeZone")
    try:
        utc, ktm = read("UTC"), read("Asia/Kathmandu")
    finally:
        spark.conf.set("spark.sql.session.timeZone", old)
    assert ktm and all(r.typed == r.untyped for r in ktm)
    assert sorted((r.event_id, r.typed - 20700) for r in utc) == sorted(
        (r.event_id, r.typed) for r in ktm
    )


def test_r108_band_tests_the_raw_amount(spark, tmp_path):
    """r108's band is the oracle's raw `value >= 90 AND value < 100`, not
    a test on rounded cents: 89.995 (cents 9000) is out of it and 99.996
    (cents 10000) is in it. r108, its twin s51, the oracle and a
    brute-force closure agree on user-days that hold both edges."""
    from decimal import ROUND_HALF_UP, Decimal

    import pyarrow as pa
    import pyarrow.parquet as pq

    from fraud_detetion_with__kafkastreams_and_grafana_spark.plans import (
        streaming_queries,
    )

    day = 19_700
    rows = [  # (user_id, value), all on one day
        (7, 89.995), (7, 90.00), (7, 99.99), (7, 99.996),
        (8, 89.995), (8, 89.995), (8, 95.00),
        (9, 99.996), (9, 99.996),
    ]
    pq.write_table(
        pa.table(
            {
                "event_id": pa.array(range(len(rows)), pa.int64()),
                "ts": pa.array(
                    [(day * 86400 + i) * 10**6 for i in range(len(rows))],
                    pa.timestamp("us"),
                ),
                "user_id": pa.array([u for u, _ in rows], pa.int64()),
                "event_type": pa.array(["purchase"] * len(rows)),
                "value": pa.array([v for _, v in rows]),
                "props": pa.array(["{}"] * len(rows)),
            }
        ),
        str(tmp_path / "events.parquet"),
    )
    cents = lambda v: int(Decimal(repr(v * 100)).quantize(Decimal(1), ROUND_HALF_UP))
    band: dict = {}
    for u, v in rows:
        if 90.0 <= v < 100.0:
            n, c = band.get(u, (0, 0))
            band[u] = (n + 1, c + cents(v))
    want = {(u, day, n, c) for u, (n, c) in band.items() if n >= 2}
    assert want == {(7, day, 3, 28999), (9, day, 2, 20000)}

    sf_dir = str(tmp_path)
    for fn in (
        relational3.QUERIES["r108_structuring"],
        streaming_queries.QUERIES["s51_stream_structuring"],
    ):
        assert {tuple(r) for r in fn(spark, sf_dir).collect()} == want, fn.__name__
    con = testing.duckdb_conn(sf_dir)
    try:
        oracle = con.execute(relational3.ORACLES["r108_structuring"]).fetchall()
    finally:
        con.close()
    assert set(oracle) == want
