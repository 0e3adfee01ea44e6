"""Oracle parity for the UDF/UDAF/UDTF + MLlib plan module
(plans/advanced.py) — the dedicated behavioral tests live in
test_udfs_skew.py / test_mlscore.py; this mirrors the driver's
per-query value-hash check."""

from __future__ import annotations

import pytest

from fraud_detetion_with__kafkastreams_and_grafana_spark import testing
from fraud_detetion_with__kafkastreams_and_grafana_spark.plans import advanced


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = testing.duckdb_conn(sf_dir)
    yield con
    con.close()


@pytest.mark.parametrize("name", sorted(advanced.QUERIES))
def test_advanced_oracle_parity(spark, duck, sf_dir, name):
    res = testing.check_query(
        spark, duck, name, advanced.QUERIES[name], advanced.ORACLES.get(name), sf_dir
    )
    assert res.ok, res.detail


# ---------------------------------------------------------------------------
# m42-m47 statistics pack: pure-Python brute-force closures on the
# actual sf table data — no SQL on the checking side.
# ---------------------------------------------------------------------------


def _orders_cents(spark, sf_dir):
    from pyspark.sql import functions as F

    from fraud_detetion_with__kafkastreams_and_grafana_spark.sources.tables import load_table

    o = load_table(spark, sf_dir, "orders")
    return [
        (r.y, r.mo, r.cents)
        for r in o.select(
            F.year("o_orderdate").alias("y"),
            F.month("o_orderdate").alias("mo"),
            F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        ).collect()
    ]


def test_m42_benford_brute(spark, sf_dir):
    rows = _orders_cents(spark, sf_dir)
    import collections
    import math

    cnt = collections.Counter(int(str(c)[0]) for _, _, c in rows)
    total = sum(cnt.values())
    got = {
        r.digit: r
        for r in advanced.QUERIES["m42_benford_first_digit"](spark, sf_dir).collect()
    }
    assert set(got) == set(cnt)
    for d, n in cnt.items():
        r = got[d]
        exp = total * math.log10(1 + 1 / d)
        assert r.n == n
        assert abs(r.share - n / total) < 1e-12
        assert abs(r.chi2_term - (n - exp) ** 2 / exp) < 1e-9


def test_m43_kendall_brute(spark, sf_dir):
    import collections
    import math

    rows = _orders_cents(spark, sf_dir)
    m = collections.defaultdict(lambda: [0, 0])
    for y, mo, c in rows:
        k = y * 12 + mo
        m[k][0] += 1
        m[k][1] += c
    pts = [tuple(v) for _, v in sorted(m.items())]
    conc = disc = tx = ty = 0
    for i in range(len(pts)):
        for j in range(i + 1, len(pts)):
            sx = (pts[j][0] > pts[i][0]) - (pts[j][0] < pts[i][0])
            sy = (pts[j][1] > pts[i][1]) - (pts[j][1] < pts[i][1])
            conc += sx * sy > 0
            disc += sx * sy < 0
            tx += sx == 0
            ty += sy == 0
    n0 = len(pts) * (len(pts) - 1) // 2
    r = advanced.QUERIES["m43_kendall_tau"](spark, sf_dir).collect()[0]
    assert (r.n_months, r.n_pairs, r.conc, r.disc, r.ties_x, r.ties_y) == (
        len(pts), n0, conc, disc, tx, ty,
    )
    assert abs(r.tau_b - (conc - disc) / math.sqrt((n0 - tx) * (n0 - ty))) < 1e-12


def test_m44_gini_brute(spark, sf_dir):
    from pyspark.sql import functions as F

    from fraud_detetion_with__kafkastreams_and_grafana_spark.sources.tables import load_table

    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    cust = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_custkey", "c_nationkey")
        .agg(F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("cents"))
        .collect()
    )
    import collections

    by_nation = collections.defaultdict(list)
    for r in cust:
        by_nation[r.c_nationkey].append(r.cents)
    got = {r.c_nationkey: r for r in advanced.QUERIES["m44_gini_lorenz"](spark, sf_dir).collect()}
    for nk, xs in by_nation.items():
        if len(xs) <= 1:
            assert nk not in got
            continue
        xs.sort()
        n, tot = len(xs), sum(xs)
        sri = sum((i + 1) * x for i, x in enumerate(xs))
        want = (2.0 * sri - (n + 1) * float(tot)) / (n * float(tot))
        assert got[nk].n_cust == n and got[nk].total_cents == tot
        assert abs(got[nk].gini - want) < 1e-12, (nk, got[nk].gini, want)


def test_m45_fano_brute(spark, sf_dir):
    from pyspark.sql import functions as F

    from fraud_detetion_with__kafkastreams_and_grafana_spark.sources.tables import event_seconds, load_table

    ev = load_table(spark, sf_dir, "events")
    s = event_seconds()
    rows = ev.select("user_id", (s / 86400).cast("long").alias("d")).collect()
    import collections
    import statistics

    days = [r.d for r in rows]
    lo, hi = min(days), max(days)
    span = list(range(lo, hi + 1))
    per_user = collections.defaultdict(collections.Counter)
    for r in rows:
        per_user[r.user_id][r.d] += 1
    got = {r.user_id: r for r in advanced.QUERIES["m45_fano_burstiness"](spark, sf_dir).collect()}
    assert set(got) == set(per_user)
    for u, cnt in per_user.items():
        series = [cnt.get(d, 0) for d in span]
        fano = statistics.variance(series) / statistics.mean(series)
        assert got[u].n_days == len(span)
        assert got[u].n_events == sum(series)
        assert got[u].active_days == len(cnt)
        assert abs(got[u].fano - fano) < 1e-9, (u, got[u].fano, fano)


def test_m46_ztest_brute(spark, sf_dir):
    import math

    from fraud_detetion_with__kafkastreams_and_grafana_spark.sources.tables import load_table

    pdf = load_table(spark, sf_dir, "events").select("ts", "event_type").toPandas()
    wk = pdf.ts.dt.weekday >= 5  # pandas: 0=Mon ... 6=Sun
    conv = pdf.event_type == "purchase"
    n1, x1 = int(wk.sum()), int((wk & conv).sum())
    n2, x2 = int((~wk).sum()), int((~wk & conv).sum())
    r = advanced.QUERIES["m46_two_proportion_ztest"](spark, sf_dir).collect()[0]
    assert (r.n1, r.x1, r.n2, r.x2) == (n1, x1, n2, x2)
    pp = (x1 + x2) / (n1 + n2)
    want = (x1 / n1 - x2 / n2) / math.sqrt(pp * (1 - pp) * (1 / n1 + 1 / n2))
    assert abs(r.z - want) < 1e-12


def test_m47_weighted_median_brute(spark, sf_dir):
    from pyspark.sql import functions as F

    from fraud_detetion_with__kafkastreams_and_grafana_spark.sources.tables import load_table

    li = load_table(spark, sf_dir, "lineitem")
    rows = li.select(
        "l_returnflag",
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("cents"),
        F.col("l_quantity").cast("long").alias("q"),
    ).collect()
    import collections

    by_flag = collections.defaultdict(list)
    for r in rows:
        by_flag[r.l_returnflag].append((r.cents, r.q))
    got = {r.l_returnflag: r for r in advanced.QUERIES["m47_weighted_median"](spark, sf_dir).collect()}
    for flag, vw in by_flag.items():
        vw.sort()
        tw = sum(w for _, w in vw)
        acc = 0
        med = None
        for v, w in vw:
            acc += w
            if 2 * acc >= tw:
                med = v
                break
        assert got[flag].total_weight == tw
        assert got[flag].wmedian_cents == med


def _daily_cents(spark, sf_dir):
    from pyspark.sql import functions as F

    from fraud_detetion_with__kafkastreams_and_grafana_spark.sources.tables import event_seconds, load_table

    ev = load_table(spark, sf_dir, "events")
    s = event_seconds()
    rows = ev.select(
        (s / 86400).cast("long").alias("d"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    ).collect()
    import collections

    daily = collections.Counter()
    for r in rows:
        daily[r.d] += r.cents
    return daily


def test_m48_runs_brute(spark, sf_dir):
    import math

    daily = _daily_cents(spark, sf_dir)
    xs = [daily[d] for d in sorted(daily)]
    sv = sorted(xs)
    # lower median: min v with 2*cum >= n over the value histogram
    med = sv[(len(sv) - 1) // 2] if len(sv) % 2 else sv[len(sv) // 2 - 1]
    signs = [1 if x > med else 0 for x in xs if x != med]
    runs = 1 + sum(a != b for a, b in zip(signs, signs[1:]))
    n1, n2 = sum(signs), len(signs) - sum(signs)
    r = advanced.QUERIES["m48_runs_test"](spark, sf_dir).collect()[0]
    assert (r.n_runs, r.n_above, r.n_below) == (runs, n1, n2)
    mean_r = 2 * n1 * n2 / (n1 + n2) + 1
    var_r = 2 * n1 * n2 * (2 * n1 * n2 - n1 - n2) / ((n1 + n2) ** 2 * (n1 + n2 - 1))
    assert abs(r.z - (runs - mean_r) / math.sqrt(var_r)) < 1e-9


def test_m49_acf_matches_numpy(spark, sf_dir):
    import numpy as np

    daily = _daily_cents(spark, sf_dir)
    lo, hi = min(daily), max(daily)
    x = np.array([daily.get(d, 0) for d in range(lo, hi + 1)], dtype=float)
    mu = x.mean()
    ss = ((x - mu) ** 2).sum()
    got = {r.k: r for r in advanced.QUERIES["m49_autocorrelation"](spark, sf_dir).collect()}
    assert set(got) == set(range(1, 8))
    for k in range(1, 8):
        want = ((x[:-k] - mu) * (x[k:] - mu)).sum() / ss
        assert got[k].n_days == len(x)
        assert abs(got[k].acf - want) < 1e-9, (k, got[k].acf, want)


def test_m50_dow_brute(spark, sf_dir):
    daily = _daily_cents(spark, sf_dir)
    lo, hi = min(daily), max(daily)
    import collections

    per = collections.defaultdict(lambda: [0, 0])
    for d in range(lo, hi + 1):
        dow = (d + 3) % 7 + 1
        per[dow][0] += 1
        per[dow][1] += daily.get(d, 0)
    overall = sum(v[1] for v in per.values()) / sum(v[0] for v in per.values())
    got = {r.isodow: r for r in advanced.QUERIES["m50_dow_seasonality"](spark, sf_dir).collect()}
    assert set(got) == set(per)
    for dw, (nd, cents) in per.items():
        r = got[dw]
        assert (r.n_days, r.cents) == (nd, cents)
        assert abs(r.seasonal_index - (cents / nd) / overall) < 1e-12
    # cross-check the dow arithmetic against the actual calendar
    import datetime

    assert (0 + 3) % 7 + 1 == datetime.date(1970, 1, 1).isoweekday()


def test_m51_tukey_brute(spark, sf_dir):
    from pyspark.sql import functions as F

    from fraud_detetion_with__kafkastreams_and_grafana_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    rows = ev.select(
        "event_type", F.round(F.col("value") * 100).cast("long").alias("cents")
    ).collect()
    import collections

    per = collections.defaultdict(list)
    for r in rows:
        per[r.event_type].append(r.cents)
    got = {r.event_type: r for r in advanced.QUERIES["m51_tukey_fences"](spark, sf_dir).collect()}
    for et, xs in per.items():
        xs.sort()
        n = len(xs)
        # discrete lower quartiles: min v with 4*cum >= n (resp. 3n)
        q1 = next(xs[i] for i in range(n) if 4 * (i + 1) >= n)
        q3 = next(xs[i] for i in range(n) if 4 * (i + 1) >= 3 * n)
        lo4, hi4 = 4 * q1 - 6 * (q3 - q1), 4 * q3 + 6 * (q3 - q1)
        r = got[et]
        assert (r.n, r.q1_cents, r.q3_cents) == (n, q1, q3)
        assert r.n_low_outliers == sum(1 for x in xs if 4 * x < lo4)
        assert r.n_high_outliers == sum(1 for x in xs if 4 * x > hi4)


def test_m52_trimmed_mean_brute(spark, sf_dir):
    from pyspark.sql import functions as F

    from fraud_detetion_with__kafkastreams_and_grafana_spark.sources.tables import load_table

    li = load_table(spark, sf_dir, "lineitem")
    rows = li.select(
        "l_returnflag", F.round(F.col("l_extendedprice") * 100).cast("long").alias("cents")
    ).collect()
    import collections

    per = collections.defaultdict(list)
    for r in rows:
        per[r.l_returnflag].append(r.cents)
    got = {r.l_returnflag: r for r in advanced.QUERIES["m52_trimmed_mean"](spark, sf_dir).collect()}
    for flag, xs in per.items():
        xs.sort()
        n = len(xs)
        k = n * 5 // 100
        kept = xs[k : n - k]
        r = got[flag]
        assert (r.n, r.k_trimmed_each_side, r.kept_cents) == (n, k, sum(kept))
        assert abs(r.trimmed_mean_cents - sum(kept) / len(kept)) < 1e-9


def test_m53_moments_match_statistics(spark, sf_dir):
    from pyspark.sql import functions as F

    from fraud_detetion_with__kafkastreams_and_grafana_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    rows = ev.select("event_type", F.round("value").cast("long").alias("u")).collect()
    import collections

    per = collections.defaultdict(list)
    for r in rows:
        per[r.event_type].append(r.u)
    got = {r.event_type: r for r in advanced.QUERIES["m53_higher_moments"](spark, sf_dir).collect()}
    for et, xs in per.items():
        n = len(xs)
        mu = sum(xs) / n
        m2 = sum((x - mu) ** 2 for x in xs) / n
        m3 = sum((x - mu) ** 3 for x in xs) / n
        m4 = sum((x - mu) ** 4 for x in xs) / n
        r = got[et]
        assert r.n == n and r.s1 == sum(xs)
        assert abs(r.skewness - m3 / m2**1.5) < 1e-6
        assert abs(r.excess_kurtosis - (m4 / m2**2 - 3)) < 1e-6


def test_m54_gtest_brute(spark, sf_dir):
    import collections
    import math

    from pyspark.sql import functions as F

    from fraud_detetion_with__kafkastreams_and_grafana_spark.sources.tables import event_seconds, load_table

    ev = load_table(spark, sf_dir, "events")
    t = event_seconds()
    rows = ev.select(
        (t / 86400).cast("long").alias("d"), "event_type"
    ).collect()
    obs = collections.Counter(((r.d + 3) % 7 + 1, r.event_type) for r in rows)
    rown = collections.Counter()
    coln = collections.Counter()
    for (dw, et), c in obs.items():
        rown[dw] += c
        coln[et] += c
    n = sum(obs.values())
    got = {
        (r.isodow, r.event_type): r
        for r in advanced.QUERIES["m54_gtest_llr"](spark, sf_dir).collect()
    }
    assert set(got) == set(obs)
    for (dw, et), c in obs.items():
        e = rown[dw] * coln[et] / n
        r = got[(dw, et)]
        assert r.obs == c
        assert abs(r.expected - e) < 1e-9
        assert abs(r.g_term - 2 * c * math.log(c / e)) < 1e-9


def test_m55_knn_matches_numpy(spark, sf_dir):
    import collections

    import numpy as np

    from fraud_detetion_with__kafkastreams_and_grafana_spark.sources.tables import load_table

    rows = load_table(spark, sf_dir, "embeddings").collect()
    X = np.array([r.embedding for r in rows], dtype=np.float64)
    ids = np.array([r.vec_id for r in rows])
    labels = {r.vec_id: r.label for r in rows}
    order = np.argsort(ids)
    X, ids = X[order], ids[order]
    norms = np.sqrt((X * X).sum(axis=1))
    per = collections.defaultdict(lambda: [0, 0])
    for qi in range(len(ids)):
        if ids[qi] >= 100:
            continue
        cos = (X @ X[qi]) / (norms * norms[qi])
        cand = sorted(
            ((-cos[j], ids[j]) for j in range(len(ids)) if j != qi)
        )[:5]
        votes = collections.Counter(labels[v] for _, v in cand)
        pred = sorted(votes.items(), key=lambda kv: (-kv[1], kv[0]))[0][0]
        t = labels[ids[qi]]
        per[t][0] += 1
        per[t][1] += pred == t
    got = {r.true_label: r for r in advanced.QUERIES["m55_knn_loo_accuracy"](spark, sf_dir).collect()}
    assert set(got) == set(per)
    for t, (n, c) in per.items():
        assert (got[t].n_eval, got[t].n_correct) == (n, c), (t, n, c, got[t])
        assert got[t].accuracy_ppm == 1000000 * c // n


def test_m56_seasonal_outliers_brute(spark, sf_dir):
    import math

    daily = _daily_cents(spark, sf_dir)
    lo, hi = min(daily), max(daily)
    cal = [(d, daily.get(d, 0), (d + 3) % 7 + 1) for d in range(lo, hi + 1)]
    import collections

    per = collections.defaultdict(lambda: [0, 0])
    for _, x, dw in cal:
        per[dw][0] += 1
        per[dw][1] += x
    dmean = {dw: s / n for dw, (n, s) in per.items()}
    ratios = [(d, x, dw, x / dmean[dw]) for d, x, dw in cal]
    mu = sum(r for _, _, _, r in ratios) / len(ratios)
    sd = math.sqrt(
        sum((r - mu) ** 2 for _, _, _, r in ratios) / (len(ratios) - 1)
    )
    want = {
        d: (dw, x, dmean[dw], r, (r - mu) / sd)
        for d, x, dw, r in ratios
        if abs((r - mu) / sd) > 2.0
    }
    got = {
        r.d: r
        for r in advanced.QUERIES["m56_seasonal_adjusted_outliers"](spark, sf_dir).collect()
    }
    assert set(got) == set(want)
    for d, (dw, x, em, r, z) in want.items():
        g = got[d]
        assert (g.isodow, g.day_cents) == (dw, x)
        assert abs(g.expected_cents - em) < 1e-9
        assert abs(g.z - z) < 1e-9


def test_m57_mann_whitney_brute(spark, sf_dir):
    """U statistic + tie-corrected z vs a pure-Python midrank walk."""
    import math

    from fraud_detetion_with__kafkastreams_and_grafana_spark.sources.tables import load_table

    pdf = load_table(spark, sf_dir, "events").select(
        "ts", "event_type", "value"
    ).toPandas()
    p = pdf[pdf.event_type == "purchase"]
    wk = p.ts.dt.weekday >= 5
    g1 = sorted(round(v * 100) for v in p.value[wk])
    g2 = sorted(round(v * 100) for v in p.value[~wk])
    allv = sorted(g1 + g2)
    import collections

    cnt = collections.Counter(allv)
    ranks = {}
    pos = 0
    for v in sorted(cnt):
        c = cnt[v]
        ranks[v] = pos + (c + 1) / 2
        pos += c
    r1 = sum(ranks[v] for v in g1)
    n1, n2 = len(g1), len(g2)
    u1 = r1 - n1 * (n1 + 1) / 2
    tie3 = sum(c**3 - c for c in cnt.values())
    var = n1 * n2 / 12 * ((n1 + n2 + 1) - tie3 / ((n1 + n2) * (n1 + n2 - 1)))
    z = (u1 - n1 * n2 / 2) / math.sqrt(var)
    r = advanced.QUERIES["m57_mann_whitney_u"](spark, sf_dir).collect()[0]
    assert (r.n1, r.n2) == (n1, n2)
    assert r.u1_x2 == int(2 * u1)
    assert abs(r.z - z) < 1e-9


def _events_type_cents(spark, sf_dir):
    from pyspark.sql import functions as F

    from fraud_detetion_with__kafkastreams_and_grafana_spark.sources.tables import load_table

    pdf = load_table(spark, sf_dir, "events").select(
        "ts", "event_type", F.round(F.col("value") * 100).cast("long").alias("cents")
    ).toPandas()
    return pdf


def _midranks(values):
    """value -> average rank (1-based), plus the tie-term sum."""
    import collections

    cnt = collections.Counter(values)
    ranks, pos = {}, 0
    for v in sorted(cnt):
        c = cnt[v]
        ranks[v] = pos + (c + 1) / 2
        pos += c
    tie3 = sum(c**3 - c for c in cnt.values())
    return ranks, tie3


def _half_up(x, scale):
    """Replicate Spark's ROUND_HALF_UP on doubles (away from zero)."""
    import decimal

    return int(
        decimal.Decimal(x * scale).quantize(
            decimal.Decimal(1), rounding=decimal.ROUND_HALF_UP
        )
    )


def test_m58_kruskal_brute(spark, sf_dir):
    """H and the tie-corrected H vs a pure-Python midrank walk."""
    pdf = _events_type_cents(spark, sf_dir)
    groups = {g: list(sub.cents) for g, sub in pdf.groupby("event_type")}
    allv = [v for g in groups.values() for v in g]
    ranks, tie3 = _midranks(allv)
    n = len(allv)
    ss = 0.0
    for g, vals in groups.items():
        rbar = sum(ranks[v] for v in vals) / len(vals)
        ss += len(vals) * (rbar - (n + 1) / 2) ** 2
    h = 12.0 * ss / (n * (n + 1))
    corr = 1.0 - tie3 / (n**3 - n)
    r = advanced.QUERIES["m58_kruskal_wallis"](spark, sf_dir).collect()[0]
    assert (r.n, r.k) == (n, len(groups))
    assert abs(r.h - h) < 1e-9
    assert abs(r.h_tie_corrected - h / corr) < 1e-9


def test_m59_wilcoxon_brute(spark, sf_dir):
    """W+ (doubled) and tie-corrected z vs a per-user paired walk."""
    import math

    # per-user weekend/weekday totals
    raw = {}
    from pyspark.sql import functions as F

    from fraud_detetion_with__kafkastreams_and_grafana_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    rows = ev.where(F.col("event_type") == "purchase").select(
        "user_id", "ts", F.round(F.col("value") * 100).cast("long").alias("cents")
    ).toPandas()
    for row in rows.itertuples():
        wk = row.ts.weekday() >= 5
        a = raw.setdefault(row.user_id, [0, 0])
        a[0 if wk else 1] += row.cents
    diffs = [wk - wd for wk, wd in raw.values() if wk != wd]
    ranks, tie3 = _midranks([abs(d) for d in diffs])
    n = len(diffs)
    wplus = sum(ranks[abs(d)] for d in diffs if d > 0)
    var = n * (n + 1) * (2 * n + 1) / 24 - tie3 / 48
    z = (wplus - n * (n + 1) / 4) / math.sqrt(var)
    r = advanced.QUERIES["m59_wilcoxon_signed_rank"](spark, sf_dir).collect()[0]
    assert r.n_pairs == n
    assert r.w_plus_x2 == int(round(2 * wplus))
    assert abs(r.z - z) < 1e-9


def test_m60_mutual_information_brute(spark, sf_dir):
    """Integer-scaled MI/NMI vs a cell walk replicating the micro
    rounding (HALF_UP, like Spark's F.round on doubles)."""
    import collections
    import math

    pdf = _events_type_cents(spark, sf_dir)
    cells = collections.Counter(
        (t, ts.weekday() + 1) for t, ts in zip(pdf.event_type, pdf.ts)
    )
    cx = collections.Counter()
    cy = collections.Counter()
    for (x, y), c in cells.items():
        cx[x] += c
        cy[y] += c
    n = sum(cells.values())
    mi_scaled = sum(
        c * _half_up(math.log(c * n / (cx[x] * cy[y])), 1e6)
        for (x, y), c in cells.items()
    )
    hx_scaled = sum(c * _half_up(math.log(n / c), 1e6) for c in cx.values())
    hy_scaled = sum(c * _half_up(math.log(n / c), 1e6) for c in cy.values())
    r = advanced.QUERIES["m60_mutual_information"](spark, sf_dir).collect()[0]
    assert (r.n, r.mi_scaled, r.hx_scaled, r.hy_scaled) == (
        n, mi_scaled, hx_scaled, hy_scaled,
    )
    assert abs(r.mi_nats - mi_scaled / (n * 1e6)) < 1e-12
    assert abs(r.nmi - mi_scaled / math.sqrt(hx_scaled * hy_scaled)) < 1e-12


def test_m61_jsd_brute(spark, sf_dir):
    """Nano-scaled JSD vs a category walk with the same rounding."""
    import collections
    import math

    pdf = _events_type_cents(spark, sf_dir)
    cwd = collections.Counter()
    cwk = collections.Counter()
    for t, ts in zip(pdf.event_type, pdf.ts):
        (cwk if ts.weekday() >= 5 else cwd)[t] += 1
    nwd, nwk = sum(cwd.values()), sum(cwk.values())
    total = 0
    for g in set(cwd) | set(cwk):
        p = cwd[g] / nwd
        q = cwk[g] / nwk
        m = 0.5 * p + 0.5 * q
        contrib = (0.5 * p * math.log(p / m) if cwd[g] else 0.0) + (
            0.5 * q * math.log(q / m) if cwk[g] else 0.0
        )
        total += _half_up(contrib, 1e9)
    r = advanced.QUERIES["m61_jensen_shannon"](spark, sf_dir).collect()[0]
    assert (r.nwd, r.nwk, r.jsd_nano) == (nwd, nwk, total)
    assert abs(r.jsd_bits - total / 1e9 / math.log(2)) < 1e-12
    assert abs(r.js_distance - math.sqrt(total / 1e9)) < 1e-12


def test_m62_brown_forsythe_brute(spark, sf_dir):
    """F statistic vs the textbook two-pass |x - median| ANOVA."""
    import statistics

    pdf = _events_type_cents(spark, sf_dir)
    groups = {g: list(sub.cents) for g, sub in pdf.groupby("event_type")}
    zs = {
        g: [abs(v - statistics.median(vals)) for v in vals]
        for g, vals in groups.items()
    }
    n = sum(len(v) for v in zs.values())
    k = len(zs)
    zbar = sum(sum(v) for v in zs.values()) / n
    ssb = sum(len(v) * (sum(v) / len(v) - zbar) ** 2 for v in zs.values())
    ssw = sum(
        sum((x - sum(v) / len(v)) ** 2 for x in v) for v in zs.values()
    )
    f = (ssb / (k - 1)) / (ssw / (n - k))
    r = advanced.QUERIES["m62_brown_forsythe"](spark, sf_dir).collect()[0]
    assert (r.n, r.k) == (n, k)
    assert abs(r.f_bf - f) < 1e-9


def test_m63_effect_sizes_brute(spark, sf_dir):
    """All four effect sizes vs direct formulas on raw cents."""
    import math

    pdf = _events_type_cents(spark, sf_dir)
    p = pdf[pdf.event_type == "purchase"]
    g1 = [c for c, ts in zip(p.cents, p.ts) if ts.weekday() >= 5]
    g2 = [c for c, ts in zip(p.cents, p.ts) if ts.weekday() < 5]
    n1, n2 = len(g1), len(g2)
    m1, m2 = sum(g1) / n1, sum(g2) / n2
    ss1 = sum((x - m1) ** 2 for x in g1)
    ss2 = sum((x - m2) ** 2 for x in g2)
    sp = math.sqrt((ss1 + ss2) / (n1 + n2 - 2))
    d = (m1 - m2) / sp
    gh = d * (1 - 3 / (4 * (n1 + n2) - 9))
    glass = (m1 - m2) / math.sqrt(ss2 / (n2 - 1))
    gt = sum(1 for a in g1 for b in g2 if a > b)
    lt = sum(1 for a in g1 for b in g2 if a < b)
    cliffs = (gt - lt) / (n1 * n2)
    r = advanced.QUERIES["m63_effect_sizes"](spark, sf_dir).collect()[0]
    assert (r.n1, r.n2) == (n1, n2)
    assert abs(r.cohens_d - d) < 1e-9
    assert abs(r.hedges_g - gh) < 1e-9
    assert abs(r.glass_delta - glass) < 1e-9
    assert abs(r.cliffs_delta - cliffs) < 1e-9


def test_s62_daily_partials_merge_invariant(spark, sf_dir):
    """(d, x) daily partials from arbitrary 3-way splits must merge to
    exactly m56's output — the s62 twin's soundness argument."""
    from pyspark.sql import functions as F

    from fraud_detetion_with__kafkastreams_and_grafana_spark.plans.advanced import (
        seasonal_outliers_from_daily,
    )
    from fraud_detetion_with__kafkastreams_and_grafana_spark.sources.tables import event_seconds, load_table

    ev = load_table(spark, sf_dir, "events")
    t = event_seconds()
    e = ev.select(
        "event_id",
        (t / 86400).cast("long").alias("d"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    parts = [
        e.where(F.col("event_id") % 3 == p)
        .groupBy("d")
        .agg(F.sum("cents").alias("x"))
        for p in range(3)
    ]
    merged = (
        parts[0].unionAll(parts[1]).unionAll(parts[2])
        .groupBy("d").agg(F.sum("x").alias("x"))
    )
    got = {
        r.d: (r.day_cents, round(r.z, 9))
        for r in seasonal_outliers_from_daily(merged).collect()
    }
    want = {
        r.d: (r.day_cents, round(r.z, 9))
        for r in advanced.QUERIES[
            "m56_seasonal_adjusted_outliers"
        ](spark, sf_dir).collect()
    }
    assert got == want


def test_m64_emd_brute(spark, sf_dir):
    """Exact W1 vs a direct CDF-integral walk on raw cents."""
    pdf = _events_type_cents(spark, sf_dir)
    p = pdf[pdf.event_type == "purchase"]
    g1 = sorted(c for c, ts in zip(p.cents, p.ts) if ts.weekday() >= 5)
    g2 = sorted(c for c, ts in zip(p.cents, p.ts) if ts.weekday() < 5)
    n1, n2 = len(g1), len(g2)
    vals = sorted(set(g1) | set(g2))
    emd_num = 0
    cc1 = cc2 = 0
    import bisect

    for v, nxt in zip(vals, vals[1:]):
        cc1 = bisect.bisect_right(g1, v)
        cc2 = bisect.bisect_right(g2, v)
        emd_num += abs(cc1 * n2 - cc2 * n1) * (nxt - v)
    r = advanced.QUERIES["m64_wasserstein_emd"](spark, sf_dir).collect()[0]
    assert (r.n1, r.n2, r.emd_num) == (n1, n2, emd_num)
    assert abs(r.emd_dollars - emd_num / (n1 * n2 * 100)) < 1e-9


def test_m65_hellinger_brute(spark, sf_dir):
    """BC/Hellinger vs a category walk with nano rounding."""
    import collections
    import math

    pdf = _events_type_cents(spark, sf_dir)
    cwd = collections.Counter()
    cwk = collections.Counter()
    for t, ts in zip(pdf.event_type, pdf.ts):
        (cwk if ts.weekday() >= 5 else cwd)[t] += 1
    nwd, nwk = sum(cwd.values()), sum(cwk.values())
    bc = sum(
        _half_up(math.sqrt((cwd[g] / nwd) * (cwk[g] / nwk)), 1e9)
        for g in set(cwd) | set(cwk)
    )
    r = advanced.QUERIES["m65_hellinger_bhattacharyya"](spark, sf_dir).collect()[0]
    assert (r.nwd, r.nwk, r.bc_nano_total) == (nwd, nwk, bc)
    assert abs(r.hellinger - math.sqrt(1 - bc / 1e9)) < 1e-12
    assert abs(r.bhattacharyya_dist - (-math.log(bc / 1e9))) < 1e-12


def test_m66_hhi_brute(spark, sf_dir):
    """HHI/effective-n vs direct share arithmetic per type."""
    import collections

    from pyspark.sql import functions as F

    from fraud_detetion_with__kafkastreams_and_grafana_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    rows = ev.select(
        "event_type", "user_id",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    ).collect()
    tot = collections.defaultdict(collections.Counter)
    for r in rows:
        tot[r.event_type][r.user_id] += r.cents
    got = {
        r.event_type: (r.n_users, r.total_cents, round(r.hhi, 12))
        for r in advanced.QUERIES["m66_hhi_concentration"](spark, sf_dir).collect()
    }
    for g, users in tot.items():
        n = len(users)
        if n <= 1:
            assert g not in got
            continue
        total = sum(users.values())
        hhi = sum(v * v for v in users.values()) / total**2
        assert got[g] == (n, total, round(hhi, 12)), g


def test_m67_theil_brute(spark, sf_dir):
    """Theil T/L vs a per-value walk with micro rounding."""
    import collections
    import math

    from pyspark.sql import functions as F

    from fraud_detetion_with__kafkastreams_and_grafana_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    rows = ev.where(F.col("event_type") == "purchase").select(
        "user_id", F.round(F.col("value") * 100).cast("long").alias("cents")
    ).collect()
    users = collections.Counter()
    for r in rows:
        users[r.user_id] += r.cents
    xs = [v for v in users.values() if v > 0]
    n, xt = len(xs), sum(xs)
    h = collections.Counter(xs)
    tt = sum(c * x * _half_up(math.log(x * n / xt), 1e6) for x, c in h.items())
    tl = sum(c * _half_up(math.log(xt / (x * n)), 1e6) for x, c in h.items())
    r = advanced.QUERIES["m67_theil_inequality"](spark, sf_dir).collect()[0]
    assert (r.n_users, r.total_cents) == (n, xt)
    assert abs(r.theil_t - tt / (xt * 1e6)) < 1e-12
    assert abs(r.theil_l - tl / (n * 1e6)) < 1e-12


def test_m68_chisq_gof_brute(spark, sf_dir):
    """Closed-form chi2 vs the textbook (O-E)^2/E over all 24 hours."""
    import collections

    pdf = _events_type_cents(spark, sf_dir)
    cells = collections.Counter(
        (t, ts.hour) for t, ts in zip(pdf.event_type, pdf.ts)
    )
    byg = collections.defaultdict(dict)
    for (g, hr), c in cells.items():
        byg[g][hr] = c
    got = {
        r.event_type: (r.n, r.hours_hit, round(r.chi2, 9))
        for r in advanced.QUERIES["m68_chisq_gof_hourly"](spark, sf_dir).collect()
    }
    for g, hrs in byg.items():
        n = sum(hrs.values())
        e = n / 24
        chi2 = sum((hrs.get(h, 0) - e) ** 2 / e for h in range(24))
        assert got[g] == (n, len(hrs), round(chi2, 9)), g


def test_m69_durbin_watson_brute(spark, sf_dir):
    """DW vs a numpy OLS-residual walk on the zero-filled calendar."""
    import collections

    pdf = _events_type_cents(spark, sf_dir)
    daily = collections.Counter()
    for ts, c in zip(pdf.ts, pdf.cents):
        daily[int(ts.timestamp() // 86400)] += int(c)
    lo, hi = min(daily), max(daily)
    xs = [daily.get(d, 0) for d in range(lo, hi + 1)]
    n = len(xs)
    ts_ = list(range(n))
    st, sx = sum(ts_), sum(xs)
    stt = sum(t * t for t in ts_)
    stx = sum(t * x for t, x in zip(ts_, xs))
    den = n * stt - st * st
    slope = (n * stx - st * sx) / den
    intercept = (sx * stt - st * stx) / den
    e = [x - intercept - t * slope for t, x in zip(ts_, xs)]
    dw = sum((a - b) ** 2 for a, b in zip(e[1:], e)) / sum(v * v for v in e)
    r = advanced.QUERIES["m69_durbin_watson"](spark, sf_dir).collect()[0]
    assert r.n_days == n
    assert abs(r.slope_cents_per_day - slope) < 1e-9
    assert abs(r.dw - dw) < 1e-9


def test_m70_ccf_brute(spark, sf_dir):
    """CCF at each lag vs a direct overlap-window walk."""
    import collections
    import math

    pdf = _events_type_cents(spark, sf_dir)
    dp = collections.Counter()
    de = collections.Counter()
    for t, ts in zip(pdf.event_type, pdf.ts):
        d = int(ts.timestamp() // 86400)
        if t == "purchase":
            dp[d] += 1
        elif t == "error":
            de[d] += 1
    days = set(dp) | set(de)
    # span from ALL events (daily frame groups every event's day)
    alld = [int(ts.timestamp() // 86400) for ts in pdf.ts]
    lo, hi = min(alld), max(alld)
    xp = [dp.get(d, 0) for d in range(lo, hi + 1)]
    xe = [de.get(d, 0) for d in range(lo, hi + 1)]
    n = len(xp)
    mup, mue = sum(xp) / n, sum(xe) / n
    ssp = sum((v - mup) ** 2 for v in xp)
    sse = sum((v - mue) ** 2 for v in xe)
    got = {
        r.k: round(r.ccf, 9)
        for r in advanced.QUERIES["m70_cross_correlation"](spark, sf_dir).collect()
    }
    for k in range(-3, 4):
        s = sum(
            (xp[i] - mup) * (xe[i + k] - mue)
            for i in range(n)
            if 0 <= i + k < n
        )
        assert got[k] == round(s / math.sqrt(ssp * sse), 9), k


def test_m71_cramers_v_brute(spark, sf_dir):
    """V and bias-corrected V vs a full-grid chi-square walk."""
    import collections
    import math

    pdf = _events_type_cents(spark, sf_dir)
    cells = collections.Counter(
        (t, ts.weekday() + 1) for t, ts in zip(pdf.event_type, pdf.ts)
    )
    rx = collections.Counter()
    cy = collections.Counter()
    for (x, y), c in cells.items():
        rx[x] += c
        cy[y] += c
    n = sum(cells.values())
    r, k = len(rx), len(cy)
    chi2 = sum(
        (cells.get((x, y), 0) - rx[x] * cy[y] / n) ** 2 / (rx[x] * cy[y] / n)
        for x in rx
        for y in cy
    )
    v = math.sqrt(chi2 / (n * (min(r, k) - 1)))
    phi2c = max(chi2 / n - (r - 1) * (k - 1) / (n - 1), 0.0)
    rc = r - (r - 1) ** 2 / (n - 1)
    kc = k - (k - 1) ** 2 / (n - 1)
    vc = math.sqrt(phi2c / min(rc - 1, kc - 1))
    g = advanced.QUERIES["m71_cramers_v"](spark, sf_dir).collect()[0]
    assert (g.n, g.r, g.k) == (n, r, k)
    assert abs(g.chi2 - chi2) < 1e-6
    assert abs(g.cramers_v - v) < 1e-9
    assert abs(g.cramers_v_corrected - vc) < 1e-9


def test_m72_page_hinkley_brute(spark, sf_dir):
    """Alarmed days vs a sequential running-mean walk."""
    import collections
    import math

    pdf = _events_type_cents(spark, sf_dir)
    daily = collections.Counter()
    for ts, c in zip(pdf.ts, pdf.cents):
        daily[int(ts.timestamp() // 86400)] += int(c)
    lo, hi = min(daily), max(daily)
    xs = [daily.get(d, 0) for d in range(lo, hi + 1)]
    nn = len(xs)
    mean = sum(xs) / nn
    sd = math.sqrt(sum((v - mean) ** 2 for v in xs) / (nn - 1))
    want = {}
    mt = 0.0
    cx = 0
    runmin = float("inf")
    for i, x in enumerate(xs):
        cx += x
        mt += x - cx / (i + 1)
        runmin = min(runmin, mt)
        gap = mt - runmin
        if gap > 2.0 * sd:
            want[lo + i] = (x, round(mt, 6), round(gap, 6))
    got = {
        r.d: (r.day_cents, round(r.mt, 6), round(r.gap, 6))
        for r in advanced.QUERIES["m72_page_hinkley"](spark, sf_dir).collect()
    }
    assert got == want


def test_m73_cochran_armitage_brute(spark, sf_dir):
    """CA trend z vs the textbook score-sum formula."""
    import collections
    import math

    pdf = _events_type_cents(spark, sf_dir)
    ni = collections.Counter()
    xi = collections.Counter()
    for t, ts in zip(pdf.event_type, pdf.ts):
        w = ts.weekday() + 1
        ni[w] += 1
        if t == "purchase":
            xi[w] += 1
    n = sum(ni.values())
    x = sum(xi.values())
    pbar = x / n
    num = sum(w * (xi[w] - ni[w] * pbar) for w in ni)
    swn = sum(w * ni[w] for w in ni)
    sw2n = sum(w * w * ni[w] for w in ni)
    z = num / math.sqrt(pbar * (1 - pbar) * (sw2n - swn**2 / n))
    r = advanced.QUERIES["m73_cochran_armitage"](spark, sf_dir).collect()[0]
    assert (r.n, r.x) == (n, x)
    assert abs(r.z - z) < 1e-9


def test_m74_kuiper_brute(spark, sf_dir):
    """V = D+ + D- vs a direct two-CDF walk."""
    pdf = _events_type_cents(spark, sf_dir)
    p = pdf[pdf.event_type == "purchase"]
    g1 = sorted(c for c, ts in zip(p.cents, p.ts) if ts.weekday() >= 5)
    g2 = sorted(c for c, ts in zip(p.cents, p.ts) if ts.weekday() < 5)
    n1, n2 = len(g1), len(g2)
    import bisect

    vals = sorted(set(g1) | set(g2))
    dplus = max(
        bisect.bisect_right(g1, v) * n2 - bisect.bisect_right(g2, v) * n1
        for v in vals
    )
    dminus = max(
        bisect.bisect_right(g2, v) * n1 - bisect.bisect_right(g1, v) * n2
        for v in vals
    )
    dplus, dminus = max(dplus, 0), max(dminus, 0)
    r = advanced.QUERIES["m74_kuiper_test"](spark, sf_dir).collect()[0]
    assert (r.n1, r.n2, r.dplus_num, r.dminus_num) == (n1, n2, dplus, dminus)
    assert abs(r.kuiper_v - (dplus + dminus) / (n1 * n2)) < 1e-12


def test_m75_odds_ratio_brute(spark, sf_dir):
    """OR/RR/CI vs direct 2x2 arithmetic."""
    import math

    pdf = _events_type_cents(spark, sf_dir)
    wk = [ts.weekday() >= 5 for ts in pdf.ts]
    conv = [t == "purchase" for t in pdf.event_type]
    a = sum(1 for w, c in zip(wk, conv) if w and c)
    b = sum(1 for w, c in zip(wk, conv) if w and not c)
    c_ = sum(1 for w, c in zip(wk, conv) if not w and c)
    d = sum(1 for w, c in zip(wk, conv) if not w and not c)
    r = advanced.QUERIES["m75_odds_ratio"](spark, sf_dir).collect()[0]
    assert (r.a, r.b, r.c, r.d) == (a, b, c_, d)
    orr = a * d / (b * c_)
    se = math.sqrt(1 / a + 1 / b + 1 / c_ + 1 / d)
    assert abs(r.odds_ratio - orr) < 1e-12
    assert abs(r.relative_risk - (a / (a + b)) / (c_ / (c_ + d))) < 1e-12
    assert abs(r.or_ci_lo - math.exp(math.log(orr) - 1.959963984540054 * se)) < 1e-12
    assert abs(r.or_ci_hi - math.exp(math.log(orr) + 1.959963984540054 * se)) < 1e-12


def test_m76_m77_calibration_consistency(spark, sf_dir):
    """ECE/MCE/HL re-derive from m11's own published bin table."""
    import math

    bins = advanced.QUERIES["m11_calibration_bins"](spark, sf_dir).collect()
    nt = sum(b.n for b in bins)
    gaps = [abs(b.n_pos * 1000000 - b.p_micro_sum) for b in bins]
    ece = sum(gaps) / (nt * 1e6)
    mce = max(g / (b.n * 1e6) for g, b in zip(gaps, bins))
    hl = sum(
        (b.n_pos - b.p_micro_sum / 1e6) ** 2
        / ((b.p_micro_sum / 1e6) * (1 - b.p_micro_sum / 1e6 / b.n))
        for b in bins
    )
    r76 = advanced.QUERIES["m76_calibration_error"](spark, sf_dir).collect()[0]
    assert r76.n == nt and r76.ece_num == sum(gaps)
    assert abs(r76.ece - ece) < 1e-12
    assert abs(r76.mce - mce) < 1e-12
    r77 = advanced.QUERIES["m77_hosmer_lemeshow"](spark, sf_dir).collect()[0]
    assert (r77.n_bins, r77.n) == (len(bins), nt)
    assert abs(r77.hl_chi2 - hl) < 1e-6


def test_m78_anderson_darling_brute(spark, sf_dir):
    """A^2 vs a midrank-form walk over the pooled histogram, checked
    against scipy's reference semantics shape: ties-adjusted Scholz-
    Stephens with doubled mid-counts."""
    import collections

    pdf = _events_type_cents(spark, sf_dir)
    p = pdf[pdf.event_type == "purchase"]
    g1 = collections.Counter(
        c for c, ts in zip(p.cents, p.ts) if ts.weekday() >= 5
    )
    g2 = collections.Counter(
        c for c, ts in zip(p.cents, p.ts) if ts.weekday() < 5
    )
    n1, n2 = sum(g1.values()), sum(g2.values())
    n = n1 + n2
    s1 = s2 = 0
    cum1 = cum2 = cumh = 0
    for v in sorted(set(g1) | set(g2)):
        c1, c2 = g1.get(v, 0), g2.get(v, 0)
        ch = c1 + c2
        m2a = 2 * (cum1 + c1) - c1
        m2b = 2 * (cum2 + c2) - c2
        h2 = 2 * (cumh + ch) - ch
        cum1 += c1
        cum2 += c2
        cumh += ch
        if cumh == n and ch == n:
            continue
        if cumh == n and (2 * n - h2) * h2 - n * ch == 0:
            continue
        den = n * (h2 * (2 * n - h2) - n * ch)
        if ch < n:
            s1 += _half_up(ch * (n * m2a - n1 * h2) ** 2 / den, 1e6)
            s2 += _half_up(ch * (n * m2b - n2 * h2) ** 2 / den, 1e6)
    a2 = (n - 1) / n * (s1 / n1 + s2 / n2) / 1e6
    r = advanced.QUERIES["m78_anderson_darling"](spark, sf_dir).collect()[0]
    assert (r.n1, r.n2, r.s1_micro, r.s2_micro) == (n1, n2, s1, s2)
    assert abs(r.a2 - a2) < 1e-9


def test_m79_wilson_brute(spark, sf_dir):
    """Wilson bounds vs the closed form; bounds stay inside [0,1] and
    bracket phat."""
    import collections
    import math

    pdf = _events_type_cents(spark, sf_dir)
    ni = collections.Counter()
    xi = collections.Counter()
    for t, ts in zip(pdf.event_type, pdf.ts):
        w = ts.weekday() + 1
        ni[w] += 1
        xi[w] += t == "purchase"
    got = {
        r.dow: (r.n, r.x, r.phat, r.wilson_lo, r.wilson_hi)
        for r in advanced.QUERIES["m79_wilson_intervals"](spark, sf_dir).collect()
    }
    z = 1.959963984540054
    for w in ni:
        n, x = ni[w], xi[w]
        phat = x / n
        half = z * math.sqrt(phat * (1 - phat) / n + z * z / (4 * n * n))
        lo = (phat + z * z / (2 * n) - half) / (1 + z * z / n)
        hi = (phat + z * z / (2 * n) + half) / (1 + z * z / n)
        g = got[w]
        assert (g[0], g[1]) == (n, x)
        assert abs(g[3] - lo) < 1e-12 and abs(g[4] - hi) < 1e-12
        assert 0.0 <= g[3] <= phat <= g[4] <= 1.0


def test_m80_friedman_brute(spark, sf_dir):
    """Friedman Q vs a per-week midrank walk on complete weeks."""
    import collections

    pdf = _events_type_cents(spark, sf_dir)
    daily = collections.Counter()
    for ts, c in zip(pdf.ts, pdf.cents):
        daily[int(ts.timestamp() // 86400)] += int(c)
    lo, hi = min(daily), max(daily)
    weeks = collections.defaultdict(dict)
    for d in range(lo, hi + 1):
        weeks[(d + 3) // 7][(d + 3) % 7 + 1] = daily.get(d, 0)
    full = {w: v for w, v in weeks.items() if len(v) == 7}
    n, k = len(full), 7
    rj2 = collections.Counter()
    tsum = 0
    for w, days in full.items():
        vals = sorted(days.values())
        cnt = collections.Counter(vals)
        tsum += sum(c**3 - c for c in cnt.values())
        before = {}
        pos = 0
        for v in sorted(cnt):
            before[v] = pos
            pos += cnt[v]
        for dow, v in days.items():
            rj2[dow] += 2 * before[v] + cnt[v] + 1
    srj2 = sum(r * r for r in rj2.values())
    q = (3 * srj2 - 3 * n * n * k * (k + 1) ** 2) / (n * k * (k + 1))
    corr = 1 - tsum / (n * k * (k * k - 1))
    r = advanced.QUERIES["m80_friedman_test"](spark, sf_dir).collect()[0]
    assert (r.n, r.k) == (n, k)
    assert abs(r.q - q) < 1e-9
    assert abs(r.q_tie_corrected - q / corr) < 1e-9


def test_m81_cochran_q_brute(spark, sf_dir):
    """Q vs a direct incidence-matrix walk on complete weeks."""
    import collections

    pdf = _events_type_cents(spark, sf_dir)
    alld = [int(ts.timestamp() // 86400) for ts in pdf.ts]
    lo, hi = min(alld), max(alld)
    wk_days = collections.Counter((d + 3) // 7 for d in range(lo, hi + 1))
    ok = {w for w, c in wk_days.items() if c == 7}
    from pyspark.sql import functions as F

    from fraud_detetion_with__kafkastreams_and_grafana_spark.sources.tables import event_seconds, load_table

    ev = load_table(spark, sf_dir, "events")
    s = event_seconds()
    rows = ev.where(F.col("event_type") == "purchase").select(
        "user_id", (s / 86400).cast("long").alias("d")
    ).collect()
    inc = {(r.user_id, (r.d + 3) // 7) for r in rows if (r.d + 3) // 7 in ok}
    ri = collections.Counter(u for u, _ in inc)
    cj = collections.Counter(w for _, w in inc)
    k = len(ok)
    nt = sum(ri.values())
    sr2 = sum(v * v for v in ri.values())
    sc2 = sum(v * v for v in cj.values())
    q = (k - 1) * (k * sc2 - nt * nt) / (k * nt - sr2)
    r = advanced.QUERIES["m81_cochran_q"](spark, sf_dir).collect()[0]
    assert (r.k, r.n_blocks, r.nt) == (k, len(ri), nt)
    assert abs(r.q - q) < 1e-9


def test_m82_grubbs_brute(spark, sf_dir):
    """G and studentized range vs direct mean/sd arithmetic."""
    import math
    import statistics

    pdf = _events_type_cents(spark, sf_dir)
    got = {
        r.event_type: (r.n, r.min_cents, r.max_cents,
                       round(r.grubbs_g, 9), round(r.studentized_range, 9))
        for r in advanced.QUERIES["m82_grubbs_extremes"](spark, sf_dir).collect()
    }
    for g, sub in pdf.groupby("event_type"):
        xs = list(sub.cents)
        n = len(xs)
        mean = sum(xs) / n
        sd = statistics.stdev(xs)
        gg = max(max(xs) - mean, mean - min(xs)) / sd
        q = (max(xs) - min(xs)) / sd
        assert got[g] == (n, min(xs), max(xs), round(gg, 9), round(q, 9)), g


def test_m83_ksample_ad_brute(spark, sf_dir):
    """k-sample A2kN vs a per-group midcount walk over all pooled
    values (including each group's zero cells)."""
    import collections

    pdf = _events_type_cents(spark, sf_dir)
    groups = {g: collections.Counter(sub.cents) for g, sub in pdf.groupby("event_type")}
    vals = sorted(set().union(*groups.values()))
    ng = {g: sum(c.values()) for g, c in groups.items()}
    n = sum(ng.values())
    pooled = {v: sum(c.get(v, 0) for c in groups.values()) for v in vals}
    s_micro = {}
    for g, cnt in groups.items():
        cum = cumh = 0
        s = 0
        for v in vals:
            cg = cnt.get(v, 0)
            ch = pooled[v]
            m2 = 2 * (cum + cg) - cg
            h2 = 2 * (cumh + ch) - ch
            cum += cg
            cumh += ch
            if ch < n:
                den = n * (h2 * (2 * n - h2) - n * ch)
                s += _half_up(ch * (n * m2 - ng[g] * h2) ** 2 / den, 1e6)
        s_micro[g] = s
    a2 = (n - 1) / n * sum(s_micro[g] / ng[g] for g in groups) / 1e6
    r = advanced.QUERIES["m83_ksample_anderson_darling"](spark, sf_dir).collect()[0]
    assert (r.n, r.k) == (n, len(groups))
    assert abs(r.a2kn - a2) < 1e-9
