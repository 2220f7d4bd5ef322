"""Property/differential tests for the round-3 analytics batch —
invariants the DuckDB oracle can't express (brute-force dominance,
interval disjointness), on the sf0.001 fixtures."""

import os

import pytest

import __spark_entry__ as entrymod

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")
Q = entrymod.queries()


def test_skyline_matches_bruteforce(spark):
    """The O(n log n) windowed skyline equals the O(n²) dominance
    definition exactly."""
    got = {r.p_partkey for r in Q["skyline_parts"](spark, SF_DIR).collect()}
    parts = [(r.p_partkey, r.p_size, r.p_retailprice)
             for r in spark.read.parquet(f"{SF_DIR}/part.parquet")
             .select("p_partkey", "p_size", "p_retailprice").collect()]
    brute = set()
    for k, s, p in parts:
        dominated = any(
            s2 >= s and p2 <= p and (s2 > s or p2 < p)
            for k2, s2, p2 in parts if k2 != k)
        if not dominated:
            brute.add(k)
    assert got == brute


def test_scd2_intervals_partition_the_stream(spark):
    """Intervals per user are disjoint, ordered, alternate states, and
    their event counts sum to the user's event count."""
    rows = Q["scd2_intervals"](spark, SF_DIR).collect()
    ev = (spark.read.parquet(f"{SF_DIR}/events.parquet")
          .groupBy("user_id").count().collect())
    per_user_events = {r.user_id: r["count"] for r in ev}
    by_user = {}
    for r in rows:
        by_user.setdefault(r.user_id, []).append(r)
    assert set(by_user) == set(per_user_events)
    for uid, ivs in by_user.items():
        ivs.sort(key=lambda r: r.grp)
        assert sum(r.n_events for r in ivs) == per_user_events[uid]
        for a, b in zip(ivs, ivs[1:]):
            assert a.valid_to <= b.valid_from
            assert a.state != b.state, "consecutive runs must differ"
        for r in ivs:
            assert r.valid_from <= r.valid_to


def test_activity_streaks_invariants(spark):
    """active_days sums to the distinct (user, day) count; the longest
    streak never exceeds the user's active days."""
    rows = Q["activity_streaks"](spark, SF_DIR).collect()
    distinct_days = (spark.read.parquet(f"{SF_DIR}/events.parquet")
                     .selectExpr("user_id", "cast(ts as date) d")
                     .distinct().count())
    assert sum(r.active_days for r in rows) == distinct_days
    for r in rows:
        assert 1 <= r.longest <= r.active_days
        assert r.n_streaks >= 1
        # n_streaks * 1 <= active_days (each streak has >= 1 day)
        assert r.n_streaks <= r.active_days


def test_decile_share_and_gini_consistency(spark):
    """Decile shares sum to 1 and rise monotonically; Gini falls in
    [0, 1) and agrees with the Lorenz view of the same deciles."""
    shares = sorted(Q["decile_share"](spark, SF_DIR).collect(),
                    key=lambda r: r.decile)
    assert len(shares) == 10
    assert abs(sum(r.share for r in shares) - 1.0) < 1e-4
    revs = [r.revenue for r in shares]
    assert revs == sorted(revs), "decile revenue must be nondecreasing"
    gini = Q["gini_revenue"](spark, SF_DIR).collect()[0]
    assert 0.0 <= gini.gini < 1.0


def test_fuzzy_pairs_are_blocked_and_bounded(spark):
    """Every returned pair shares the blocking noun and has edit
    distance in [1, 2] with ordered keys."""
    rows = Q["fuzzy_name_pairs"](spark, SF_DIR).collect()
    for r in rows:
        assert r.k1 < r.k2
        assert 1 <= r.dist <= 2
        assert r.name1.split()[-1] == r.name2.split()[-1]


def test_rfm_segments_cover_all_customers(spark):
    rows = Q["rfm_segments"](spark, SF_DIR).collect()
    n_cust = (spark.read.parquet(f"{SF_DIR}/orders.parquet")
              .select("o_custkey").distinct().count())
    assert sum(r.n_customers for r in rows) == n_cust
    for r in rows:
        assert len(r.segment) == 3
        assert all(c in "1234" for c in r.segment)


def test_holt_coeffs_match_direct_recursion():
    """The unrolled dyadic coefficient ladder must reproduce the
    textbook Holt recursion run directly in floats."""
    from graphydb_spark.queries._analytics_b import _holt_coeffs
    T = 12
    D, nums = _holt_coeffs(T)
    import random
    rng = random.Random(7)
    y = [rng.randint(100, 10000) for _ in range(T)]
    l, b = y[0], y[1] - y[0]
    for t in range(1, T):
        l_new = 0.5 * y[t] + 0.5 * (l + b)
        b = 0.5 * (l_new - l) + 0.5 * b
        l = l_new
    for h in (1, 2, 3, 4):
        direct = l + h * b
        ladder = sum(nums[h][i] * y[i] for i in range(T)) / D
        assert abs(direct - ladder) < 1e-6, (h, direct, ladder)


def test_embedding_covariance_matches_numpy(spark):
    """Quantized-grid covariance must equal numpy's population cov of
    the quantized vectors."""
    import numpy as np
    from graphydb_spark.queries._analytics_b import q_embedding_covariance
    sf = "/root/testdata/sf0.001"
    got = {(r["i"], r["j"]): r["cov"]
           for r in q_embedding_covariance(spark, sf).collect()}
    emb = np.array([r["embedding"] for r in
                    spark.read.parquet(sf + "/embeddings.parquet")
                    .select("embedding").collect()])
    q = np.round(emb.astype(np.float64) * 1e6)
    c = np.cov(q, rowvar=False, bias=True) / 1e12
    for (i, j), v in list(got.items())[:200]:
        assert abs(v - c[i, j]) < 2e-6, (i, j, v, c[i, j])


def test_interval_coverage_hand_case(spark):
    """Overlap, containment, disjoint, zero-length — hand-checked."""
    import datetime as dt
    from graphydb_spark.queries._analytics_b import (  # noqa: F401
        q_interval_coverage)
    from pyspark.sql import functions as F, Window as W
    rows = [
        # user 1: [0,10) + [5,20) overlap -> 20; [30,40) disjoint -> 10
        (1, 0.0, 10.0), (2, 5.0, 15.0), (3, 30.0, 10.0),
        # user 2: [0,100) contains [10,20) -> 100
        (4, 0.0, 100.0), (5, 10.0, 10.0),
        # user 3: zero-length interval -> 0
        (6, 7.0, 0.0),
    ]
    base = dt.datetime(2024, 1, 1)
    ev = spark.createDataFrame(
        [(eid, base + dt.timedelta(seconds=s), 1 if eid < 4 else
          (2 if eid < 6 else 3), "t", v)
         for eid, s, v in rows],
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double")
    iv = ev.select("user_id", F.col("ts").cast("long").alias("s"),
                   (F.col("ts").cast("long")
                    + F.col("value").cast("long")).alias("e"), "event_id")
    w = (W.partitionBy("user_id").orderBy("s", "e", "event_id")
         .rowsBetween(W.unboundedPreceding, -1))
    run = (iv.withColumn("pm", F.max("e").over(w))
           .withColumn("c", F.greatest(
               F.col("e") - F.greatest(F.col("s"),
                                       F.coalesce(F.col("pm"),
                                                  F.col("s"))),
               F.lit(0))))
    got = {r["user_id"]: r["cs"] for r in
           run.groupBy("user_id").agg(F.sum("c").alias("cs")).collect()}
    assert got == {1: 30, 2: 100, 3: 0}


def test_spearman_matches_scipy_formula(spark):
    """Doubled-rank Spearman must equal the textbook formula computed
    directly in Python on the same data."""
    from graphydb_spark.queries._analytics_b import q_spearman_corr
    import statistics
    got = q_spearman_corr(spark, "/root/testdata/sf0.001").collect()[0]
    import duckdb
    con = duckdb.connect()
    rows = con.execute(
        "SELECT CAST(CAST(l_discount AS DECIMAL(12,2))*100 AS BIGINT), "
        "CAST(l_quantity AS BIGINT) FROM "
        "'/root/testdata/sf0.001/lineitem.parquet'").fetchall()
    xs = [r[0] for r in rows]
    ys = [r[1] for r in rows]

    def avg_ranks(v):
        order = sorted(range(len(v)), key=lambda i: v[i])
        r = [0.0] * len(v)
        i = 0
        while i < len(order):
            j = i
            while j + 1 < len(order) and v[order[j + 1]] == v[order[i]]:
                j += 1
            avg = (i + j) / 2 + 1
            for k in range(i, j + 1):
                r[order[k]] = avg
            i = j + 1
        return r
    rx, ry = avg_ranks(xs), avg_ranks(ys)
    mx, my = statistics.mean(rx), statistics.mean(ry)
    num = sum((a - mx) * (b - my) for a, b in zip(rx, ry))
    den = (sum((a - mx) ** 2 for a in rx)
           * sum((b - my) ** 2 for b in ry)) ** 0.5
    assert abs(got["spearman_rho"] - num / den) < 1e-6


def test_cusum_prefix_max_equals_recursion(spark):
    """The window formulation S = P - min(0, running-min P) must equal
    the textbook recursion S_t = max(0, S_{t-1} + d_t) run in Python."""
    import duckdb
    con = duckdb.connect()
    rows = con.execute(
        "SELECT CAST(o_orderdate AS DATE) AS day, "
        "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))*100 AS BIGINT) "
        "FROM '/root/testdata/sf0.001/orders.parquet' "
        "GROUP BY 1 ORDER BY 1").fetchall()
    cents = [r[1] for r in rows]
    k = int(sum(cents) / len(cents))  # floor(avg) for positive ints
    s, out = 0, {}
    for (day, c) in rows:
        s = max(0, s + c - k)
        if s > 5 * k:
            out[day] = s
    from graphydb_spark.queries._analytics_b import q_cusum_alarm
    got = {r["day"]: r["cusum"] for r in
           q_cusum_alarm(spark, "/root/testdata/sf0.001").collect()}
    assert got == out


def test_isotonic_minimax_equals_pava(spark):
    """The window minimax formulation must equal the classic
    pool-adjacent-violators algorithm run in Python."""
    import duckdb
    from graphydb_spark.queries._analytics_b import q_isotonic_trend
    con = duckdb.connect()
    ys = [r[0] for r in con.execute(
        "SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))*100 "
        "AS BIGINT) FROM '/root/testdata/sf0.001/orders.parquet' "
        "GROUP BY date_trunc('week', CAST(o_orderdate AS TIMESTAMP)) "
        "ORDER BY date_trunc('week', CAST(o_orderdate AS TIMESTAMP))"
    ).fetchall()]
    # PAVA: pools of (sum, count), merge while decreasing
    pools = []
    for y in ys:
        pools.append([y, 1])
        while len(pools) > 1 and \
                pools[-2][0] * pools[-1][1] > pools[-1][0] * pools[-2][1]:
            s2, c2 = pools.pop()
            pools[-1][0] += s2
            pools[-1][1] += c2
    want = []
    for s, c in pools:
        want.extend([s / c] * c)
    got = [r["fit"] for r in
           q_isotonic_trend(spark, "/root/testdata/sf0.001")
           .orderBy("i").collect()]
    assert len(got) == len(want)
    for g, w in zip(got, want):
        assert abs(g - w) < 1e-4, (g, w)
    assert all(a <= b + 1e-9 for a, b in zip(got, got[1:]))  # monotone


def test_shapley_efficiency_axiom(spark):
    """Shapley values must sum to v(grand coalition) - v(empty) —
    the efficiency axiom, computed on the real fixture data."""
    import duckdb
    from graphydb_spark.queries._analytics_c import (q_shapley_attribution,
                                                     _SHAPLEY_CHANNELS)
    sf = "/root/testdata/sf0.001"
    got = {r["channel"]: r["shapley"]
           for r in q_shapley_attribution(spark, sf).collect()}
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM "
                f"'{sf}/events.parquet'")
    chans = ", ".join(f"'{c}'" for c in _SHAPLEY_CHANNELS)
    full = ",".join(sorted(_SHAPLEY_CHANNELS))
    v_full = con.execute(f"""
        WITH touched AS (
          SELECT user_id, array_to_string(list_sort(list_distinct(
              list(event_type))), ',') AS sset
          FROM events WHERE event_type IN ({chans}) GROUP BY user_id),
        conv AS (SELECT DISTINCT user_id FROM events
                 WHERE event_type = 'purchase')
        SELECT round(SUM(CASE WHEN c.user_id IS NOT NULL THEN 1
                         ELSE 0 END) * 1.0 / COUNT(*), 9)
        FROM touched t LEFT JOIN conv c ON c.user_id = t.user_id
        WHERE sset = '{full}'""").fetchone()[0]
    assert abs(sum(got.values()) - float(v_full)) < 1e-6


def test_conformal_coverage_near_nominal(spark):
    """Split-conformal validity: empirical held-out coverage should
    sit near the 90% nominal level (exchangeability holds only
    approximately on a trending series — allow a wide band, but the
    guarantee must not collapse)."""
    from graphydb_spark.queries._analytics_c import q_conformal_interval
    row = q_conformal_interval(spark, "/root/testdata/sf0.01") \
        .collect()[0]
    assert row["n_cal"] > 100 and row["n_test"] > 100
    assert 0.75 <= row["empirical_coverage"] <= 1.0
