"""Unit gates for the round-8 batch-3 operators: Kruskal-Wallis,
Herfindahl concentration, Pettitt changepoint, OHLC bars, and
Croston's intermittent-demand method. Hand fixtures pin the rank and
SES algebra; sf0.001 runs pin the documented invariants (HHI bounds,
OHLC ordering, SES convexity) on top of the 3-scale oracle MATCHes."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from redshells_spark.queries import QUERIES

SF = "/root/testdata/sf0.001"


# ------------------------------------------------- Kruskal-Wallis


def test_kruskal_wallis_invariants(spark):
    row = QUERIES["kruskal_wallis_order_totals"](spark, SF).collect()[0]
    n_orders = spark.read.parquet(f"{SF}/orders.parquet").count()
    assert row["n"] == n_orders
    assert row["h"] >= 0.0
    # C <= 1 so the tie-corrected H can only grow
    assert row["h_tie_corrected"] >= row["h"]
    assert row["reject_005"] in (0, 1)


def test_kruskal_wallis_matches_textbook_no_ties(spark):
    # no ties, 2 groups -> KW H equals the squared standardized
    # Mann-Whitney z asymptotically; here just pin against the direct
    # textbook H = 12/(N(N+1)) * sum n_g (rbar_g - (N+1)/2)^2 computed
    # by hand on distinct values (floored doubled mean ranks are exact
    # when every group mean rank is an integer or half-integer)
    # group A ranks {1,2,3}, group B ranks {4,5,6}: rbar 2 and 5,
    # N=6 -> H = 12/42 * (3*(2-3.5)^2 + 3*(5-3.5)^2) = 12/42*13.5
    h_hand = 12.0 / 42.0 * 13.5
    # doubled-scale replica of the query's algebra
    ranks = {"A": [1, 2, 3], "B": [4, 5, 6]}
    n = 6
    s2 = 0
    for g, rs in ranks.items():
        r2sum = sum(2 * r for r in rs)
        m2 = r2sum // len(rs)
        dev2 = m2 - n - 1
        s2 += len(rs) * dev2 * dev2
    h_query = 3.0 * s2 / (n * (n + 1))
    assert abs(h_query - h_hand) < 1e-12


# ------------------------------------------------- Herfindahl


def test_herfindahl_bounds(spark):
    out = QUERIES["herfindahl_concentration"](spark, SF).collect()
    assert len(out) > 0
    for r in out:
        assert 0 < r["hhi_e6"] <= 1_000_000
        assert 0 < r["top_share_e6"] <= 1_000_000
        # HHI >= 1/n (equal-share floor), with e6-floor slack per share
        assert r["hhi_e6"] >= 1_000_000 // r["n_suppliers"] - r["n_suppliers"]
        # HHI >= top share squared
        assert r["hhi_e6"] >= r["top_share_e6"] ** 2 // 1_000_000


def test_herfindahl_monopoly_is_one(spark):
    # degenerate market: one supplier -> share_e6 = 1e6 -> HHI = 1e6
    # (pure algebra check of the floor convention)
    share = 1_000_000
    assert share * share // 1_000_000 == 1_000_000


# ------------------------------------------------- Pettitt


def test_pettitt_invariants(spark):
    row = QUERIES["pettitt_changepoint_daily"](spark, SF).collect()[0]
    assert row["k_stat"] >= 0
    assert 0.0 <= row["p_approx"] <= 2.0  # the 2exp() form can exceed 1
    assert row["reject_005"] == (1 if row["p_approx"] < 0.05 else 0)


def test_pettitt_hand_shift_series():
    # level shift at t=3: [1,1,1,9,9,9]; ranks 2,2,2,5,5,5 (midranks)
    # doubled midranks r2: below=0,cnt=3 -> 2*0+3+1=4 (r=2);
    # above: below=3 -> 2*3+3+1=10 (r=5)
    r2 = [4, 4, 4, 10, 10, 10]
    n = 6
    u = [sum(r2[: t + 1]) - (t + 1) * (n + 1) for t in range(n - 1)]
    # U_t = 2*sum(R_i<=t) - t(n+1): at t=3 (0-based 2): 2*6-3*7 = -9
    assert u == [-3, -6, -9, -6, -3]
    k = max(abs(x) for x in u)
    assert k == 9  # argmax at the true changepoint


# ------------------------------------------------- OHLC


def test_ohlc_ordering(spark):
    out = QUERIES["ohlc_daily_value"](spark, SF).collect()
    assert len(out) > 0
    for r in out:
        assert r["low_c"] <= r["open_c"] <= r["high_c"]
        assert r["low_c"] <= r["close_c"] <= r["high_c"]
        assert r["n"] * r["low_c"] <= r["total_c"] <= r["n"] * r["high_c"]


# ------------------------------------------------- Croston


def test_croston_levels_convex(spark):
    out = QUERIES["croston_intermittent"](spark, SF).orderBy("k").collect()
    if not out:  # degenerate corpus: no cohort purchases
        return
    vs = [r["v"] for r in out]
    gaps = [r["gap"] for r in out]
    for r in out:
        # SES level stays inside the observed envelope (convexity)
        assert min(vs) - 1e-9 <= r["z_level"] <= max(vs) + 1e-9
        assert min(gaps) - 1e-9 <= r["p_level"] <= max(gaps) + 1e-9
        assert r["gap"] >= 1
        # demand_rate = rhu(z/p, 10)
        from redshells_spark.operators.markov import _round_half_up as rhu

        assert r["demand_rate"] == rhu(r["z_level"] / r["p_level"], 10)


def test_croston_hand_recurrence():
    from redshells_spark.operators.markov import _round_half_up as rhu

    # demands at day-index 2 (v=4) and 5 (v=2): gaps 2, 3
    z, p = 4.0, 2.0
    z2 = rhu(0.2 * 2.0 + 0.8 * z, 10)
    p2 = rhu(0.2 * 3.0 + 0.8 * p, 10)
    assert (z2, p2) == (3.6, 2.2)
    assert rhu(z2 / p2, 10) == rhu(3.6 / 2.2, 10)
