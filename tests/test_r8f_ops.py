"""Unit gates for the round-8 batch-6 operators: capture-recapture,
Kendall's W, the weekly PSI series, retention decay fit, and the
feature-staleness profile. Hand fixtures pin the estimator algebra;
sf0.001 runs pin the documented invariants on top of the 3-scale
oracle MATCHes."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from redshells_spark.queries import QUERIES

SF = "/root/testdata/sf0.001"


# ------------------------------------------- capture-recapture


def test_chapman_hand_example():
    # n1=40, n2=50, m=20 -> Chapman = 41*51//21 - 1 = 98
    assert (40 + 1) * (50 + 1) // (20 + 1) - 1 == 98


def test_capture_recapture_query(spark):
    r = QUERIES["capture_recapture_users"](spark, SF).collect()[0]
    assert r["m"] <= min(r["n1"], r["n2"])
    assert r["true_n"] <= r["n1"] + r["n2"]  # union bound
    assert r["chapman"] >= max(r["n1"], r["n2"]) - 1  # estimate >= captures
    # signed error convention: err sign matches estimate vs truth
    if r["chapman"] >= r["true_n"]:
        assert r["err_e6"] >= 0
    else:
        assert r["err_e6"] < 0


# --------------------------------------------------- Kendall's W


def test_kendall_w_perfect_agreement():
    # identical rankings of n=4 by 3 judges -> W = 1 exactly
    n, k = 4, 3
    sum_d2_x4 = sum(
        (2 * (k * r) - k * (n + 1)) ** 2 for r in range(1, n + 1)
    )
    w_e6 = sum_d2_x4 * 10**6 // (3 * (n**3 - n))
    assert w_e6 == 1_000_000


def test_kendall_w_query_bounds(spark):
    r = QUERIES["kendall_w_rankings"](spark, SF).collect()[0]
    assert 0 <= r["w_e6"] <= 1_000_000
    assert r["k_judges"] == 3
    assert r["chi2"] >= 0.0


# ------------------------------------------------ weekly PSI


def test_psi_first_week_is_zero(spark):
    out = QUERIES["psi_weekly_series"](spark, SF).orderBy("w").collect()
    assert len(out) >= 1
    # the baseline week compares against itself: every term is exactly
    # floor(0 * ln(1) * 1e9 + .5) = 0
    assert out[0]["psi_e9"] == 0
    for r in out:
        # PSI is a sum of (p-q)ln(p/q) >= 0 terms up to e9 rounding
        assert r["psi_e9"] >= -10
        assert r["n_events"] > 0


# ------------------------------------------- retention decay


def test_retention_decay_query(spark):
    rows = QUERIES["retention_decay_fit"](spark, SF).collect()
    if not rows:  # <2 pooled ages on a tiny corpus is legitimate
        return
    r = rows[0]
    assert r["n_points"] >= 2
    # retention rates are <=1 so the fitted intercept is <= ~0
    assert r["intercept"] <= 1e-6
    if r["slope"] < 0:
        assert abs(
            r["half_life_weeks"] - round(-math.log(2) / r["slope"], 6)
        ) < 1e-4
    else:
        assert r["half_life_weeks"] == 0.0


# ------------------------------------------- staleness profile


def test_staleness_profile_invariants(spark):
    r = QUERIES["feature_staleness_profile"](spark, SF).collect()[0]
    assert 0 <= r["n_matched"] <= r["n_clicks"]
    assert 0 <= r["match_rate_e6"] <= 1_000_000
    assert (
        0
        <= r["p50_gap_s"]
        <= r["p90_gap_s"]
        <= r["p99_gap_s"]
        <= r["max_gap_s"]
        <= 86_400
    )
    if r["n_matched"] > 0:
        assert r["p50_gap_s"] <= 2 * r["mean_gap_s"] + 1 or r["mean_gap_s"] >= 0


def test_staleness_consistent_with_asof(spark):
    prof = QUERIES["feature_staleness_profile"](spark, SF).collect()[0]
    asof = QUERIES["asof_join_tolerance"](spark, SF)
    n_matched = asof.filter(F.col("matched_purchase_id").isNotNull()).count()
    assert prof["n_matched"] == n_matched
    assert prof["n_clicks"] == asof.count()
