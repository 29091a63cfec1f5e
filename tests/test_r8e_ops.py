"""Unit gates for the round-8 batch-5 operators: Cohen's kappa,
Gumbel block maxima, negative-binomial moments, seasonal Mann-Kendall,
and the tolerance as-of join. Hand fixtures pin the agreement and
extreme-value algebra; sf0.001 runs pin the documented invariants on
top of the 3-scale oracle MATCHes."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from redshells_spark.queries import QUERIES

SF = "/root/testdata/sf0.001"


# ------------------------------------------------- Cohen's kappa


def test_kappa_hand_confusion():
    # textbook example: n=100, agree=70 (45+25), r1=50, c1=55
    n, n11, n10, n01, n00 = 100, 45, 5, 10, 40
    num = n * (n11 + n00) - ((n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00))
    den = n * n - ((n11 + n10) * (n11 + n01) + (n01 + n00) * (n10 + n00))
    # po=0.85, pe=(50*55+50*45)/1e4=0.5 -> kappa = 0.35/0.5 = 0.7
    assert abs(num / den - 0.7) < 1e-12
    kappa_e6 = -(((-num) * 10**6) // den) if num < 0 else (num * 10**6) // den
    assert kappa_e6 == 700_000


def test_kappa_query_bounds(spark):
    r = QUERIES["cohens_kappa_judges"](spark, SF).collect()[0]
    assert r["n"] == r["n11"] + r["n10"] + r["n01"] + r["n00"]
    assert -1_000_000 <= r["kappa_e6"] <= 1_000_000


# ------------------------------------------------- Gumbel


def test_gumbel_constants():
    from redshells_spark.queries.stat_tests import (
        _EULER_GAMMA,
        _GUMBEL_Q99,
        _SQRT6_OVER_PI,
    )

    assert abs(_SQRT6_OVER_PI - math.sqrt(6) / math.pi) < 1e-15
    assert abs(_GUMBEL_Q99 + math.log(-math.log(0.99))) < 1e-12
    assert abs(_EULER_GAMMA - 0.5772156649015329) < 1e-16


def test_gumbel_query_p99_above_mu(spark):
    r = QUERIES["block_maxima_gumbel_fit"](spark, SF).collect()[0]
    assert r["beta"] >= 0.0
    assert r["p99_gumbel"] >= r["mu"]  # q99 > 0 so return level above mode
    assert r["n_blocks"] >= 2


# ------------------------------------------------- negbin


def test_negbin_query_identities(spark):
    r = QUERIES["negbin_overdispersion_fit"](spark, SF).collect()[0]
    assert r["n_users"] > 0 and r["s1"] > 0
    assert abs(r["vmr"] - round(r["variance"] / r["mean"], 6)) < 1e-6
    if r["overdispersed"]:
        assert r["r_mom"] > 0 and 0 < r["p_mom"] < 1
    else:
        assert r["r_mom"] == 0.0 and r["p_mom"] == 0.0


# ------------------------------------------------- seasonal MK


def test_seasonal_mk_pure_cycle_no_trend():
    # a pure weekly cycle repeated: within each weekday the series is
    # constant -> every same-season pair ties -> S = 0
    series = [1, 2, 3, 4, 5, 6, 7] * 4
    s = 0
    for w in range(7):
        vals = series[w::7]
        for i in range(len(vals)):
            for j in range(i + 1, len(vals)):
                s += (vals[j] > vals[i]) - (vals[j] < vals[i])
    assert s == 0


def test_seasonal_mk_monotone_trend():
    # strictly increasing series: every same-season pair concordant
    series = list(range(28))
    s = 0
    var18 = 0
    for w in range(7):
        vals = series[w::7]
        n = len(vals)
        s += n * (n - 1) // 2
        var18 += n * (n - 1) * (2 * n + 5)
    assert s == 7 * 6  # 7 seasons x C(4,2)
    z = (s - 1) / math.sqrt(var18 / 18.0)
    assert z > 1.96


def test_seasonal_mk_query_consistency(spark):
    r = QUERIES["seasonal_mann_kendall"](spark, SF).collect()[0]
    assert r["var18_total"] >= 0
    assert r["reject_005"] == (1 if abs(r["z"]) > 1.96 else 0)


# ------------------------------------------------- as-of tolerance


def test_asof_tolerance_semantics(spark):
    out = QUERIES["asof_join_tolerance"](spark, SF)
    ev = spark.read.parquet(f"{SF}/events.parquet")
    n_clicks = ev.filter(F.col("event_type") == "click").count()
    rows = out.collect()
    assert len(rows) == n_clicks  # one row per click, matched or not
    for r in rows:
        if r["matched_purchase_id"] is not None:
            assert 0 <= r["gap_us"] <= 86_400_000_000
        else:
            assert r["gap_us"] is None
