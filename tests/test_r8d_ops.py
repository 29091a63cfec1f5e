"""Unit gates for the round-8 batch-4 operators: weekly periodogram,
TextRank keywords, intra-list diversity, catalog coverage, and the
Jarque-Bera normality test. Hand fixtures pin the DFT and moment
algebra; sf0.001 runs pin the documented invariants on top of the
3-scale oracle MATCHes."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from redshells_spark.queries import QUERIES

SF = "/root/testdata/sf0.001"


# ------------------------------------------------- periodogram


def test_harmonic_table_is_exact_unit_circle():
    from redshells_spark.queries.forecasting import _HARMONICS

    assert len(_HARMONICS) == 21
    for k, m, c, s in _HARMONICS:
        # e9-quantized unit circle: c^2 + s^2 within quantization slack
        assert abs(c * c + s * s - 10**18) < 3e9
        assert abs(c - round(math.cos(2 * math.pi * k * m / 7) * 1e9)) <= 1
        assert abs(s - round(math.sin(2 * math.pi * k * m / 7) * 1e9)) <= 1


def test_periodogram_constant_series_zero_power():
    # a constant series has zero power at every nonzero harmonic:
    # sum of cos/sin over a full period is 0 (e9 ints sum to ~0)
    from redshells_spark.queries.forecasting import _HARMONICS

    for k in (1, 2, 3):
        cs = sum(c for kk, m, c, s in _HARMONICS if kk == k)
        ss = sum(s for kk, m, c, s in _HARMONICS if kk == k)
        assert abs(cs) <= 4 and abs(ss) <= 4  # rounding residue only


def test_periodogram_query_shape(spark):
    out = QUERIES["periodogram_weekly"](spark, SF).collect()
    assert [r["k"] for r in out] == [1, 2, 3]
    for r in out:
        assert r["power"] >= 0.0


# ------------------------------------------------- TextRank


def test_textrank_scores_positive_and_ranked(spark):
    out = QUERIES["textrank_keywords"](spark, SF).orderBy("rank").collect()
    assert 0 < len(out) <= 20
    scores = [r["score"] for r in out]
    assert all(s > 0 for s in scores)
    assert scores == sorted(scores, reverse=True)
    assert [r["rank"] for r in out] == list(range(1, len(out) + 1))


# ------------------------------------------------- recsys eval pair


def test_top5_parts_is_top5(spark):
    from redshells_spark.queries.llm_eval import _top5_parts

    recs = _top5_parts(spark, SF)
    per_cust = recs.groupBy("custkey").count().agg(F.max("count")).collect()
    assert per_cust[0][0] <= 5
    # rn is dense 1..k per customer
    bad = recs.groupBy("custkey").agg(
        F.max("rn").alias("mx"), F.count(F.lit(1)).alias("n")
    ).filter(F.col("mx") != F.col("n"))
    assert bad.count() == 0


def test_intra_list_diversity_bounds(spark):
    out = QUERIES["intra_list_diversity"](spark, SF).collect()
    assert len(out) > 0
    for r in out:
        assert 0 <= r["avg_ild_e6"] <= 1_000_000
        assert r["n_customers"] > 0


def test_catalog_coverage_bounds(spark):
    r = QUERIES["catalog_coverage_topk"](spark, SF).collect()[0]
    assert 0 < r["coverage_e6"] <= 1_000_000
    assert 0 < r["avg_pop_rank_e6"] <= 1_000_000
    assert r["n_rec_parts"] <= r["n_parts"]
    assert r["n_rec_parts"] <= r["n_recs"]


# ------------------------------------------------- Jarque-Bera


def test_jb_hand_symmetric_series():
    # symmetric two-point series: skewness exactly 0; kurtosis of a
    # Bernoulli(+1/-1) is 1 -> excess -2 -> JB = n/6 * (0 + 4/4) = n/6
    xs = [1, -1] * 8
    n = len(xs)
    s1, s2, s3, s4 = (sum(x**p for x in xs) for p in (1, 2, 3, 4))
    mu, r2, r3, r4 = s1 / n, s2 / n, s3 / n, s4 / n
    m2 = r2 - mu * mu
    m3 = r3 - 3 * mu * r2 + 2 * mu**3
    m4 = r4 - 4 * mu * r3 + 6 * mu * mu * r2 - 3 * mu**4
    skew = m3 / (m2 * math.sqrt(m2))
    exk = m4 / (m2 * m2) - 3.0
    jb = n / 6.0 * (skew * skew + exk * exk / 4.0)
    assert abs(skew) < 1e-12 and abs(exk + 2.0) < 1e-12
    assert abs(jb - n / 6.0) < 1e-9


def test_jb_query_consistency(spark):
    r = QUERIES["jarque_bera_event_values"](spark, SF).collect()[0]
    assert r["jb"] >= 0.0
    assert r["reject_005"] == (1 if r["jb"] > 5.991464547107979 else 0)
