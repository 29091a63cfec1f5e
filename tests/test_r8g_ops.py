"""Unit gates for the round-8 batch-7 operators."""
from __future__ import annotations

from pyspark.sql import functions as F

from redshells_spark.queries import QUERIES

SF = "/root/testdata/sf0.001"


def test_cox_stuart_hand_monotone():
    # strictly increasing series of 6: pairs (1,4),(2,5),(3,6) all +
    series = [1, 2, 3, 4, 5, 6]
    tn = len(series)
    shift = (tn - tn % 2) // 2 + (tn % 2)
    pos = sum(series[i + shift] > series[i] for i in range(tn // 2))
    assert (shift, pos) == (3, 3)
    # odd length: middle drops
    series = [1, 2, 3, 4, 5, 6, 7]
    tn = 7
    shift = (tn - tn % 2) // 2 + (tn % 2)
    assert shift == 4
    pairs = [(series[i], series[i + shift]) for i in range(tn // 2)]
    assert pairs == [(1, 5), (2, 6), (3, 7)]  # day 4 (middle) unused


def test_cox_stuart_query(spark):
    r = QUERIES["cox_stuart_trend"](spark, SF).collect()[0]
    assert r["n_pairs"] == r["pos"] + r["neg"]
    assert r["reject_005"] == (1 if abs(r["z"]) > 1.96 else 0)


def test_price_dispersion_bounds(spark):
    out = QUERIES["price_dispersion_by_brand"](spark, SF).collect()
    assert len(out) > 0
    for r in out:
        assert 0 <= r["avg_cv_e6"] <= r["max_cv_e6"]
        assert r["n_parts"] > 0


def test_burstiness_bounds(spark):
    out = QUERIES["order_interarrival_burstiness"](spark, SF).collect()
    assert len(out) > 0
    for r in out:
        assert r["avg_cv2_e6"] >= 0
        assert 0 <= r["n_bursty"] <= r["n_customers"]
