"""Ranking metrics: hand-computed fixtures, zero-hit users, exactness."""

from __future__ import annotations

import math

import pytest

from redshells_spark.operators.ranking import (
    discount_nanos,
    ranking_metrics_at_k,
)


@pytest.fixture()
def fixture(spark):
    # user 1: recs [a,b,c], truth {a,c,x}   -> hits at ranks 1,3
    # user 2: recs [d,e,f], truth {q}       -> zero hits
    # user 3: recs [g,h,i], truth {g}       -> perfect rank 1
    recs = spark.createDataFrame(
        [(1, "a", 1), (1, "b", 2), (1, "c", 3),
         (2, "d", 1), (2, "e", 2), (2, "f", 3),
         (3, "g", 1), (3, "h", 2), (3, "i", 3)],
        "user long, item string, rank long",
    )
    truth = spark.createDataFrame(
        [(1, "a"), (1, "c"), (1, "x"), (2, "q"), (3, "g"), (4, "z")],
        "user long, item string",
    )
    return recs, truth


def test_metrics_hand_computed(spark, fixture):
    recs, truth = fixture
    got = {r["user"]: r for r in ranking_metrics_at_k(recs, truth, k=3).collect()}

    # user 4 has truth but no recs -> not evaluated
    assert set(got) == {1, 2, 3}

    u1 = got[1]
    assert (u1["n_rel"], u1["n_hits"]) == (3, 2)
    assert u1["precision"] == round(2 / 3, 4)
    assert u1["recall"] == round(2 / 3, 4)
    # AP@3 = (1/1 + 2/3) / min(3,3)
    assert u1["map_at_k"] == round((1 + 2 / 3) / 3, 4)
    # NDCG: hits at ranks 1 and 3; ideal = ranks 1..3
    d = [1 / math.log2(r + 1) for r in (1, 2, 3)]
    assert u1["ndcg"] == pytest.approx((d[0] + d[2]) / sum(d), abs=2e-4)

    u2 = got[2]
    assert (u2["n_hits"], u2["precision"], u2["recall"], u2["map_at_k"], u2["ndcg"]) == (
        0, 0.0, 0.0, 0.0, 0.0)

    u3 = got[3]
    assert (u3["n_rel"], u3["n_hits"], u3["precision"], u3["recall"]) == (1, 1, round(1 / 3, 4), 1.0)
    assert u3["map_at_k"] == 1.0 and u3["ndcg"] == 1.0


def test_truth_deduped_and_rank_capped(spark):
    recs = spark.createDataFrame(
        [(1, "a", 1), (1, "b", 2), (1, "z", 9)], "user long, item string, rank long"
    )
    truth = spark.createDataFrame(
        [(1, "a"), (1, "a"), (1, "z")], "user long, item string"
    )
    r = ranking_metrics_at_k(recs, truth, k=2).collect()[0]
    # duplicate truth 'a' counts once; rank-9 'z' is outside k=2
    assert r["n_rel"] == 2 and r["n_hits"] == 1


def test_discounts_are_integer_nanos():
    d = discount_nanos(5)
    assert d[0] == 10**9  # 1/log2(2) == 1
    assert all(isinstance(x, int) and 0 < x <= 10**9 for x in d)
    assert d == sorted(d, reverse=True)


def test_k_guard(spark, fixture):
    recs, truth = fixture
    with pytest.raises(ValueError, match="k must"):
        ranking_metrics_at_k(recs, truth, k=0)


def _map_at_k(ranked_items, relevant, k):
    hits, ap = 0, 0.0
    for rank, item in enumerate(ranked_items[:k], start=1):
        if item in relevant:
            hits += 1
            ap += hits / rank
    return ap / min(len(relevant), k)


def test_map_exact_past_int32(spark):
    # k=20: k·lcm(1..20) > 2^31, so row_number() * lcm must run in int64
    k = 20
    items = [f"i{r}" for r in range(1, k + 1)]
    truth_sets = {1: set(items), 2: set(items[::3]) | {"absent"}}
    recs = spark.createDataFrame(
        [(u, it, r) for u in truth_sets for r, it in enumerate(items, start=1)],
        "user long, item string, rank long",
    )
    truth = spark.createDataFrame(
        [(u, it) for u, rel in truth_sets.items() for it in rel], "user long, item string"
    )
    got = {r["user"]: r for r in ranking_metrics_at_k(recs, truth, k=k).collect()}
    assert got[1]["n_hits"] == k
    for u, rel in truth_sets.items():
        assert got[u]["map_at_k"] == round(_map_at_k(items, rel, k), 4)


def test_k_past_int64_refused(spark, fixture):
    recs, truth = fixture
    ranking_metrics_at_k(recs, truth, k=42)  # k·lcm(1..42) still fits int64
    with pytest.raises(ValueError, match="1..42"):
        ranking_metrics_at_k(recs, truth, k=43)
