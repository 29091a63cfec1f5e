"""Round-6 session-2 operator tests: portable HLL (accuracy, merge =
concat, streaming parity), PSI (zero-drift identity, additive state
parity), blocked fuzzy matching (ground-truth parity inside blocks),
prefix-cache LCP (hand-computed corpus), vocab coverage monotonicity.
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from redshells_spark.operators.drift import (
    psi_bucket_counts,
    psi_drift,
    psi_from_bucket_counts,
)
from redshells_spark.operators.fuzzy import fuzzy_blocked_matches
from redshells_spark.operators.sketches import (
    hll_estimate,
    hll_merge,
    hll_registers,
)
from redshells_spark.streaming.stats import StreamingHll, StreamingPsi
from redshells_spark.text.prefix import prefix_cache_stats


# ------------------------------------------------------------------- HLL


def test_hll_estimate_accuracy(spark):
    # 3 groups with known cardinalities; m=256 → ~6.5% standard error
    rows = [(f"g{i % 3}", f"u{i}") for i in range(3000)]  # g0:1000 g1:1000 g2:1000
    rows += [("g0", f"u{i * 3}") for i in range(500)]  # true duplicates — no effect
    df = spark.createDataFrame(rows, "g string, k string")
    est = {
        r["g"]: r["hll_est"]
        for r in hll_estimate(hll_registers(df, ["g"], "k"), ["g"]).collect()
    }
    for g in ("g0", "g1", "g2"):
        assert abs(est[g] - 1000) / 1000 < 0.2, (g, est[g])


def test_hll_merge_equals_concat(spark):
    a = spark.createDataFrame([("x", f"a{i}") for i in range(400)], "g string, k string")
    b = spark.createDataFrame(
        [("x", f"a{i}") for i in range(200, 600)], "g string, k string"
    )
    merged = hll_merge(
        hll_registers(a, ["g"], "k").unionByName(hll_registers(b, ["g"], "k")), ["g"]
    )
    direct = hll_registers(a.unionByName(b), ["g"], "k")
    got = {(r["g"], r["reg"]): r["m_j"] for r in merged.collect()}
    want = {(r["g"], r["reg"]): r["m_j"] for r in direct.collect()}
    assert got == want


def test_hll_small_range_is_linear_counting(spark):
    # 5 distinct keys — far below 2.5m, so the estimate must be the
    # linear-counting branch m·ln(m/V), which is near-exact here
    df = spark.createDataFrame([("g", f"k{i}") for i in range(5)], "g string, k string")
    out = hll_estimate(hll_registers(df, ["g"], "k"), ["g"]).collect()[0]
    assert out["v_zeros"] == 256 - 5
    assert out["hll_est"] == pytest.approx(256.0 * math.log(256.0 / (256 - 5)), abs=1e-9)
    assert abs(out["hll_est"] - 5) < 0.1


def test_streaming_hll_batch_parity(spark, tmp_path, state_ddl_check):
    rows = [(f"t{i % 2}", i % 37) for i in range(300)]
    df = spark.createDataFrame(rows, "event_type string, user_id long")
    h = StreamingHll(base_path=str(tmp_path / "hll"), group_column="event_type",
                     key_column="user_id")
    h.process_batch(df.filter(F.col("user_id") % 3 == 0), 0)
    h.process_batch(df.filter(F.col("user_id") % 3 != 0), 1)
    want = {
        (r["event_type"], r["v_zeros"], r["z_scaled"]): r["hll_est"]
        for r in hll_estimate(hll_registers(df, ["event_type"], "user_id"),
                              ["event_type"]).collect()
    }
    got = {
        (r["event_type"], r["v_zeros"], r["z_scaled"]): r["hll_est"]
        for r in h.estimates(spark).collect()
    }
    assert got == want


# ------------------------------------------------------------------- PSI


def test_psi_identical_samples_is_zero(spark):
    # the same distribution in both samples → every per-bucket term is
    # exactly ln(1)·0 = 0 (identical counts ⇒ identical proportions)
    rows = [("g", float(v), s) for v in (1.0, 2.5, 40.0, 300.0) for s in (0, 1)
            for _ in range(25)]
    df = spark.createDataFrame(rows, "g string, value double, is1 long")
    out = psi_drift(df, "value", "is1", ["g"]).collect()[0]
    assert out["psi"] == 0.0
    assert out["n1"] == out["n2"] == 100


def test_psi_detects_shift(spark):
    rows = [("g", 1.0 + (i % 10) * 0.1, 1) for i in range(200)]
    rows += [("g", 200.0 + (i % 10) * 5.0, 0) for i in range(200)]
    df = spark.createDataFrame(rows, "g string, value double, is1 long")
    out = psi_drift(df, "value", "is1", ["g"]).collect()[0]
    assert out["psi"] > 0.25  # the standard "action" threshold


def test_streaming_psi_batch_parity(spark, tmp_path, state_ddl_check):
    rows = [("a", float(1 + i % 50), i % 2) for i in range(400)]
    df = spark.createDataFrame(rows, "event_type string, value double, is_early long")
    p = StreamingPsi(base_path=str(tmp_path / "psi"))
    h1 = df.filter((F.col("value") * 100).cast("long") % 2 == 0)
    h2 = df.filter((F.col("value") * 100).cast("long") % 2 != 0)
    p.process_batch(h1, 0)
    p.process_batch(h2, 1)
    want = psi_from_bucket_counts(
        psi_bucket_counts(df, "value", "is_early", ["event_type"]), ["event_type"]
    ).collect()[0]
    got = p.psi(spark).collect()[0]
    assert (got["n1"], got["n2"], got["n_buckets"], got["psi"]) == (
        want["n1"], want["n2"], want["n_buckets"], want["psi"])


# ----------------------------------------------------------------- fuzzy


def test_fuzzy_blocked_matches_ground_truth(spark):
    import itertools

    names = ["old ring", "cold ring", "bold ring", "red bolt", "rad bolt",
             "totally different ring thing"]
    df = spark.createDataFrame([(n,) for n in names for _ in range(3)], "name string")
    got = {
        (r["name_a"], r["name_b"]): r["lev"]
        for r in fuzzy_blocked_matches(
            df, "name", "element_at(split(name, ' '), -1)", max_distance=3
        ).collect()
    }

    def lev(a: str, b: str) -> int:
        dp = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            prev, dp[0] = dp[0], i
            for j, cb in enumerate(b, 1):
                prev, dp[j] = dp[j], min(dp[j] + 1, dp[j - 1] + 1, prev + (ca != cb))
        return dp[len(b)]

    want = {}
    for a, b in itertools.combinations(sorted(set(names)), 2):
        if a.split()[-1] == b.split()[-1] and lev(a, b) <= 3:
            want[(a, b)] = lev(a, b)
    assert got == want
    assert ("old ring", "totally different ring thing") not in got  # same block, too far


# ------------------------------------------------------------- prefix LCP


def test_prefix_cache_stats_hand_computed(spark):
    rows = [
        (1, "s", ["sys", "you", "are", "helpful", "q1"]),
        (2, "s", ["sys", "you", "are", "helpful", "q2", "extra"]),
        (3, "s", ["sys", "you", "are", "brief"]),
        (4, "s", ["zzz"]),
        (5, "t", ["a", "b"]),
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, tokens array<string>")
    out = {r["source"]: r for r in
           prefix_cache_stats(df, "source", "doc_id", "tokens").collect()}
    # sorted order in s: [sys you are brief], [sys you are helpful q1],
    # [sys you are helpful q2 extra], [zzz]
    # LCPs: 0 (first), 3, 4, 0  → shared = 7; total tokens = 16
    s = out["s"]
    assert (s["n_docs"], s["total_tokens"], s["shared_prefix_tokens"]) == (4, 16, 7)
    assert s["hit_rate_e4"] == 7 * 10000 // 16
    t = out["t"]
    assert (t["shared_prefix_tokens"], t["total_tokens"]) == (0, 2)


def test_prefix_lcp_prefix_of_other(spark):
    # one prompt is a strict prefix of the next: LCP = full shorter length
    rows = [(1, "s", ["a", "b"]), (2, "s", ["a", "b", "c"])]
    df = spark.createDataFrame(rows, "doc_id long, source string, tokens array<string>")
    out = prefix_cache_stats(df, "source", "doc_id", "tokens").collect()[0]
    assert out["shared_prefix_tokens"] == 2


# -------------------------------------------------------- vocab coverage


def test_vocab_coverage_monotone_and_complete(spark):
    from redshells_spark.queries import get_queries

    out = get_queries()["vocab_coverage_curve"](spark, "/root/testdata/sf0.001")
    rows = sorted(out.collect(), key=lambda r: r["vocab_rank"])
    covs = [r["coverage_e6"] for r in rows]
    assert covs == sorted(covs)  # monotone in rank
    assert rows[-1]["coverage_e6"] == 1_000_000  # rank 100 ≥ vocab size → all covered
    assert all(0 <= c <= 1_000_000 for c in covs)
