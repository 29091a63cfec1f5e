"""Batch-2 round-6 operator tests: KNN-Shapley efficiency axiom +
sign semantics, Mann-Whitney hand-computed case + antisymmetry, JL
projection determinism and recall sanity."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from redshells_spark.ml.valuation import E12, knn_shapley
from redshells_spark.operators.drift import mann_whitney_u
from redshells_spark.similarity.rp import jl_signs, project_embeddings


# ----------------------------------------------------------- KNN-Shapley


def _toy(spark):
    # 1-d embeddings on a line; labels cluster by sign
    train = spark.createDataFrame(
        [(i, 1 if i % 2 == 0 else 0, [float(i), 1.0]) for i in range(1, 13)],
        "vec_id long, label int, embedding array<double>",
    )
    val = spark.createDataFrame(
        [(100, 1, [5.0, 1.0]), (101, 0, [9.0, 1.0])],
        "val_id long, label int, embedding array<double>",
    )
    return train, val


def test_knn_shapley_efficiency_axiom(spark):
    # Σ_i s_i per val point == v(full set) == (hits in top-K)/K —
    # Shapley efficiency (Jia et al. Thm 1). With e12 truncation the
    # error is < n_train units of 1e-12 per val point.
    train, val = _toy(spark)
    k = 3
    out = knn_shapley(train, val, k=k)
    total = out.agg(F.sum("shapley_e12_sum")).collect()[0][0]

    rows = train.collect()
    vals = val.collect()
    want = 0.0
    for v in vals:
        scored = sorted(
            rows,
            key=lambda r: (
                -sum(a * b for a, b in zip(r["embedding"], v["embedding"]))
                / (
                    max(sum(x * x for x in r["embedding"]) ** 0.5, 1e-12)
                    * max(sum(x * x for x in v["embedding"]) ** 0.5, 1e-12)
                ),
                r["vec_id"],
            ),
        )
        want += sum(1 for r in scored[:k] if r["label"] == v["label"]) / k
    assert abs(total / E12 - want) < len(rows) * len(vals) / 1e12 + 1e-9


def test_knn_shapley_harmful_point_is_negative(spark):
    # a mislabeled near-clone of the val point should get NEGATIVE value
    train = spark.createDataFrame(
        [(1, 1, [1.0, 0.0]), (2, 1, [0.99, 0.01]), (3, 0, [1.0, 0.001]),
         (4, 0, [-1.0, 0.0]), (5, 1, [0.98, 0.0])],
        "vec_id long, label int, embedding array<double>",
    )
    val = spark.createDataFrame(
        [(9, 1, [1.0, 0.0])], "val_id long, label int, embedding array<double>"
    )
    out = {r["vec_id"]: r["shapley_e12_sum"] for r in knn_shapley(train, val, k=3).collect()}
    assert out[3] < 0  # wrong-label nearest neighbor hurts
    assert out[1] > 0  # right-label nearest neighbor helps


# ---------------------------------------------------------- Mann-Whitney


def test_mann_whitney_hand_computed(spark):
    # sample1 = {1,2,3}, sample2 = {4,5,6}: R1 = 1+2+3 = 6,
    # U1 = 6 - 3·4/2 = 0 → u1_x2 = 0; no ties → tie_t = 0
    rows = [(1.0, 1), (2.0, 1), (3.0, 1), (4.0, 0), (5.0, 0), (6.0, 0)]
    df = spark.createDataFrame(rows, "value double, is1 long")
    out = mann_whitney_u(df, "value", "is1").collect()[0]
    assert (out["n1"], out["n2"], out["u1_x2"], out["tie_t"]) == (3, 3, 0, 0)
    assert out["z"] < 0  # sample 1 stochastically smaller


def test_mann_whitney_ties_midranks(spark):
    # all values equal: U1 = n1·n2/2 exactly → z numerator 0... but the
    # variance also collapses to 0 (all ties) → z is NaN/NULL; check
    # the exact integer parts instead
    rows = [(2.0, 1)] * 4 + [(2.0, 0)] * 4
    df = spark.createDataFrame(rows, "value double, is1 long")
    out = mann_whitney_u(df, "value", "is1").collect()[0]
    # R1×2 = 4 · (2·0 + 8 + 1) = 36 → U1×2 = 36 − 4·5 = 16 = n1·n2
    assert out["u1_x2"] == 16
    assert out["tie_t"] == 8 * 8 * 8 - 8
    assert out["z"] is None  # variance collapses: test undefined, not an error


def test_mann_whitney_antisymmetry(spark):
    rows = [(float(v), 1) for v in (1, 3, 5, 7)] + [(float(v), 0) for v in (2, 4, 6, 20)]
    df = spark.createDataFrame(rows, "value double, is1 long")
    a = mann_whitney_u(df, "value", "is1").collect()[0]
    flipped = df.select("value", (1 - F.col("is1")).alias("is1"))
    b = mann_whitney_u(flipped, "value", "is1").collect()[0]
    assert a["z"] == pytest.approx(-b["z"], abs=2e-6)


# ------------------------------------------------------------------- JL


def test_jl_signs_deterministic_pm1():
    s1 = jl_signs(16, 64, seed=31)
    s2 = jl_signs(16, 64, seed=31)
    assert s1 == s2
    assert {v for row in s1 for v in row} == {1.0, -1.0}
    assert jl_signs(4, 8, seed=1) != jl_signs(4, 8, seed=2)


def test_projection_preserves_self_similarity(spark):
    df = spark.createDataFrame(
        [(1, [float(i) for i in range(8)]), (2, [float(8 - i) for i in range(8)])],
        "vec_id long, embedding array<double>",
    )
    out = project_embeddings(df, 4, 8, seed=31).collect()
    assert all(len(r["proj"]) == 4 for r in out)
    # projection of a vector is a fixed linear map: same input -> same output
    again = project_embeddings(df, 4, 8, seed=31).collect()
    assert sorted(map(str, out)) == sorted(map(str, again))


def test_rp_recall_query_sanity(spark):
    from redshells_spark.queries import get_queries

    out = get_queries()["random_projection_recall"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert out, "no query rows"
    assert all(0 <= r["n_overlap"] <= 10 for r in out)
    # The synthetic embeddings are near-random, so neighbor similarity
    # gaps are tiny and a 16-d projection keeps only modest recall
    # (measured ~1.2/10) — but that is still 6× the random-overlap
    # baseline of two 10-sets in a 500-corpus (~0.2). Real clustered
    # embeddings fare far better; this gate checks better-than-chance.
    mean = sum(r["n_overlap"] for r in out) / len(out)
    assert mean >= 0.8, mean


# ------------------------------------------------------- prefix filter


def test_prefix_filter_equals_brute_force(spark):
    # EXACT join: output must equal the brute-force all-pairs Jaccard
    import itertools

    sets = {
        1: {"a", "b", "c", "d"},
        2: {"a", "b", "c", "e"},
        3: {"a", "b", "x", "y"},
        4: {"p", "q"},
        5: {"p", "q", "r"},
        6: {"z"},
    }
    rows = [(i, e) for i, els in sets.items() for e in els]
    df = spark.createDataFrame(rows, "doc_id long, shingle string")
    from redshells_spark.dedup.ppjoin import prefix_filter_jaccard_pairs

    got = {
        (r["id_0"], r["id_1"]): (r["inter"], r["union_sz"])
        for r in prefix_filter_jaccard_pairs(df, "doc_id", "shingle", 5, 10).collect()
    }
    want = {}
    for a, b in itertools.combinations(sorted(sets), 2):
        inter = len(sets[a] & sets[b])
        union = len(sets[a] | sets[b])
        if inter * 10 >= 5 * union:
            want[(a, b)] = (inter, union)
    assert got == want
    assert (1, 2) in got and (4, 5) in got and (1, 4) not in got


def test_prefix_filter_randomized_brute_force(spark):
    """Randomized no-false-negative/no-false-positive check at a HIGH
    threshold (exercises the pair-level accumulated positional filter:
    near-identical sets have their late prefix matches pruned per-row,
    so the group bound path decides them)."""
    import itertools
    import random

    rng = random.Random(7)
    universe = [f"e{i}" for i in range(40)]
    sets = {}
    base = rng.sample(universe, 20)
    for i in range(30):
        if i % 3 == 0:
            s = set(base)
            for _ in range(rng.randrange(0, 3)):  # near-dup of base
                s.discard(rng.choice(base))
                s.add(rng.choice(universe))
        else:
            s = set(rng.sample(universe, rng.randrange(5, 25)))
        sets[i] = s
    rows = [(i, e) for i, els in sets.items() for e in els]
    df = spark.createDataFrame(rows, "doc_id long, shingle string")
    from redshells_spark.dedup.ppjoin import prefix_filter_jaccard_pairs

    got = {
        (r["id_0"], r["id_1"]): (r["inter"], r["union_sz"])
        for r in prefix_filter_jaccard_pairs(df, "doc_id", "shingle", 8, 10).collect()
    }
    want = {}
    for a, b in itertools.combinations(sorted(sets), 2):
        inter = len(sets[a] & sets[b])
        union = len(sets[a] | sets[b])
        if inter * 10 >= 8 * union:
            want[(a, b)] = (inter, union)
    assert got == want
    assert want, "fixture must produce at least one qualifying pair"


def test_ppjoin_index_task_parity(spark, tmp_path):
    """The param-hash parquet target must serve EXACTLY the index a
    fresh build produces, and pairs from the loaded index must equal
    pairs from the built one — the fresh-session contract."""
    from redshells_spark.dedup.ppjoin import (
        build_rank_sorted_sets,
        pairs_from_rank_sorted,
    )
    from redshells_spark.task import task

    rows = [(i, f"e{(i * j) % 13}") for i in range(20) for j in range(1, 8)]
    df = spark.createDataFrame(rows, "doc_id long, shingle string").distinct()

    def _build(spark, _inputs):
        return build_rank_sorted_sets(df, "doc_id", "shingle")

    t = task("ppjoin_index_test", _build, params={"v": 1}, cache_root=str(tmp_path))
    built = t.run(spark)
    assert t.complete()
    loaded = t.run(spark)  # second run() reads the target
    key = lambda r: r["__id"]  # noqa: E731
    b = sorted(((r["__id"], tuple(map(tuple, r["__rk"])), r["__sz"]) for r in built.collect()))
    l = sorted(((r["__id"], tuple(map(tuple, r["__rk"])), r["__sz"]) for r in loaded.collect()))
    assert b == l
    pb = sorted(map(tuple, pairs_from_rank_sorted(built, 5, 10).collect()))
    pl = sorted(map(tuple, pairs_from_rank_sorted(loaded, 5, 10).collect()))
    assert pb == pl and pb


# ---------------------------------------------------- greedy coverage


def test_greedy_max_coverage_semantics(spark):
    from redshells_spark.data.coverage import greedy_max_coverage

    sets = {
        10: ["a", "b", "c", "d", "e"],  # biggest — picked first
        20: ["d", "e", "f", "g"],       # gain 2 after pick 1
        30: ["a", "b"],                 # fully covered — gain 0, dropped
        40: ["h"],
    }
    rows = [(i, e) for i, els in sets.items() for e in els]
    df = spark.createDataFrame(rows, "doc_id long, shingle string")
    out = sorted(
        greedy_max_coverage(df, "doc_id", "shingle", k=6).collect(),
        key=lambda r: r["step"],
    )
    assert [(r["step"], r["doc_id"], r["gain"]) for r in out] == [
        (1, 10, 5), (2, 20, 2), (3, 40, 1)
    ]
    assert out[-1]["covered_total"] == 8  # |universe|: early stop after full cover


# ------------------------------------------- streaming Mann-Whitney


def test_streaming_mann_whitney_parity(spark, tmp_path, state_ddl_check):
    from redshells_spark.operators.drift import mann_whitney_u
    from redshells_spark.streaming.drift import DriftIngest

    rows = [(float(1 + i % 30), i % 2) for i in range(300)]
    df = spark.createDataFrame(rows, "value double, is1 long")
    ing = DriftIngest(base_path=str(tmp_path / "drift"))
    ing.process_batch(df.filter(F.col("value") < 15), 0)
    ing.process_batch(df.filter(F.col("value") >= 15), 1)
    want = mann_whitney_u(df, "value", "is1").collect()[0]
    got = ing.mann_whitney_from_state(spark).collect()[0]
    assert (got["n1"], got["n2"], got["u1_x2"], got["tie_t"], got["z"]) == (
        want["n1"], want["n2"], want["u1_x2"], want["tie_t"], want["z"])
