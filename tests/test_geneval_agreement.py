"""Unit tests for text/geneval.py, ml/agreement.py, and
data/preference.py against hand-computed fixtures (BLEU/kappa values
cross-checked with the published formulas)."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F


# ------------------------------------------------------------- geneval


def test_bleu_corpus_stats_known_pair(spark):
    from redshells_spark.text.geneval import (
        bleu_corpus_stats,
        bleu_score_from_stats,
    )

    # classic clipping example: cand = "the the the the the the the",
    # ref = "the cat is on the mat" -> p1 clipped = 2/7
    pairs = spark.createDataFrame(
        [(0, "the the the the the the the".split(), "the cat is on the mat".split())],
        "id long, cand array<string>, ref array<string>",
    )
    rows = {
        r["n"]: r
        for r in bleu_corpus_stats(pairs, "id", "cand", "ref", max_n=2).collect()
    }
    assert rows[1]["clipped"] == 2 and rows[1]["total"] == 7
    assert rows[1]["precision_n"] == pytest.approx(2 / 7)
    # bigrams: cand has 6x "the the", ref has none -> clipped 0
    assert rows[2]["clipped"] == 0 and rows[2]["total"] == 6
    assert rows[1]["cand_len"] == 7 and rows[1]["ref_len"] == 6
    # zero bigram precision floors the whole score
    assert bleu_score_from_stats([r.asDict() for r in rows.values()]) == 0.0


def test_bleu_score_from_stats_perfect_match():
    from redshells_spark.text.geneval import bleu_score_from_stats

    rows = [
        {"n": n, "precision_n": 1.0, "cand_len": 10, "ref_len": 10}
        for n in (1, 2, 3, 4)
    ]
    assert bleu_score_from_stats(rows) == pytest.approx(1.0)
    # brevity penalty: cand half the ref length -> exp(1-2) factor
    short = [dict(r, cand_len=5) for r in rows]
    assert bleu_score_from_stats(short) == pytest.approx(math.exp(-1.0))


def test_bleu_score_from_stats_degenerate_inputs():
    from redshells_spark.text.geneval import bleu_score_from_stats

    # empty stats / empty candidate corpus -> 0.0, never a crash
    assert bleu_score_from_stats([]) == 0.0
    empty = [
        {"n": n, "precision_n": float("nan"), "cand_len": 0, "ref_len": 10}
        for n in (1, 2)
    ]
    assert bleu_score_from_stats(empty) == 0.0
    # a missing order (no pair reached n tokens -> no row emitted)
    # counts as zero precision, matching the oracle's NULL-total row
    missing = [
        {"n": n, "precision_n": 0.8, "cand_len": 10, "ref_len": 10}
        for n in (1, 3)  # order 2 absent
    ]
    assert bleu_score_from_stats(missing) == 0.0


def test_rouge_and_chrf_stats(spark):
    from redshells_spark.text.geneval import chrf_stats, rouge_n_stats

    pairs = spark.createDataFrame(
        [
            (0, "g", "a b c".split(), "a b c d".split()),
            (1, "g", ["x"], "y z".split()),
        ],
        "id long, grp string, cand array<string>, ref array<string>",
    )
    r1 = {
        r["n"]: r
        for r in rouge_n_stats(
            pairs, "id", "cand", "ref", orders=(1, 2), group_cols=("grp",)
        ).collect()
    }
    # unigrams: doc0 overlap 3 of cand 4 / ref 6; doc1 overlap 0
    assert r1[1]["clipped"] == 3
    assert r1[1]["cand_total"] == 4 and r1[1]["ref_total"] == 6
    assert r1[1]["rouge_r"] == pytest.approx(0.5)
    f1 = 2 * (3 / 4) * (3 / 6) / ((3 / 4) + (3 / 6))
    assert r1[1]["rouge_f1"] == pytest.approx(f1)

    ch = spark.createDataFrame(
        [(0, "abc", "abcd")], "id long, cs string, rs string"
    )
    c = {r["n"]: r for r in chrf_stats(ch, "id", "cs", "rs", orders=(1, 2)).collect()}
    assert c[1]["clipped"] == 3 and c[1]["ref_total"] == 4
    assert c[2]["clipped"] == 2 and c[2]["cand_total"] == 2


def test_distinct_n_diversity(spark):
    from redshells_spark.text.geneval import distinct_n_diversity

    df = spark.createDataFrame(
        [("s", "a a a a".split()), ("s", "a b".split())],
        "src string, tokens array<string>",
    )
    out = {
        r["n"]: r
        for r in distinct_n_diversity(df, "tokens", ("src",), orders=(1, 2)).collect()
    }
    assert out[1]["distinct_ngrams"] == 2 and out[1]["total_ngrams"] == 6
    # bigrams: "a a" x3, "a b" x1 -> 2 distinct of 4
    assert out[2]["distinct_ngrams"] == 2 and out[2]["total_ngrams"] == 4
    assert out[2]["distinct_ratio"] == pytest.approx(0.5)


# ----------------------------------------------------------- agreement


def test_majority_vote_deterministic_ties(spark):
    from redshells_spark.ml.agreement import majority_vote

    df = spark.createDataFrame(
        [(1, "b"), (1, "a"), (1, "b"), (1, "a"), (2, "z")],
        "item long, lbl string",
    )
    out = {r["item"]: r for r in majority_vote(df, "item", "lbl").collect()}
    # 2-2 tie breaks to the lexicographically smaller label
    assert out[1]["lbl"] == "a" and out[1]["votes"] == 2
    assert out[1]["agreement"] == pytest.approx(0.5)
    assert out[2]["lbl"] == "z" and out[2]["agreement"] == 1.0


def test_fleiss_kappa_textbook(spark):
    """Perfect agreement -> kappa 1; independent-uniform-ish labels ->
    kappa near 0; plus an exact hand-computed 3-item case."""
    from redshells_spark.ml.agreement import fleiss_kappa

    perfect = spark.createDataFrame(
        [(i, "x") for i in range(4) for _ in range(3)], "item long, lbl string"
    )
    # all same label: p_e = 1 -> kappa undefined (0/0); the standard
    # convention short-circuits before that, so use 2 labels instead
    perfect = spark.createDataFrame(
        [(i, "x" if i % 2 == 0 else "y") for i in range(4) for _ in range(3)],
        "item long, lbl string",
    )
    row = fleiss_kappa(perfect, "item", "lbl", 3).collect()[0]
    assert row["p_o"] == 1.0 and row["kappa"] == pytest.approx(1.0)

    # hand case: items A:{x,x,y} B:{x,y,y} C:{y,y,y}, n=3, N=3
    # sum nij^2 = (4+1)+(1+4)+9 = 19 ; P_o=(19-9)/(9*2)=10/18
    # c_x=3, c_y=6 -> P_e=(9+36)/81=45/81
    df = spark.createDataFrame(
        [(0, "x"), (0, "x"), (0, "y"),
         (1, "x"), (1, "y"), (1, "y"),
         (2, "y"), (2, "y"), (2, "y")],
        "item long, lbl string",
    )
    r = fleiss_kappa(df, "item", "lbl", 3).collect()[0]
    assert r["sum_nij_sq"] == 19 and r["sum_cj_sq"] == 45
    assert r["p_o"] == pytest.approx(10 / 18)
    assert r["p_e"] == pytest.approx(45 / 81)
    want = (10 / 18 - 45 / 81) / (1 - 45 / 81)
    assert r["kappa"] == pytest.approx(want)
    # items without exactly n ratings are excluded
    df2 = df.union(spark.createDataFrame([(3, "x")], "item long, lbl string"))
    r2 = fleiss_kappa(df2, "item", "lbl", 3).collect()[0]
    assert r2["n_items"] == 3 and r2["sum_nij_sq"] == 19


def test_cohen_kappa_hand_case(spark):
    from redshells_spark.ml.agreement import cohen_kappa_pairs

    # 2x2 confusion: raters 1,2 over 10 items; agree on 7
    # marginals: r1 says x 6 / y 4 ; r2 says x 5 / y 5
    # p_e = (6*5 + 4*5)/100 = 0.5 ; kappa = (0.7-0.5)/0.5 = 0.4
    labels_r1 = ["x"] * 6 + ["y"] * 4
    labels_r2 = ["x", "x", "x", "x", "y", "y", "y", "y", "y", "x"]
    agree = sum(a == b for a, b in zip(labels_r1, labels_r2))
    assert agree == 7  # fixture sanity
    rows = [(i, 1, labels_r1[i]) for i in range(10)] + [
        (i, 2, labels_r2[i]) for i in range(10)
    ]
    df = spark.createDataFrame(rows, "item long, ann long, lbl string")
    out = cohen_kappa_pairs(df, "item", "ann", "lbl").collect()
    assert len(out) == 1
    r = out[0]
    assert r["n_items"] == 10 and r["n_agree"] == 7
    assert r["pe_num"] == 6 * 5 + 4 * 5
    assert r["kappa"] == pytest.approx(0.4)


def test_krippendorff_alpha_bounds(spark):
    from redshells_spark.ml.agreement import krippendorff_alpha_nominal

    # perfect within-item agreement, two labels across items -> D_o=0,
    # alpha = 1
    df = spark.createDataFrame(
        [(i, "x" if i % 2 == 0 else "y") for i in range(6) for _ in range(2)],
        "item long, lbl string",
    )
    r = krippendorff_alpha_nominal(df, "item", "lbl", 2).collect()[0]
    assert r["do_num"] == 0 and r["alpha"] == pytest.approx(1.0)
    # systematic within-item disagreement -> alpha < 0 (worse than
    # chance)
    df2 = spark.createDataFrame(
        [(i, l) for i in range(6) for l in ("x", "y")], "item long, lbl string"
    )
    r2 = krippendorff_alpha_nominal(df2, "item", "lbl", 2).collect()[0]
    assert r2["alpha"] < 0


# ----------------------------------------------------------- preference


def test_preference_pairs_margin_and_middle(spark):
    from redshells_spark.data.preference import preference_pairs

    # group 1: scores 100, 60, 10 -> pair1 (a,c) margin 90;
    # pair2 pairs b with itself -> dropped
    df = spark.createDataFrame(
        [(1, "a", 100), (1, "b", 60), (1, "c", 10), (2, "d", 5)],
        "grp long, item string, score long",
    )
    out = preference_pairs(df, "grp", "item", "score", min_margin=20,
                           max_pairs_per_group=2).collect()
    assert len(out) == 1
    p = out[0]
    assert (p["chosen_item"], p["rejected_item"], p["margin"]) == ("a", "c", 90)
    # equal-score two-element group: desc/asc tie-breaks pair them
    # once, margin 0 -> gated by min_margin
    tie = spark.createDataFrame(
        [(3, "x", 50), (3, "y", 50)], "grp long, item string, score long"
    )
    assert preference_pairs(tie, "grp", "item", "score", 1, 1).count() == 0
    # margin<=0 admits mirrored/crossed pairs -> contract rejects it loudly
    import pytest

    with pytest.raises(ValueError, match="min_margin"):
        preference_pairs(tie, "grp", "item", "score", 0, 1)


def test_best_of_n_and_win_rate(spark):
    from redshells_spark.data.preference import best_of_n, win_rate_matrix

    df = spark.createDataFrame(
        [(1, "a", 9), (1, "b", 7), (1, "c", 1), (2, "z", 4)],
        "grp long, item string, score long",
    )
    out = {r["grp"]: r for r in best_of_n(df, "grp", "item", "score").collect()}
    assert out[1]["best_item"] == "a" and out[1]["margin"] == 2
    assert out[1]["n_candidates"] == 3
    assert out[2]["second_score"] is None and out[2]["margin"] is None

    m = spark.createDataFrame(
        [("m1", "m2")] * 3 + [("m2", "m1")] * 1, "winner string, loser string"
    )
    w = win_rate_matrix(m, "winner", "loser").collect()[0]
    assert (w["model_a"], w["model_b"]) == ("m1", "m2")
    assert w["games"] == 4 and w["wins_a"] == 3
    assert w["win_rate_a"] == pytest.approx(0.75)
    assert 0 < w["wilson_lo"] < 0.75 < w["wilson_hi"] < 1


# ------------------------------------------------------- batching / ece


def test_length_bucketed_batches(spark):
    from redshells_spark.text.packing import length_bucketed_batches

    # 5 seqs in the 16-bucket with batch_size 2 -> batches of 2,2,1
    rows = [(i, l) for i, l in enumerate([3, 5, 9, 12, 16, 20, 40])]
    df = spark.createDataFrame(rows, "id long, n long")
    out = length_bucketed_batches(df, "id", "n", batch_size=2,
                                  bucket_bounds=(16, 32, 64))
    got = {(r["bucket"], r["batch_id"]): r for r in out.collect()}
    # bucket 16 sorted desc: 16,12 | 9,5 | 3
    b0 = got[(16, 0)]
    assert b0["n_seqs"] == 2 and b0["max_len"] == 16 and b0["sum_tokens"] == 28
    assert b0["pad_to_bucket"] == 2 * 16 - 28 and b0["pad_to_max"] == 2 * 16 - 28
    b2 = got[(16, 2)]
    assert b2["n_seqs"] == 1 and b2["pad_to_bucket"] == 13
    assert (32, 0) in got and (64, 0) in got
    # oversize sequences refuse into bucket 0
    over = spark.createDataFrame([(0, 100)], "id long, n long")
    r = length_bucketed_batches(over, "id", "n", 2, (16, 32, 64)).collect()[0]
    assert r["bucket"] == 0


def test_ece_exact_integer_identity(spark, sf_dir):
    """ECE folds to sum|1e9*hits - sum_score| / (1e9*N): check the
    exported scalar against a driver-side recomputation from the
    exported bins."""
    from redshells_spark.queries import get_queries

    rows = get_queries()["expected_calibration_error"](spark, sf_dir).collect()
    n_total = sum(r["n"] for r in rows)
    gap_total = sum(abs(10**9 * r["n_pos"] - r["sum_score_e9"]) for r in rows)
    want = (2 * gap_total + 1000 * n_total) // (2000 * n_total)
    assert rows[0]["ece_e6"] == want
    assert max(r["gap_e6"] for r in rows) == rows[0]["mce_e6"]
    # bins live on the confidence axis
    assert all(0 <= r["bin"] <= 99 for r in rows)


def test_unimax_waterfill_edges(spark):
    from redshells_spark.data.sampling import unimax_allocation

    # tail groups epoch-capped, big group budget-limited; sums to B
    df = spark.createDataFrame(
        [("a", 100), ("b", 110), ("c", 500)], "g string, toks long"
    )
    out = {r["g"]: r for r in
           unimax_allocation(df, "g", "toks", budget=1000, epoch_cap=3).collect()}
    assert out["a"]["allocation"] == 300 and out["a"]["capped"] == 1
    assert out["b"]["allocation"] == 330 and out["b"]["capped"] == 1
    assert out["c"]["allocation"] == 370 and out["c"]["capped"] == 0
    assert sum(r["allocation"] for r in out.values()) == 1000

    # budget exceeds total capacity: everyone fully capped, no crash
    small = unimax_allocation(df, "g", "toks", budget=10**6, epoch_cap=2)
    rows = {r["g"]: r for r in small.collect()}
    assert all(r["allocation"] == r["cap"] for r in rows.values())

    # largest-remainder top-up: 2 uncapped groups splitting 1001
    df2 = spark.createDataFrame(
        [("x", 400), ("y", 500)], "g string, toks long"
    )
    o2 = {r["g"]: r for r in
          unimax_allocation(df2, "g", "toks", budget=1001, epoch_cap=2).collect()}
    assert o2["y"]["allocation"] == 501 and o2["x"]["allocation"] == 500


def test_fim_transform_layout(spark, sf_dir):
    from redshells_spark.queries import get_queries

    rows = get_queries()["fim_transform"](spark, sf_dir).collect()
    by_mode = {}
    for r in rows:
        by_mode.setdefault(r["mode"], []).append(r)
    assert set(by_mode) == {"ar", "fim"}
    f = by_mode["fim"][0]
    assert f["text_out"].startswith("<PRE> ")
    assert " <SUF> " in f["text_out"] and " <MID> " in f["text_out"]
    # token-preserving: rearrangement keeps every token exactly once
    body = (
        f["text_out"].replace("<PRE> ", "").replace(" <SUF> ", " ")
        .replace(" <MID> ", " ")
    )
    assert len(body.split()) == f["n_tokens"]


def test_rbo_suffix_weights_identity():
    """Identical top-10 rankings must score RBO@10 = (1-p) * sum
    p^(d-1) = 1 - p^10 (up to the documented nano-unit weight
    quantization)."""
    from redshells_spark.queries.llm_eval import _rbo_suffix_weights

    ws = _rbo_suffix_weights(p=0.9, k=10, lcm=2520)
    # identical lists: the doc at rank r has m = r
    total = sum(ws)
    rbo = total / (2520 * 1e9)
    assert abs(rbo - (1 - 0.9**10)) < 1e-6
    # weights strictly decreasing in m and positive
    assert all(a > b > 0 for a, b in zip(ws, ws[1:]))


def test_ks_two_sample_hand_case(spark, sf_dir):
    """KS on identical samples -> D = 0; on disjoint ranges -> D = 1;
    the registry query's exact integer numerator agrees with a
    recomputation from raw values."""
    from redshells_spark.queries import get_queries
    import duckdb

    r = get_queries()["ks_two_sample"](spark, sf_dir).collect()[0]
    assert 0.0 <= r["d_stat"] <= 1.0
    assert r["reject_005"] in (0, 1)
    # recompute D exactly from the raw parquet with numpy-free logic
    con = duckdb.connect()
    rows = con.execute(
        f"""SELECT CAST(floor(value*100 + CAST(0.5 AS DOUBLE)) AS BIGINT) v,
                   event_type FROM '{sf_dir}/events.parquet'
            WHERE event_type IN ('click','purchase')"""
    ).fetchall()
    ones = sorted(v for v, t in rows if t == "click")
    twos = sorted(v for v, t in rows if t == "purchase")
    n1, n2 = len(ones), len(twos)
    values = sorted(set(ones) | set(twos))
    import bisect
    d_num = max(
        abs(bisect.bisect_right(ones, v) * n2 - bisect.bisect_right(twos, v) * n1)
        for v in values
    )
    assert (r["n1"], r["n2"], r["d_num"]) == (n1, n2, d_num)


def test_winrate_bootstrap_ci_brackets_point(spark, sf_dir):
    from redshells_spark.queries import get_queries

    r = get_queries()["winrate_bootstrap_ci"](spark, sf_dir).collect()[0]
    assert r["n_replicas"] == 100
    assert r["ci_lo"] <= r["point_mean"] <= r["ci_hi"]
    assert 0.0 <= r["ci_lo"] and r["ci_hi"] <= 1.0


def test_conformal_coverage_guarantee(spark, sf_dir):
    """Split-conformal marginal validity: coverage on the held-out
    half should be ~>= 90% per group (exchangeable halves; allow a
    small finite-sample slack below the target)."""
    from redshells_spark.queries import get_queries

    rows = get_queries()["conformal_threshold"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r["k"] <= r["n_cal"]
        # per-group realized coverage fluctuates at small n (the
        # guarantee is in expectation) — bound the dip loosely and
        # hold the cross-group mean near the target
        assert r["coverage"] >= 0.78, (r["event_type"], r["coverage"])
    mean_cov = sum(r["coverage"] for r in rows) / len(rows)
    assert mean_cov >= 0.87, mean_cov
    # k is the exact ceil(0.9*(n+1)) index, never the float ceil
    for r in rows:
        n = r["n_cal"]
        assert r["k"] == min((9 * (n + 1) + 9) // 10, n)
