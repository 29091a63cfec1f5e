"""Unit gates for the round-8 operators: blocked prefix-filter joins,
floored containment, CMS/Bloom sketch audits, stratified sampling,
theta forecast, exact PR-AUC, and the graph-structure readouts.
Hand-computed fixtures pin the math; sf0.001 runs pin shapes and the
documented invariants (no sketch underestimate, no Bloom false
negative, k-core fixpoint)."""

from __future__ import annotations

import math
from itertools import combinations

import pytest
from pyspark.sql import functions as F

from redshells_spark.queries import QUERIES

SF = "/root/testdata/sf0.001"


# ------------------------------------------- blocked prefix filter


def test_blocked_ppjoin_equals_bruteforce(spark):
    # sets across two blocks; exact same-block Jaccard >= 0.5 pairs
    data = {
        1: ("a", {"x", "y", "z"}),
        2: ("a", {"x", "y", "w"}),
        3: ("a", {"p", "q"}),
        4: ("b", {"x", "y", "z"}),  # same set as 1 but other block
        5: ("b", {"x", "y"}),
    }
    rows = [(i, b, e) for i, (b, s) in data.items() for e in s]
    df = spark.createDataFrame(rows, "doc_id long, blk string, el string")
    from redshells_spark.dedup.ppjoin import build_rank_sorted_sets, pairs_from_rank_sorted

    idx = build_rank_sorted_sets(df, "doc_id", "el", block_column="blk")
    got = {(r["id_0"], r["id_1"]) for r in pairs_from_rank_sorted(idx, 5, 10).collect()}
    want = set()
    for i, j in combinations(sorted(data), 2):
        bi, si = data[i]
        bj, sj = data[j]
        if bi == bj and len(si & sj) * 2 >= len(si | sj):
            want.add((i, j))
    assert got == want and (1, 2) in got and (4, 5) in got


def test_blocked_ppjoin_output_carries_block(spark):
    rows = [(1, "a", "x"), (1, "a", "y"), (2, "a", "x"), (2, "a", "y")]
    df = spark.createDataFrame(rows, "doc_id long, blk string, el string")
    from redshells_spark.dedup.ppjoin import build_rank_sorted_sets, pairs_from_rank_sorted

    idx = build_rank_sorted_sets(df, "doc_id", "el", block_column="blk")
    out = pairs_from_rank_sorted(idx, 5, 10).collect()
    assert [(r["block"], r["id_0"], r["id_1"], r["jac_e4"]) for r in out] == [
        ("a", 1, 2, 10000)
    ]


def test_unblocked_ppjoin_sizes_in_output(spark):
    rows = [(1, "x"), (1, "y"), (1, "z"), (2, "x"), (2, "y")]
    df = spark.createDataFrame(rows, "doc_id long, el string")
    from redshells_spark.dedup.ppjoin import build_rank_sorted_sets, pairs_from_rank_sorted

    out = pairs_from_rank_sorted(build_rank_sorted_sets(df, "doc_id", "el"), 5, 10).collect()
    assert [(r["id_0"], r["id_1"], r["sz_0"], r["sz_1"], r["inter"]) for r in out] == [
        (1, 2, 3, 2, 2)
    ]


# ----------------------------------------------- floored containment


def test_containment_floor_is_subset(spark):
    from redshells_spark.dedup.ppjoin import (
        build_rank_sorted_sets,
        containment_pairs_from_rank_sorted,
    )

    rows = (
        [(1, f"e{i}") for i in range(10)]
        + [(2, f"e{i}") for i in range(8)]  # 2 ⊂ 1, |2|=8
        + [(3, "e0"), (3, "e1")]  # tiny set, contained in 1 and 2
    )
    idx = build_rank_sorted_sets(
        spark.createDataFrame(rows, "doc_id long, el string"),
        element_column="el",
    )
    full = {
        (r["id_a"], r["id_b"])
        for r in containment_pairs_from_rank_sorted(idx, 8, 10).collect()
    }
    floored = {
        (r["id_a"], r["id_b"])
        for r in containment_pairs_from_rank_sorted(
            idx, 8, 10, min_size_a=5
        ).collect()
    }
    # (1,2) qualifies too: |1∩2|/|1| = 8/10 = 0.8 exactly
    assert full == {(3, 1), (3, 2), (2, 1), (1, 2)}
    assert floored == {(2, 1), (1, 2)}  # only |A| >= 5 probes survive
    assert floored <= full


def test_containment_bitmask_equals_array_path(spark):
    # a universe of 64 fills one bitset word (BITSET_UNIVERSE), so
    # passing it switches containment verification to the inline
    # popcount path — which must be row-identical to the
    # array_intersect path, with and without the min-|A| floor, and
    # the floored relation must equal the unfloored filtered on size_a
    # (the registry's shared-cache contract). Rank 64 sets the sign bit.
    import random

    from redshells_spark.dedup.ppjoin import (
        BITSET_UNIVERSE,
        build_rank_sorted_sets,
        containment_pairs_from_rank_sorted,
    )

    rng = random.Random(13)
    universe = [f"e{i:03d}" for i in range(64)]
    rows = []
    for d in range(1, 41):
        base = rng.sample(universe, rng.randint(2, 40))
        rows += [(d, e) for e in base]
        if d % 5 == 0:  # superset doc: base + extras (containment hit)
            extra = rng.sample([e for e in universe if e not in base], 10)
            rows += [(d + 100, e) for e in base + extra]
    idx = build_rank_sorted_sets(
        spark.createDataFrame(rows, "doc_id long, el string"), element_column="el"
    )
    u = len({e for _, e in rows})
    assert u == BITSET_UNIVERSE

    def rows_of(df):
        return {tuple(r) for r in df.collect()}

    arr = rows_of(containment_pairs_from_rank_sorted(idx, 8, 10))
    bm = rows_of(containment_pairs_from_rank_sorted(idx, 8, 10, element_universe=u))
    assert bm == arr and len(arr) > 0
    arr_f = rows_of(
        containment_pairs_from_rank_sorted(idx, 8, 10, min_size_a=10)
    )
    bm_f = rows_of(
        containment_pairs_from_rank_sorted(
            idx, 8, 10, min_size_a=10, element_universe=u
        )
    )
    filtered = {t for t in arr if t[3] >= 10}  # size_a is column 4
    assert bm_f == arr_f == filtered


# ----------------------------------------------------- CMS / Bloom


def test_count_min_never_underestimates(spark):
    out = QUERIES["count_min_error_report"](spark, SF).collect()
    assert 0 < len(out) <= 20
    assert all(r["overcount"] >= 0 for r in out)
    assert all(r["est"] >= r["exact_df"] for r in out)


def test_bloom_no_false_negatives_and_counts(spark):
    r = QUERIES["bloom_filter_fpr_audit"](spark, SF).collect()[0]
    # every member must hit: fp counted only among negatives, and
    # n_fp <= n_neg; build keys are a subset of probes here
    assert r["n_probe"] >= r["n_neg"] >= r["n_fp"] >= 0
    assert r["n_build"] == r["n_probe"] - r["n_neg"]
    assert 0 <= r["pred_fpr_e6"] <= 1_000_000


# ----------------------------------------------- stratified sampling


def test_stratified_allocation_sums_to_n(spark):
    out = QUERIES["stratified_sample_exact"](spark, SF).collect()
    assert sum(r["alloc"] for r in out) == 500
    assert all(r["alloc"] <= r["n_pop"] or r["key_checksum"] >= 0 for r in out)
    # allocation is proportional within 1 of the exact quota
    tot = sum(r["n_pop"] for r in out)
    for r in out:
        exact = 500 * r["n_pop"] / tot
        assert abs(r["alloc"] - exact) < 1.0


# ------------------------------------------------- theta forecast


def test_theta_forecast_hand_recurrence(spark):
    out = QUERIES["theta_forecast"](spark, SF).orderBy("t").collect()
    if len(out) < 2:
        pytest.skip("degenerate corpus")
    ts = [r["t"] for r in out]
    vs = [r["v"] for r in out]
    n = len(ts)
    st, sv = sum(ts), sum(vs)
    stv = sum(t * v for t, v in zip(ts, vs))
    stt = sum(t * t for t in ts)
    b = float(n * stv - st * sv) / float(n * stt - st * st)
    a = (float(sv) - b * float(st)) / float(n)
    # theta line doubles curvature around the OLS line
    for r in out:
        assert r["theta_z"] == pytest.approx(2 * r["v"] - (a + b * r["t"]), abs=1e-6)
    # SES recurrence holds between consecutive rows
    for p, c in zip(out, out[1:]):
        assert c["level"] == pytest.approx(
            0.3 * c["theta_z"] + 0.7 * p["level"], abs=1e-6
        )
    # forecast is the equal-weight drift/SES combination
    last = out[-1]
    assert last["fcst_next"] == pytest.approx(
        0.5 * (last["level"] + (a + b * (last["t"] + 1))), abs=1e-6
    )


# --------------------------------------------------- exact PR-AUC


def test_pr_auc_hand_value(spark):
    # scores: pos at 3,2 / neg at 2,1 → levels desc: 3 (tp1,fp0 P=1),
    # 2 (tp2,fp1 P=2/3), 1 (tp2,fp2) → AP = (1/2)*1 + (1/2)*(2/3) = 5/6
    rows = [(3.0, 1), (2.0, 1), (2.0, 0), (1.0, 0)]
    ev = spark.createDataFrame(rows, "score double, pos int")
    lvl = ev.groupBy(
        F.expr("cast(floor(score * 100 + 0.5) as bigint)").alias("s")
    ).agg(
        F.sum("pos").cast("long").alias("np"),
        F.sum(1 - F.col("pos")).cast("long").alias("nn"),
    )
    from pyspark.sql import Window

    w = Window.orderBy(F.col("s").desc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = lvl.select(
        "np",
        F.sum("np").over(w).alias("tp"),
        F.sum("nn").over(w).alias("fp"),
    ).filter(F.col("np") > 0)
    terms = cum.select(
        F.expr("cast(np * tp * 1000000000 div (2 * (tp + fp)) as bigint)").alias("t")
    )
    ap_e9 = terms.agg(F.sum("t")).collect()[0][0]
    assert ap_e9 == 500000000 + 333333333  # floor terms of 1/2 and 1/3

    out = QUERIES["pr_auc_exact"](spark, SF).collect()[0]
    assert 0 <= out["ap"] <= 1 and out["n_levels"] > 0


# ------------------------------------------------------- k-core


def test_k_core_hand_graph(spark):
    # K4 on {1,2,3,4} plus a pendant 5-1: with k=2 the pendant and
    # nothing else peels; rounds converge immediately after
    edges = []
    for i, j in combinations([1, 2, 3, 4], 2):
        edges += [(f"n{i}", f"n{j}"), (f"n{j}", f"n{i}")]
    edges += [("n5", "n1"), ("n1", "n5")]
    e = spark.createDataFrame(edges, "src string, dst string")
    alive = e.select(F.col("src").alias("node")).distinct()
    for _ in range(3):
        er = e.join(alive.withColumnRenamed("node", "src"), "src").join(
            alive.withColumnRenamed("node", "dst"), "dst"
        )
        deg = er.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
        alive = deg.filter(F.col("d") >= 2).select(F.col("src").alias("node"))
    assert {r["node"] for r in alive.collect()} == {"n1", "n2", "n3", "n4"}


@pytest.mark.slow  # measured >=10s (round-9 tiering)
def test_k_core_multi_round_cascade_matches_unrolled(spark):
    # A 7-node path peels from both ends one node per round at k=2 —
    # exercises the fixpoint short-circuit's NON-converged branch for
    # several rounds, then convergence (empty core). Reference: the
    # naive unrolled loop (no short-circuit).
    edges = []
    for i in range(6):
        edges += [(f"n{i}", f"n{i+1}"), (f"n{i+1}", f"n{i}")]
    e = spark.createDataFrame(edges, "src string, dst string")

    from redshells_spark.queries.graph import _k_core_rounds_table

    got = {
        r["round"]: (r["n_nodes"], r["n_edges2"])
        for r in _k_core_rounds_table(spark, e, k=2, rounds=5).collect()
    }
    # unrolled reference
    alive = e.select(F.col("src").alias("node")).distinct()
    want = {}
    for r in range(1, 6):
        er = e.join(alive.withColumnRenamed("node", "src"), "src").join(
            alive.withColumnRenamed("node", "dst"), "dst"
        )
        deg = er.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
        alive = deg.filter(F.col("d") >= 2).select(F.col("src").alias("node"))
        ea = e.join(alive.withColumnRenamed("node", "src"), "src").join(
            alive.withColumnRenamed("node", "dst"), "dst"
        )
        want[r] = (alive.count(), ea.count())
    assert got == want
    # the path graph has no 2-core: it must cascade to empty
    assert want[5] == (0, 0) and want[1][0] > 0


def test_k_core_rounds_converge_on_testdata(spark):
    out = {r["round"]: (r["n_nodes"], r["n_edges2"]) for r in QUERIES["k_core_peel_rounds"](spark, SF).collect()}
    assert len(out) == 6
    # documented fixpoint gate: the last two rounds agree
    assert out[5] == out[6]
    # peeling is monotone non-increasing
    for r in range(1, 6):
        assert out[r][0] >= out[r + 1][0] and out[r][1] >= out[r + 1][1]


# ------------------------------------------------- rich club


@pytest.mark.slow  # measured >=10s (round-9 tiering)
def test_rich_club_hand_graph(spark):
    # star: hub h connected to 5 leaves; deg(h)=5, deg(leaf)=1.
    # k=2: only the hub survives → filtered out (n_nodes < 2).
    # Build a 3-clique with one leaf each instead: deg(core)=3,
    # deg(leaf)=1; k=2 keeps the 3 core nodes with 6 directed edges
    # → phi = 6/(3*2) = 1.0
    edges = []
    for i, j in combinations(["a", "b", "c"], 2):
        edges += [(i, j), (j, i)]
    for i, leaf in [("a", "la"), ("b", "lb"), ("c", "lc")]:
        edges += [(i, leaf), (leaf, i)]
    e = spark.createDataFrame(edges, "src string, dst string")
    deg = e.groupBy(F.col("src").alias("node")).agg(F.count(F.lit(1)).alias("d"))
    core = deg.filter(F.col("d") > 2)
    assert core.count() == 3
    ed = (
        e.join(deg.select(F.col("node").alias("src"), F.col("d").alias("ds")), "src")
        .join(deg.select(F.col("node").alias("dst"), F.col("d").alias("dd")), "dst")
        .filter((F.col("ds") > 2) & (F.col("dd") > 2))
    )
    assert ed.count() == 6  # phi = 6/(3*2) = 1


def test_rich_club_query_monotone_nodes(spark):
    out = QUERIES["rich_club_coefficient"](spark, SF).orderBy("k").collect()
    for p, c in zip(out, out[1:]):
        assert p["n_nodes"] >= c["n_nodes"]
    for r in out:
        assert 0 <= r["phi_e6"] <= 1_000_000
    # round-9 fix: a ladder rung with >= 2 rich nodes but ZERO
    # surviving edges must still be reported (n_edges2 = 0, phi = 0) —
    # the old inner join dropped it. At sf0.001 the k=16/32 rungs are
    # exactly this case, so all 5 rungs must be present.
    assert len(out) == 5
    assert any(r["n_edges2"] == 0 and r["phi_e6"] == 0 for r in out)


# ------------------------------- duplicate-set collapsing (PPJoin)


def _pairs_set(df):
    return {
        tuple(r[c] for c in ("id_0", "id_1", "inter", "sz_0", "sz_1", "union_sz", "jac_e4"))
        for r in df.collect()
    }


def test_collapsed_pairs_equal_plain(spark):
    # duplicate-heavy corpus: docs 1/2/3 share one set, 4/5 another
    # (overlapping the first), 6 unique and dissimilar — so the result
    # mixes within-group (jac=1) and cross-group pairs
    rows = []
    for d in (1, 2, 3):
        rows += [(d, e) for e in ("a", "b", "c", "d")]
    for d in (4, 5):
        rows += [(d, e) for e in ("a", "b", "c", "x")]
    rows += [(6, e) for e in ("p", "q", "r", "s")]
    from redshells_spark.dedup.ppjoin import (
        build_rank_sorted_sets,
        pairs_from_rank_sorted,
    )

    idx = build_rank_sorted_sets(
        spark.createDataFrame(rows, "doc_id long, el string"), element_column="el"
    )
    plain = _pairs_set(pairs_from_rank_sorted(idx, 5, 10))
    coll = _pairs_set(pairs_from_rank_sorted(idx, 5, 10, collapse_identical=True))
    # groups {1,2,3} and {4,5}: within = C(3,2) + C(2,2) = 3 + 1;
    # cross pairs all have jac = 3/5 = 0.6 ≥ 0.5 → 3·2 = 6; total 10;
    # doc 6 joins nothing
    assert plain == coll and len(plain) == 10


@pytest.mark.slow  # measured >=10s (round-9 tiering)
def test_array_native_index_equals_long_form(spark, monkeypatch):
    # build_rank_sorted_sets_from_arrays must produce the EXACT index
    # (ranks, order, sizes) and the exact pairs the long-form builder
    # does — including dup tokens inside arrays (set semantics), an
    # empty-array doc (absent from both), and the >cap fallback path
    from redshells_spark.dedup import ppjoin
    from redshells_spark.dedup.ppjoin import (
        build_rank_sorted_sets,
        build_rank_sorted_sets_from_arrays,
        pairs_from_rank_sorted,
    )

    arr_rows = [
        (1, ["a", "b", "c", "d", "a"]),  # dup "a" collapses
        (2, ["a", "b", "c", "d"]),
        (3, ["a", "b", "c", "x"]),
        (4, ["p", "q"]),
        (5, []),  # empty set: absent from the index
        (6, ["p", "q", "r"]),
    ]
    docs = spark.createDataFrame(arr_rows, "doc_id long, tokens array<string>")
    long_rows = sorted({(i, e) for i, els in arr_rows for e in els})
    long_df = spark.createDataFrame(long_rows, "doc_id long, el string")

    def _idx_rows(df):
        return sorted(
            (r["__id"], tuple((s["__erk"], s["__el"]) for s in r["__rk"]), r["__sz"])
            for r in df.collect()
        )

    want_idx = build_rank_sorted_sets(long_df, "doc_id", "el")
    got_idx, u = build_rank_sorted_sets_from_arrays(docs, "doc_id", "tokens")
    assert u == 8  # a b c d p q r x
    assert _idx_rows(got_idx) == _idx_rows(want_idx)
    want = _pairs_set(pairs_from_rank_sorted(want_idx, 5, 10))
    got = _pairs_set(pairs_from_rank_sorted(got_idx, 5, 10, element_universe=u))
    assert got == want and want

    # cap exceeded -> long-form fallback, universe None, same index
    monkeypatch.setattr(ppjoin, "BITSET_UNIVERSE", 4)
    fb_idx, fb_u = build_rank_sorted_sets_from_arrays(docs, "doc_id", "tokens")
    assert fb_u is None
    assert _idx_rows(fb_idx) == _idx_rows(want_idx)


@pytest.mark.slow  # measured >=10s (round-9 tiering)
def test_bitmask_verify_equals_array_path(spark):
    # element_universe ≤ 64 switches pairs_from_rank_sorted to the
    # inline int64-bitmask verification — must be row-identical to the
    # array_intersect path, plain AND collapsed, on a corpus mixing
    # duplicate groups, near-misses at the threshold, and singletons
    import random

    rng = random.Random(11)
    universe = [f"e{i}" for i in range(20)]
    rows = []
    for d in range(1, 41):
        base = rng.sample(universe, rng.randint(3, 12))
        rows += [(d, e) for e in base]
        if d % 3 == 0:  # exact duplicate of the previous doc's set
            rows += [(d + 100, e) for e in base]
    from redshells_spark.dedup.ppjoin import (
        build_rank_sorted_sets,
        pairs_from_rank_sorted,
    )

    idx = build_rank_sorted_sets(
        spark.createDataFrame(rows, "doc_id long, el string"), element_column="el"
    )
    for num, den in ((5, 10), (8, 10)):
        arr = _pairs_set(pairs_from_rank_sorted(idx, num, den))
        bm = _pairs_set(pairs_from_rank_sorted(idx, num, den, element_universe=20))
        assert bm == arr and len(arr) > 0
        arr_c = _pairs_set(
            pairs_from_rank_sorted(idx, num, den, collapse_identical=True)
        )
        bm_c = _pairs_set(
            pairs_from_rank_sorted(
                idx, num, den, collapse_identical=True, element_universe=20
            )
        )
        assert bm_c == arr_c == arr


def test_collapsed_pairs_equal_plain_blocked(spark):
    # same sets split across two blocks: identical sets in DIFFERENT
    # blocks must NOT pair
    rows = []
    for d, blk in ((1, "s1"), (2, "s1"), (3, "s2")):
        rows += [(d, blk, e) for e in ("a", "b", "c", "d")]
    from redshells_spark.dedup.ppjoin import (
        build_rank_sorted_sets,
        pairs_from_rank_sorted,
    )

    idx = build_rank_sorted_sets(
        spark.createDataFrame(rows, "doc_id long, src string, el string"),
        element_column="el",
        block_column="src",
    )
    plain = sorted(map(tuple, pairs_from_rank_sorted(idx, 5, 10).collect()))
    coll = sorted(
        map(tuple, pairs_from_rank_sorted(idx, 5, 10, collapse_identical=True).collect())
    )
    assert plain == coll
    assert [(r[1], r[2]) for r in plain] == [(1, 2)]  # only the s1 pair


# --------------------------- markov journey edge cases (r8 opt rewrite)


def test_markov_journeys_empty_and_post_purchase_only(spark):
    """The single-pass rewrite derives start->conv from the per-user
    aggregate (journey empty iff the globally-first event is the first
    purchase). Covers: purchase-first user (empty journey), user whose
    only non-purchase events come AFTER the purchase (also an empty
    journey — must still emit start->conv and nothing else), and a
    never-converting user."""
    from redshells_spark.operators.markov import journey_transition_counts

    rows = [
        # u1: purchase first, then a view — empty journey, start->conv
        (1, "purchase", 10, 100), (1, "view", 20, 101),
        # u2: purchase only — empty journey
        (2, "purchase", 10, 200),
        # u3: view then purchase — one-step journey
        (3, "view", 10, 300), (3, "purchase", 20, 301),
        # u4: never converts
        (4, "click", 10, 400),
    ]
    ev = spark.createDataFrame(
        rows, "user_id long, event_type string, us long, event_id long"
    )
    cnt = {
        (r["src"], r["dst"]): r["c"]
        for r in journey_transition_counts(ev).collect()
    }
    assert cnt == {
        ("start", "conv"): 2,   # u1 + u2
        ("start", "view"): 1,   # u3
        ("view", "conv"): 1,    # u3
        ("start", "click"): 1,  # u4
        ("click", "null"): 1,   # u4
    }


def test_markov_same_timestamp_tiebreak(spark):
    """Events sharing a timestamp order by event_id — the (us, eid)
    struct comparison must keep pre-purchase events with us equal to
    the purchase time but smaller eid, and drop the larger-eid one."""
    from redshells_spark.operators.markov import journey_transition_counts

    rows = [
        (1, "view", 10, 101), (1, "purchase", 10, 102), (1, "click", 10, 103),
    ]
    ev = spark.createDataFrame(
        rows, "user_id long, event_type string, us long, event_id long"
    )
    cnt = {
        (r["src"], r["dst"]): r["c"]
        for r in journey_transition_counts(ev).collect()
    }
    assert cnt == {("start", "view"): 1, ("view", "conv"): 1}


def test_greedy_coverage_arrays_path_parity(spark):
    """The in-row rewrite (array_except against the broadcast covered
    set) must pick the same docs as the anti-join formulation, with
    ties broken on id, and the prebuilt-arrays path must match the
    internal groupBy path."""
    from redshells_spark.data.coverage import greedy_max_coverage

    sets = {
        1: ["a", "b", "c"],
        2: ["c", "d", "e"],   # gain 2 after pick 1 — ties with 3 on gain
        3: ["a", "d", "e"],   # gain 2 after pick 1 — id tie-break picks 2
        4: ["f"],
    }
    rows = [(i, e) for i, els in sets.items() for e in els]
    df = spark.createDataFrame(rows, "doc_id long, shingle string")
    want = [(1, 1, 3), (2, 2, 2), (3, 4, 1), (4, 3, 0)]  # step, id, gain
    out = sorted(
        greedy_max_coverage(df, "doc_id", "shingle", k=6).collect(),
        key=lambda r: r["step"],
    )
    got = [(r["step"], r["doc_id"], r["gain"]) for r in out]
    # doc 3 contributes nothing new after 1,2,4 — greedy stops (gain 0)
    assert got == [w for w in want if w[2] > 0]
    arrs = df.groupBy("doc_id").agg(F.collect_list("shingle").alias("arr"))
    out2 = sorted(
        greedy_max_coverage(df, "doc_id", "shingle", k=6, arrays=arrs).collect(),
        key=lambda r: r["step"],
    )
    assert [(r["step"], r["doc_id"], r["gain"]) for r in out2] == got


def test_dedup_within_doc_first_occurrence_order(spark):
    """The array_distinct rewrite must keep the FIRST occurrence of
    each unit in original document order, including non-adjacent
    repeats and repeated empty units."""
    from redshells_spark.text.chunking import dedup_within_doc

    rows = [
        (1, "a b a c b a d"),
        (2, "x x x"),
        (3, "q"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in dedup_within_doc(df).collect()}
    assert got[1]["text"] == "a b c d"
    assert (got[1]["n_units"], got[1]["n_removed"]) == (7, 3)
    assert got[2]["text"] == "x"
    assert (got[2]["n_units"], got[2]["n_removed"]) == (3, 2)
    assert got[3]["text"] == "q"
    assert (got[3]["n_units"], got[3]["n_removed"]) == (1, 0)
