"""Round-5 session-2 operators: repeated-span dedup, phrase search,
LSH parameter planning, DoReMi reweighting."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F


def _tokens_df(spark, rows):
    return spark.createDataFrame(rows, ["doc_id", "tokens"])


# ------------------------------------------------------------- spans


def test_repeated_span_report_finds_shared_span(spark):
    # docs 1 and 2 share the 5-token run "a b c d e" -> with k=3 every
    # window inside it is duplicated; doc 3 is unique
    from redshells_spark.dedup.spans import repeated_span_report

    df = _tokens_df(
        spark,
        [
            (1, ["x", "a", "b", "c", "d", "e", "y"]),
            (2, ["a", "b", "c", "d", "e", "q", "r", "s"]),
            (3, ["u", "v", "w", "m", "n", "o", "p"]),
        ],
    )
    out = {
        r["doc_id"]: r
        for r in repeated_span_report(df, shingle_len=3, min_count=2).collect()
    }
    # doc 1: duplicated windows start at pos 1..3 -> merged span [1, 5]
    assert out[1]["n_spans"] == 1 and out[1]["dup_tokens"] == 5
    assert out[1]["dup_fraction"] == pytest.approx(5 / 7, abs=1e-4)
    # doc 2: span [0, 4]
    assert out[2]["n_spans"] == 1 and out[2]["dup_tokens"] == 5
    # doc 3: clean
    assert out[3]["n_spans"] == 0 and out[3]["dup_tokens"] == 0
    assert out[3]["dup_fraction"] == 0.0


def test_repeated_span_merges_disjoint_spans(spark):
    from redshells_spark.dedup.spans import repeated_span_report

    # two separated duplicated regions in one doc must yield 2 spans
    shared1 = ["a", "b", "c"]
    shared2 = ["p", "q", "r"]
    df = _tokens_df(
        spark,
        [
            (1, shared1 + ["x1", "x2", "x3", "x4"] + shared2),
            (2, shared1 + ["y1", "y2", "y3", "y4"] + shared2),
        ],
    )
    out = {
        r["doc_id"]: r
        for r in repeated_span_report(df, shingle_len=3, min_count=2).collect()
    }
    assert out[1]["n_spans"] == 2 and out[1]["dup_tokens"] == 6


def test_repeated_span_within_doc_repeat_counts(spark):
    from redshells_spark.dedup.spans import repeated_span_report

    # the same trigram twice INSIDE one doc also counts (Lee et al.)
    df = _tokens_df(spark, [(1, ["a", "b", "c", "z", "a", "b", "c"])])
    row = repeated_span_report(df, shingle_len=3, min_count=2).collect()[0]
    assert row["n_spans"] == 2 and row["dup_tokens"] == 6


def test_short_docs_start_no_shingle(spark):
    from redshells_spark.dedup.spans import repeated_span_report

    df = _tokens_df(spark, [(1, ["a", "b"]), (2, ["a", "b"])])
    out = {
        r["doc_id"]: r
        for r in repeated_span_report(df, shingle_len=3, min_count=2).collect()
    }
    assert out[1]["n_spans"] == 0 and out[1]["n_tokens"] == 2


def test_remove_repeated_spans_transform(spark):
    from redshells_spark.dedup.spans import remove_repeated_spans

    df = _tokens_df(
        spark,
        [
            (1, ["x", "a", "b", "c", "d", "e", "y"]),
            (2, ["a", "b", "c", "d", "e"]),
        ],
    )
    out = {
        r["doc_id"]: r
        for r in remove_repeated_spans(df, shingle_len=3, min_count=2).collect()
    }
    assert out[1]["kept_tokens"] == ["x", "y"] and out[1]["n_removed"] == 5
    assert out[2]["kept_tokens"] == [] and out[2]["n_removed"] == 5


# ------------------------------------------------------------- phrase


def test_phrase_occurrences_counts_consecutive_only(spark):
    from redshells_spark.text.phrase import phrase_occurrences

    df = _tokens_df(
        spark,
        [
            (1, ["hash", "join", "then", "hash", "join"]),
            (2, ["join", "hash"]),  # reversed -> no match
            (3, ["hash", "x", "join"]),  # gap -> no match
        ],
    )
    rows = phrase_occurrences(df, ["hash join"]).collect()
    assert len(rows) == 1
    assert rows[0]["doc_id"] == 1 and rows[0]["n_occurrences"] == 2


def test_phrase_mixed_lengths_and_topk_ranking(spark):
    from redshells_spark.text.phrase import phrase_topk

    df = _tokens_df(
        spark,
        [
            (1, ["sort", "merge", "join", "sort", "merge", "join"]),
            (2, ["sort", "merge", "join"]),
            (3, ["table", "scan"]),
        ],
    )
    out = phrase_topk(df, ["sort merge join", "table scan"], k=5).collect()
    by_phrase = {}
    for r in out:
        by_phrase.setdefault(r["phrase"], []).append(r)
    smj = sorted(by_phrase["sort merge join"], key=lambda r: r["rank"])
    assert [r["doc_id"] for r in smj] == [1, 2]
    assert smj[0]["n_occurrences"] == 2
    assert [r["doc_id"] for r in by_phrase["table scan"]] == [3]


def test_phrase_rejects_empty(spark):
    from redshells_spark.text.phrase import phrase_occurrences

    df = _tokens_df(spark, [(1, ["a"])])
    with pytest.raises(ValueError):
        phrase_occurrences(df, ["  "])


# ------------------------------------------------------------- lsh plan


def test_lsh_plan_math_and_selection(spark):
    from redshells_spark.dedup.lsh_plan import lsh_parameter_plan

    rows = lsh_parameter_plan(spark, 128, 0.8, 0.4).collect()
    assert len(rows) == 8  # divisors of 128
    by_bands = {r["bands"]: r for r in rows}
    for b, r in ((16, 8), (32, 4), (8, 16)):
        got = by_bands[b]
        assert got["rows_per_band"] == r
        assert got["threshold_est"] == pytest.approx(
            (1 / b) ** (1 / r), abs=1e-4
        )
        assert got["p_at_target"] == pytest.approx(
            1 - (1 - 0.8**r) ** b, abs=1e-4
        )
    # closest threshold to 0.8 among divisor pairs of 128 is (8, 16)
    selected = [r["bands"] for r in rows if r["selected"]]
    assert selected == [8]
    # fn + p_at_target must be complementary
    for r in rows:
        assert r["fn_at_target"] == pytest.approx(
            1 - r["p_at_target"], abs=2e-4
        )


def test_lsh_plan_rejects_bad_nperm(spark):
    from redshells_spark.dedup.lsh_plan import lsh_parameter_plan

    with pytest.raises(ValueError):
        lsh_parameter_plan(spark, 0)


# ------------------------------------------------------------- doremi


def test_doremi_reweight_shifts_mass_to_lossy_domain(spark):
    from redshells_spark.data.doremi import doremi_reweight

    losses = spark.createDataFrame(
        [("easy", 1.0), ("mid", 1.5), ("hard", 3.0)], ["domain", "loss"]
    )
    out = {r["domain"]: r for r in doremi_reweight(losses, eta=1.0).collect()}
    # min-loss domain has zero excess
    assert out["easy"]["excess_loss"] == 0.0
    # exponentiated-gradient: weights ordered by excess loss
    assert out["hard"]["weight"] > out["mid"]["weight"] > out["easy"]["weight"]
    # weights normalize to 1 (within rounding)
    assert math.isclose(
        sum(r["weight"] for r in out.values()), 1.0, abs_tol=3e-4
    )
    # closed form: alpha = exp(excess); w = .99*a/z + .01/3
    import math as m

    a = [m.exp(0.0), m.exp(0.5), m.exp(2.0)]
    z = sum(a)
    assert out["hard"]["weight"] == pytest.approx(
        0.99 * a[2] / z + 0.01 / 3, abs=1e-4
    )


def test_doremi_explicit_reference_and_prior(spark):
    from redshells_spark.data.doremi import doremi_reweight

    losses = spark.createDataFrame(
        [("a", 2.0, 1.0, 0.75), ("b", 1.0, 2.0, 0.25)],
        ["domain", "loss", "ref", "prior"],
    )
    out = {
        r["domain"]: r
        for r in doremi_reweight(
            losses,
            ref_loss_column="ref",
            prior_column="prior",
            eta=2.0,
            smoothing=0.0,
        ).collect()
    }
    # a: excess 1.0 -> alpha .75*e^2 ; b: excess 0 (loss < ref) -> .25
    import math as m

    z = 0.75 * m.exp(2.0) + 0.25
    assert out["a"]["excess_loss"] == 1.0
    assert out["b"]["excess_loss"] == 0.0
    assert out["a"]["weight"] == pytest.approx(0.75 * m.exp(2.0) / z, abs=1e-4)


def test_doremi_rejects_bad_smoothing(spark):
    from redshells_spark.data.doremi import doremi_reweight

    losses = spark.createDataFrame([("a", 1.0)], ["domain", "loss"])
    with pytest.raises(ValueError):
        doremi_reweight(losses, smoothing=1.5)


# ------------------------------------------------------------- mmr


def _mmr_candidates(spark, rows):
    return spark.createDataFrame(
        rows, ["query_id", "vec_id", "rel_e4", "embedding"]
    )


def test_mmr_prefers_diverse_over_redundant(spark):
    from redshells_spark.similarity.mmr import mmr_rerank

    # candidates 1,2 are near-identical high-relevance; 3 is orthogonal
    # with lower relevance. Pure relevance top-2 = [1, 2]; MMR lambda=.7
    # must pick the orthogonal 3 second: score(2) = 7*9000 - 3*10000 =
    # 33000 < score(3) = 7*8000 - 3*0 = 56000.
    cands = _mmr_candidates(
        spark,
        [
            (0, 1, 9500, [1.0, 0.0]),
            (0, 2, 9000, [1.0, 0.0]),
            (0, 3, 8000, [0.0, 1.0]),
        ],
    )
    out = sorted(mmr_rerank(cands, k=2, lambda10=7).collect(), key=lambda r: r["rank"])
    assert [r["vec_id"] for r in out] == [1, 3]
    assert out[0]["mmr_score_e5"] == 7 * 9500
    assert out[1]["mmr_score_e5"] == 7 * 8000


def test_mmr_lambda10_relevance_only(spark):
    from redshells_spark.similarity.mmr import mmr_rerank

    cands = _mmr_candidates(
        spark,
        [
            (0, 1, 9500, [1.0, 0.0]),
            (0, 2, 9000, [1.0, 0.0]),
            (0, 3, 8000, [0.0, 1.0]),
        ],
    )
    out = sorted(
        mmr_rerank(cands, k=3, lambda10=10).collect(), key=lambda r: r["rank"]
    )
    # lambda = 1.0 -> pure relevance order, diversity ignored
    assert [r["vec_id"] for r in out] == [1, 2, 3]


def test_mmr_negative_similarity_not_clamped(spark):
    from redshells_spark.similarity.mmr import mmr_rerank

    # opposite vectors: sim = -1. The diversity term must REWARD the
    # anti-similar candidate (-3*-10000 = +30000), not clamp to 0.
    cands = _mmr_candidates(
        spark,
        [
            (0, 1, 9000, [1.0, 0.0]),
            (0, 2, 1000, [-1.0, 0.0]),
        ],
    )
    out = sorted(mmr_rerank(cands, k=2).collect(), key=lambda r: r["rank"])
    assert out[1]["vec_id"] == 2
    assert out[1]["mmr_score_e5"] == 7 * 1000 + 3 * 10000


def test_mmr_groups_isolated_and_k_capped(spark):
    from redshells_spark.similarity.mmr import mmr_rerank

    cands = _mmr_candidates(
        spark,
        [
            (0, 1, 9000, [1.0, 0.0]),
            (0, 2, 8000, [0.0, 1.0]),
            (7, 9, 5000, [1.0, 1.0]),  # singleton group, k > N
        ],
    )
    out = mmr_rerank(cands, k=5).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r["query_id"], []).append(r)
    assert len(by_q[0]) == 2 and len(by_q[7]) == 1
    assert by_q[7][0]["vec_id"] == 9 and by_q[7][0]["rank"] == 1


def test_mmr_tie_breaks_on_vec_id(spark):
    from redshells_spark.similarity.mmr import mmr_rerank

    cands = _mmr_candidates(
        spark,
        [
            (0, 5, 9000, [1.0, 0.0]),
            (0, 3, 9000, [0.0, 1.0]),  # equal rel -> lower id first
        ],
    )
    out = sorted(mmr_rerank(cands, k=2).collect(), key=lambda r: r["rank"])
    assert [r["vec_id"] for r in out] == [3, 5]


def test_mmr_rejects_bad_lambda(spark):
    from redshells_spark.similarity.mmr import mmr_rerank

    cands = _mmr_candidates(spark, [(0, 1, 9000, [1.0])])
    with pytest.raises(ValueError):
        mmr_rerank(cands, lambda10=11)


# ------------------------------------------------------- contamination


def test_contamination_spans_locates_leak(spark):
    from redshells_spark.dedup.spans import (
        contamination_span_report,
        contamination_spans,
    )

    bench = _tokens_df(spark, [(100, ["q1", "q2", "q3", "q4"])])
    corpus = _tokens_df(
        spark,
        [
            (1, ["x", "q1", "q2", "q3", "q4", "y"]),  # leaks the 4-gram
            (2, ["a", "b", "c", "d", "e", "f"]),  # clean
        ],
    )
    spans = contamination_spans(corpus, bench, shingle_len=4).collect()
    assert len(spans) == 1
    s = spans[0]
    assert (s["doc_id"], s["span_start"], s["span_end"], s["span_len"]) == (
        1, 1, 4, 4,
    )
    rep = contamination_span_report(corpus, bench, shingle_len=4).collect()
    assert len(rep) == 1  # clean docs absent by design
    assert rep[0]["leaked_tokens"] == 4
    assert rep[0]["leaked_fraction"] == pytest.approx(4 / 6, abs=1e-4)


def test_contamination_requires_full_kgram(spark):
    from redshells_spark.dedup.spans import contamination_spans

    bench = _tokens_df(spark, [(100, ["q1", "q2", "q3", "q4"])])
    # only a 3-token prefix of the benchmark 4-gram appears -> no span
    corpus = _tokens_df(spark, [(1, ["q1", "q2", "q3", "z", "w"])])
    assert contamination_spans(corpus, bench, shingle_len=4).count() == 0


# ------------------------------------------------------------- pass@k


def test_pass_at_k_closed_form(spark):
    from redshells_spark.ml.pass_at_k import pass_at_k

    # problem A: n=4, c=2 -> pass@1 = 1 - C(2,1)/C(4,1) = 0.5
    #                        pass@2 = 1 - C(2,2)/C(4,2) = 1 - 1/6
    # problem B: n=3, c=0 -> pass@k = 0 for all k <= 3
    rows = [("A", t) for t in (True, True, False, False)] + [
        ("B", False)
    ] * 3
    df = spark.createDataFrame(rows, ["problem", "correct"])
    out = {
        (r["problem"], r["k"]): r["pass_at_k"]
        for r in pass_at_k(df, "problem", "correct", ks=(1, 2, 4)).collect()
    }
    assert out[("A", 1)] == pytest.approx(0.5, abs=1e-4)
    assert out[("A", 2)] == pytest.approx(1 - 1 / 6, abs=1e-4)
    # n - c = 2 < k = 4 -> certain success
    assert out[("A", 4)] == 1.0
    assert out[("B", 1)] == 0.0 and out[("B", 2)] == 0.0
    # k=4 > n=3 for B -> row absent, not extrapolated
    assert ("B", 4) not in out


def test_pass_at_k_drops_oversized_k_and_dedups(spark):
    from redshells_spark.ml.pass_at_k import pass_at_k

    df = spark.createDataFrame(
        [("A", True), ("A", False)], ["problem", "correct"]
    )
    out = pass_at_k(df, "problem", "correct", ks=(1, 1, 2, 10)).collect()
    assert sorted(r["k"] for r in out) == [1, 2]


def test_pass_at_k_rejects_bad_ks(spark):
    from redshells_spark.ml.pass_at_k import pass_at_k

    df = spark.createDataFrame([("A", True)], ["problem", "correct"])
    with pytest.raises(ValueError):
        pass_at_k(df, "problem", "correct", ks=(0,))


# ------------------------------------------------------------ unigram


def _wf(spark, rows):
    return spark.createDataFrame(rows, ["word", "freq"])


def test_unigram_seed_pieces_and_fallback(spark):
    from redshells_spark.text.unigram import seed_piece_table

    pieces = {
        r["piece"]: r["n_uses"]
        for r in seed_piece_table(
            _wf(spark, [("abab", 2), ("ab", 1)]), max_piece_len=3, keep_top=2
        ).collect()
    }
    # singles always kept; "ab" counted in abab twice (x2 freq) + ab once
    assert pieces["a"] == 2 * 2 + 1 and pieces["ab"] == 2 * 2 + 1
    # keep_top=2 keeps the two best multi-char pieces only
    assert sum(1 for p in pieces if len(p) > 1) == 2


def test_unigram_viterbi_prefers_likely_pieces(spark):
    from redshells_spark.text.unigram import (
        seed_piece_table,
        viterbi_segment_words,
    )

    words = _wf(spark, [("hello", 10), ("help", 5), ("lolo", 3)])
    pieces = seed_piece_table(words, max_piece_len=3, keep_top=10)
    seg = {
        r["word"]: (r["pieces"], r["n_pieces"])
        for r in viterbi_segment_words(
            words, pieces, max_piece_len=3, max_word_len=8
        ).collect()
    }
    # every segmentation reconstructs its word
    for w, (ps, n) in seg.items():
        assert "".join(ps) == w and n == len(ps)
    # "lolo" must use the high-frequency "lo" piece twice
    assert seg["lolo"][0] == ["lo", "lo"]


def test_unigram_refuses_overlong_word(spark):
    from redshells_spark.text.unigram import (
        seed_piece_table,
        viterbi_segment_words,
    )
    from py4j.protocol import Py4JJavaError

    words = _wf(spark, [("abcdefghij", 1)])
    pieces = seed_piece_table(words, max_piece_len=2, keep_top=5)
    with pytest.raises(Exception) as exc:
        viterbi_segment_words(
            words, pieces, max_piece_len=2, max_word_len=4
        ).collect()
    assert "max_word_len" in str(exc.value)


def test_unigram_hard_em_improves_likelihood(spark):
    from pyspark.sql import functions as F

    from redshells_spark.text.unigram import (
        hard_em_round,
        seed_piece_table,
        viterbi_segment_words,
    )

    words = _wf(
        spark,
        [("hello", 10), ("help", 5), ("lolo", 3), ("lop", 2), ("pell", 1)],
    )

    def corpus_ll(piece_table):
        seg = viterbi_segment_words(
            words, piece_table, max_piece_len=3, max_word_len=8
        )
        return (
            seg.join(words, "word")
            .agg(F.sum(F.col("score_e6") * F.col("freq")))
            .collect()[0][0]
        )

    p0 = seed_piece_table(words, max_piece_len=3, keep_top=10)
    ll0 = corpus_ll(p0)
    p1 = hard_em_round(words, p0, max_piece_len=3, max_word_len=8)
    ll1 = corpus_ll(p1)
    # hard EM re-estimation must not decrease the Viterbi likelihood
    assert ll1 >= ll0
    # pieces unused by any segmentation are dropped (unless fallback)
    kept = {r["piece"] for r in p1.collect()}
    assert all(len(p) == 1 or p in kept for p in kept)


def test_unigram_encode_round_trip(spark):
    from redshells_spark.text.unigram import (
        seed_piece_table,
        unigram_encode,
        viterbi_segment_words,
    )

    words = _wf(spark, [("hello", 2), ("help", 1)])
    pieces = seed_piece_table(words, max_piece_len=3, keep_top=10)
    seg = viterbi_segment_words(words, pieces, 3, 8)
    docs = spark.createDataFrame(
        [(1, "hello help"), (2, "HELP")], ["doc_id", "text"]
    )
    rows = unigram_encode(docs, seg).collect()
    by_doc_pos = {}
    for r in rows:
        by_doc_pos.setdefault((r["doc_id"], r["pos"]), []).append(
            (r["sub_pos"], r["piece"])
        )
    # reassembling pieces in sub_pos order reconstructs each word
    words_in = {(1, 0): "hello", (1, 1): "help", (2, 0): "help"}
    for key, want in words_in.items():
        got = "".join(p for _, p in sorted(by_doc_pos[key]))
        assert got == want
