"""Batch-7 tests: exact order-statistic selection, VMR identities,
Simpson cross-multiplication semantics."""

from __future__ import annotations

from pyspark.sql import functions as F


def test_time_to_convert_order_stats(spark):
    from redshells_spark.queries import get_queries

    out = get_queries()["time_to_convert_quantiles"](
        spark, "/root/testdata/sf0.001"
    ).collect()[0]
    assert out["min_us"] <= out["p50_us"] <= out["p90_us"] <= out["max_us"]
    assert out["n_converted"] > 0


def test_dispersion_identity_poisson_like(spark):
    # constant per-user counts → sample variance 0 → VMR exactly 0
    rows = [("a", u) for u in range(20) for _ in range(3)]
    df = spark.createDataFrame(rows, "event_type string, user_id long")
    c = df.groupBy("event_type", "user_id").agg(F.count(F.lit(1)).cast("long").alias("x"))
    a = c.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
    )
    vmr = a.select(
        F.expr("cast((n * sxx - sx * sx) * 10000 div ((n - 1) * sx) as bigint)").alias("v")
    ).collect()[0]["v"]
    assert vmr == 0


def test_simpson_cross_multiplication(spark):
    from redshells_spark.queries import get_queries

    rows = get_queries()["simpson_rate_check"](spark, "/root/testdata/sf0.001").collect()
    by = {r["stratum"]: r for r in rows}
    assert set(by) == {"pooled", "click", "view_purchase"}
    p = by["pooled"]
    # pooled cells are the stratum sums
    assert p["n0"] == by["click"]["n0"] + by["view_purchase"]["n0"]
    assert p["k1"] == by["click"]["k1"] + by["view_purchase"]["k1"]
    for r in rows:
        want = (r["k0"] * r["n1"] > r["k1"] * r["n0"]) - (r["k0"] * r["n1"] < r["k1"] * r["n0"])
        assert r["grp0_leads"] == want


def test_benford_terms_and_total(spark):
    from redshells_spark.queries import get_queries

    rows = get_queries()["benford_digit_audit"](spark, "/root/testdata/sf0.001").collect()
    by = {r["digit"]: r for r in rows}
    assert set(by) == set(range(10))
    total = by[0]
    assert total["n_obs"] == sum(by[d]["n_obs"] for d in range(1, 10))
    assert total["chi2_term_e6"] == sum(by[d]["chi2_term_e6"] for d in range(1, 10))
    # Benford proportions sum to 1e6 (up to rounding of the 9 literals)
    assert abs(sum(by[d]["p_benford_e6"] for d in range(1, 10)) - 1_000_000) <= 5


def test_rank_normalize_bounds_and_order(spark):
    from redshells_spark.queries import get_queries

    rows = get_queries()["rank_normalize_scores"](spark, "/root/testdata/sf0.001").collect()
    assert all(0 <= r["pr_e6"] <= 1_000_000 for r in rows)
    by_src = {}
    for r in rows:
        by_src.setdefault(r["source"], []).append((r["n_chars"], r["doc_id"], r["pr_e6"]))
    for vals in by_src.values():
        vals.sort()
        prs = [v[2] for v in vals]
        assert prs == sorted(prs)  # monotone in (n_chars, doc_id)
        assert prs[0] == 0 and prs[-1] == 1_000_000


def test_code_switch_detects_mixed_doc(spark):
    from pyspark.sql import functions as F
    from redshells_spark.queries.text import _CS_LANGS

    # hand-built: English first half, German second half → flagged;
    # all-English doc → not flagged

    mixed = "the cat is in the house " * 3 + "der hund ist nicht mit und " * 3
    pure = "the cat is in the house and it is the best " * 3
    df = spark.createDataFrame(
        [(1, mixed), (2, pure)], "doc_id long, text string"
    ).select("doc_id", F.split(F.lower("text"), " ").alias("tokens"))
    df = df.select("doc_id", F.filter("tokens", lambda t: t != "").alias("tokens"))
    # drive the registered query's logic via a temp sf-free path: reuse
    # the query body by monkey-free direct construction
    half1 = F.slice(F.col("tokens"), 1, (F.size("tokens") / 2).cast("int"))
    half2 = F.slice(F.col("tokens"), (F.size("tokens") / 2).cast("int") + 1, F.size("tokens"))

    def hits(col, lang):
        return F.size(F.filter(col, lambda t: t.isin(*_CS_LANGS[lang])))

    h = df.select(
        "doc_id",
        *[hits(half1, la).alias(f"h1_{la}") for la in sorted(_CS_LANGS)],
        *[hits(half2, la).alias(f"h2_{la}") for la in sorted(_CS_LANGS)],
    )

    def argmax(prefix):
        g = F.greatest(*[F.col(f"{prefix}_{la}") for la in sorted(_CS_LANGS)])
        e = F.when(g == 0, "und")
        for la in sorted(_CS_LANGS):
            e = e.when(F.col(f"{prefix}_{la}") == g, la)
        return e

    out = {
        r["doc_id"]: (r["l1"], r["l2"])
        for r in h.select("doc_id", argmax("h1").alias("l1"), argmax("h2").alias("l2")).collect()
    }
    assert out[1] == ("en", "de")
    assert out[2] == ("en", "en")
