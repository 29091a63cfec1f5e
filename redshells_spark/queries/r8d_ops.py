"""Round-8 batch 4: spectral, graph-text, recommendation-eval, and
normality completions — the weekly periodogram (DFT power at the 7-day
harmonics, completing the seasonal family beside seasonal-naive /
weekday-outliers / series-strength), TextRank keyword scores (PageRank
over the vocab co-occurrence graph — the classic graph-text bridge),
intra-list diversity and catalog coverage for a deterministic top-5
recommendation list (the recsys-eval counterpart of ranking_eval's
relevance metrics), and the Jarque-Bera normality test from exact
integer raw moments.

House determinism rules: trig constants are e9 integers generated ONCE
in Python and embedded into BOTH engines (never engine libm at
runtime); PageRank iterates round-10 per step (the pagerank idiom);
shares/averages integer-floored at a documented scale; JB is one fixed
IEEE tree over five exact int64 raw moments.
"""

from __future__ import annotations

import math

from redshells_spark.queries._shared import *  # noqa: F401,F403

_DAY_US = 86_400_000_000


# ------------------------------------------------ weekly periodogram

# e9 trig tables for the 7-day harmonics k=1..3: generated once here
# and embedded as literals in BOTH the Spark relation and the oracle
# VALUES — the engines never call cos/sin on data, so cross-libm
# differences cannot appear.
_HARMONICS = [
    (k, m,
     int(math.floor(math.cos(2.0 * math.pi * k * m / 7.0) * 1e9 + 0.5)),
     int(math.floor(math.sin(2.0 * math.pi * k * m / 7.0) * 1e9 + 0.5)))
    for k in (1, 2, 3)
    for m in range(7)
]

_HARM_VALUES = ",\n                ".join(
    f"({k}, {m}, {c}, {s})" for k, m, c, s in _HARMONICS
)

_DAILY_SQL = f"""days AS (SELECT DISTINCT epoch_us(ts) // {_DAY_US} AS t
                FROM events),
       pc AS (SELECT epoch_us(ts) // {_DAY_US} AS t,
                     CAST(count(*) AS BIGINT) AS v
              FROM events WHERE event_type = 'purchase' GROUP BY 1),
       s AS (SELECT d.t, CAST(coalesce(pc.v, 0) AS BIGINT) AS v
             FROM days d LEFT JOIN pc USING (t))"""


@q(
    "periodogram_weekly",
    f"""WITH {_DAILY_SQL},
       harm(k, m, cos_e9, sin_e9) AS (VALUES
                {_HARM_VALUES}),
       terms AS (SELECT h.k,
                        CAST(sum(s.v * h.cos_e9) AS BIGINT) AS c_e9,
                        CAST(sum(s.v * h.sin_e9) AS BIGINT) AS s_e9,
                        CAST(count(*) AS BIGINT) AS tn
                 FROM s JOIN harm h ON h.m = s.t % 7
                 GROUP BY 1)
       SELECT k, c_e9, s_e9,
              round((CAST(c_e9 AS DOUBLE) / CAST(1000000000 AS DOUBLE)
                     * (CAST(c_e9 AS DOUBLE) / CAST(1000000000 AS DOUBLE))
                     + CAST(s_e9 AS DOUBLE) / CAST(1000000000 AS DOUBLE)
                       * (CAST(s_e9 AS DOUBLE) / CAST(1000000000 AS DOUBLE)))
                    / CAST(tn AS DOUBLE), 6) AS power
       FROM terms ORDER BY k""",
)
def _periodogram_weekly(spark, sf_dir):
    """Periodogram power of the daily purchase series at the weekly
    harmonics k=1..3 (period 7/k days): P(k) = (C_k² + S_k²)/T with
    C_k = Σ v_t·cos(2πk·(t mod 7)/7) — the spectral witness of the
    weekday structure that seasonal_naive_mase and
    weekday_seasonal_outliers exploit. The 21 trig constants are e9
    integers generated once in Python and shared verbatim by both
    engines (module header), so C/S are exact int64 sums; the power is
    one fixed IEEE tree. Fact-scale work is one daily groupBy; the
    harmonic table is a 21-row broadcast."""
    s = _daily_purchases(spark, sf_dir)
    harm = spark.createDataFrame(
        _HARMONICS, "k long, m long, cos_e9 long, sin_e9 long"
    )
    terms = (
        s.join(F.broadcast(harm), harm["m"] == s["t"] % 7)
        .groupBy("k")
        .agg(
            F.sum(F.col("v") * F.col("cos_e9")).cast("long").alias("c_e9"),
            F.sum(F.col("v") * F.col("sin_e9")).cast("long").alias("s_e9"),
            F.count(F.lit(1)).cast("long").alias("tn"),
        )
    )
    e9 = F.lit(1_000_000_000.0)
    power = (
        F.col("c_e9").cast("double") / e9 * (F.col("c_e9").cast("double") / e9)
        + F.col("s_e9").cast("double") / e9 * (F.col("s_e9").cast("double") / e9)
    ) / F.col("tn").cast("double")
    return terms.select(
        "k", "c_e9", "s_e9", F.round(power, 6).alias("power")
    ).orderBy("k")


# --------------------------------------------------- TextRank keywords


def _textrank_oracle_sql(iterations: int = 3) -> str:
    base = "((CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / (SELECT n FROM nn))"
    steps = []
    prev = "r0"
    for i in range(1, iterations + 1):
        steps.append(
            f"""rk{i} AS (SELECT e.dst AS node,
                     round({base} + CAST(0.85 AS DOUBLE) * sum(p.r / d.deg), 10) AS r
              FROM edges e JOIN {prev} p ON p.node = e.src JOIN deg d ON d.src = e.src
              GROUP BY e.dst)"""
        )
        prev = f"rk{i}"
    joined = ",\n       ".join(steps)
    return f"""WITH {_VOCAB_SQL}, {_TOK_SQL},
       vt AS (SELECT t.doc_id, t.pos, t.token
              FROM tok t JOIN vocab v ON v.token = t.token),
       e0 AS (SELECT DISTINCT a.token AS src, b.token AS dst
              FROM vt a JOIN vt b
                ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
              WHERE a.token <> b.token),
       edges AS (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),
       deg AS (SELECT src, count(*)::DOUBLE AS deg FROM edges GROUP BY 1),
       nn AS (SELECT count(DISTINCT src)::DOUBLE AS n FROM edges),
       r0 AS (SELECT src AS node, CAST(1.0 AS DOUBLE) / (SELECT n FROM nn) AS r
              FROM (SELECT DISTINCT src FROM edges)),
       {joined}
       SELECT node AS token, r AS score,
              CAST(row_number() OVER (ORDER BY r DESC, node ASC) AS BIGINT)
                AS rank
       FROM {prev}
       QUALIFY row_number() OVER (ORDER BY r DESC, node ASC) <= 20"""


@q("textrank_keywords", _textrank_oracle_sql(3))
def _textrank_keywords(spark, sf_dir):
    """TextRank keyword extraction (Mihalcea & Tarau 2004): PageRank
    over the undirected co-occurrence graph of ADJACENT vocab tokens —
    the graph-text bridge that ranks tokens by centrality instead of
    frequency (tfidf_top_tokens' counterpart). The graph is
    vocabulary-bounded (≤ keep_n nodes regardless of corpus size), so
    the 3 power steps are a dimension-table iteration; the fact-scale
    work is the one adjacency scan the shingle pipeline already
    shapes. Same round-10 iterate and deg/teleport algebra as
    pagerank_copurchase; top-20 by (score desc, token asc)."""
    from redshells_spark.operators.graph import pagerank

    toks = _tokens(spark, sf_dir)
    vocab = _vocab(spark, sf_dir)
    # the vocabulary is keep_n-bounded — collect it once (codebook-
    # sized) and extract adjacency IN-ROW from the cached token
    # arrays: zip each token with its successor, keep pairs whose two
    # endpoints are both in vocab. Replaces the posexplode +
    # (doc, pos) self-join — two fact-scale exchanges — with a single
    # explode straight off the cache; adjacency stays defined on the
    # ORIGINAL token positions exactly as the join formulation had it.
    vset = sorted(r["token"] for r in vocab.select("token").collect())
    vlit = F.array(*[F.lit(t) for t in vset])
    ln = F.greatest(F.size("tokens") - 1, F.lit(0))
    zz = F.zip_with(
        F.slice(F.col("tokens"), 1, ln),
        F.slice(F.col("tokens"), 2, ln),
        lambda x, y: F.struct(x.alias("src"), y.alias("dst")),
    )
    e0 = (
        toks.select(F.explode(zz).alias("p"))
        .select("p.src", "p.dst")
        .filter(
            (F.col("src") != F.col("dst"))
            & F.array_contains(vlit, F.col("src"))
            & F.array_contains(vlit, F.col("dst"))
        )
        .distinct()
    )
    edges = e0.unionByName(
        e0.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct()
    pr = pagerank(
        edges,
        iterations=3,
        damping=0.85,
        assume_no_dangling=True,  # symmetrized: every node has out-degree
    )
    wr = Window.orderBy(F.col("rank").desc(), F.col("node").asc())
    return (
        pr.select(
            F.col("node").alias("token"),
            F.col("rank").alias("score"),
            F.row_number().over(wr).cast("long").alias("rank"),
        )
        .filter(F.col("rank") <= 20)
        .orderBy("rank")
    )


# ------------------------------------- top-5 recs: diversity, coverage

_RECS_SQL = """recs AS (
         SELECT o_custkey AS custkey, l_partkey AS partkey, rev_u, rn
         FROM (
           SELECT o.o_custkey, l.l_partkey,
                  CAST(sum(CAST(floor(l.l_extendedprice * 100
                                      + CAST(0.5 AS DOUBLE)) AS BIGINT)
                           * (100 - CAST(floor(l.l_discount * 100
                                      + CAST(0.5 AS DOUBLE)) AS BIGINT)))
                       AS BIGINT) AS rev_u,
                  row_number() OVER (PARTITION BY o.o_custkey
                     ORDER BY sum(CAST(floor(l.l_extendedprice * 100
                                      + CAST(0.5 AS DOUBLE)) AS BIGINT)
                           * (100 - CAST(floor(l.l_discount * 100
                                      + CAST(0.5 AS DOUBLE)) AS BIGINT))) DESC,
                              l.l_partkey ASC) AS rn
           FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
           GROUP BY 1, 2)
         WHERE rn <= 5)"""


@session_memo
def _top5_parts(spark, sf_dir):
    """Deterministic per-customer top-5 parts by exact revenue units
    (tie: partkey asc) — the shared rec-list relation for the recsys
    eval pair. Per-customer window only (never global). Cached per
    (session, sf): intra_list_diversity consumes it TWICE (the rec-pair
    self-join) and catalog_coverage_topk once more — without the cache
    each reference re-runs the fact join + groupBy + window."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_extendedprice", "l_discount"
    )
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    rev = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .groupBy(
            F.col("o_custkey").alias("custkey"),
            F.col("l_partkey").alias("partkey"),
        )
        .agg(
            F.sum(
                money_units(F.col("l_extendedprice"))
                * (F.lit(100) - money_units(F.col("l_discount")))
            )
            .cast("long")
            .alias("rev_u")
        )
    )
    wc = Window.partitionBy("custkey").orderBy(
        F.col("rev_u").desc(), F.col("partkey").asc()
    )
    return (
        rev.withColumn("rn", F.row_number().over(wc))
        .filter(F.col("rn") <= 5)
        .cache()
    )


@q(
    "intra_list_diversity",
    f"""WITH {_RECS_SQL},
       named AS (SELECT r.custkey, r.partkey,
                        list_distinct(string_split(p.p_name, ' ')) AS toks
                 FROM recs r JOIN part p ON p.p_partkey = r.partkey),
       cust AS (SELECT c_custkey, c_mktsegment FROM customer),
       pairs AS (
         SELECT a.custkey,
                CAST(len(list_intersect(a.toks, b.toks)) * 1000000
                     // (len(a.toks) + len(b.toks)
                         - len(list_intersect(a.toks, b.toks))) AS BIGINT)
                  AS jac_e6
         FROM named a JOIN named b
           ON b.custkey = a.custkey AND b.partkey > a.partkey),
       ild AS (SELECT custkey,
                      CAST(1000000 - sum(jac_e6) // count(*) AS BIGINT)
                        AS ild_e6
               FROM pairs GROUP BY 1)
       SELECT c.c_mktsegment AS segment,
              CAST(count(*) AS BIGINT) AS n_customers,
              CAST(sum(i.ild_e6) // count(*) AS BIGINT) AS avg_ild_e6
       FROM ild i JOIN cust c ON c.c_custkey = i.custkey
       GROUP BY 1 ORDER BY 1""",
)
def _intra_list_diversity(spark, sf_dir):
    """Intra-list diversity (Ziegler et al. 2005) of the deterministic
    top-5 part recommendations, by market segment: 1e6 − mean pairwise
    token-Jaccard of the recommended parts' names — "how redundant is
    each user's list", the recsys-eval companion to ranking_eval's
    relevance metrics and mmr_diversity_rerank's optimizer. Pair work
    is k-bounded (≤ C(5,2) per customer, never catalog²); Jaccard and
    all means are integer-floored e6 on both engines. Customers with a
    single recommended part have no pairs and drop on both sides."""
    recs = _top5_parts(spark, sf_dir)
    part = _t(spark, sf_dir, "part").select("p_partkey", "p_name")
    named = recs.join(part, recs["partkey"] == part["p_partkey"]).select(
        "custkey",
        "partkey",
        F.array_distinct(F.split(F.col("p_name"), " ")).alias("toks"),
    )
    a = named.select(
        "custkey", F.col("partkey").alias("pk0"), F.col("toks").alias("t0")
    )
    b = named.select(
        "custkey", F.col("partkey").alias("pk1"), F.col("toks").alias("t1")
    )
    pairs = (
        a.join(b, "custkey")
        .filter(F.col("pk1") > F.col("pk0"))
        .select(
            "custkey",
            F.expr(
                "cast(size(array_intersect(t0, t1)) * 1000000"
                " div (size(t0) + size(t1) - size(array_intersect(t0, t1)))"
                " as long)"
            ).alias("jac_e6"),
        )
    )
    ild = pairs.groupBy("custkey").agg(
        F.expr("cast(1000000 - sum(jac_e6) div count(1) as long)").alias(
            "ild_e6"
        )
    )
    cust = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    return (
        ild.join(cust, ild["custkey"] == cust["c_custkey"])
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_customers"),
            F.expr("cast(sum(ild_e6) div count(1) as long)").alias(
                "avg_ild_e6"
            ),
        )
        .orderBy("segment")
    )


@q(
    "catalog_coverage_topk",
    f"""WITH {_RECS_SQL},
       np AS (SELECT CAST(count(*) AS BIGINT) AS n_parts FROM part),
       spend AS (SELECT l_partkey AS partkey,
                        CAST(sum(CAST(floor(l_extendedprice * 100
                                      + CAST(0.5 AS DOUBLE)) AS BIGINT)
                             * (100 - CAST(floor(l_discount * 100
                                      + CAST(0.5 AS DOUBLE)) AS BIGINT)))
                             AS BIGINT) AS su
                 FROM lineitem GROUP BY 1),
       prank AS (SELECT partkey,
                        CAST(row_number() OVER (ORDER BY su DESC, partkey ASC)
                             AS BIGINT) AS prk
                 FROM spend),
       rd AS (SELECT DISTINCT partkey FROM recs),
       agg AS (SELECT CAST(count(*) AS BIGINT) AS n_rec_parts,
                      CAST(sum(p.prk) AS BIGINT) AS rank_sum
               FROM rd JOIN prank p USING (partkey)),
       nrec AS (SELECT CAST(count(*) AS BIGINT) AS n_recs FROM recs)
       SELECT np.n_parts, agg.n_rec_parts,
              CAST(agg.n_rec_parts * 1000000 // np.n_parts AS BIGINT)
                AS coverage_e6,
              CAST(agg.rank_sum * 1000000
                   // (agg.n_rec_parts * np.n_parts) AS BIGINT)
                AS avg_pop_rank_e6,
              nrec.n_recs
       FROM np CROSS JOIN agg CROSS JOIN nrec""",
)
def _catalog_coverage_topk(spark, sf_dir):
    """Catalog coverage + popularity bias of the top-5 rec lists: what
    share of the part catalog is ever recommended (aggregate diversity
    — low coverage = a popularity-feedback loop), and the mean
    normalized popularity rank of recommended parts (0 → only the
    bestsellers, 500000 → popularity-neutral). The popularity rank is
    a window over the part DIMENSION (catalog-bounded, never
    fact-proportional); every ratio is an integer-floored e6 on both
    engines."""
    recs = _top5_parts(spark, sf_dir)
    part = _t(spark, sf_dir, "part").select("p_partkey")
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_extendedprice", "l_discount"
    )
    spend = li.groupBy(F.col("l_partkey").alias("partkey")).agg(
        F.sum(
            money_units(F.col("l_extendedprice"))
            * (F.lit(100) - money_units(F.col("l_discount")))
        )
        .cast("long")
        .alias("su")
    )
    wp = Window.orderBy(F.col("su").desc(), F.col("partkey").asc())
    prank = spend.select(
        "partkey", F.row_number().over(wp).cast("long").alias("prk")
    )
    rd = recs.select("partkey").distinct()
    agg = rd.join(prank, "partkey").agg(
        F.count(F.lit(1)).cast("long").alias("n_rec_parts"),
        F.sum("prk").cast("long").alias("rank_sum"),
    )
    np_ = part.agg(F.count(F.lit(1)).cast("long").alias("n_parts"))
    nrec = recs.agg(F.count(F.lit(1)).cast("long").alias("n_recs"))
    return (
        np_.crossJoin(agg)
        .crossJoin(nrec)
        .select(
            "n_parts",
            "n_rec_parts",
            F.expr("cast(n_rec_parts * 1000000 div n_parts as long)").alias(
                "coverage_e6"
            ),
            F.expr(
                "cast(rank_sum * 1000000 div (n_rec_parts * n_parts) as long)"
            ).alias("avg_pop_rank_e6"),
            "n_recs",
        )
    )


# --------------------------------------------------- Jarque-Bera


@q(
    "jarque_bera_event_values",
    """WITH d AS (
         SELECT CAST(floor(value + CAST(0.5 AS DOUBLE)) AS BIGINT) AS x
         FROM events WHERE event_type = 'purchase'),
       m AS (SELECT CAST(count(*) AS BIGINT) AS n,
                    CAST(sum(x) AS BIGINT) AS s1,
                    CAST(sum(x * x) AS BIGINT) AS s2,
                    CAST(sum(x * x * x) AS BIGINT) AS s3,
                    CAST(sum(x * x * x * x) AS BIGINT) AS s4
             FROM d),
       c AS (SELECT n,
                    CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS mu,
                    CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE) AS r2,
                    CAST(s3 AS DOUBLE) / CAST(n AS DOUBLE) AS r3,
                    CAST(s4 AS DOUBLE) / CAST(n AS DOUBLE) AS r4
             FROM m),
       k AS (SELECT n,
                    (r2 - mu * mu) AS m2,
                    (r3 - CAST(3 AS DOUBLE) * mu * r2
                        + CAST(2 AS DOUBLE) * mu * mu * mu) AS m3,
                    (r4 - CAST(4 AS DOUBLE) * mu * r3
                        + CAST(6 AS DOUBLE) * mu * mu * r2
                        - CAST(3 AS DOUBLE) * mu * mu * mu * mu) AS m4
             FROM c)
       SELECT n,
              round(m3 / (m2 * sqrt(m2)), 6) AS skewness,
              round(m4 / (m2 * m2) - CAST(3 AS DOUBLE), 6) AS excess_kurtosis,
              round(CAST(n AS DOUBLE) / CAST(6 AS DOUBLE)
                    * (m3 / (m2 * sqrt(m2)) * (m3 / (m2 * sqrt(m2)))
                       + (m4 / (m2 * m2) - CAST(3 AS DOUBLE))
                         * (m4 / (m2 * m2) - CAST(3 AS DOUBLE))
                         / CAST(4 AS DOUBLE)), 6) AS jb,
              CAST(CASE WHEN CAST(n AS DOUBLE) / CAST(6 AS DOUBLE)
                    * (m3 / (m2 * sqrt(m2)) * (m3 / (m2 * sqrt(m2)))
                       + (m4 / (m2 * m2) - CAST(3 AS DOUBLE))
                         * (m4 / (m2 * m2) - CAST(3 AS DOUBLE))
                         / CAST(4 AS DOUBLE))
                    > CAST(5.991464547107979 AS DOUBLE)
                   THEN 1 ELSE 0 END AS BIGINT) AS reject_005
       FROM k WHERE m2 > 0""",
)
def _jarque_bera_event_values(spark, sf_dir):
    """Jarque-Bera normality test (1980) on integer-dollar purchase
    values: JB = n/6·(S² + K²/4) from skewness S and excess kurtosis K
    — the distribution-shape gate that tells an analyst whether the
    t/z machinery (ab_test_welch, delta_method_ratio_ci) rests on a
    normal-ish metric or a heavy tail. Values floor to integer dollars
    so the four raw moments are exact int64 (x⁴ ≤ ~1e8 per row —
    int64-safe past factor 1000); central moments, S, K, and JB are
    ONE fixed IEEE tree written identically in both engines (same
    parenthesization), rounded 6. Reject at the chi²₂ 5% point.
    Degenerate zero-variance corpora emit no row on either side."""
    ev = _t(spark, sf_dir, "events")
    d = ev.filter(F.col("event_type") == "purchase").select(
        F.floor(F.col("value") + F.lit(0.5)).cast("long").alias("x")
    )
    m = d.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("s1"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("s2"),
        F.sum(F.col("x") * F.col("x") * F.col("x")).cast("long").alias("s3"),
        F.sum(F.col("x") * F.col("x") * F.col("x") * F.col("x"))
        .cast("long")
        .alias("s4"),
    )
    nd = F.col("n").cast("double")
    c = m.select(
        "n",
        (F.col("s1").cast("double") / nd).alias("mu"),
        (F.col("s2").cast("double") / nd).alias("r2"),
        (F.col("s3").cast("double") / nd).alias("r3"),
        (F.col("s4").cast("double") / nd).alias("r4"),
    )
    k = c.select(
        "n",
        (F.col("r2") - F.col("mu") * F.col("mu")).alias("m2"),
        (
            F.col("r3")
            - F.lit(3.0) * F.col("mu") * F.col("r2")
            + F.lit(2.0) * F.col("mu") * F.col("mu") * F.col("mu")
        ).alias("m3"),
        (
            F.col("r4")
            - F.lit(4.0) * F.col("mu") * F.col("r3")
            + F.lit(6.0) * F.col("mu") * F.col("mu") * F.col("r2")
            - F.lit(3.0)
            * F.col("mu")
            * F.col("mu")
            * F.col("mu")
            * F.col("mu")
        ).alias("m4"),
    )
    skew = F.col("m3") / (F.col("m2") * F.sqrt(F.col("m2")))
    exk = F.col("m4") / (F.col("m2") * F.col("m2")) - F.lit(3.0)
    jb = F.col("n").cast("double") / F.lit(6.0) * (
        skew * skew + exk * exk / F.lit(4.0)
    )
    return k.filter(F.col("m2") > 0).select(
        "n",
        F.round(skew, 6).alias("skewness"),
        F.round(exk, 6).alias("excess_kurtosis"),
        F.round(jb, 6).alias("jb"),
        (jb > F.lit(5.991464547107979)).cast("long").alias("reject_005"),
    )
