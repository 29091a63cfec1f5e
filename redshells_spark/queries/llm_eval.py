"""Model evaluation: generation metrics, annotator agreement, preference
and win-rate aggregation, classifier ranking and calibration, ranking and
recommendation metrics, clustering agreement.
"""

from __future__ import annotations

from redshells_spark.queries._shared import *  # noqa: F401,F403


def _ranking_eval_oracle_sql() -> str:
    from redshells_spark.operators.ranking import _lcm_upto, discount_nanos

    d = discount_nanos(10)
    idcg = [sum(d[:i]) for i in range(1, 11)]
    lcm = _lcm_upto(10)
    darr = "[" + ", ".join(str(x) for x in d) + "]"
    iarr = "[" + ", ".join(str(x) for x in idcg) + "]"
    return f"""WITH base AS (SELECT o_custkey AS u, p_brand AS i, o_orderkey % 2 AS odd
                   FROM lineitem JOIN orders ON l_orderkey = o_orderkey
                                 JOIN part ON p_partkey = l_partkey),
       train AS (SELECT u, i, count(*) AS cnt FROM base WHERE odd = 0 GROUP BY u, i),
       recs AS (SELECT u, i, rk FROM (
                  SELECT u, i, row_number() OVER (PARTITION BY u
                                 ORDER BY cnt DESC, i ASC) AS rk
                  FROM train) WHERE rk <= 10),
       truth AS (SELECT DISTINCT u, i FROM base WHERE odd = 1),
       nrel AS (SELECT u, count(*) AS n_rel FROM truth GROUP BY u),
       hits AS (SELECT r.u, r.rk FROM recs r JOIN truth t ON t.u = r.u AND t.i = r.i),
       sc AS (SELECT u, rk, ({darr})[rk] AS dcg_n,
                     (row_number() OVER (PARTITION BY u ORDER BY rk ASC) * {lcm}) // rk
                         AS ap_n
              FROM hits),
       pu AS (SELECT u, count(*)::BIGINT AS n_hits, sum(dcg_n)::BIGINT AS dcg,
                     sum(ap_n)::BIGINT AS ap
              FROM sc GROUP BY u),
       ev AS (SELECT n.u, n.n_rel FROM nrel n
              WHERE n.u IN (SELECT DISTINCT u FROM recs))
       SELECT ev.u AS user_id, ev.n_rel, coalesce(pu.n_hits, 0)::BIGINT AS n_hits,
              round(coalesce(pu.n_hits, 0) / 10.0, 4) AS precision_at_k,
              round(coalesce(pu.n_hits, 0)::DOUBLE / ev.n_rel, 4) AS recall_at_k,
              round(coalesce(pu.ap, 0)::DOUBLE
                    / ({lcm} * least(ev.n_rel, 10)), 4) AS map_at_k,
              round(coalesce(pu.dcg, 0)::DOUBLE
                    / ({iarr})[least(ev.n_rel, 10)], 4) AS ndcg_at_k
       FROM ev LEFT JOIN pu ON pu.u = ev.u"""


@q("ranking_eval_metrics", _ranking_eval_oracle_sql())
def _ranking_eval_metrics(spark, sf_dir):
    """Recommender evaluation (operators/ranking.py): train a
    count-based brand ranker on even orders, score top-10 recs per
    customer against odd-order truth with precision/recall/MAP/NDCG@10.
    Transcendentals never enter the distributed aggregation — NDCG
    discounts are driver-precomputed integer nano-unit literals and AP
    terms are lcm-scaled exact integers, so an *evaluation metric*
    lands inside the bit-exact oracle contract."""
    from redshells_spark.operators.ranking import ranking_metrics_at_k

    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    base = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .select(
            F.col("o_custkey").alias("u"),
            F.col("p_brand").alias("i"),
            (F.col("o_orderkey") % 2).alias("odd"),
        )
    )
    # ONE fact pass: the (u, brand, odd) counts are customer x 25-brand
    # bounded and both the train counts and the odd-order truth pairs
    # derive from them — unpinned, train and truth each re-ran the
    # 3-table join (12 scans at the r8 audit)
    cnts = (
        base.groupBy("u", "i", "odd")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .localCheckpoint(eager=True)
    )
    train = cnts.filter(F.col("odd") == 0).select("u", "i", "cnt")
    wrk = Window.partitionBy("u").orderBy(F.col("cnt").desc(), F.col("i").asc())
    recs = (
        train.withColumn("rk", F.row_number().over(wrk)).filter(F.col("rk") <= 10)
    )
    truth = cnts.filter(F.col("odd") == 1).select("u", "i")
    out = ranking_metrics_at_k(
        recs, truth, k=10, user_col="u", item_col="i", rank_col="rk"
    )
    return out.select(
        F.col("u").alias("user_id"),
        "n_rel",
        "n_hits",
        F.col("precision").alias("precision_at_k"),
        F.col("recall").alias("recall_at_k"),
        "map_at_k",
        F.col("ndcg").alias("ndcg_at_k"),
    )


@q(
    "calibration_lift_table",
    """WITH tr AS (SELECT CAST(l_quantity AS BIGINT) AS q,
                  count(*)::BIGINT AS n_q,
                  sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)::BIGINT AS pos_q
           FROM lineitem WHERE l_orderkey % 2 = 0 GROUP BY 1),
       te AS (SELECT l.l_orderkey, l.l_linenumber,
                     CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END AS y,
                     CAST(floor(tr.pos_q::DOUBLE * 1000000000 / tr.n_q + 0.5)
                          AS BIGINT) AS score_e9
              FROM lineitem l JOIN tr ON tr.q = CAST(l.l_quantity AS BIGINT)
              WHERE l.l_orderkey % 2 = 1),
       d AS (SELECT y, score_e9,
                    ntile(10) OVER (ORDER BY score_e9 DESC, l_orderkey ASC,
                                    l_linenumber ASC) AS decile
             FROM te),
       g AS (SELECT decile, count(*)::BIGINT AS n, sum(y)::BIGINT AS n_pos,
                    sum(score_e9)::BIGINT AS sum_score_e9
             FROM d GROUP BY decile)
       SELECT decile, n, n_pos,
              (2 * n_pos * 1000000 + n) // (2 * n) AS obs_rate_e6,
              (2 * (sum_score_e9 // 1000) + n) // (2 * n) AS pred_rate_e6,
              sum(n_pos) OVER (ORDER BY decile ASC ROWS UNBOUNDED PRECEDING)::BIGINT
                  AS cum_pos
       FROM g""",
)
def _calibration_lift_table(spark, sf_dir):
    """Model calibration + lift/gains table, entirely in exact integer
    arithmetic: a per-quantity empirical return-rate model fit on even
    orders scores odd orders (score exported as floor-e9 fixed point —
    summable with no float drift), deciles by descending score with
    unique tie-breaks, then observed vs predicted rates per decile
    ((2a+b) div 2b exact rounding) and the cumulative-positives gains
    curve. Completes the evaluation suite (AUC, RMSE, ranking
    metrics) with the reliability diagram every production scorer
    ships with.

    Scale note: exact global deciles need one total order (the ntile
    window's single-partition exchange — fine for eval sets, which are
    samples by construction). At full-corpus scale the standard move
    is boundary binning: approx-quantile score cut points, then a
    broadcast range join — same statistics, no global sort, slightly
    different tie handling; this query keeps exact ntile because the
    oracle contract pins exact tie semantics."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        F.col("l_quantity").cast("long").alias("q"),
        (F.col("l_returnflag") == "R").cast("long").alias("y"),
    )
    tr = (
        li.filter(F.col("l_orderkey") % 2 == 0)
        .groupBy("q")
        .agg(F.count(F.lit(1)).alias("n_q"), F.sum("y").alias("pos_q"))
    )
    te = (
        li.filter(F.col("l_orderkey") % 2 == 1)
        .join(F.broadcast(tr), on="q")
        .select(
            "l_orderkey",
            "l_linenumber",
            "y",
            F.floor(
                F.col("pos_q").cast("double") * 1_000_000_000 / F.col("n_q")
                + F.lit(0.5)
            )
            .cast("long")
            .alias("score_e9"),
        )
    )
    w = Window.orderBy(
        F.col("score_e9").desc(), F.col("l_orderkey").asc(), F.col("l_linenumber").asc()
    )
    g = (
        te.withColumn("decile", F.ntile(10).over(w))
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("y").alias("n_pos"),
            F.sum("score_e9").alias("sum_score_e9"),
        )
    )
    wc = Window.orderBy(F.col("decile").asc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    return g.select(
        "decile",
        "n",
        "n_pos",
        F.expr("(2 * n_pos * 1000000 + n) div (2 * n)").alias("obs_rate_e6"),
        F.expr("(2 * (sum_score_e9 div 1000) + n) div (2 * n)").alias("pred_rate_e6"),
        F.sum("n_pos").over(wc).cast("long").alias("cum_pos"),
    )


@q(
    "isotonic_calibration",
    """WITH lv AS (SELECT CAST(l_quantity AS BIGINT) AS s, count(*)::BIGINT AS n,
                   sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)::BIGINT AS pos
            FROM lineitem GROUP BY 1),
       pref AS (SELECT s, n, pos,
                 sum(n) OVER (ORDER BY s ASC ROWS UNBOUNDED PRECEDING) AS cn,
                 sum(pos) OVER (ORDER BY s ASC ROWS UNBOUNDED PRECEDING) AS cp,
                 row_number() OVER (ORDER BY s ASC) AS i
          FROM lv),
       lo AS (SELECT i AS j, cn - n AS n_lo, cp - pos AS p_lo FROM pref),
       hi AS (SELECT i AS k, cn AS n_hi, cp AS p_hi FROM pref),
       rg AS (SELECT j, k, (p_hi - p_lo)::DOUBLE / (n_hi - n_lo) AS avg
              FROM lo JOIN hi ON j <= k),
       im AS (SELECT p.i, p.s, p.n, p.pos, r.j, min(r.avg) AS mn
              FROM pref p JOIN rg r ON r.j <= p.i AND r.k >= p.i
              GROUP BY p.i, p.s, p.n, p.pos, r.j)
       SELECT s AS score, n, pos,
              CAST(floor(max(mn) * 1000000000 + 0.5) AS BIGINT) AS iso_e9
       FROM im GROUP BY i, s, n, pos""",
)
def _isotonic_calibration(spark, sf_dir):
    """Isotonic (monotone) calibration of the quantity→return-rate
    relationship via the exact PAV solution (ml/isotonic_exact.py):
    one corpus-wide map-combined aggregate to distinct score levels,
    then the unique isotonic least-squares fit from the max-min
    closed form over exact integer prefix sums — a regression fit
    whose fitted values hash-MATCH the oracle (PAV-reference parity
    pinned in tests)."""
    from redshells_spark.ml.isotonic_exact import isotonic_fit_exact

    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_quantity").cast("long").alias("score"),
        (F.col("l_returnflag") == "R").cast("long").alias("y"),
    )
    return isotonic_fit_exact(li, "score", "y")


@q(
    "exact_auc",
    """WITH lv AS (SELECT CAST(l_quantity AS BIGINT) AS s,
                  sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)::BIGINT AS pos,
                  sum(CASE WHEN l_returnflag = 'R' THEN 0 ELSE 1 END)::BIGINT AS neg
           FROM lineitem GROUP BY 1),
       c AS (SELECT s, pos, neg,
                    coalesce(sum(neg) OVER (ORDER BY s ASC
                             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                        AS cnb
             FROM lv),
       t AS (SELECT sum(pos * (2 * cnb + neg))::BIGINT AS num2,
                    sum(pos)::BIGINT AS p, sum(neg)::BIGINT AS n
             FROM c)
       SELECT p AS n_pos, n AS n_neg,
              CAST((2 * CAST(num2 AS HUGEINT) * 1000000 + 2 * CAST(p AS HUGEINT) * n)
                     // (4 * CAST(p AS HUGEINT) * n) AS BIGINT) AS auc_e6
       FROM t""",
)
def _exact_auc(spark, sf_dir):
    """Exact ROC AUC from the score LEVEL table: AUC = Σ_s pos_s ·
    (neg_below_s + neg_s/2) / (P·N) — the Mann-Whitney U with tied
    scores handled by the ½-credit convention, computed entirely in
    integers (doubled to clear the half, exported as the exact rounded
    ratio). The corpus collapses to distinct score levels in one
    map-combined aggregate, so no global rank window ever runs —
    THE scale shape for AUC at 100 TB (per-row rank windows are the
    anti-pattern). Completes the eval suite: AUC, RMSE, ranking@k,
    calibration, isotonic fit, all oracle-exact."""
    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_quantity").cast("long").alias("s"),
        (F.col("l_returnflag") == "R").cast("long").alias("y"),
    )
    lv = li.groupBy("s").agg(
        F.sum("y").alias("pos"), F.sum(F.lit(1) - F.col("y")).alias("neg")
    )
    w = Window.orderBy("s").rowsBetween(Window.unboundedPreceding, -1)
    c = lv.withColumn("cnb", F.coalesce(F.sum("neg").over(w), F.lit(0)))
    t = c.agg(
        F.sum(F.col("pos") * (2 * F.col("cnb") + F.col("neg"))).alias("num2"),
        F.sum("pos").alias("p"),
        F.sum("neg").alias("n"),
    )
    # num2 ≈ 2·P·N, so 2·num2·1e6 blows int64 past ~1.5M positives ×
    # 4.5M negatives (the factor-10 corpus found this live) — the
    # ratio runs in exact DECIMAL(38,0) (Spark) / HUGEINT (DuckDB),
    # good to ~1e15-row corpora, and only the ≤1e6 result is BIGINT.
    return t.select(
        F.col("p").alias("n_pos"),
        F.col("n").alias("n_neg"),
        F.expr(
            "CAST((2 * CAST(num2 AS DECIMAL(38,0)) * 1000000"
            " + 2 * CAST(p AS DECIMAL(38,0)) * n)"
            " div (4 * CAST(p AS DECIMAL(38,0)) * n) AS BIGINT)"
        ).alias("auc_e6"),
    )


@q(
    "auc_by_segment",
    """WITH lv AS (SELECT l_linestatus AS seg, CAST(l_quantity AS BIGINT) AS s,
                  sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)::BIGINT AS pos,
                  sum(CASE WHEN l_returnflag = 'R' THEN 0 ELSE 1 END)::BIGINT AS neg
           FROM lineitem GROUP BY 1, 2),
       c AS (SELECT seg, pos, neg,
                    coalesce(sum(neg) OVER (PARTITION BY seg ORDER BY s ASC
                             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                        AS cnb
             FROM lv),
       t AS (SELECT seg, sum(pos * (2 * cnb + neg))::BIGINT AS num2,
                    sum(pos)::BIGINT AS p, sum(neg)::BIGINT AS n
             FROM c GROUP BY seg)
       SELECT seg, p AS n_pos, n AS n_neg,
              CASE WHEN p > 0 AND n > 0
                   THEN CAST((2 * CAST(num2 AS HUGEINT) * 1000000
                              + 2 * CAST(p AS HUGEINT) * n)
                             // (4 * CAST(p AS HUGEINT) * n) AS BIGINT)
              END AS auc_e6
       FROM t""",
)
def _auc_by_segment(spark, sf_dir):
    """Per-segment exact AUC (model-fairness slicing): the same
    level-table Mann-Whitney as exact_auc, windows and aggregates
    partitioned by the segment key — every slice's AUC in one pass,
    no per-row ranks. Degenerate slices (single-class) report NULL
    instead of a fabricated 0.5."""
    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_linestatus").alias("seg"),
        F.col("l_quantity").cast("long").alias("s"),
        (F.col("l_returnflag") == "R").cast("long").alias("y"),
    )
    lv = li.groupBy("seg", "s").agg(
        F.sum("y").alias("pos"), F.sum(F.lit(1) - F.col("y")).alias("neg")
    )
    w = Window.partitionBy("seg").orderBy("s").rowsBetween(
        Window.unboundedPreceding, -1
    )
    c = lv.withColumn("cnb", F.coalesce(F.sum("neg").over(w), F.lit(0)))
    t = c.groupBy("seg").agg(
        F.sum(F.col("pos") * (2 * F.col("cnb") + F.col("neg"))).alias("num2"),
        F.sum("pos").alias("p"),
        F.sum("neg").alias("n"),
    )
    return t.select(
        "seg",
        F.col("p").alias("n_pos"),
        F.col("n").alias("n_neg"),
        F.when(
            (F.col("p") > 0) & (F.col("n") > 0),
            F.expr(
                "CAST((2 * CAST(num2 AS DECIMAL(38,0)) * 1000000"
                " + 2 * CAST(p AS DECIMAL(38,0)) * n)"
                " div (4 * CAST(p AS DECIMAL(38,0)) * n) AS BIGINT)"
            ),
        ).alias("auc_e6"),
    )


@q(
    "pr_curve",
    """WITH lv AS (SELECT CAST(l_quantity AS BIGINT) AS s,
                  count(*)::BIGINT AS n,
                  sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)::BIGINT AS pos
           FROM lineitem GROUP BY 1),
       c AS (SELECT s,
                    sum(n) OVER (ORDER BY s DESC ROWS UNBOUNDED PRECEDING) AS cum_n,
                    sum(pos) OVER (ORDER BY s DESC ROWS UNBOUNDED PRECEDING) AS cum_pos,
                    (SELECT sum(pos) FROM lv) AS p_total
             FROM lv)
       SELECT s AS threshold, cum_n::BIGINT AS n_predicted,
              cum_pos::BIGINT AS n_hit,
              CAST((2 * cum_pos * 1000000 + cum_n) // (2 * cum_n)
                   AS BIGINT) AS precision_e6,
              CAST((2 * cum_pos * 1000000 + p_total) // (2 * p_total)
                   AS BIGINT) AS recall_e6
       FROM c""",
)
def _pr_curve(spark, sf_dir):
    """Precision-recall curve at every score threshold, from the level
    table's descending cumulative counts — one aggregate + one window,
    each output value ONE exact integer ratio ((2a+b) div 2b), so the
    whole curve is bit-reproducible and no per-row sort ever runs.
    (A scalar average-precision would sum fractions with different
    denominators — order-dependent floats; the curve form keeps every
    number exact, and AP integrates from it client-side if wanted.)"""
    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_quantity").cast("long").alias("s"),
        (F.col("l_returnflag") == "R").cast("long").alias("y"),
    )
    lv = li.groupBy("s").agg(
        F.count(F.lit(1)).alias("n"), F.sum("y").alias("pos")
    )
    w = Window.orderBy(F.col("s").desc()).rowsBetween(Window.unboundedPreceding, 0)
    c = (
        lv.withColumn("cum_n", F.sum("n").over(w))
        .withColumn("cum_pos", F.sum("pos").over(w))
        .withColumn("p_total", F.sum("pos").over(Window.partitionBy()))
    )
    return c.select(
        F.col("s").alias("threshold"),
        F.col("cum_n").alias("n_predicted"),
        F.col("cum_pos").alias("n_hit"),
        F.expr("(2 * cum_pos * 1000000 + cum_n) div (2 * cum_n)").alias("precision_e6"),
        F.expr("(2 * cum_pos * 1000000 + p_total) div (2 * p_total)").alias("recall_e6"),
    )


@q(
    "best_f1_threshold",
    """WITH lv AS (SELECT CAST(l_quantity AS BIGINT) AS s,
                  count(*)::BIGINT AS n,
                  sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)::BIGINT AS pos
           FROM lineitem GROUP BY 1),
       c AS (SELECT s,
                    sum(n) OVER (ORDER BY s DESC ROWS UNBOUNDED PRECEDING) AS cum_n,
                    sum(pos) OVER (ORDER BY s DESC ROWS UNBOUNDED PRECEDING) AS cum_pos,
                    (SELECT sum(pos) FROM lv) AS p_total
             FROM lv),
       f AS (SELECT s, cum_n::BIGINT AS n_predicted, cum_pos::BIGINT AS n_hit,
                    CAST((2 * (2 * cum_pos) * 1000000 + (cum_n + p_total))
                             // (2 * (cum_n + p_total)) AS BIGINT) AS f1_e6
             FROM c)
       SELECT s AS threshold, n_predicted, n_hit, f1_e6
       FROM f ORDER BY f1_e6 DESC, s ASC LIMIT 1""",
)
def _best_f1_threshold(spark, sf_dir):
    """Decision-threshold tuning: F1 at a threshold reduces to the
    single rational 2·TP / (n_predicted + n_actual), so the argmax
    over the level table is an exact-integer comparison (e6 fixed
    point, threshold tie-break) — one aggregate, one window, one
    TakeOrderedAndProject. Closes the threshold-selection loop over
    the PR curve."""
    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_quantity").cast("long").alias("s"),
        (F.col("l_returnflag") == "R").cast("long").alias("y"),
    )
    lv = li.groupBy("s").agg(F.count(F.lit(1)).alias("n"), F.sum("y").alias("pos"))
    w = Window.orderBy(F.col("s").desc()).rowsBetween(Window.unboundedPreceding, 0)
    c = (
        lv.withColumn("cum_n", F.sum("n").over(w))
        .withColumn("cum_pos", F.sum("pos").over(w))
        .withColumn("p_total", F.sum("pos").over(Window.partitionBy()))
    )
    f = c.select(
        F.col("s").alias("threshold"),
        F.col("cum_n").alias("n_predicted"),
        F.col("cum_pos").alias("n_hit"),
        F.expr(
            "(2 * (2 * cum_pos) * 1000000 + (cum_n + p_total))"
            " div (2 * (cum_n + p_total))"
        ).alias("f1_e6"),
    )
    return f.orderBy(F.col("f1_e6").desc(), F.col("threshold").asc()).limit(1)


@q(
    "pass_at_k_by_source",
    """WITH samp AS (
         SELECT source AS problem,
                (len(list_filter(string_split(lower(text), ' '), t -> t <> '')) >= 40) AS correct
         FROM documents),
       counts AS (
         SELECT problem,
                CAST(count(*) AS BIGINT) AS n_samples,
                CAST(sum(CASE WHEN correct THEN 1 ELSE 0 END) AS BIGINT) AS n_correct
         FROM samp GROUP BY problem),
       with_k AS (
         SELECT c.*, CAST(k.k AS BIGINT) AS k
         FROM counts c, (SELECT unnest([1, 5, 10]) AS k) k
         WHERE k.k <= c.n_samples)
       SELECT problem, n_samples, n_correct, k,
              round(CASE WHEN n_samples - n_correct < k THEN 1.0
                         ELSE 1.0 - list_reduce(
                                list_transform(generate_series(0, CAST(k AS INTEGER) - 1),
                                  i -> (n_samples - n_correct - i) / CAST(n_samples - i AS DOUBLE)),
                                (a, b) -> a * b)
                    END, 4) AS pass_at_k
       FROM with_k""",
)
def _pass_at_k_by_source(spark, sf_dir):
    """Chen et al. 2021 unbiased pass@k (ml/pass_at_k.py): sources
    stand in for problems, docs for samples, the >= 40-token gate for
    "correct". The telescoping-product form folds the same IEEE double
    sequence in both engines, so values match bit-for-bit before the
    display rounding."""
    from redshells_spark.ml.pass_at_k import pass_at_k

    docs = _tokens(spark, sf_dir).select(
        "source", (F.size("tokens") >= 40).alias("correct")
    )
    return pass_at_k(docs, "source", "correct", ks=(1, 5, 10))


_BT_MATCHES_CTE = """matches AS (
    SELECT CASE WHEN prev_value >= value THEN prev_type ELSE event_type END AS winner,
           CASE WHEN prev_value >= value THEN event_type ELSE prev_type END AS loser
    FROM (
      SELECT user_id, event_type, value,
             lag(event_type) OVER w AS prev_type,
             lag(value) OVER w AS prev_value
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC))
    WHERE prev_type IS NOT NULL AND prev_type <> event_type)"""


def _bt_oracle() -> str:
    from redshells_spark.ml.bradley_terry import bradley_terry_sql

    return bradley_terry_sql(_BT_MATCHES_CTE, iterations=20)


@q("bradley_terry_ratings", _bt_oracle())
def _bradley_terry_ratings(spark, sf_dir):
    """Bradley-Terry preference ratings by Hunter's MM algorithm
    (ml/bradley_terry.py) — the model behind RLHF reward comparisons
    and arena leaderboards. Matches = consecutive same-user events of
    different types, won by the higher-valued event; the match log is
    folded ONCE into per-pair counts, then 20 MM iterations run at
    O(#pairs) shuffle each, independent of match volume. The oracle
    unrolls the same 20 iterations as generated SQL stages; every
    denominator is a bounded (< #types) float sum, so engines agree to
    ~1e-14 against the 1e-4 rounding quantum."""
    from redshells_spark.ml.bradley_terry import bradley_terry_ratings

    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        event_us(ev, "ts").asc(), F.col("event_id").asc()
    )
    seq = ev.select(
        "event_type",
        "value",
        F.lag("event_type").over(w).alias("prev_type"),
        F.lag("value").over(w).alias("prev_value"),
    ).filter(
        F.col("prev_type").isNotNull() & (F.col("prev_type") != F.col("event_type"))
    )
    matches = seq.select(
        F.when(F.col("prev_value") >= F.col("value"), F.col("prev_type"))
        .otherwise(F.col("event_type"))
        .alias("winner"),
        F.when(F.col("prev_value") >= F.col("value"), F.col("event_type"))
        .otherwise(F.col("prev_type"))
        .alias("loser"),
    )
    out = bradley_terry_ratings(matches, "winner", "loser", iterations=20)
    return out.select(
        "item", F.round("rating", 4).alias("rating"), "w", "n_matches"
    )


def _bootstrap_thresholds_sql() -> str:
    from redshells_spark.ml.bootstrap import poisson1_thresholds

    ts = poisson1_thresholds()
    expr = str(len(ts))
    for k in reversed(range(len(ts))):
        expr = f"CASE WHEN pfx < '{ts[k]}' THEN {k} ELSE {expr} END"
    return expr


@q(
    "bootstrap_metric_ci",
    f"""WITH base AS (
         SELECT event_id AS id,
                CAST(floor(value * 100 + CAST(0.5 AS DOUBLE)) AS BIGINT) AS u
         FROM events),
       hs AS (
         SELECT base.id, base.u, g.g,
                md5('3|' || CAST(g.g AS VARCHAR) || '|' || CAST(base.id AS VARCHAR)) AS h
         FROM base, (SELECT unnest(generate_series(0, 12)) AS g) g),
       wts AS (
         SELECT hs.g * 8 + s.s AS b, hs.u,
                {_bootstrap_thresholds_sql().replace(
                    "pfx", "substr(hs.h, s.s * 4 + 1, 4)"
                )} AS w
         FROM hs, (SELECT unnest(generate_series(0, 7)) AS s) s
         WHERE hs.g * 8 + s.s < 100),
       reps AS (
         SELECT b, CAST(sum(w * u) AS BIGINT) AS wu, CAST(sum(w) AS BIGINT) AS ws
         FROM wts GROUP BY b HAVING sum(w) > 0),
       means AS (
         SELECT b, CAST(wu AS DOUBLE) / CAST(ws AS DOUBLE) / 100.0 AS boot_mean
         FROM reps),
       ord AS (
         SELECT b, boot_mean,
                row_number() OVER (ORDER BY boot_mean ASC, b ASC) - 1 AS rn
         FROM means),
       cnt AS (SELECT CAST(count(*) AS BIGINT) AS n_replicas FROM means),
       lo AS (SELECT round(boot_mean, 4) AS ci_lo FROM ord WHERE rn = 2),
       hi AS (SELECT round(boot_mean, 4) AS ci_hi
              FROM ord, cnt WHERE rn = n_replicas - 3),
       pt AS (SELECT round(CAST(sum(u) AS DOUBLE) / count(*) / 100.0, 4) AS point_mean
              FROM base)
       SELECT n_replicas, point_mean, ci_lo, ci_hi FROM cnt, pt, lo, hi""",
)
def _bootstrap_metric_ci(spark, sf_dir):
    """95% Poisson-bootstrap CI for the mean event value (ml/bootstrap.py
    poisson_bootstrap_mean_ci, Chamandy et al. 2012): per-(row,replica)
    Poisson(1) weights from md5-hex threshold comparisons (8 replicas
    per digest) — one stateless scan, 100 map-combined aggregate rows,
    a 100-row window. Replica sums are exact integer cents, so both
    engines derive bit-identical replica means at ANY scale (no
    float-sum drift)."""
    from redshells_spark.ml.bootstrap import poisson_bootstrap_mean_ci

    events = _t(spark, sf_dir, "events")
    return poisson_bootstrap_mean_ci(
        events, "value", "event_id", n_replicas=100, seed=3
    )


# ------------------------------------------------------------------ helpers

# DuckDB side of the pair derivation (1-based lambda indices)
_PAIRS_SQL = """
    base AS (
        SELECT doc_id, source, lang,
               list_filter(string_split(lower(text), ' '), t -> t <> '') AS ref
        FROM documents),
    pairs AS (
        SELECT doc_id, source, lang, ref,
               list_filter(
                 list_transform(ref,
                   (t, i) -> CASE WHEN i % 7 = 3 THEN 'the' ELSE t END),
                 (t, i) -> i % 11 <> 5) AS cand
        FROM base)
"""

# Spark side (0-based lambda indices -> i+1)
_CAND_EXPR = (
    "filter(transform(tokens, (t, i) -> "
    "CASE WHEN (i+1) % 7 = 3 THEN 'the' ELSE t END), "
    "(t, i) -> (i+1) % 11 != 5)"
)


def _pairs_df(spark, sf_dir):
    # repartition BEFORE the n-gram explosion: the source is one small
    # parquet file (a single input split), and without this the entire
    # multi-order gram explode — the heavy leg, ~300 gram rows per doc
    # per side — runs in one task. Shuffling the compact doc rows is
    # ~1% of the exploded volume; at production scale the input is
    # already many splits and Catalyst elides nothing here it needs.
    toks = _tokens(spark, sf_dir).repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )
    return toks.select(
        "doc_id",
        "source",
        "lang",
        F.col("tokens").alias("ref"),
        F.expr(_CAND_EXPR).alias("cand"),
    )


def _word_grams_sql(col: str, n: int, extra_cols: str = "") -> str:
    """Inner SELECT producing (doc_id[, extra], ngram) word n-grams of
    a list column from the ``pairs`` CTE."""
    return (
        f"SELECT doc_id{extra_cols}, unnest(list_transform("
        f"generate_series(1, len({col})-{n}+1), "
        f"i -> array_to_string({col}[i:i+{n}-1], ' '))) AS ngram FROM pairs"
    )


def _char_grams_sql(col: str, n: int, extra_cols: str = "") -> str:
    return (
        f"SELECT doc_id{extra_cols}, unnest(list_transform("
        f"generate_series(1, length({col})-{n}+1), "
        f"i -> substr({col}, i, {n}))) AS ngram FROM ch"
    )


def _bleu_oracle() -> str:
    parts = [f"WITH {_PAIRS_SQL},"]
    parts.append(
        "lens AS (SELECT CAST(sum(len(cand)) AS BIGINT) AS cand_len,"
        " CAST(sum(len(ref)) AS BIGINT) AS ref_len FROM pairs),"
    )
    ss = []
    for n in range(1, 5):
        parts.append(
            f"cg{n} AS (SELECT doc_id, ngram, CAST(count(*) AS BIGINT) AS cnt"
            f" FROM ({_word_grams_sql('cand', n)}) GROUP BY 1, 2),"
        )
        parts.append(
            f"rg{n} AS (SELECT doc_id, ngram, CAST(count(*) AS BIGINT) AS cnt"
            f" FROM ({_word_grams_sql('ref', n)}) GROUP BY 1, 2),"
        )
        parts.append(
            f"s{n} AS (SELECT CAST({n} AS BIGINT) AS n,"
            f" CAST(coalesce((SELECT sum(least(c.cnt, r.cnt)) FROM cg{n} c"
            f" JOIN rg{n} r ON c.doc_id = r.doc_id AND c.ngram = r.ngram), 0)"
            f" AS BIGINT) AS clipped,"
            f" CAST((SELECT sum(cnt) FROM cg{n}) AS BIGINT) AS total),"
        )
        ss.append(f"SELECT * FROM s{n}")
    union = " UNION ALL ".join(ss)
    parts.append(f"u AS ({union})")
    parts.append(
        "SELECT n, clipped, total,"
        " CAST(clipped AS DOUBLE) / total AS precision_n, cand_len, ref_len"
        " FROM u CROSS JOIN lens"
    )
    return "\n".join(parts)


@q("corpus_bleu", _bleu_oracle())
def _corpus_bleu(spark, sf_dir):
    """Corpus BLEU sufficient statistics (text/geneval.py
    bleu_corpus_stats): modified n-gram precisions for n=1..4 over
    (candidate, reference) token pairs, plus corpus lengths for the
    brevity penalty. n-grams are per-row array transforms (codegen,
    zero shuffle); the clip is one co-partitioned join per order; the
    final exp/log combine stays out of the relation so every exported
    value is exact-int or a single IEEE division."""
    from redshells_spark.text.geneval import bleu_corpus_stats

    pairs = _pairs_df(spark, sf_dir)
    return bleu_corpus_stats(pairs, "doc_id", "cand", "ref", max_n=4)


def _rouge_oracle() -> str:
    parts = [f"WITH {_PAIRS_SQL},"]
    gs = []
    for n in (1, 2):
        parts.append(
            f"cg{n} AS (SELECT doc_id, source, ngram,"
            f" CAST(count(*) AS BIGINT) AS cnt"
            f" FROM ({_word_grams_sql('cand', n, ', source')}) GROUP BY 1, 2, 3),"
        )
        parts.append(
            f"rg{n} AS (SELECT doc_id, source, ngram,"
            f" CAST(count(*) AS BIGINT) AS cnt"
            f" FROM ({_word_grams_sql('ref', n, ', source')}) GROUP BY 1, 2, 3),"
        )
        parts.append(
            f"cl{n} AS (SELECT c.source, CAST(sum(least(c.cnt, r.cnt)) AS BIGINT)"
            f" AS clipped FROM cg{n} c JOIN rg{n} r"
            f" ON c.doc_id = r.doc_id AND c.ngram = r.ngram GROUP BY 1),"
        )
        parts.append(
            f"ct{n} AS (SELECT source, CAST(sum(cnt) AS BIGINT) AS cand_total"
            f" FROM cg{n} GROUP BY 1),"
        )
        parts.append(
            f"rt{n} AS (SELECT source, CAST(sum(cnt) AS BIGINT) AS ref_total"
            f" FROM rg{n} GROUP BY 1),"
        )
        parts.append(
            f"g{n} AS (SELECT ct{n}.source, CAST({n} AS BIGINT) AS n,"
            f" CAST(coalesce(cl{n}.clipped, 0) AS BIGINT) AS clipped,"
            f" cand_total, ref_total"
            f" FROM ct{n} JOIN rt{n} USING (source)"
            f" LEFT JOIN cl{n} USING (source)),"
        )
        gs.append(f"SELECT * FROM g{n}")
    parts.append(f"u AS ({' UNION ALL '.join(gs)})")
    parts.append(
        "SELECT source, n, clipped, cand_total, ref_total,"
        " CAST(clipped AS DOUBLE) / cand_total AS rouge_p,"
        " CAST(clipped AS DOUBLE) / ref_total AS rouge_r,"
        " CASE WHEN clipped = 0 THEN 0.0 ELSE"
        " 2 * (CAST(clipped AS DOUBLE) / cand_total)"
        " * (CAST(clipped AS DOUBLE) / ref_total)"
        " / ((CAST(clipped AS DOUBLE) / cand_total)"
        " + (CAST(clipped AS DOUBLE) / ref_total)) END AS rouge_f1"
        " FROM u"
    )
    return "\n".join(parts)


@q("rouge_by_source", _rouge_oracle())
def _rouge_by_source(spark, sf_dir):
    """ROUGE-1/2 per source (text/geneval.py rouge_n_stats): clipped
    overlap + precision/recall/F1 of the synthetic candidate against
    its reference, grouped by corpus source — the per-slice summary a
    distillation pipeline tracks. Counting joins only; each ratio is
    one exact-long IEEE division, F1 a fixed tree over the two."""
    from redshells_spark.text.geneval import rouge_n_stats

    pairs = _pairs_df(spark, sf_dir)
    return rouge_n_stats(
        pairs, "doc_id", "cand", "ref", orders=(1, 2), group_cols=("source",)
    )


def _chrf_oracle() -> str:
    parts = [f"WITH {_PAIRS_SQL},"]
    parts.append(
        "ch AS (SELECT doc_id, lang, array_to_string(cand, '') AS cs,"
        " array_to_string(ref, '') AS rs FROM pairs),"
    )
    gs = []
    for n in (1, 2, 3):
        parts.append(
            f"ccg{n} AS (SELECT doc_id, lang, ngram,"
            f" CAST(count(*) AS BIGINT) AS cnt"
            f" FROM ({_char_grams_sql('cs', n, ', lang')}) GROUP BY 1, 2, 3),"
        )
        parts.append(
            f"crg{n} AS (SELECT doc_id, lang, ngram,"
            f" CAST(count(*) AS BIGINT) AS cnt"
            f" FROM ({_char_grams_sql('rs', n, ', lang')}) GROUP BY 1, 2, 3),"
        )
        parts.append(
            f"ccl{n} AS (SELECT c.lang, CAST(sum(least(c.cnt, r.cnt)) AS BIGINT)"
            f" AS clipped FROM ccg{n} c JOIN crg{n} r"
            f" ON c.doc_id = r.doc_id AND c.ngram = r.ngram GROUP BY 1),"
        )
        parts.append(
            f"cct{n} AS (SELECT lang, CAST(sum(cnt) AS BIGINT) AS cand_total"
            f" FROM ccg{n} GROUP BY 1),"
        )
        parts.append(
            f"crt{n} AS (SELECT lang, CAST(sum(cnt) AS BIGINT) AS ref_total"
            f" FROM crg{n} GROUP BY 1),"
        )
        parts.append(
            f"cgr{n} AS (SELECT cct{n}.lang, CAST({n} AS BIGINT) AS n,"
            f" CAST(coalesce(ccl{n}.clipped, 0) AS BIGINT) AS clipped,"
            f" cand_total, ref_total"
            f" FROM cct{n} JOIN crt{n} USING (lang)"
            f" LEFT JOIN ccl{n} USING (lang)),"
        )
        gs.append(f"SELECT * FROM cgr{n}")
    parts.append(f"u AS ({' UNION ALL '.join(gs)})")
    parts.append(
        "SELECT lang, n, clipped, cand_total, ref_total,"
        " CAST(clipped AS DOUBLE) / cand_total AS chrf_p,"
        " CAST(clipped AS DOUBLE) / ref_total AS chrf_r,"
        " CASE WHEN clipped = 0 THEN 0.0 ELSE"
        " 5.0 * (CAST(clipped AS DOUBLE) / cand_total)"
        " * (CAST(clipped AS DOUBLE) / ref_total)"
        " / (4.0 * (CAST(clipped AS DOUBLE) / cand_total)"
        " + (CAST(clipped AS DOUBLE) / ref_total)) END AS chrf_fbeta"
        " FROM u"
    )
    return "\n".join(parts)


@q("chrf_by_lang", _chrf_oracle())
def _chrf_by_lang(spark, sf_dir):
    """chrF2 per language (text/geneval.py chrf_stats): character
    1-3-gram precision/recall/F_beta=2 of candidate vs reference —
    the tokenizer-free MT metric, robust for morphology-rich langs.
    Spaces are removed before gram extraction (the chrF convention);
    tokens carry none, so both engines see identical strings."""
    from redshells_spark.text.geneval import chrf_stats

    pairs = _pairs_df(spark, sf_dir).select(
        "doc_id",
        "lang",
        F.concat_ws("", F.col("cand")).alias("cs"),
        F.concat_ws("", F.col("ref")).alias("rs"),
    )
    return chrf_stats(
        pairs, "doc_id", "cs", "rs", orders=(1, 2, 3), beta=2.0,
        group_cols=("lang",),
    )


def _distinct_n_oracle() -> str:
    parts = [f"WITH {_PAIRS_SQL},"]
    ss = []
    for n in (1, 2):
        parts.append(
            f"dg{n} AS (SELECT source, ngram"
            f" FROM ({_word_grams_sql('ref', n, ', source')})),"
        )
        parts.append(
            f"ds{n} AS (SELECT source, CAST({n} AS BIGINT) AS n,"
            f" CAST(count(DISTINCT ngram) AS BIGINT) AS distinct_ngrams,"
            f" CAST(count(*) AS BIGINT) AS total_ngrams FROM dg{n} GROUP BY 1),"
        )
        ss.append(f"SELECT * FROM ds{n}")
    parts.append(f"u AS ({' UNION ALL '.join(ss)})")
    parts.append(
        "SELECT source, n, distinct_ngrams, total_ngrams,"
        " CAST(distinct_ngrams AS DOUBLE) / total_ngrams AS distinct_ratio"
        " FROM u"
    )
    return "\n".join(parts)


@q("distinct_ngram_diversity", _distinct_n_oracle())
def _distinct_ngram_diversity(spark, sf_dir):
    """distinct-1/distinct-2 generation-diversity ratios per source
    (text/geneval.py distinct_n_diversity) — low distinct-2 flags
    templated/degenerate text on a corpus card. Two map-combined
    aggregates per order over per-row gram transforms."""
    from redshells_spark.text.geneval import distinct_n_diversity

    toks = _tokens(spark, sf_dir)
    return distinct_n_diversity(
        toks, "tokens", group_cols=("source",), orders=(1, 2)
    )


@q(
    "majority_vote_labels",
    """WITH c AS (
         SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS votes
         FROM events GROUP BY 1, 2),
       t AS (SELECT user_id, CAST(sum(votes) AS BIGINT) AS total_votes
             FROM c GROUP BY 1),
       r AS (SELECT user_id, event_type, votes,
                    row_number() OVER (
                      PARTITION BY user_id
                      ORDER BY votes DESC, event_type ASC) AS rk
             FROM c)
       SELECT r.user_id, r.event_type, r.votes, t.total_votes,
              CAST(r.votes AS DOUBLE) / t.total_votes AS agreement
       FROM r JOIN t USING (user_id) WHERE rk = 1""",
)
def _majority_vote_labels(spark, sf_dir):
    """Label aggregation by majority vote (ml/agreement.py
    majority_vote): each user's events vote for an event_type; the
    winner (count desc, label asc ties) ships with its agreement
    ratio — the confidence a downstream label filter thresholds on.
    One combinable count + one per-item window."""
    from redshells_spark.ml.agreement import majority_vote

    ev = _t(spark, sf_dir, "events")
    return majority_vote(ev.select("user_id", "event_type"), "user_id", "event_type")


_RATINGS_SQL = """
    seq AS (
        SELECT user_id, event_type,
               row_number() OVER (
                 PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS rk
        FROM events)
"""


def _fleiss_oracle(n: int) -> str:
    return f"""WITH {_RATINGS_SQL},
       r AS (SELECT user_id, event_type FROM seq WHERE rk <= {n}),
       ni AS (SELECT user_id FROM r GROUP BY 1 HAVING count(*) = {n}),
       nij AS (SELECT r.user_id, r.event_type, CAST(count(*) AS BIGINT) AS nij
               FROM r JOIN ni USING (user_id) GROUP BY 1, 2),
       a AS (SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n_items,
                    CAST(sum(nij * nij) AS BIGINT) AS sum_nij_sq
             FROM nij),
       cj AS (SELECT event_type, CAST(sum(nij) AS BIGINT) AS cj
              FROM nij GROUP BY 1),
       b AS (SELECT CAST(sum(cj * cj) AS BIGINT) AS sum_cj_sq FROM cj)
       SELECT n_items, CAST({n} AS BIGINT) AS n_per_item,
              sum_nij_sq, sum_cj_sq,
              CAST(sum_nij_sq - n_items * {n} AS DOUBLE)
                / CAST(n_items * {n} * ({n} - 1) AS DOUBLE) AS p_o,
              CAST(sum_cj_sq AS DOUBLE)
                / CAST(n_items * {n} * (n_items * {n}) AS DOUBLE) AS p_e,
              ((CAST(sum_nij_sq - n_items * {n} AS DOUBLE)
                / CAST(n_items * {n} * ({n} - 1) AS DOUBLE))
               - (CAST(sum_cj_sq AS DOUBLE)
                / CAST(n_items * {n} * (n_items * {n}) AS DOUBLE)))
              / (1.0 - (CAST(sum_cj_sq AS DOUBLE)
                / CAST(n_items * {n} * (n_items * {n}) AS DOUBLE))) AS kappa
       FROM a CROSS JOIN b"""


@q("fleiss_kappa_ratings", _fleiss_oracle(5))
def _fleiss_kappa_ratings(spark, sf_dir):
    """Fleiss' kappa over each user's first 5 events treated as 5
    ratings of the item "user" (ml/agreement.py fleiss_kappa) — the
    multi-rater chance-corrected agreement a labeling pipeline gates
    on before trusting labels. Numerators are exact int64 sums;
    p_o/p_e/kappa are a fixed IEEE tree over them, so the single
    output row is bit-identical across engines and partitionings."""
    from redshells_spark.ml.agreement import fleiss_kappa

    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        event_us(ev, "ts").asc(), F.col("event_id").asc()
    )
    first5 = (
        ev.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 5)
        .select("user_id", "event_type")
    )
    return fleiss_kappa(first5, "user_id", "event_type", 5)


@q(
    "cohen_kappa_positions",
    f"""WITH {_RATINGS_SQL},
       r AS (SELECT user_id, rk, event_type FROM seq WHERE rk <= 3),
       j AS (SELECT a.user_id, a.rk AS ann_a, b.rk AS ann_b,
                    a.event_type AS la, b.event_type AS lb
             FROM r a JOIN r b
             ON a.user_id = b.user_id AND a.rk < b.rk),
       agg AS (SELECT ann_a, ann_b,
                      CAST(count(*) AS BIGINT) AS n_items,
                      CAST(sum(CASE WHEN la = lb THEN 1 ELSE 0 END) AS BIGINT)
                        AS n_agree
               FROM j GROUP BY 1, 2),
       ma AS (SELECT ann_a, ann_b, la, CAST(count(*) AS BIGINT) AS ca
              FROM j GROUP BY 1, 2, 3),
       mb AS (SELECT ann_a, ann_b, lb, CAST(count(*) AS BIGINT) AS cb
              FROM j GROUP BY 1, 2, 3),
       pe AS (SELECT ma.ann_a, ma.ann_b,
                     CAST(sum(ma.ca * mb.cb) AS BIGINT) AS pe_num
              FROM ma JOIN mb
              ON ma.ann_a = mb.ann_a AND ma.ann_b = mb.ann_b
                 AND ma.la = mb.lb
              GROUP BY 1, 2)
       SELECT CAST(agg.ann_a AS BIGINT) AS ann_a,
              CAST(agg.ann_b AS BIGINT) AS ann_b,
              n_items, n_agree, pe_num,
              CAST(n_agree AS DOUBLE) / n_items AS p_o,
              CAST(pe_num AS DOUBLE) / CAST(n_items * n_items AS DOUBLE) AS p_e,
              ((CAST(n_agree AS DOUBLE) / n_items)
               - (CAST(pe_num AS DOUBLE) / CAST(n_items * n_items AS DOUBLE)))
              / (1.0 - (CAST(pe_num AS DOUBLE)
                        / CAST(n_items * n_items AS DOUBLE))) AS kappa
       FROM agg JOIN pe ON agg.ann_a = pe.ann_a AND agg.ann_b = pe.ann_b""",
)
def _cohen_kappa_positions(spark, sf_dir):
    """Cohen's kappa between each pair of "annotators" = a user's
    1st/2nd/3rd event positions (ml/agreement.py cohen_kappa_pairs) —
    the two-rater agreement statistic, here measuring behavioral
    self-consistency over time. Pair grid quadratic in annotators
    only; items flow through one co-partitioned self-join."""
    from redshells_spark.ml.agreement import cohen_kappa_pairs

    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        event_us(ev, "ts").asc(), F.col("event_id").asc()
    )
    seq = (
        ev.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("user_id", "rk", "event_type")
    )
    out = cohen_kappa_pairs(seq, "user_id", "rk", "event_type")
    return out.select(
        F.col("ann_a").cast("long").alias("ann_a"),
        F.col("ann_b").cast("long").alias("ann_b"),
        "n_items",
        "n_agree",
        "pe_num",
        "p_o",
        "p_e",
        "kappa",
    )


def _kripp_oracle(n: int) -> str:
    return f"""WITH {_RATINGS_SQL},
       r AS (SELECT user_id, event_type FROM seq WHERE rk <= {n}),
       ni AS (SELECT user_id FROM r GROUP BY 1 HAVING count(*) = {n}),
       nij AS (SELECT r.user_id, r.event_type, CAST(count(*) AS BIGINT) AS nij
               FROM r JOIN ni USING (user_id) GROUP BY 1, 2),
       a AS (SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n_items,
                    CAST(sum(nij * nij) AS BIGINT) AS sum_nij_sq
             FROM nij),
       cj AS (SELECT event_type, CAST(sum(nij) AS BIGINT) AS cj
              FROM nij GROUP BY 1),
       b AS (SELECT CAST(sum(cj * cj) AS BIGINT) AS sum_cj_sq FROM cj)
       SELECT n_items, CAST({n} AS BIGINT) AS n_per_item,
              CAST(n_items * {n} * {n} - sum_nij_sq AS BIGINT) AS do_num,
              CAST(n_items * {n} * (n_items * {n}) - sum_cj_sq AS BIGINT)
                AS de_num,
              CAST(n_items * {n} * {n} - sum_nij_sq AS DOUBLE)
                / CAST(n_items * {n} * ({n} - 1) AS DOUBLE) AS d_o,
              CAST(n_items * {n} * (n_items * {n}) - sum_cj_sq AS DOUBLE)
                / CAST(n_items * {n} * (n_items * {n} - 1) AS DOUBLE) AS d_e,
              1.0 - (CAST(n_items * {n} * {n} - sum_nij_sq AS DOUBLE)
                / CAST(n_items * {n} * ({n} - 1) AS DOUBLE))
              / (CAST(n_items * {n} * (n_items * {n}) - sum_cj_sq AS DOUBLE)
                / CAST(n_items * {n} * (n_items * {n} - 1) AS DOUBLE)) AS alpha
       FROM a CROSS JOIN b"""


@q("krippendorff_alpha", _kripp_oracle(4))
def _krippendorff_alpha(spark, sf_dir):
    """Krippendorff's alpha (nominal) over each user's first 4 events
    as 4 ratings (ml/agreement.py krippendorff_alpha_nominal) —
    Fleiss with the small-sample Nn−1 expected-disagreement
    correction. Same exact-int + fixed-tree export discipline."""
    from redshells_spark.ml.agreement import krippendorff_alpha_nominal

    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        event_us(ev, "ts").asc(), F.col("event_id").asc()
    )
    first4 = (
        ev.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 4)
        .select("user_id", "event_type")
    )
    return krippendorff_alpha_nominal(first4, "user_id", "event_type", 4)


@q(
    "best_of_n_responses",
    """WITH b AS (
         SELECT user_id, event_id,
                CAST(floor(value * 100 + CAST(0.5 AS DOUBLE)) AS BIGINT)
                  AS score_c
         FROM events WHERE event_type = 'purchase'),
       r AS (SELECT user_id, event_id, score_c,
                    row_number() OVER (
                      PARTITION BY user_id
                      ORDER BY score_c DESC, event_id ASC) AS rk
             FROM b),
       n AS (SELECT user_id, CAST(count(*) AS BIGINT) AS n_candidates
             FROM b GROUP BY 1),
       best AS (SELECT user_id, event_id AS best_item, score_c AS best_score
                FROM r WHERE rk = 1),
       second AS (SELECT user_id, score_c AS second_score FROM r WHERE rk = 2)
       SELECT best.user_id, best_item, best_score, second_score,
              CAST(best_score - second_score AS BIGINT) AS margin,
              n_candidates
       FROM best LEFT JOIN second USING (user_id) JOIN n USING (user_id)""",
)
def _best_of_n_responses(spark, sf_dir):
    """Best-of-n / rejection-sampling selection (data/preference.py
    best_of_n): per user, the top-valued purchase, the runner-up
    score, and the exact-cents win margin — the selection step of a
    reward-ranked pipeline. One window partitioned by the group key,
    no global sort."""
    from redshells_spark.data.preference import best_of_n

    ev = _t(spark, sf_dir, "events")
    b = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        "event_id",
        money_units(F.col("value")).alias("score_c"),
    )
    return best_of_n(b, "user_id", "event_id", "score_c")


def _event_seq_pairs(spark, sf_dir):
    """Consecutive same-user event pairs of different types — the
    shared match-log base of model_win_rate_matrix,
    judge_position_bias, and winrate_bootstrap_ci (and, in SQL form,
    _BT_MATCHES_CTE / bradley_terry_ratings). Columns:
    event_id, event_type, value, prev_type, prev_value."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        event_us(ev, "ts").asc(), F.col("event_id").asc()
    )
    return ev.select(
        "event_id",
        "event_type",
        "value",
        F.lag("event_type").over(w).alias("prev_type"),
        F.lag("value").over(w).alias("prev_value"),
    ).filter(
        F.col("prev_type").isNotNull() & (F.col("prev_type") != F.col("event_type"))
    )


@q(
    "model_win_rate_matrix",
    f"""WITH {_BT_MATCHES_CTE},
       m AS (SELECT least(winner, loser) AS model_a,
                    greatest(winner, loser) AS model_b,
                    CASE WHEN winner < loser THEN 1 ELSE 0 END AS a_won
             FROM matches),
       s AS (SELECT model_a, model_b,
                    CAST(count(*) AS BIGINT) AS games,
                    CAST(sum(a_won) AS BIGINT) AS wins_a
             FROM m GROUP BY 1, 2),
       w AS (SELECT model_a, model_b, games, wins_a,
                    CAST(wins_a AS DOUBLE) / games AS p,
                    CAST(1.96 AS DOUBLE) AS z
             FROM s)
       SELECT model_a, model_b, games, wins_a, p AS win_rate_a,
              (p + z * z / (2 * games)
               - z * sqrt(p * (1 - p) / games
                          + z * z / (4 * games * games)))
                / (1 + z * z / games) AS wilson_lo,
              (p + z * z / (2 * games)
               + z * sqrt(p * (1 - p) / games
                          + z * z / (4 * games * games)))
                / (1 + z * z / games) AS wilson_hi
       FROM w""",
)
def _model_win_rate_matrix(spark, sf_dir):
    """Pairwise win-rate matrix with Wilson bounds (data/preference.py
    win_rate_matrix) over the SAME match log Bradley-Terry rates
    globally (bradley_terry_ratings) — the leaderboard cell statistic.
    One map-combined aggregate; the interval is the identical fixed
    IEEE tree as ctr_wilson_bounds, so full-precision export is
    bit-exact."""
    from redshells_spark.data.preference import win_rate_matrix

    matches = _event_seq_pairs(spark, sf_dir).select(
        F.when(F.col("prev_value") >= F.col("value"), F.col("prev_type"))
        .otherwise(F.col("event_type"))
        .alias("winner"),
        F.when(F.col("prev_value") >= F.col("value"), F.col("event_type"))
        .otherwise(F.col("prev_type"))
        .alias("loser"),
    )
    return win_rate_matrix(matches, "winner", "loser", z=1.96)


@q(
    "expected_calibration_error",
    """WITH tr AS (SELECT CAST(l_quantity AS BIGINT) AS q,
                  count(*)::BIGINT AS n_q,
                  sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)::BIGINT AS pos_q
           FROM lineitem WHERE l_orderkey % 2 = 0 GROUP BY 1),
       te AS (SELECT CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END AS y,
                     CAST(floor(tr.pos_q::DOUBLE * 1000000000 / tr.n_q + 0.5)
                          AS BIGINT) AS score_e9
              FROM lineitem l JOIN tr ON tr.q = CAST(l.l_quantity AS BIGINT)
              WHERE l.l_orderkey % 2 = 1),
       g AS (SELECT least(score_e9 // 10000000, 99) AS bin,
                    count(*)::BIGINT AS n,
                    sum(y)::BIGINT AS n_pos,
                    sum(score_e9)::BIGINT AS sum_score_e9
             FROM te GROUP BY 1),
       gb AS (SELECT bin, n, n_pos, sum_score_e9,
                     CAST(abs(1000000000 * n_pos - sum_score_e9) AS BIGINT)
                       AS gap_e9
              FROM g),
       tot AS (SELECT CAST(sum(n) AS BIGINT) AS n_total,
                      CAST(sum(gap_e9) AS BIGINT) AS gap_total,
                      CAST(max((2 * gap_e9 + 1000 * n) // (2000 * n)) AS BIGINT)
                        AS mce_e6
               FROM gb)
       SELECT CAST(bin AS BIGINT) AS bin, n, n_pos, sum_score_e9,
              (2 * n_pos * 1000000 + n) // (2 * n) AS acc_e6,
              (2 * (sum_score_e9 // 1000) + n) // (2 * n) AS conf_e6,
              (2 * gap_e9 + 1000 * n) // (2000 * n) AS gap_e6,
              (2 * gap_total + 1000 * n_total) // (2000 * n_total) AS ece_e6,
              mce_e6
       FROM gb CROSS JOIN tot""",
)
def _expected_calibration_error(spark, sf_dir):
    """Expected / maximum calibration error over the same empirical
    per-quantity scorer as calibration_lift_table, in ENTIRELY exact
    integer arithmetic: per fixed-width confidence bin, the gap
    |accuracy - confidence| folds to |1e9*hits - sum(score_e9)| — an
    exact int64 numerator — so ECE = sum(gaps)/(1e9*N) needs no float
    aggregation anywhere (the usual ECE implementation averages
    doubles per bin; this one is bit-stable under any partition
    order, and at 1e12-row eval sets the numerators move to
    decimal(38,0) loudly, never silently). Reliability-diagram bins
    export alongside the two scalars."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        F.col("l_quantity").cast("long").alias("q"),
        (F.col("l_returnflag") == "R").cast("long").alias("y"),
    )
    tr = (
        li.filter(F.col("l_orderkey") % 2 == 0)
        .groupBy("q")
        .agg(F.count(F.lit(1)).alias("n_q"), F.sum("y").alias("pos_q"))
    )
    te = (
        li.filter(F.col("l_orderkey") % 2 == 1)
        .join(F.broadcast(tr), on="q")
        .select(
            "y",
            F.floor(
                F.col("pos_q").cast("double") * 1_000_000_000 / F.col("n_q")
                + F.lit(0.5)
            )
            .cast("long")
            .alias("score_e9"),
        )
    )
    g = (
        te.groupBy(
            F.least(F.expr("score_e9 div 10000000"), F.lit(99))
            .cast("long")
            .alias("bin")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("y").cast("long").alias("n_pos"),
            F.sum("score_e9").cast("long").alias("sum_score_e9"),
        )
        .withColumn(
            "gap_e9",
            F.abs(F.lit(1_000_000_000) * F.col("n_pos") - F.col("sum_score_e9"))
            .cast("long"),
        )
    )
    tot = g.agg(
        F.sum("n").cast("long").alias("n_total"),
        F.sum("gap_e9").cast("long").alias("gap_total"),
        F.max(F.expr("(2 * gap_e9 + 1000 * n) div (2000 * n)"))
        .cast("long")
        .alias("mce_e6"),
    )
    return g.crossJoin(F.broadcast(tot)).select(  # 1-row aggregate join
        "bin",
        "n",
        "n_pos",
        "sum_score_e9",
        F.expr("(2 * n_pos * 1000000 + n) div (2 * n)").alias("acc_e6"),
        F.expr("(2 * (sum_score_e9 div 1000) + n) div (2 * n)").alias("conf_e6"),
        F.expr("(2 * gap_e9 + 1000 * n) div (2000 * n)").alias("gap_e6"),
        F.expr("(2 * gap_total + 1000 * n_total) div (2000 * n_total)").alias(
            "ece_e6"
        ),
        "mce_e6",
    )


@q(
    "judge_position_bias",
    f"""WITH pos AS (
        SELECT prev_type AS first_item, event_type AS second_item,
               CASE WHEN prev_value >= value THEN 1 ELSE 0 END AS first_won
        FROM (
          SELECT user_id, event_type, value,
                 lag(event_type) OVER w AS prev_type,
                 lag(value) OVER w AS prev_value
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC))
        WHERE prev_type IS NOT NULL AND prev_type <> event_type),
       per AS (SELECT first_item, second_item,
                      CAST(count(*) AS BIGINT) AS games,
                      CAST(sum(first_won) AS BIGINT) AS first_wins
               FROM pos GROUP BY 1, 2),
       allr AS (SELECT '__all__' AS first_item, '__all__' AS second_item,
                       CAST(sum(games) AS BIGINT) AS games,
                       CAST(sum(first_wins) AS BIGINT) AS first_wins
                FROM per),
       u AS (SELECT * FROM per UNION ALL SELECT * FROM allr),
       w AS (SELECT first_item, second_item, games, first_wins,
                    CAST(first_wins AS DOUBLE) / games AS p,
                    CAST(1.96 AS DOUBLE) AS z
             FROM u)
       SELECT first_item, second_item, games, first_wins,
              p AS first_win_rate,
              (p + z * z / (2 * games)
               - z * sqrt(p * (1 - p) / games
                          + z * z / (4 * games * games)))
                / (1 + z * z / games) AS wilson_lo,
              (p + z * z / (2 * games)
               + z * sqrt(p * (1 - p) / games
                          + z * z / (4 * games * games)))
                / (1 + z * z / games) AS wilson_hi
       FROM w""",
)
def _judge_position_bias(spark, sf_dir):
    """Position-bias audit over the SAME sequential match log the
    Bradley-Terry / win-rate queries consume: how often the
    FIRST-presented item wins, per ordered pair and overall
    ('__all__' row) with Wilson bounds — the standard sanity check on
    pairwise LLM-judge data, where a first-position rate far from 1/2
    (beyond its interval) flags presentation bias contaminating the
    preference labels. Ties count for the first position, mirroring
    the match derivation. One window + label-bounded aggregates."""
    pos = _event_seq_pairs(spark, sf_dir).select(
        F.col("prev_type").alias("first_item"),
        F.col("event_type").alias("second_item"),
        (F.col("prev_value") >= F.col("value")).cast("int").alias("first_won"),
    )
    per = pos.groupBy("first_item", "second_item").agg(
        F.count(F.lit(1)).cast("long").alias("games"),
        F.sum("first_won").cast("long").alias("first_wins"),
    )
    allr = per.agg(
        F.sum("games").cast("long").alias("games"),
        F.sum("first_wins").cast("long").alias("first_wins"),
    ).select(
        F.lit("__all__").alias("first_item"),
        F.lit("__all__").alias("second_item"),
        "games",
        "first_wins",
    )
    u = per.unionByName(allr)
    p = F.col("first_wins").cast("double") / F.col("games")
    z = F.lit(1.96)
    n = F.col("games")
    center = p + z * z / (2 * n)
    margin = z * F.sqrt(p * (F.lit(1) - p) / n + z * z / (4 * n * n))
    denom = F.lit(1) + z * z / n
    return u.select(
        "first_item",
        "second_item",
        "games",
        "first_wins",
        p.alias("first_win_rate"),
        ((center - margin) / denom).alias("wilson_lo"),
        ((center + margin) / denom).alias("wilson_hi"),
    )


@q(
    "ngram_novelty_curve",
    """WITH toks AS (
         SELECT doc_id, list_filter(string_split(lower(text), ' '),
                                    t -> t <> '') AS t
         FROM documents),
       g AS (SELECT DISTINCT doc_id,
                    unnest(list_transform(generate_series(1, len(t)-2),
                           i -> array_to_string(t[i:i+2], ' '))) AS ngram
             FROM toks),
       fs AS (SELECT ngram, CAST(min(doc_id) AS BIGINT) AS first_doc
              FROM g GROUP BY 1),
       per AS (SELECT g.doc_id,
                      CAST(count(*) AS BIGINT) AS total_grams,
                      CAST(sum(CASE WHEN fs.first_doc = g.doc_id
                                    THEN 1 ELSE 0 END) AS BIGINT) AS novel_grams
               FROM g JOIN fs USING (ngram) GROUP BY 1),
       nd AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents)
       SELECT CAST(per.doc_id * 20 // nd.n_docs AS BIGINT) AS bucket,
              CAST(count(*) AS BIGINT) AS n_docs_in_bucket,
              CAST(sum(novel_grams) AS BIGINT) AS novel_grams,
              CAST(sum(total_grams) AS BIGINT) AS total_grams,
              CAST(sum(novel_grams) AS DOUBLE) / sum(total_grams)
                AS novelty_rate
       FROM per CROSS JOIN nd
       GROUP BY 1""",
)
def _ngram_novelty_curve(spark, sf_dir):
    """Corpus novelty profile (Lee et al. 2022's memorization lens):
    for each 5%-of-corpus bucket in doc_id order, the fraction of a
    doc's distinct word trigrams whose FIRST corpus occurrence is that
    doc — the declining curve that quantifies how much of a growing
    corpus is new text vs repetition, i.e. the marginal value of more
    data before/after dedup. min-per-gram + one co-partitioned join
    back; nothing quadratic, no windows."""
    toks = _tokens(spark, sf_dir)
    g = (
        toks.select(
            "doc_id",
            F.explode(
                F.when(
                    F.size("tokens") >= 3,
                    F.expr(
                        "transform(sequence(1, size(tokens)-2), "
                        "i -> concat_ws(' ', slice(tokens, i, 3)))"
                    ),
                ).otherwise(F.array().cast("array<string>"))
            ).alias("ngram"),
        )
        .dropDuplicates(["doc_id", "ngram"])
    )
    fs = g.groupBy("ngram").agg(F.min("doc_id").cast("long").alias("first_doc"))
    per = (
        g.join(fs, "ngram")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("total_grams"),
            F.sum((F.col("first_doc") == F.col("doc_id")).cast("int"))
            .cast("long")
            .alias("novel_grams"),
        )
    )
    nd = toks.agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    return (
        per.crossJoin(F.broadcast(nd))  # 1-row aggregate join
        .groupBy(
            F.expr("doc_id * 20 div n_docs").cast("long").alias("bucket")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs_in_bucket"),
            F.sum("novel_grams").cast("long").alias("novel_grams"),
            F.sum("total_grams").cast("long").alias("total_grams"),
        )
        .select(
            "bucket",
            "n_docs_in_bucket",
            "novel_grams",
            "total_grams",
            (F.col("novel_grams").cast("double") / F.col("total_grams")).alias(
                "novelty_rate"
            ),
        )
    )


def _rbo_suffix_weights(p: float = 0.9, k: int = 10, lcm: int = 2520):
    """Driver-precomputed RBO suffix weights (the NDCG-discount idiom
    from ranking_eval_metrics): a doc common to both top-d lists for
    every d >= m contributes W_m = sum_{d=m..k} w_d * (lcm // d) with
    w_d = round((1-p) p^(d-1) 1e9) — integer nano-units, so the
    distributed sum is exact int64 and both engines fold identical
    literals."""
    w = [round((1.0 - p) * p ** (d - 1) * 1e9) for d in range(1, k + 1)]
    return [sum(w[d - 1] * (lcm // d) for d in range(m, k + 1))
            for m in range(1, k + 1)]


def _rbo_case_sql(col: str) -> str:
    ws = _rbo_suffix_weights()
    arms = " ".join(
        f"WHEN {m} THEN {ws[m-1]}" for m in range(1, len(ws) + 1)
    )
    return f"CASE {col} {arms} ELSE 0 END"


_RBO_RANKERS_SQL = """
    toks AS (
         SELECT doc_id, list_filter(string_split(lower(text), ' '), t -> t <> '') AS t
         FROM documents),
    tok AS (
         SELECT doc_id, CAST(len(t) AS BIGINT) AS dl, unnest(t) AS term FROM toks),
    st AS (
         SELECT count(DISTINCT doc_id) AS n_docs, count(*) AS tok_sum FROM tok),
    p AS (
         SELECT doc_id, term, dl, CAST(count(*) AS BIGINT) AS tf FROM tok
         WHERE term IN ('spark', 'join', 'window', 'stream', 'hash')
         GROUP BY 1, 2, 3),
    dft AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM p GROUP BY 1),
    scored AS (
         SELECT p.term, p.doc_id, p.tf,
                ln(CAST(1.0 AS DOUBLE)
                   + (st.n_docs - dft.df + CAST(0.5 AS DOUBLE))
                     / (dft.df + CAST(0.5 AS DOUBLE)))
                  * p.tf
                  / (p.tf + CAST(1.2 AS DOUBLE)
                     * (CAST(1.0 AS DOUBLE) - CAST(0.75 AS DOUBLE)
                        + CAST(0.75 AS DOUBLE) * p.dl
                          / (st.tok_sum / st.n_docs))) AS bm25
         FROM p JOIN dft USING (term), st),
    ra AS (
         SELECT term, doc_id,
                row_number() OVER (PARTITION BY term ORDER BY bm25 DESC, doc_id ASC) AS r
         FROM scored QUALIFY r <= 10),
    rb AS (
         SELECT term, doc_id,
                row_number() OVER (PARTITION BY term ORDER BY tf DESC, doc_id ASC) AS r
         FROM scored QUALIFY r <= 10)
"""


@q(
    "rbo_rank_agreement",
    f"""WITH {_RBO_RANKERS_SQL},
       common AS (
         SELECT ra.term, greatest(ra.r, rb.r) AS m
         FROM ra JOIN rb ON ra.term = rb.term AND ra.doc_id = rb.doc_id),
       agg AS (
         SELECT term,
                CAST(sum({_rbo_case_sql('m')}) AS BIGINT) AS rbo_units,
                CAST(count(*) AS BIGINT) AS overlap_at_k
         FROM common GROUP BY 1),
       terms AS (SELECT DISTINCT term FROM ra)
       SELECT terms.term,
              CAST(coalesce(agg.overlap_at_k, 0) AS BIGINT) AS overlap_at_k,
              CAST(coalesce(agg.rbo_units, 0) AS BIGINT) AS rbo_units,
              CAST(coalesce(agg.rbo_units, 0) AS DOUBLE)
                / (2520 * CAST(1000000000 AS BIGINT)) AS rbo
       FROM terms LEFT JOIN agg USING (term)""",
)
def _rbo_rank_agreement(spark, sf_dir):
    """Rank-Biased Overlap @10, p=0.9 (Webber et al. 2010) between
    the SAME two rankers rrf_hybrid_search fuses (per-term BM25 vs
    raw tf): the top-weighted agreement measure for comparing ranking
    systems where disagreement near rank 1 matters most. Closed
    integer form: a doc in both top-d for all d >= m := max(ra, rb)
    contributes the precomputed suffix weight W_m (nano-unit x
    lcm(1..10) literals — identical in both engines), so per-term RBO
    is ONE exact int64 sum over the top-10 x top-10 join; the double
    is a single final division. Depth-capped windows keep shuffle
    O(#terms · 10)."""
    # build both depth-10 rank lists exactly as
    # text/hybrid.py hybrid_bm25_tf_search's rankers do
    toks = _tokens(spark, sf_dir)
    tok = toks.select(
        "doc_id",
        F.size("tokens").cast("long").alias("dl"),
        F.explode("tokens").alias("term"),
    )
    stats = tok.groupBy().agg(
        F.count_distinct("doc_id").alias("n_docs"), F.count("*").alias("tok_sum")
    )
    p = (
        tok.filter(F.col("term").isin(list(KEYWORDS)))
        .groupBy("doc_id", "term", "dl")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )
    dft = p.groupBy("term").agg(F.count(F.lit(1)).cast("long").alias("df"))
    scored = (
        p.join(F.broadcast(dft), "term")
        .crossJoin(F.broadcast(stats))
        .select(
            "term",
            "doc_id",
            "tf",
            (
                F.log(
                    F.lit(1.0)
                    + (F.col("n_docs") - F.col("df") + F.lit(0.5))
                    / (F.col("df") + F.lit(0.5))
                )
                * F.col("tf")
                / (
                    F.col("tf")
                    + F.lit(1.2)
                    * (
                        F.lit(1.0)
                        - F.lit(0.75)
                        + F.lit(0.75)
                        * F.col("dl")
                        / (F.col("tok_sum") / F.col("n_docs"))
                    )
                )
            ).alias("bm25"),
        )
    )
    wa = Window.partitionBy("term").orderBy(
        F.col("bm25").desc(), F.col("doc_id").asc()
    )
    wb = Window.partitionBy("term").orderBy(
        F.col("tf").desc(), F.col("doc_id").asc()
    )
    ra = (
        scored.withColumn("r", F.row_number().over(wa))
        .filter(F.col("r") <= 10)
        .select("term", "doc_id", F.col("r").alias("ra"))
    )
    rb = (
        scored.withColumn("r", F.row_number().over(wb))
        .filter(F.col("r") <= 10)
        .select("term", "doc_id", F.col("r").alias("rb"))
    )
    ws = _rbo_suffix_weights()
    wexpr = F.lit(0).cast("long")
    for m in range(len(ws), 0, -1):
        wexpr = F.when(
            F.greatest("ra", "rb") == m, F.lit(ws[m - 1]).cast("long")
        ).otherwise(wexpr)
    common = ra.join(rb, ["term", "doc_id"]).select(
        "term", wexpr.alias("wm")
    )
    agg = common.groupBy("term").agg(
        F.sum("wm").cast("long").alias("rbo_units"),
        F.count(F.lit(1)).cast("long").alias("overlap_at_k"),
    )
    terms = ra.select("term").distinct()
    return terms.join(agg, "term", "left").select(
        "term",
        F.coalesce("overlap_at_k", F.lit(0)).cast("long").alias("overlap_at_k"),
        F.coalesce("rbo_units", F.lit(0)).cast("long").alias("rbo_units"),
        (
            F.coalesce("rbo_units", F.lit(0)).cast("double")
            / (F.lit(2520) * F.lit(1_000_000_000).cast("long"))
        ).alias("rbo"),
    )


def _winrate_boot_oracle() -> str:

    base_cte = _BT_MATCHES_CTE.replace(
        "SELECT CASE WHEN prev_value >= value THEN prev_type ELSE event_type END AS winner",
        "SELECT event_id AS id, CASE WHEN prev_value >= value THEN 1 ELSE 0 END AS u,"
        " CASE WHEN prev_value >= value THEN prev_type ELSE event_type END AS winner"
    ).replace(
        "SELECT user_id, event_type, value,",
        "SELECT user_id, event_id, event_type, value,"
    ).replace("matches AS (", "base AS (")
    # the .replace chain must actually have rewritten the CTE — a
    # silent no-op here would produce a matches/base mismatch
    assert "base AS (" in base_cte and "AS id," in base_cte
    return f"""WITH {base_cte},
       hs AS (
         SELECT base.id, base.u, g.g,
                md5('3|' || CAST(g.g AS VARCHAR) || '|' || CAST(base.id AS VARCHAR)) AS h
         FROM base, (SELECT unnest(generate_series(0, 12)) AS g) g),
       wts AS (
         SELECT hs.g * 8 + s.s AS b, hs.u,
                {_bootstrap_thresholds_sql().replace(
                    "pfx", "substr(hs.h, s.s * 4 + 1, 4)"
                )} AS w
         FROM hs, (SELECT unnest(generate_series(0, 7)) AS s) s
         WHERE hs.g * 8 + s.s < 100),
       reps AS (
         SELECT b, CAST(sum(w * u) AS BIGINT) AS wu, CAST(sum(w) AS BIGINT) AS ws
         FROM wts GROUP BY b HAVING sum(w) > 0),
       means AS (
         SELECT b, CAST(wu AS DOUBLE) / CAST(ws AS DOUBLE) / 1.0 AS boot_mean
         FROM reps),
       ord AS (
         SELECT b, boot_mean,
                row_number() OVER (ORDER BY boot_mean ASC, b ASC) - 1 AS rn
         FROM means),
       cnt AS (SELECT CAST(count(*) AS BIGINT) AS n_replicas FROM means),
       lo AS (SELECT round(boot_mean, 4) AS ci_lo FROM ord WHERE rn = 2),
       hi AS (SELECT round(boot_mean, 4) AS ci_hi
              FROM ord, cnt WHERE rn = n_replicas - 3),
       pt AS (SELECT round(CAST(sum(u) AS DOUBLE) / count(*) / 1.0, 4)
                AS point_mean FROM base)
       SELECT n_replicas, point_mean, ci_lo, ci_hi FROM cnt, pt, lo, hi"""


@q("winrate_bootstrap_ci", _winrate_boot_oracle())
def _winrate_bootstrap_ci(spark, sf_dir):
    """95% Poisson-bootstrap CI on the FIRST-POSITION win rate over
    the sequential match log — 'is the position bias significant?'
    answered with the same replica machinery as bootstrap_metric_ci
    (ml/bootstrap.py; Chamandy et al. 2012). The outcome is 0/1 so
    scale=1: replica win rates are exact-int ratios, bit-identical
    across engines and partitionings; a CI excluding 0.5 is the
    rigorous version of judge_position_bias's Wilson flag."""
    from redshells_spark.ml.bootstrap import ci_from_sums, replica_sums

    base = _event_seq_pairs(spark, sf_dir).select(
        F.col("event_id").alias("id"),
        (F.col("prev_value") >= F.col("value")).cast("long").alias("u"),
    )
    reps = replica_sums(base, "u", "id", n_replicas=100, seed=3, scale=1)
    tot = base.agg(
        F.sum("u").cast("long").alias("su"), F.count(F.lit(1)).cast("long").alias("n")
    )
    return ci_from_sums(reps, tot, n_replicas=100, alpha=0.05, scale=1)


@q(
    "conformal_threshold",
    """WITH b AS (
         SELECT event_type, event_id,
                CAST(floor(value * 100 + CAST(0.5 AS DOUBLE)) AS BIGINT) AS s,
                event_id % 2 AS odd
         FROM events),
       cal AS (SELECT event_type, event_id, s,
                      row_number() OVER (
                        PARTITION BY event_type
                        ORDER BY s ASC, event_id ASC) AS rn
               FROM b WHERE odd = 0),
       ncal AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_cal
                FROM cal GROUP BY 1),
       kidx AS (SELECT event_type, n_cal,
                       CAST(least((9 * (n_cal + 1) + 9) // 10, n_cal)
                         AS BIGINT) AS k
                FROM ncal),
       thr AS (SELECT cal.event_type, kidx.n_cal, kidx.k,
                      CAST(cal.s AS BIGINT) AS threshold_c
               FROM cal JOIN kidx
               ON cal.event_type = kidx.event_type AND cal.rn = kidx.k),
       test AS (SELECT event_type,
                       CAST(count(*) AS BIGINT) AS n_test FROM b
                WHERE odd = 1 GROUP BY 1),
       cov AS (SELECT b.event_type,
                      CAST(sum(CASE WHEN b.s <= thr.threshold_c
                                    THEN 1 ELSE 0 END) AS BIGINT) AS n_covered
               FROM b JOIN thr ON b.event_type = thr.event_type
               WHERE b.odd = 1 GROUP BY 1)
       SELECT thr.event_type, thr.n_cal, thr.k, thr.threshold_c,
              test.n_test, cov.n_covered,
              CAST(cov.n_covered AS DOUBLE) / test.n_test AS coverage
       FROM thr JOIN test ON thr.event_type = test.event_type
       JOIN cov ON thr.event_type = cov.event_type""",
)
def _conformal_threshold(spark, sf_dir):
    """Split-conformal prediction thresholds per group (Vovk et al.;
    Angelopoulos & Bates 2023 tutorial form): the calibration half's
    ceil(0.9*(n+1))-th smallest nonconformity score — computed with
    EXACT integer index arithmetic ((9(n+1)+9) div 10; a float
    0.9*(n+1) ceil flips at binary boundaries) — plus empirical
    coverage on the held-out half, whose exchangeability guarantee
    (coverage >= 90% in expectation) the test suite checks at data
    level. One per-group rank window on the calibration half and two
    map-combined aggregates; scores compare as exact cents."""
    ev = _t(spark, sf_dir, "events")
    b = ev.select(
        "event_type",
        "event_id",
        money_units(F.col("value")).alias("s"),
        (F.col("event_id") % 2).alias("odd"),
    ).localCheckpoint(eager=True)  # narrow score rows; the calibration
    # window, the test counts and the coverage join all consume it
    cal = b.filter(F.col("odd") == 0).withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("event_type").orderBy(
                F.col("s").asc(), F.col("event_id").asc()
            )
        ),
    ).localCheckpoint(eager=True)  # ranked calibration half; the size
    # counts and the threshold pick both consume it
    ncal = cal.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_cal")
    )
    kidx = ncal.select(
        F.col("event_type").alias("__et"),
        "n_cal",
        F.least(
            F.expr("(9 * (n_cal + 1) + 9) div 10"), F.col("n_cal")
        )
        .cast("long")
        .alias("k"),
    )
    thr = cal.join(
        F.broadcast(kidx),
        (cal["event_type"] == kidx["__et"]) & (cal["rn"] == kidx["k"]),
    ).select(
        "event_type", "n_cal", "k", F.col("s").cast("long").alias("threshold_c")
    )
    test = (
        b.filter(F.col("odd") == 1)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).cast("long").alias("n_test"))
    )
    cov = (
        b.filter(F.col("odd") == 1)
        .join(F.broadcast(thr.select("event_type", "threshold_c")), "event_type")
        .groupBy("event_type")
        .agg(
            F.sum((F.col("s") <= F.col("threshold_c")).cast("int"))
            .cast("long")
            .alias("n_covered")
        )
    )
    return (
        thr.join(test, "event_type")
        .join(cov, "event_type")
        .select(
            "event_type",
            "n_cal",
            "k",
            "threshold_c",
            "n_test",
            "n_covered",
            (F.col("n_covered").cast("double") / F.col("n_test")).alias(
                "coverage"
            ),
        )
    )


# --------------------------------------------- speculative-decoding accept


@q(
    "draft_acceptance_stats",
    """WITH tok AS (
         SELECT doc_id, lang,
                list_filter(string_split(lower(text), ' '), t -> t <> '') AS toks
         FROM documents),
       flat AS (
         SELECT doc_id, lang, unnest(toks) AS token,
                generate_subscripts(toks, 1) AS pos
         FROM tok),
       cons AS (SELECT * FROM flat WHERE pos <= 32),
       -- the draft "model" diverges where md5(token) starts 0-3 AND
       -- the reversed token differs (a deterministic ~25% divergence)
       mism AS (
         SELECT doc_id, min(pos) AS first_bad
         FROM cons
         WHERE substr(md5(token), 1, 1) IN ('0', '1', '2', '3')
           AND reverse(token) <> token
         GROUP BY doc_id),
       per_doc AS (
         SELECT c.doc_id, max(c.lang) AS lang,
                CAST(count(*) AS BIGINT) AS n_cons,
                CAST(coalesce(max(m.first_bad) - 1, count(*)) AS BIGINT) AS lcp
         FROM cons c LEFT JOIN mism m ON m.doc_id = c.doc_id
         GROUP BY c.doc_id)
       SELECT lang,
              CAST(count(*) AS BIGINT) AS n_docs,
              CAST(sum(lcp) AS BIGINT) AS sum_accepted,
              CAST(sum(n_cons) AS BIGINT) AS sum_drafted,
              CAST((2 * sum(lcp) * 10000 + count(*)) // (2 * count(*)) AS BIGINT)
                  AS mean_accept_e4,
              CAST(sum(CASE WHEN lcp = n_cons THEN 1 ELSE 0 END) AS BIGINT)
                  AS n_full_accept
       FROM per_doc GROUP BY lang""",
)
def _draft_acceptance_stats(spark, sf_dir):
    """Speculative-decoding acceptance analytics (Leviathan et al.
    2023): given per-sequence draft vs target token streams, the
    accepted prefix length is the first draft/target mismatch — the
    metric that decides whether a draft model speeds up serving. The
    draft stream is derived deterministically from the corpus (token
    reversed where its md5 leads 0-3), so both engines score identical
    pairs. Exact integer statistics per language: accepted/drafted
    token sums, e4 fixed-point mean acceptance, full-accept count.
    One explode + one min-aggregate — the sequences never self-join."""
    docs = _t(spark, sf_dir, "documents")
    toks = tokenize_on_space(docs, "text", "toks", lowercase=True)
    flat = toks.select(
        "doc_id", "lang", F.posexplode("toks").alias("pos0", "token")
    ).select("doc_id", "lang", (F.col("pos0") + 1).alias("pos"), "token")
    cons = flat.filter(F.col("pos") <= 32)
    mism = (
        cons.filter(
            F.substring(F.md5("token"), 1, 1).isin("0", "1", "2", "3")
            & (F.reverse(F.col("token")) != F.col("token"))
        )
        .groupBy("doc_id")
        .agg(F.min("pos").alias("first_bad"))
    )
    per_doc = (
        cons.join(mism, "doc_id", "left")
        .groupBy("doc_id")
        .agg(
            F.max("lang").alias("lang"),
            F.count(F.lit(1)).cast("long").alias("n_cons"),
            F.coalesce(F.max("first_bad") - 1, F.count(F.lit(1)))
            .cast("long")
            .alias("lcp"),
        )
    )
    return per_doc.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("lcp").cast("long").alias("sum_accepted"),
        F.sum("n_cons").cast("long").alias("sum_drafted"),
        F.expr("(2 * sum(lcp) * 10000 + count(*)) div (2 * count(*))")
        .cast("long")
        .alias("mean_accept_e4"),
        F.sum((F.col("lcp") == F.col("n_cons")).cast("long"))
        .cast("long")
        .alias("n_full_accept"),
    )


# ------------------------------------------------- Brier decomposition


@q(
    "brier_decomposition",
    """WITH b AS (SELECT ((event_id * 1103515245 + 12345) % 2147483647) % 1000001
                    AS p_e6,
                   CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS o
              FROM events),
       bb AS (SELECT p_e6 * 10 // 1000001 AS bin, p_e6, o FROM b),
       per AS (SELECT bin, CAST(count(*) AS BIGINT) AS n,
                      CAST(sum(p_e6) AS BIGINT) AS sp,
                      CAST(sum(o) AS BIGINT) AS so,
                      CAST(sum(p_e6 * p_e6) AS BIGINT) AS spp,
                      CAST(sum(p_e6 * o) AS BIGINT) AS spo
               FROM bb GROUP BY 1),
       tot AS (SELECT CAST(sum(n) AS BIGINT) AS nn, CAST(sum(so) AS BIGINT) AS soo,
                      CAST(sum(spp) AS BIGINT) AS sppt,
                      CAST(sum(spo) AS BIGINT) AS spot,
                      CAST(sum(sp) AS BIGINT) AS spt
               FROM per),
       terms AS (SELECT p.bin, p.n, p.sp, p.so,
                        round(CAST(p.n AS DOUBLE)
                              * (CAST(p.sp AS DOUBLE)
                                   / (CAST(p.n AS DOUBLE) * CAST(1000000 AS DOUBLE))
                                 - CAST(p.so AS DOUBLE) / CAST(p.n AS DOUBLE))
                              * (CAST(p.sp AS DOUBLE)
                                   / (CAST(p.n AS DOUBLE) * CAST(1000000 AS DOUBLE))
                                 - CAST(p.so AS DOUBLE) / CAST(p.n AS DOUBLE)), 9)
                          AS rel9,
                        round(CAST(p.n AS DOUBLE)
                              * (CAST(p.so AS DOUBLE) / CAST(p.n AS DOUBLE)
                                 - CAST(t.soo AS DOUBLE) / CAST(t.nn AS DOUBLE))
                              * (CAST(p.so AS DOUBLE) / CAST(p.n AS DOUBLE)
                                 - CAST(t.soo AS DOUBLE) / CAST(t.nn AS DOUBLE)), 9)
                          AS res9
                 FROM per p CROSS JOIN tot t),
       summ AS (SELECT round(sum(rel9) / CAST(max(t.nn) AS DOUBLE), 6) AS reliability,
                       round(sum(res9) / CAST(max(t.nn) AS DOUBLE), 6) AS resolution,
                       round(CAST(max(t.soo) AS DOUBLE) / CAST(max(t.nn) AS DOUBLE)
                             * (CAST(1 AS DOUBLE)
                                - CAST(max(t.soo) AS DOUBLE) / CAST(max(t.nn) AS DOUBLE)),
                             6) AS uncertainty,
                       round((CAST(max(t.sppt) AS DOUBLE)
                                / (CAST(1000000 AS DOUBLE) * CAST(1000000 AS DOUBLE))
                              - CAST(2 AS DOUBLE) * CAST(max(t.spot) AS DOUBLE)
                                / CAST(1000000 AS DOUBLE)
                              + CAST(max(t.soo) AS DOUBLE))
                             / CAST(max(t.nn) AS DOUBLE), 6) AS brier
                FROM terms c CROSS JOIN tot t)
       SELECT c.bin, c.n,
              CAST(c.sp AS DOUBLE) / (CAST(c.n AS DOUBLE) * CAST(1000000 AS DOUBLE))
                AS mean_p,
              CAST(c.so AS DOUBLE) / CAST(c.n AS DOUBLE) AS frac_pos,
              s.brier, s.reliability, s.resolution, s.uncertainty
       FROM terms c CROSS JOIN summ s""",
)
def _brier_decomposition(spark, sf_dir):
    """Murphy decomposition of the Brier score (Murphy 1973):
    brier = reliability - resolution + uncertainty over 10 probability
    bins, for a deterministic hash-synthesized forecast of the
    purchase outcome (the same multiplicative-hash score discipline
    the sampling queries use — no engine RNG). Complements
    expected_calibration_error: ECE measures miscalibration magnitude,
    the decomposition splits skill into calibration vs discrimination.
    Bin cells are exact int64 from one pass; REL/RES terms are round-9
    doubles over a 10-row relation; the identity
    brier ~= rel - res + unc is pinned in tests/test_r7_ops.py."""
    ev = _t(spark, sf_dir, "events")
    b = ev.select(
        F.expr("((event_id * 1103515245 + 12345) % 2147483647) % 1000001")
        .cast("long")
        .alias("p_e6"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("o"),
    )
    bb = b.select(F.expr("p_e6 * 10 div 1000001").cast("long").alias("bin"), "p_e6", "o")
    per = bb.groupBy("bin").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("p_e6").cast("long").alias("sp"),
        F.sum("o").cast("long").alias("so"),
        F.sum(F.col("p_e6") * F.col("p_e6")).cast("long").alias("spp"),
        F.sum(F.col("p_e6") * F.col("o")).cast("long").alias("spo"),
    )
    tot = per.agg(
        F.sum("n").cast("long").alias("nn"),
        F.sum("so").cast("long").alias("soo"),
        F.sum("spp").cast("long").alias("sppt"),
        F.sum("spo").cast("long").alias("spot"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    e6d = F.lit(1000000.0)
    terms = per.crossJoin(F.broadcast(tot)).select(
        "bin",
        "n",
        "sp",
        "so",
        "nn",
        "soo",
        "sppt",
        "spot",
        F.round(
            d("n")
            * (d("sp") / (d("n") * e6d) - d("so") / d("n"))
            * (d("sp") / (d("n") * e6d) - d("so") / d("n")),
            9,
        ).alias("rel9"),
        F.round(
            d("n")
            * (d("so") / d("n") - d("soo") / d("nn"))
            * (d("so") / d("n") - d("soo") / d("nn")),
            9,
        ).alias("res9"),
    )
    summ = terms.agg(
        F.round(F.sum("rel9") / F.max("nn").cast("double"), 6).alias("reliability"),
        F.round(F.sum("res9") / F.max("nn").cast("double"), 6).alias("resolution"),
        F.round(
            F.max("soo").cast("double")
            / F.max("nn").cast("double")
            * (F.lit(1.0) - F.max("soo").cast("double") / F.max("nn").cast("double")),
            6,
        ).alias("uncertainty"),
        F.round(
            (
                F.max("sppt").cast("double") / (e6d * e6d)
                - F.lit(2.0) * F.max("spot").cast("double") / e6d
                + F.max("soo").cast("double")
            )
            / F.max("nn").cast("double"),
            6,
        ).alias("brier"),
    )
    return terms.crossJoin(F.broadcast(summ)).select(
        "bin",
        "n",
        (d("sp") / (d("n") * e6d)).alias("mean_p"),
        (d("so") / d("n")).alias("frac_pos"),
        "brier",
        "reliability",
        "resolution",
        "uncertainty",
    )


# deterministic second clustering for the agreement metrics: 8 buckets
# of the e6-quantized squared norm (data-driven, engine-identical)
_N2_SQL = """list_reduce(list_transform(range(1, 65),
                    i -> embedding[i]::DOUBLE * embedding[i]::DOUBLE),
                    (acc, x) -> acc + x)"""

_CONTINGENCY_SQL = f"""nb AS (
         SELECT vec_id, CAST(label AS BIGINT) AS a,
                CAST(floor({_N2_SQL} * 1000000 + CAST(0.5 AS DOUBLE)) AS BIGINT)
                  AS n2_e6
         FROM embeddings),
       mxn AS (SELECT CAST(max(n2_e6) AS BIGINT) AS mx FROM nb),
       pts AS (SELECT a, CAST(n2_e6 * 8 // (mxn.mx + 1) AS BIGINT) AS b
               FROM nb CROSS JOIN mxn),
       ct AS (SELECT a, b, CAST(count(*) AS BIGINT) AS nij
              FROM pts GROUP BY 1, 2),
       ma AS (SELECT a, CAST(sum(nij) AS BIGINT) AS ai FROM ct GROUP BY 1),
       mb AS (SELECT b, CAST(sum(nij) AS BIGINT) AS bj FROM ct GROUP BY 1),
       nn AS (SELECT CAST(sum(nij) AS BIGINT) AS n FROM ct)"""


def _norm_buckets(spark, sf_dir):
    """(vec_id, a=label, b=norm-octile) — the two clusterings the
    agreement metrics compare. The squared-norm fold runs in index
    order (zip_with left fold == DuckDB list_reduce over range)."""
    emb = _t(spark, sf_dir, "embeddings")
    n2 = F.aggregate(
        F.transform(F.col("embedding"), lambda x: x.cast("double") * x.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    nb = emb.select(
        "vec_id",
        F.col("label").cast("long").alias("a"),
        F.floor(n2 * F.lit(1000000.0) + F.lit(0.5)).cast("long").alias("n2_e6"),
    ).localCheckpoint(eager=True)  # 3 ints/vector — the max-probe and
    # the bucketing both consume it; unpinned, the 64-dim norm fold
    # (the expensive projection) ran twice
    mxn = nb.agg(F.max("n2_e6").alias("mx"))
    return nb.crossJoin(F.broadcast(mxn)).select(
        "a", F.expr("cast(n2_e6 * 8 div (mx + 1) as long)").alias("b")
    )


@session_memo
def _contingency(spark, sf_dir):
    # level-table bounded (|labels| x 8 octiles) but consumed by 3-4
    # branches in EACH of ari/nmi — without the pin every margin and
    # total re-ran the corpus norm fold (18 embeddings scans at the
    # round-8 plan audit). Cached per (session, sf): ari and nmi share
    # one build.
    pts = _norm_buckets(spark, sf_dir)
    return (
        pts.groupBy("a", "b")
        .agg(F.count(F.lit(1)).cast("long").alias("nij"))
        .localCheckpoint(eager=True)
    )


# --------------------------------------------- adjusted Rand index


@q(
    "adjusted_rand_index",
    f"""WITH {_CONTINGENCY_SQL},
       s AS (SELECT CAST(sum(nij * (nij - 1) // 2) AS BIGINT) AS sum_ij FROM ct),
       sa AS (SELECT CAST(sum(ai * (ai - 1) // 2) AS BIGINT) AS sum_a FROM ma),
       sb AS (SELECT CAST(sum(bj * (bj - 1) // 2) AS BIGINT) AS sum_b FROM mb),
       cc AS (SELECT CAST(n.n * (n.n - 1) // 2 AS BIGINT) AS cn2, n.n FROM nn n)
       SELECT cc.n, s.sum_ij, sa.sum_a, sb.sum_b,
              round((CAST(s.sum_ij AS DOUBLE)
                     - CAST(sa.sum_a AS DOUBLE) * CAST(sb.sum_b AS DOUBLE)
                       / CAST(cc.cn2 AS DOUBLE))
                    / ((CAST(sa.sum_a AS DOUBLE) + CAST(sb.sum_b AS DOUBLE))
                       / CAST(2 AS DOUBLE)
                       - CAST(sa.sum_a AS DOUBLE) * CAST(sb.sum_b AS DOUBLE)
                         / CAST(cc.cn2 AS DOUBLE)), 6) AS ari
       FROM s CROSS JOIN sa CROSS JOIN sb CROSS JOIN cc""",
)
def _adjusted_rand_index(spark, sf_dir):
    """Adjusted Rand index (Hubert & Arabie 1985) between the label
    clustering and the norm-octile clustering of the embedding corpus
    — the chance-corrected partition-agreement metric an embedding
    pipeline tracks across re-clusterings. All pair counts C(n,2) are
    exact int64 over the contingency level table (|A|x|B| cells); the
    expected-index correction is one final double formula. At 10^9
    vectors the only fact-scale work is one map-combined groupBy."""
    ct = _contingency(spark, sf_dir)
    ma = ct.groupBy("a").agg(F.sum("nij").cast("long").alias("ai"))
    mb = ct.groupBy("b").agg(F.sum("nij").cast("long").alias("bj"))
    s = ct.agg(
        F.sum(F.expr("nij * (nij - 1) div 2")).cast("long").alias("sum_ij")
    )
    sa = ma.agg(F.sum(F.expr("ai * (ai - 1) div 2")).cast("long").alias("sum_a"))
    sb = mb.agg(F.sum(F.expr("bj * (bj - 1) div 2")).cast("long").alias("sum_b"))
    nn = ct.agg(F.sum("nij").cast("long").alias("n"))
    cc = nn.select("n", F.expr("cast(n * (n - 1) div 2 as long)").alias("cn2"))
    one = (
        s.crossJoin(F.broadcast(sa))
        .crossJoin(F.broadcast(sb))
        .crossJoin(F.broadcast(cc))
    )
    exp = (
        F.col("sum_a").cast("double")
        * F.col("sum_b").cast("double")
        / F.col("cn2").cast("double")
    )
    return one.select(
        "n",
        "sum_ij",
        "sum_a",
        "sum_b",
        F.round(
            (F.col("sum_ij").cast("double") - exp)
            / (
                (F.col("sum_a").cast("double") + F.col("sum_b").cast("double"))
                / F.lit(2.0)
                - exp
            ),
            6,
        ).alias("ari"),
    )


# --------------------------------------- normalized mutual information


@q(
    "nmi_clusterings",
    f"""WITH {_CONTINGENCY_SQL},
       mi AS (SELECT CAST(sum(CAST(floor(
                (CAST(ct.nij AS DOUBLE) / CAST(nn.n AS DOUBLE))
                * ln(CAST(ct.nij AS DOUBLE) * CAST(nn.n AS DOUBLE)
                     / (CAST(ma.ai AS DOUBLE) * CAST(mb.bj AS DOUBLE)))
                * CAST(1000000000 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT))
              AS BIGINT) AS mi_e9
             FROM ct JOIN ma USING (a) JOIN mb USING (b) CROSS JOIN nn),
       ha AS (SELECT CAST(sum(CAST(floor(
                -(CAST(ai AS DOUBLE) / CAST(nn.n AS DOUBLE))
                * ln(CAST(ai AS DOUBLE) / CAST(nn.n AS DOUBLE))
                * CAST(1000000000 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT))
              AS BIGINT) AS ha_e9
             FROM ma CROSS JOIN nn),
       hb AS (SELECT CAST(sum(CAST(floor(
                -(CAST(bj AS DOUBLE) / CAST(nn.n AS DOUBLE))
                * ln(CAST(bj AS DOUBLE) / CAST(nn.n AS DOUBLE))
                * CAST(1000000000 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT))
              AS BIGINT) AS hb_e9
             FROM mb CROSS JOIN nn)
       SELECT nn.n,
              round(CAST(mi.mi_e9 AS DOUBLE) / CAST(1000000000 AS DOUBLE), 6)
                AS mutual_info,
              round(CAST(ha.ha_e9 AS DOUBLE) / CAST(1000000000 AS DOUBLE), 6)
                AS h_labels,
              round(CAST(hb.hb_e9 AS DOUBLE) / CAST(1000000000 AS DOUBLE), 6)
                AS h_buckets,
              round(CAST(mi.mi_e9 AS DOUBLE)
                    / ((CAST(ha.ha_e9 AS DOUBLE) + CAST(hb.hb_e9 AS DOUBLE))
                       / CAST(2 AS DOUBLE)), 6) AS nmi
       FROM mi CROSS JOIN ha CROSS JOIN hb CROSS JOIN nn""",
)
def _nmi_clusterings(spark, sf_dir):
    """Normalized mutual information (arithmetic-mean normalization,
    the scikit-learn default) between the same two clusterings as
    adjusted_rand_index — the information-theoretic agreement twin.
    Every MI/entropy term is a single double over exact int64
    contingency counts, e9-quantized BEFORE the cell-level sums
    (|A|x|B| cells, a level table), so the statistic is
    partition-order-free."""
    ct = _contingency(spark, sf_dir)
    ma = ct.groupBy("a").agg(F.sum("nij").cast("long").alias("ai"))
    mb = ct.groupBy("b").agg(F.sum("nij").cast("long").alias("bj"))
    nn = ct.agg(F.sum("nij").cast("long").alias("n"))
    nd = F.col("n").cast("double")
    mi_term = (
        (F.col("nij").cast("double") / nd)
        * F.log(
            F.col("nij").cast("double")
            * nd
            / (F.col("ai").cast("double") * F.col("bj").cast("double"))
        )
        * F.lit(1.0e9)
        + F.lit(0.5)
    )
    mi = (
        ct.join(F.broadcast(ma), "a")
        .join(F.broadcast(mb), "b")
        .crossJoin(F.broadcast(nn))
        .select(F.floor(mi_term).cast("long").alias("t"))
        .agg(F.sum("t").cast("long").alias("mi_e9"))
    )

    def _entropy(margin, col, out):
        p = F.col(col).cast("double") / nd
        return (
            margin.crossJoin(F.broadcast(nn))
            .select(
                F.floor((-p) * F.log(p) * F.lit(1.0e9) + F.lit(0.5))
                .cast("long")
                .alias("t")
            )
            .agg(F.sum("t").cast("long").alias(out))
        )

    ha = _entropy(ma, "ai", "ha_e9")
    hb = _entropy(mb, "bj", "hb_e9")
    one = (
        mi.crossJoin(F.broadcast(ha))
        .crossJoin(F.broadcast(hb))
        .crossJoin(F.broadcast(nn))
    )
    e9 = F.lit(1.0e9)
    return one.select(
        "n",
        F.round(F.col("mi_e9").cast("double") / e9, 6).alias("mutual_info"),
        F.round(F.col("ha_e9").cast("double") / e9, 6).alias("h_labels"),
        F.round(F.col("hb_e9").cast("double") / e9, 6).alias("h_buckets"),
        F.round(
            F.col("mi_e9").cast("double")
            / (
                (F.col("ha_e9").cast("double") + F.col("hb_e9").cast("double"))
                / F.lit(2.0)
            ),
            6,
        ).alias("nmi"),
    )


# --------------------------------------------- centroid silhouette


@q(
    "centroid_silhouette",
    """WITH cent AS (
         SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cid,
                embedding
         FROM embeddings WHERE vec_id % 50 = 0 AND vec_id < 800),
       d2 AS (
         SELECT e.vec_id AS eid, c.cid AS cid,
                list_reduce(list_transform(range(1, 65),
                    i -> (e.embedding[i]::DOUBLE - c.embedding[i]::DOUBLE)
                       * (e.embedding[i]::DOUBLE - c.embedding[i]::DOUBLE)),
                    (acc, x) -> acc + x) AS d2
         FROM embeddings e CROSS JOIN cent c),
       r AS (SELECT eid, cid, d2,
                    row_number() OVER (PARTITION BY eid
                                       ORDER BY d2 ASC, cid ASC) AS rn
             FROM d2),
       pv AS (SELECT eid,
                     CAST(max(CASE WHEN rn = 1 THEN cid END) AS BIGINT) AS cid,
                     max(CASE WHEN rn = 1 THEN d2 END) AS a2,
                     max(CASE WHEN rn = 2 THEN d2 END) AS b2
              FROM r WHERE rn <= 2 GROUP BY 1),
       sil AS (SELECT cid,
                CAST(floor(CASE WHEN greatest(sqrt(a2), sqrt(b2))
                                     > CAST(0 AS DOUBLE)
                   THEN (sqrt(b2) - sqrt(a2)) / greatest(sqrt(a2), sqrt(b2))
                   ELSE CAST(0 AS DOUBLE) END * 1000000
                   + CAST(0.5 AS DOUBLE)) AS BIGINT) AS s_e6
               FROM pv)
       SELECT cid, CAST(count(*) AS BIGINT) AS n_points,
              round(CAST(sum(s_e6) AS DOUBLE) / CAST(count(*) AS DOUBLE)
                    / CAST(1000000 AS DOUBLE), 6) AS mean_silhouette
       FROM sil GROUP BY 1""",
)
def _centroid_silhouette(spark, sf_dir):
    """Centroid-based silhouette per cluster (the simplified silhouette
    of Hruschka et al.: distances to centroids, not all-pairs — THE
    scale-safe variant, O(N*k) not O(N^2)): a = distance to own
    centroid, b = distance to the nearest other centroid, s = (b-a)/
    max(a,b), e6-quantized per point before the per-cluster mean.
    Centroids are the strided corpus vectors the IVF oracle family
    pins; the distance fold runs in index order on both engines so
    assignments and s-values agree bit-for-bit."""
    emb = _t(spark, sf_dir, "embeddings")
    cent_rows = (
        emb.filter((F.col("vec_id") % 50 == 0) & (F.col("vec_id") < 800))
        .orderBy("vec_id")
        .select("embedding")
        .collect()
    )
    cent_df = spark.createDataFrame(
        [([[float(x) for x in r["embedding"]] for r in cent_rows],)],
        "__cents array<array<double>>",
    )
    dists = F.transform(
        F.col("__cents"),
        lambda c, i: F.struct(
            F.aggregate(
                F.zip_with(
                    F.transform(F.col("embedding"), lambda x: x.cast("double")),
                    c,
                    lambda x, y: (x - y) * (x - y),
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ).alias("d"),
            i.alias("cid"),
        ),
    )
    # spread the corpus before the O(k*d) distance fold — a small
    # corpus arrives as one scan split and would run the heaviest
    # expression on one core (the SemDeDup assignment precedent);
    # per-point s_e6 is an exact int64 so partitioning cannot change
    # the per-cluster sums
    n_part = spark.sparkContext.defaultParallelism
    two = (
        emb.repartition(n_part, "vec_id")
        .crossJoin(F.broadcast(cent_df))
        .select(F.slice(F.array_sort(dists), 1, 2).alias("t2"))
        .select(
            F.col("t2")[0]["cid"].cast("long").alias("cid"),
            F.col("t2")[0]["d"].alias("a2"),
            F.col("t2")[1]["d"].alias("b2"),
        )
    )
    ga = F.greatest(F.sqrt(F.col("a2")), F.sqrt(F.col("b2")))
    s = F.when(
        ga > F.lit(0.0),
        (F.sqrt(F.col("b2")) - F.sqrt(F.col("a2"))) / ga,
    ).otherwise(F.lit(0.0))
    sil = two.select(
        "cid",
        F.floor(s * F.lit(1000000.0) + F.lit(0.5)).cast("long").alias("s_e6"),
    )
    return sil.groupBy("cid").agg(
        F.count(F.lit(1)).cast("long").alias("n_points"),
        F.round(
            F.sum("s_e6").cast("double")
            / F.count(F.lit(1)).cast("double")
            / F.lit(1000000.0),
            6,
        ).alias("mean_silhouette"),
    )


# --------------------------------------------- Spiegelhalter Z


@q(
    "spiegelhalter_z",
    """WITH b AS (SELECT ((event_id * 1103515245 + 12345) % 2147483647) % 1000001
                    AS p_e6,
                  CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS o
             FROM events),
       t AS (SELECT
            CAST(floor((CAST(o AS DOUBLE)
                        - CAST(p_e6 AS DOUBLE) / CAST(1000000 AS DOUBLE))
                       * (CAST(1 AS DOUBLE)
                          - CAST(2 AS DOUBLE) * CAST(p_e6 AS DOUBLE)
                            / CAST(1000000 AS DOUBLE))
                       * CAST(1000000000 AS DOUBLE)
                       + CAST(0.5 AS DOUBLE)) AS BIGINT) AS num_e9,
            CAST(floor((CAST(1 AS DOUBLE)
                        - CAST(2 AS DOUBLE) * CAST(p_e6 AS DOUBLE)
                          / CAST(1000000 AS DOUBLE))
                       * (CAST(1 AS DOUBLE)
                          - CAST(2 AS DOUBLE) * CAST(p_e6 AS DOUBLE)
                            / CAST(1000000 AS DOUBLE))
                       * (CAST(p_e6 AS DOUBLE) / CAST(1000000 AS DOUBLE))
                       * (CAST(1 AS DOUBLE)
                          - CAST(p_e6 AS DOUBLE) / CAST(1000000 AS DOUBLE))
                       * CAST(1000000000 AS DOUBLE)
                       + CAST(0.5 AS DOUBLE)) AS BIGINT) AS den_e9
           FROM b),
       agg AS (SELECT CAST(count(*) AS BIGINT) AS n,
                      CAST(sum(num_e9) AS BIGINT) AS snum,
                      CAST(sum(den_e9) AS BIGINT) AS sden
               FROM t)
       SELECT n,
              round((CAST(snum AS DOUBLE) / CAST(1000000000 AS DOUBLE))
                    / sqrt(CAST(sden AS DOUBLE) / CAST(1000000000 AS DOUBLE)), 6)
                AS z,
              CAST(abs((CAST(snum AS DOUBLE) / CAST(1000000000 AS DOUBLE))
                       / sqrt(CAST(sden AS DOUBLE)
                              / CAST(1000000000 AS DOUBLE)))
                   > CAST(1.96 AS DOUBLE) AS BIGINT) AS reject_005
       FROM agg""",
)
def _spiegelhalter_z(spark, sf_dir):
    """Spiegelhalter's calibration Z test (1986): Z = sum((o-p)(1-2p))
    / sqrt(sum((1-2p)^2 p(1-p))) over the same deterministic empirical
    scorer the Brier decomposition grades — the global-calibration
    significance check next to expected_calibration_error's bin-level
    view. Per-row numerator/denominator terms are single doubles over
    the exact e6 score, e9-quantized before the two int64 sums."""
    ev = _t(spark, sf_dir, "events")
    b = ev.select(
        (
            ((F.col("event_id") * 1103515245 + 12345) % 2147483647) % 1000001
        ).alias("p_e6"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("o"),
    )
    p = F.col("p_e6").cast("double") / F.lit(1000000.0)
    one_m2p = F.lit(1.0) - F.lit(2.0) * F.col("p_e6").cast("double") / F.lit(
        1000000.0
    )
    num = (
        F.floor(
            (F.col("o").cast("double") - p) * one_m2p * F.lit(1.0e9) + F.lit(0.5)
        )
        .cast("long")
        .alias("num_e9")
    )
    den = (
        F.floor(one_m2p * one_m2p * p * (F.lit(1.0) - p) * F.lit(1.0e9) + F.lit(0.5))
        .cast("long")
        .alias("den_e9")
    )
    agg = b.select(num, den).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("num_e9").cast("long").alias("snum"),
        F.sum("den_e9").cast("long").alias("sden"),
    )
    e9 = F.lit(1.0e9)
    z = (F.col("snum").cast("double") / e9) / F.sqrt(
        F.col("sden").cast("double") / e9
    )
    return agg.select(
        "n",
        F.round(z, 6).alias("z"),
        (F.abs(z) > F.lit(1.96)).cast("long").alias("reject_005"),
    )


# ------------------------------------------------ MCC threshold scan


@q(
    "mcc_threshold_scan",
    """WITH lv AS (SELECT CAST(l_quantity AS BIGINT) AS s,
                  count(*)::BIGINT AS n,
                  sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)::BIGINT
                    AS pos
           FROM lineitem GROUP BY 1),
       tot AS (SELECT CAST(sum(n) AS BIGINT) AS n_tot,
                      CAST(sum(pos) AS BIGINT) AS p_tot FROM lv),
       c AS (SELECT s,
                    CAST(sum(n) OVER (ORDER BY s DESC
                      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_n,
                    CAST(sum(pos) OVER (ORDER BY s DESC
                      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_pos
             FROM lv),
       m AS (SELECT c.s AS threshold,
                    c.cum_pos AS tp,
                    CAST(c.cum_n - c.cum_pos AS BIGINT) AS fp,
                    CAST(tot.p_tot - c.cum_pos AS BIGINT) AS fn,
                    CAST(tot.n_tot - tot.p_tot - (c.cum_n - c.cum_pos)
                         AS BIGINT) AS tn
             FROM c CROSS JOIN tot),
       k AS (SELECT *,
                    CAST(floor(
                      (CAST(tp AS DOUBLE) * CAST(tn AS DOUBLE)
                       - CAST(fp AS DOUBLE) * CAST(fn AS DOUBLE))
                      / sqrt(CAST(tp + fp AS DOUBLE) * CAST(tp + fn AS DOUBLE)
                             * CAST(tn + fp AS DOUBLE)
                             * CAST(tn + fn AS DOUBLE))
                      * CAST(1000000000 AS DOUBLE)
                      + CAST(0.5 AS DOUBLE)) AS BIGINT) AS mcc_e9
             FROM m WHERE (tp + fp) > 0 AND (tp + fn) > 0
                      AND (tn + fp) > 0 AND (tn + fn) > 0)
       SELECT threshold, tp, fp, fn, tn,
              round(CAST(mcc_e9 AS DOUBLE) / CAST(1000000000 AS DOUBLE), 6)
                AS mcc,
              CAST(CASE WHEN row_number() OVER (
                     ORDER BY mcc_e9 DESC, threshold ASC) = 1
                   THEN 1 ELSE 0 END AS BIGINT) AS is_best
       FROM k ORDER BY threshold""",
)
def _mcc_threshold_scan(spark, sf_dir):
    """Matthews-correlation scan over every score threshold of the
    quantity->returnflag scorer the pr_curve/best_f1 family grades —
    MCC is the confusion-matrix correlation that stays honest under
    class imbalance where F1 does not. Confusion cells come from the
    same descending cumulative level-table window as pr_curve (exact
    int64); MCC is e9-quantized per threshold so the argmax flag is an
    exact-integer comparison with a full tie-break. Degenerate
    thresholds (empty margin) are excluded exactly on both engines."""
    li = _t(spark, sf_dir, "lineitem")
    lv = li.groupBy(F.col("l_quantity").cast("long").alias("s")).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum((F.col("l_returnflag") == "R").cast("long"))
        .cast("long")
        .alias("pos"),
    )
    tot = lv.agg(
        F.sum("n").cast("long").alias("n_tot"),
        F.sum("pos").cast("long").alias("p_tot"),
    )
    wd = Window.orderBy(F.col("s").desc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    c = lv.select(
        "s",
        F.sum("n").over(wd).cast("long").alias("cum_n"),
        F.sum("pos").over(wd).cast("long").alias("cum_pos"),
    )
    m = c.crossJoin(F.broadcast(tot)).select(
        F.col("s").alias("threshold"),
        F.col("cum_pos").alias("tp"),
        (F.col("cum_n") - F.col("cum_pos")).cast("long").alias("fp"),
        (F.col("p_tot") - F.col("cum_pos")).cast("long").alias("fn"),
        (F.col("n_tot") - F.col("p_tot") - (F.col("cum_n") - F.col("cum_pos")))
        .cast("long")
        .alias("tn"),
    )
    k = m.filter(
        ((F.col("tp") + F.col("fp")) > 0)
        & ((F.col("tp") + F.col("fn")) > 0)
        & ((F.col("tn") + F.col("fp")) > 0)
        & ((F.col("tn") + F.col("fn")) > 0)
    ).withColumn(
        "mcc_e9",
        F.floor(
            (
                F.col("tp").cast("double") * F.col("tn").cast("double")
                - F.col("fp").cast("double") * F.col("fn").cast("double")
            )
            / F.sqrt(
                (F.col("tp") + F.col("fp")).cast("double")
                * (F.col("tp") + F.col("fn")).cast("double")
                * (F.col("tn") + F.col("fp")).cast("double")
                * (F.col("tn") + F.col("fn")).cast("double")
            )
            * F.lit(1000000000.0)
            + F.lit(0.5)
        ).cast("long"),
    )
    wb = Window.orderBy(F.col("mcc_e9").desc(), F.col("threshold").asc())
    return k.select(
        "threshold",
        "tp",
        "fp",
        "fn",
        "tn",
        F.round(F.col("mcc_e9").cast("double") / F.lit(1000000000.0), 6).alias(
            "mcc"
        ),
        (F.row_number().over(wb) == 1).cast("long").alias("is_best"),
    ).orderBy("threshold")


# ------------------------------------------------ DeLong AUC CI


@q(
    "auc_delong_ci",
    """WITH lv AS (SELECT CAST(l_quantity AS BIGINT) AS s,
                  CAST(count(*) AS BIGINT) AS n,
                  CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
                       AS BIGINT) AS pos
           FROM lineitem GROUP BY 1),
       tot AS (SELECT CAST(sum(pos) AS BIGINT) AS p,
                      CAST(sum(n - pos) AS BIGINT) AS q FROM lv),
       c AS (SELECT s, pos, CAST(n - pos AS BIGINT) AS neg,
                    CAST(coalesce(sum(n - pos) OVER (ORDER BY s ASC
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                      AS BIGINT) AS cumneg_lt,
                    CAST(coalesce(sum(pos) OVER (ORDER BY s DESC
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                      AS BIGINT) AS cumpos_gt
             FROM lv),
       pl AS (SELECT c.s, c.pos, c.neg,
                     CAST(2 * c.cumneg_lt + c.neg AS BIGINT) AS v2,
                     CAST(2 * c.cumpos_gt + c.pos AS BIGINT) AS u2,
                     tot.p, tot.q
              FROM c CROSS JOIN tot),
       mo AS (SELECT CAST(sum(pos * v2) AS BIGINT) AS auc2num,
                     CAST(sum(CAST(floor(
                       CAST(pos AS DOUBLE)
                       * (CAST(v2 AS DOUBLE) / (CAST(2 AS DOUBLE)
                                                * CAST(q AS DOUBLE)))
                       * (CAST(v2 AS DOUBLE) / (CAST(2 AS DOUBLE)
                                                * CAST(q AS DOUBLE)))
                       * CAST(1000000000000 AS DOUBLE)
                       + CAST(0.5 AS DOUBLE)) AS BIGINT)) AS BIGINT) AS a2_e12,
                     CAST(sum(CAST(floor(
                       CAST(neg AS DOUBLE)
                       * (CAST(u2 AS DOUBLE) / (CAST(2 AS DOUBLE)
                                                * CAST(p AS DOUBLE)))
                       * (CAST(u2 AS DOUBLE) / (CAST(2 AS DOUBLE)
                                                * CAST(p AS DOUBLE)))
                       * CAST(1000000000000 AS DOUBLE)
                       + CAST(0.5 AS DOUBLE)) AS BIGINT)) AS BIGINT) AS b2_e12
              FROM pl)
       SELECT tot.p AS n_pos, tot.q AS n_neg,
              round(CAST(mo.auc2num AS DOUBLE)
                    / (CAST(2 AS DOUBLE) * CAST(tot.p AS DOUBLE)
                       * CAST(tot.q AS DOUBLE)), 6) AS auc,
              round(sqrt(
                ((CAST(mo.a2_e12 AS DOUBLE) / CAST(1000000000000 AS DOUBLE)
                  - CAST(tot.p AS DOUBLE)
                    * (CAST(mo.auc2num AS DOUBLE)
                       / (CAST(2 AS DOUBLE) * CAST(tot.p AS DOUBLE)
                          * CAST(tot.q AS DOUBLE)))
                    * (CAST(mo.auc2num AS DOUBLE)
                       / (CAST(2 AS DOUBLE) * CAST(tot.p AS DOUBLE)
                          * CAST(tot.q AS DOUBLE))))
                 / CAST(tot.p - 1 AS DOUBLE)) / CAST(tot.p AS DOUBLE)
                + ((CAST(mo.b2_e12 AS DOUBLE) / CAST(1000000000000 AS DOUBLE)
                    - CAST(tot.q AS DOUBLE)
                      * (CAST(mo.auc2num AS DOUBLE)
                         / (CAST(2 AS DOUBLE) * CAST(tot.p AS DOUBLE)
                            * CAST(tot.q AS DOUBLE)))
                      * (CAST(mo.auc2num AS DOUBLE)
                         / (CAST(2 AS DOUBLE) * CAST(tot.p AS DOUBLE)
                            * CAST(tot.q AS DOUBLE))))
                   / CAST(tot.q - 1 AS DOUBLE)) / CAST(tot.q AS DOUBLE)), 6)
                AS se
       FROM tot CROSS JOIN mo""",
)
def _auc_delong_ci(spark, sf_dir):
    """DeLong standard error for the exact AUC (DeLong et al. 1988) —
    the variance of the Mann-Whitney U estimator from per-observation
    PLACEMENTS, computed entirely on the score level table: a
    positive's placement is (2*cumneg_below + neg_at)/(2*N-), a
    negative's is the mirror; both second moments are e12-quantized
    per level before summation so the placement variances are
    partition-order-free. Completes exact_auc with the inferential
    readout (auc, se) every model comparison needs; the midrank
    half-credit convention matches the exact_auc tie treatment."""
    li = _t(spark, sf_dir, "lineitem")
    lv = li.groupBy(F.col("l_quantity").cast("long").alias("s")).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum((F.col("l_returnflag") == "R").cast("long"))
        .cast("long")
        .alias("pos"),
    )
    tot = lv.agg(
        F.sum("pos").cast("long").alias("p"),
        F.sum(F.col("n") - F.col("pos")).cast("long").alias("q"),
    )
    w_lt = Window.orderBy(F.col("s").asc()).rowsBetween(
        Window.unboundedPreceding, -1
    )
    w_gt = Window.orderBy(F.col("s").desc()).rowsBetween(
        Window.unboundedPreceding, -1
    )
    c = lv.select(
        "s",
        "pos",
        (F.col("n") - F.col("pos")).cast("long").alias("neg"),
        F.coalesce(F.sum(F.col("n") - F.col("pos")).over(w_lt), F.lit(0))
        .cast("long")
        .alias("cumneg_lt"),
        F.coalesce(F.sum("pos").over(w_gt), F.lit(0))
        .cast("long")
        .alias("cumpos_gt"),
    )
    pl = c.crossJoin(F.broadcast(tot)).select(
        "s",
        "pos",
        "neg",
        (F.lit(2) * F.col("cumneg_lt") + F.col("neg")).cast("long").alias("v2"),
        (F.lit(2) * F.col("cumpos_gt") + F.col("pos")).cast("long").alias("u2"),
        "p",
        "q",
    )
    tv = F.col("v2").cast("double") / (F.lit(2.0) * F.col("q").cast("double"))
    tu = F.col("u2").cast("double") / (F.lit(2.0) * F.col("p").cast("double"))
    mo = pl.agg(
        F.sum(F.col("pos") * F.col("v2")).cast("long").alias("auc2num"),
        F.sum(
            F.floor(
                F.col("pos").cast("double") * tv * tv * F.lit(1.0e12) + F.lit(0.5)
            ).cast("long")
        )
        .cast("long")
        .alias("a2_e12"),
        F.sum(
            F.floor(
                F.col("neg").cast("double") * tu * tu * F.lit(1.0e12) + F.lit(0.5)
            ).cast("long")
        )
        .cast("long")
        .alias("b2_e12"),
    )
    x = tot.crossJoin(F.broadcast(mo))
    pd_, qd = F.col("p").cast("double"), F.col("q").cast("double")
    auc = F.col("auc2num").cast("double") / (F.lit(2.0) * pd_ * qd)
    s10 = (
        F.col("a2_e12").cast("double") / F.lit(1.0e12) - pd_ * auc * auc
    ) / (F.col("p") - 1).cast("double")
    s01 = (
        F.col("b2_e12").cast("double") / F.lit(1.0e12) - qd * auc * auc
    ) / (F.col("q") - 1).cast("double")
    se = F.sqrt(s10 / pd_ + s01 / qd)
    return x.select(
        F.col("p").alias("n_pos"),
        F.col("q").alias("n_neg"),
        F.round(auc, 6).alias("auc"),
        F.round(se, 6).alias("se"),
    )


# --------------------------------------------------- exact PR-AUC


@q(
    "pr_auc_exact",
    """WITH ev AS (SELECT CAST(floor(value * 100 + CAST(0.5 AS DOUBLE))
                         AS BIGINT) AS score_c,
                      CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END
                        AS pos
               FROM events),
       lvl AS (SELECT score_c,
                      CAST(sum(pos) AS BIGINT) AS np,
                      CAST(sum(1 - pos) AS BIGINT) AS nn
               FROM ev GROUP BY 1),
       cum AS (SELECT score_c, np, nn,
                      CAST(sum(np) OVER (ORDER BY score_c DESC
                        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS tp,
                      CAST(sum(nn) OVER (ORDER BY score_c DESC
                        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS fp
               FROM lvl),
       tot AS (SELECT CAST(sum(np) AS BIGINT) AS p,
                      CAST(sum(nn) AS BIGINT) AS ng,
                      CAST(count(*) AS BIGINT) AS n_levels
               FROM lvl),
       terms AS (SELECT CAST(cum.np * cum.tp * 1000000000
                             // (tot.p * (cum.tp + cum.fp)) AS BIGINT)
                          AS term_e9
                 FROM cum CROSS JOIN tot WHERE cum.np > 0)
       SELECT tot.p AS n_pos, tot.ng AS n_neg, tot.n_levels,
              CAST(s.ap_e9 AS BIGINT) AS ap_e9,
              round(CAST(s.ap_e9 AS DOUBLE) / CAST(1000000000 AS DOUBLE), 6)
                AS ap
       FROM (SELECT sum(term_e9) AS ap_e9 FROM terms) s CROSS JOIN tot""",
)
def _pr_auc_exact(spark, sf_dir):
    """Exact average precision (step-wise PR-AUC, the sklearn AP
    definition: AP = Σ_levels ΔR_i · P_i) for the "does event value
    predict a purchase" score, computed entirely on the distinct-score
    LEVEL table: per-level cumulative TP/FP from one window over the
    level relation, each level's ΔTP·TP/(P·(TP+FP)) term an EXACT
    integer floor-division at e9 (numerator ≤ ~4e17, inside int64),
    then one exact integer sum — no per-row float accumulation
    anywhere, so the area is bit-identical across engines and
    partitionings. Completes the eval family beside auc_delong_ci
    (ROC), mcc_threshold_scan, and expected_calibration_error; PR is
    the imbalance-honest curve. Fact-scale work is one map-combined
    groupBy(score level); the window runs over levels only."""
    ev = _t(spark, sf_dir, "events").select(
        F.expr("cast(floor(value * 100 + cast(0.5 as double)) as bigint)").alias(
            "score_c"
        ),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("pos"),
    )
    lvl = ev.groupBy("score_c").agg(
        F.sum("pos").cast("long").alias("np"),
        F.sum(1 - F.col("pos")).cast("long").alias("nn"),
    )
    w = Window.orderBy(F.col("score_c").desc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = lvl.select(
        "score_c",
        "np",
        F.sum("np").over(w).cast("long").alias("tp"),
        F.sum("nn").over(w).cast("long").alias("fp"),
    )
    tot = lvl.agg(
        F.sum("np").cast("long").alias("p"),
        F.sum("nn").cast("long").alias("ng"),
        F.count(F.lit(1)).cast("long").alias("n_levels"),
    )
    terms = (
        cum.crossJoin(F.broadcast(tot))
        .filter(F.col("np") > 0)
        .select(
            F.expr(
                "cast(np * tp * 1000000000 div (p * (tp + fp)) as bigint)"
            ).alias("term_e9")
        )
    )
    ap = terms.agg(F.sum("term_e9").cast("long").alias("ap_e9"))
    return ap.crossJoin(F.broadcast(tot)).select(
        F.col("p").alias("n_pos"),
        F.col("ng").alias("n_neg"),
        "n_levels",
        "ap_e9",
        F.round(F.col("ap_e9").cast("double") / F.lit(1e9), 6).alias("ap"),
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


# the same quality rubric the llm_corpus_pipeline oracle replicates
_QUAL_SQL = """qual AS (
         SELECT doc_id, CAST(round(
             (CASE WHEN n_tokens >= 10 AND n_tokens <= 100000 THEN 0.4 ELSE 0.0 END)
             + (CASE WHEN stop_hits / greatest(n_tokens, 1) >= 0.05 THEN 0.3 ELSE 0.0 END)
             + (CASE WHEN punct / greatest(n_chars, 1) <= 0.3 THEN 0.3 ELSE 0.0 END), 4) AS DOUBLE) AS quality
         FROM (SELECT doc_id, length(text) AS n_chars,
                 CAST(len(list_filter(string_split(lower(text), ' '), t -> t <> '')) AS BIGINT) AS n_tokens,
                 CAST(len(list_filter(string_split(lower(text), ' '),
                      t -> t IN ('the','and','of','to','in','is','that','with','for','it'))) AS BIGINT) AS stop_hits,
                 length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')) AS punct
               FROM documents) b)"""

_LANG_SQL = f"""lang AS (
         SELECT doc_id, CASE
             WHEN greatest(hits_de, hits_en, hits_es, hits_fr) = 0 THEN 'und'
             WHEN hits_de = greatest(hits_de, hits_en, hits_es, hits_fr) THEN 'de'
             WHEN hits_en = greatest(hits_de, hits_en, hits_es, hits_fr) THEN 'en'
             WHEN hits_es = greatest(hits_de, hits_en, hits_es, hits_fr) THEN 'es'
             ELSE 'fr' END AS lang_pred
         FROM (SELECT doc_id, {_LANG_HITS_SQL} FROM documents) h)"""


# --------------------------------------------------- Cohen's kappa


@q(
    "cohens_kappa_judges",
    f"""WITH {_QUAL_SQL},
       {_LANG_SQL},
       j AS (SELECT CASE WHEN q.quality >= CAST(0.7 AS DOUBLE)
                    THEN 1 ELSE 0 END AS a,
                    CASE WHEN l.lang_pred = 'en' THEN 1 ELSE 0 END AS b
             FROM qual q JOIN lang l USING (doc_id)),
       cm AS (SELECT CAST(count(*) AS BIGINT) AS n,
                     CAST(sum(a * b) AS BIGINT) AS n11,
                     CAST(sum(a * (1 - b)) AS BIGINT) AS n10,
                     CAST(sum((1 - a) * b) AS BIGINT) AS n01,
                     CAST(sum((1 - a) * (1 - b)) AS BIGINT) AS n00
              FROM j),
       kk AS (SELECT n, n11, n10, n01, n00,
                     CAST(n * (n11 + n00)
                          - ((n11 + n10) * (n11 + n01)
                             + (n01 + n00) * (n10 + n00)) AS BIGINT) AS num,
                     CAST(n * n - ((n11 + n10) * (n11 + n01)
                                   + (n01 + n00) * (n10 + n00)) AS BIGINT)
                       AS den
              FROM cm)
       SELECT n, n11, n10, n01, n00,
              CAST(CASE WHEN num < 0 THEN -(((-num) * 1000000) // den)
                        ELSE (num * 1000000) // den END AS BIGINT)
                AS kappa_e6
       FROM kk""",
)
def _cohens_kappa_judges(spark, sf_dir):
    """Cohen's kappa (1960) between two deterministic document judges
    — "is it high quality" (quality ≥ 0.7 rubric) vs "is it English"
    (stopword language ID) — the chance-corrected inter-rater
    agreement beside mcnemar_rule_compare's marginal test. Kappa is
    fully rational in the confusion counts: κ = (n·agree − Σ r_i c_i)
    / (n² − Σ r_i c_i), so the e6 readout is an exact signed integer
    division (sign applied OUTSIDE the non-negative div — Spark div
    truncates while DuckDB // floors; the r6 dtype lesson). One doc
    scan per judge, one 4-cell confusion aggregate."""
    from redshells_spark.text.analysis import detect_language, quality_score

    docs = _t(spark, sf_dir, "documents")
    qa = quality_score(docs).select(
        "doc_id", (F.col("quality") >= 0.7).cast("long").alias("a")
    )
    lb = detect_language(docs).select(
        "doc_id", (F.col("lang_pred") == "en").cast("long").alias("b")
    )
    j = qa.join(lb, "doc_id")
    cm = j.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("a") * F.col("b")).cast("long").alias("n11"),
        F.sum(F.col("a") * (1 - F.col("b"))).cast("long").alias("n10"),
        F.sum((1 - F.col("a")) * F.col("b")).cast("long").alias("n01"),
        F.sum((1 - F.col("a")) * (1 - F.col("b"))).cast("long").alias("n00"),
    )
    kk = cm.select(
        "n",
        "n11",
        "n10",
        "n01",
        "n00",
        F.expr(
            "cast(n * (n11 + n00) - ((n11 + n10) * (n11 + n01)"
            " + (n01 + n00) * (n10 + n00)) as long)"
        ).alias("num"),
        F.expr(
            "cast(n * n - ((n11 + n10) * (n11 + n01)"
            " + (n01 + n00) * (n10 + n00)) as long)"
        ).alias("den"),
    )
    return kk.select(
        "n",
        "n11",
        "n10",
        "n01",
        "n00",
        F.expr(
            "cast(case when num < 0 then -(((-num) * 1000000) div den)"
            " else (num * 1000000) div den end as long)"
        ).alias("kappa_e6"),
    )


# --------------------------------------------------- Kendall's W


@q(
    "kendall_w_rankings",
    """WITH rev AS (SELECT s.s_nationkey AS nationkey,
                        CAST(sum(CAST(floor(l.l_extendedprice * 100
                                      + CAST(0.5 AS DOUBLE)) AS BIGINT)
                             * (100 - CAST(floor(l.l_discount * 100
                                      + CAST(0.5 AS DOUBLE)) AS BIGINT)))
                             AS BIGINT) AS rev_u,
                        CAST(count(*) AS BIGINT) AS n_items,
                        CAST(count(DISTINCT l.l_orderkey) AS BIGINT) AS n_orders
                 FROM lineitem l JOIN supplier s ON s.s_suppkey = l.l_suppkey
                 GROUP BY 1),
       rk AS (SELECT nationkey,
                     CAST(row_number() OVER (ORDER BY rev_u DESC,
                                             nationkey ASC) AS BIGINT) AS r1,
                     CAST(row_number() OVER (ORDER BY n_items DESC,
                                             nationkey ASC) AS BIGINT) AS r2,
                     CAST(row_number() OVER (ORDER BY n_orders DESC,
                                             nationkey ASC) AS BIGINT) AS r3
              FROM rev),
       d2 AS (SELECT n,
                     CAST(sum((2 * (r1 + r2 + r3) - 3 * (n + 1))
                              * (2 * (r1 + r2 + r3) - 3 * (n + 1)))
                          AS BIGINT) AS sum_d2_x4
              FROM rk CROSS JOIN (SELECT CAST(count(*) AS BIGINT) AS n
                                  FROM rk) nn
              GROUP BY n)
       SELECT n AS n_items, CAST(3 AS BIGINT) AS k_judges, sum_d2_x4,
              CAST(sum_d2_x4 * 1000000 // (3 * (n * n * n - n)) AS BIGINT)
                AS w_e6,
              round(CAST(n - 1 AS DOUBLE) * CAST(sum_d2_x4 AS DOUBLE)
                    / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
                       * CAST(n AS DOUBLE) - CAST(n AS DOUBLE)), 6) AS chi2
       FROM d2""",
)
def _kendall_w_rankings(spark, sf_dir):
    """Kendall's coefficient of concordance W (1939) across three
    deterministic nation rankings — by supplier revenue, by lineitem
    count, by distinct orders — "do the three business lenses agree on
    the league table?", the multi-judge completion of the pairwise
    kendall_tau/rbo agreement family. Full-order row_number rankings
    (tie-break nationkey) mean no tie correction; deviations are kept
    on the ×2 scale so ΣD²×4 is exact int64, W_e6 = ΣD²×4·1e6 div
    (3(n³−n)) (the 4k²/12 factor with k=3 reduces exactly), and the
    chi² = k(n−1)W readout is one fixed IEEE tree. Everything after the one fact groupBy is the 25-row nation
    relation."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    su = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    rev = (
        li.join(su, li["l_suppkey"] == su["s_suppkey"])
        .groupBy(F.col("s_nationkey").alias("nationkey"))
        .agg(
            F.sum(
                money_units(F.col("l_extendedprice"))
                * (F.lit(100) - money_units(F.col("l_discount")))
            )
            .cast("long")
            .alias("rev_u"),
            F.count(F.lit(1)).cast("long").alias("n_items"),
            F.countDistinct("l_orderkey").cast("long").alias("n_orders"),
        )
    )
    w1 = Window.orderBy(F.col("rev_u").desc(), F.col("nationkey").asc())
    w2 = Window.orderBy(F.col("n_items").desc(), F.col("nationkey").asc())
    w3 = Window.orderBy(F.col("n_orders").desc(), F.col("nationkey").asc())
    rk = rev.select(
        "nationkey",
        F.row_number().over(w1).cast("long").alias("r1"),
        F.row_number().over(w2).cast("long").alias("r2"),
        F.row_number().over(w3).cast("long").alias("r3"),
    )
    nn = rk.agg(F.count(F.lit(1)).cast("long").alias("n"))
    d2 = (
        rk.crossJoin(F.broadcast(nn))
        .select(
            "n",
            (
                (2 * (F.col("r1") + F.col("r2") + F.col("r3")) - 3 * (F.col("n") + 1))
                * (2 * (F.col("r1") + F.col("r2") + F.col("r3")) - 3 * (F.col("n") + 1))
            )
            .cast("long")
            .alias("dx4"),
        )
        .groupBy("n")
        .agg(F.sum("dx4").cast("long").alias("sum_d2_x4"))
    )
    nd = F.col("n").cast("double")
    # 4k²(n³−n)/12 with k=3 reduces to the EXACT integer 3(n³−n) —
    # no fractional denominator enters the e6 division
    chi2 = (nd - 1.0) * F.col("sum_d2_x4").cast("double") / (
        nd * nd * nd - nd
    )
    return d2.select(
        F.col("n").alias("n_items"),
        F.lit(3).cast("long").alias("k_judges"),
        "sum_d2_x4",
        F.expr(
            "cast(sum_d2_x4 * 1000000 div (3 * (n * n * n - n)) as long)"
        ).alias("w_e6"),
        F.round(chi2, 6).alias("chi2"),
    )
