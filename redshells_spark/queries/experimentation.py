"""Experimentation and causal readouts: A/B tests, power and allocation,
variance reduction, sequential monitoring, uplift, off-policy and
quasi-experimental estimators, bandit indices.
"""

from __future__ import annotations

from redshells_spark.operators.sequential import sprt_llr_literals
from redshells_spark.queries._shared import *  # noqa: F401,F403


# ------------------------------------------------------------ A/B tests


@q(
    "ab_test_welch",
    """WITH e AS (SELECT user_id % 2 AS grp,
                         CAST(round(value * 100) AS BIGINT) AS vc
                  FROM events WHERE event_type = 'purchase'),
       st AS (SELECT grp, count(*) AS n,
                     sum(CAST(vc AS DOUBLE)) AS s,
                     sum(CAST(vc AS DOUBLE) * CAST(vc AS DOUBLE)) AS ss
              FROM e GROUP BY grp),
       w AS (SELECT a.n AS n1, b.n AS n2,
                    a.s / a.n AS m1, b.s / b.n AS m2,
                    (a.ss - a.s * a.s / a.n) / (a.n - 1) AS v1,
                    (b.ss - b.s * b.s / b.n) / (b.n - 1) AS v2
             FROM st a, st b WHERE a.grp = 0 AND b.grp = 1)
       SELECT n1, n2, round(m1 / 100.0, 4) AS mean1, round(m2 / 100.0, 4) AS mean2,
              round((m1 - m2) / sqrt(v1 / n1 + v2 / n2), 4) AS t_stat,
              round(pow(v1 / n1 + v2 / n2, 2) /
                    (pow(v1 / n1, 2) / (n1 - 1) + pow(v2 / n2, 2) / (n2 - 1)), 4)
                AS welch_df
       FROM w""",
)
def _ab_test_welch(spark, sf_dir):
    """Welch's unequal-variance t-test between two experiment arms
    (portable assignment: user_id parity) on purchase values — the A/B
    analysis primitive. Group moments come from integer-cent sums
    folded as doubles (exact for these magnitudes, so fold order is
    irrelevant); the t statistic and Welch–Satterthwaite df are then
    one fixed IEEE expression, identical on both engines."""
    ev = _t(spark, sf_dir, "events")
    e = ev.filter(F.col("event_type") == "purchase").select(
        (F.col("user_id") % 2).alias("grp"),
        F.round(F.col("value") * 100, 0).cast("long").alias("vc"),
    )
    st = e.groupBy("grp").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("vc").cast("double")).alias("s"),
        F.sum(F.col("vc").cast("double") * F.col("vc").cast("double")).alias("ss"),
    )
    a = st.filter(F.col("grp") == 0).alias("a")
    b = st.filter(F.col("grp") == 1).alias("b")
    j = a.crossJoin(b)
    m1, m2 = F.col("a.s") / F.col("a.n"), F.col("b.s") / F.col("b.n")
    v1 = (F.col("a.ss") - F.col("a.s") * F.col("a.s") / F.col("a.n")) / (F.col("a.n") - 1)
    v2 = (F.col("b.ss") - F.col("b.s") * F.col("b.s") / F.col("b.n")) / (F.col("b.n") - 1)
    se2 = v1 / F.col("a.n") + v2 / F.col("b.n")
    return j.select(
        F.col("a.n").alias("n1"),
        F.col("b.n").alias("n2"),
        _r4(m1 / 100.0, "mean1"),
        _r4(m2 / 100.0, "mean2"),
        _r4((m1 - m2) / F.sqrt(se2), "t_stat"),
        _r4(
            F.pow(se2, 2)
            / (
                F.pow(v1 / F.col("a.n"), 2) / (F.col("a.n") - 1)
                + F.pow(v2 / F.col("b.n"), 2) / (F.col("b.n") - 1)
            ),
            "welch_df",
        ),
    )


# ------------------------------------------------- Simpson's paradox


@q(
    "simpson_rate_check",
    """WITH b AS (
         SELECT event_type, CAST(user_id % 2 AS BIGINT) AS grp,
                CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS hit
         FROM events WHERE event_type IN ('view', 'purchase', 'click')),
       st AS (
         SELECT grp,
                CASE WHEN event_type = 'click' THEN 'click' ELSE 'view_purchase' END AS stratum,
                CAST(count(*) AS BIGINT) AS n,
                CAST(sum(hit) AS BIGINT) AS k
         FROM b GROUP BY 1, 2),
       pooled AS (
         SELECT grp, CAST(sum(n) AS BIGINT) AS n, CAST(sum(k) AS BIGINT) AS k
         FROM st GROUP BY 1),
       pw AS (
         SELECT max(CASE WHEN grp = 0 THEN k END) AS k0,
                max(CASE WHEN grp = 0 THEN n END) AS n0,
                max(CASE WHEN grp = 1 THEN k END) AS k1,
                max(CASE WHEN grp = 1 THEN n END) AS n1
         FROM pooled),
       sw AS (
         SELECT stratum,
                max(CASE WHEN grp = 0 THEN k END) AS k0,
                max(CASE WHEN grp = 0 THEN n END) AS n0,
                max(CASE WHEN grp = 1 THEN k END) AS k1,
                max(CASE WHEN grp = 1 THEN n END) AS n1
         FROM st GROUP BY 1)
       SELECT 'pooled' AS stratum, CAST(k0 AS BIGINT) AS k0, CAST(n0 AS BIGINT) AS n0,
              CAST(k1 AS BIGINT) AS k1, CAST(n1 AS BIGINT) AS n1,
              CAST(CASE WHEN k0 * n1 > k1 * n0 THEN 1
                        WHEN k0 * n1 < k1 * n0 THEN -1 ELSE 0 END AS BIGINT)
                  AS grp0_leads
       FROM pw
       UNION ALL
       SELECT stratum, CAST(k0 AS BIGINT), CAST(n0 AS BIGINT),
              CAST(k1 AS BIGINT), CAST(n1 AS BIGINT),
              CAST(CASE WHEN k0 * n1 > k1 * n0 THEN 1
                        WHEN k0 * n1 < k1 * n0 THEN -1 ELSE 0 END AS BIGINT)
       FROM sw""",
)
def _simpson_rate_check(spark, sf_dir):
    """Simpson's-paradox audit: purchase-rate comparison between two
    user groups, pooled AND within strata, with the lead decided by
    EXACT cross-multiplication (k0·n1 vs k1·n0 — never a float rate).
    A pooled lead that flips sign in every stratum is the aggregation
    artifact every metrics review must rule out. One aggregate over
    (group, stratum) cells; the paradox test itself is integer
    comparisons on a handful of rows."""
    ev = _t(spark, sf_dir, "events")
    b = ev.filter(F.col("event_type").isin("view", "purchase", "click")).select(
        (F.col("user_id") % 2).cast("long").alias("grp"),
        F.when(F.col("event_type") == "click", "click")
        .otherwise("view_purchase")
        .alias("stratum"),
        (F.col("event_type") == "purchase").cast("long").alias("hit"),
    )
    st = b.groupBy("grp", "stratum").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("hit").cast("long").alias("k"),
    )

    def widen(df, label_col):
        return df.groupBy(label_col).agg(
            F.max(F.when(F.col("grp") == 0, F.col("k"))).cast("long").alias("k0"),
            F.max(F.when(F.col("grp") == 0, F.col("n"))).cast("long").alias("n0"),
            F.max(F.when(F.col("grp") == 1, F.col("k"))).cast("long").alias("k1"),
            F.max(F.when(F.col("grp") == 1, F.col("n"))).cast("long").alias("n1"),
        )

    pooled = widen(
        st.groupBy("grp").agg(F.sum("n").alias("n"), F.sum("k").alias("k"))
        .withColumn("stratum", F.lit("pooled")),
        "stratum",
    )
    sw = widen(st, "stratum")
    lead = (
        F.when(F.col("k0") * F.col("n1") > F.col("k1") * F.col("n0"), 1)
        .when(F.col("k0") * F.col("n1") < F.col("k1") * F.col("n0"), -1)
        .otherwise(0)
        .cast("long")
        .alias("grp0_leads")
    )
    return pooled.unionByName(sw).select("stratum", "k0", "n0", "k1", "n1", lead)


# ------------------------------------------------- off-policy evaluation


@q(
    "ips_policy_value",
    f"""WITH lg AS (SELECT event_type AS action, {_CENTS_SQL} AS r FROM events),
       per AS (SELECT action, CAST(count(*) AS BIGINT) AS n_a,
                      CAST(sum(r) AS BIGINT) AS r_a
               FROM lg GROUP BY 1),
       tot AS (SELECT CAST(sum(n_a) AS BIGINT) AS n,
                      CAST(count(*) AS BIGINT) AS k FROM per),
       uni AS (SELECT p.action, p.n_a, p.r_a, t.n,
                      (1000000 // t.k) * t.n // p.n_a AS w_raw_e6
               FROM per p CROSS JOIN tot t),
       uq AS (SELECT 'uniform' AS policy,
                     CAST(max(n) AS BIGINT) AS n_logged,
                     CAST(sum(n_a) AS BIGINT) AS n_matched,
                     CAST(sum(least(w_raw_e6, 10000000) * n_a) AS BIGINT) AS sum_w_e6,
                     CAST(sum(least(w_raw_e6, 10000000) * r_a) AS BIGINT) AS wr_e6,
                     CAST(sum(CASE WHEN w_raw_e6 > 10000000 THEN n_a ELSE 0 END)
                          AS BIGINT) AS n_clipped,
                     CAST(max(w_raw_e6) AS BIGINT) AS max_w_e6
              FROM uni),
       grd AS (SELECT p.action, p.n_a, p.r_a, t.n,
                      1000000 * t.n // p.n_a AS w_raw_e6
               FROM per p CROSS JOIN tot t WHERE p.action = 'purchase'),
       gq AS (SELECT 'greedy_purchase' AS policy,
                     CAST(max(n) AS BIGINT) AS n_logged,
                     CAST(sum(n_a) AS BIGINT) AS n_matched,
                     CAST(sum(least(w_raw_e6, 10000000) * n_a) AS BIGINT) AS sum_w_e6,
                     CAST(sum(least(w_raw_e6, 10000000) * r_a) AS BIGINT) AS wr_e6,
                     CAST(sum(CASE WHEN w_raw_e6 > 10000000 THEN n_a ELSE 0 END)
                          AS BIGINT) AS n_clipped,
                     CAST(max(w_raw_e6) AS BIGINT) AS max_w_e6
              FROM grd),
       u AS (SELECT * FROM uq UNION ALL SELECT * FROM gq)
       SELECT policy, n_logged, n_matched, sum_w_e6,
              CAST(wr_e6 AS DOUBLE)
                / (CAST(n_logged AS DOUBLE) * CAST(1000000 AS DOUBLE))
                AS ips_value_cents,
              CAST(wr_e6 AS DOUBLE) / CAST(sum_w_e6 AS DOUBLE)
                AS snips_value_cents,
              CAST(n_clipped AS DOUBLE) / CAST(n_logged AS DOUBLE) AS clip_frac,
              max_w_e6
       FROM u""",
)
def _ips_policy_value(spark, sf_dir):
    """Off-policy value of two target policies over the event log as a
    logged bandit dataset (action = event_type, reward = cents,
    behavior propensity = empirical action share): clipped IPS and
    self-normalized SNIPS (Dudik/Langford OPE; clip per Bottou et al.
    2013, c=10). Weights collapse to per-ACTION exact e6 integers, so
    the whole estimator is ONE map-combined groupBy over the log plus
    arithmetic on an action-bounded relation — the evaluation side of
    the reference's make_click_train_data feedback loop, and the
    pre-deploy gate for any policy trained on it. operators/
    experiment.py:ips_policy_value."""
    from redshells_spark.operators.experiment import cents, ips_policy_value

    lg = _t(spark, sf_dir, "events").select(
        F.col("event_type").alias("action"), cents("value").alias("r")
    )
    uni = ips_policy_value(lg, "action", "r", None, "uniform", clip=10)
    grd = ips_policy_value(
        lg, "action", "r", ["purchase"], "greedy_purchase", clip=10
    )
    return uni.unionByName(grd)


# ------------------------------------------------- stratified ATE


@q(
    "propensity_stratified_ate",
    f"""WITH u AS (SELECT user_id,
                 max(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS treat,
                 CAST(sum(CASE WHEN event_type = 'purchase'
                               THEN {_CENTS_SQL} ELSE 0 END) AS BIGINT) AS y,
                 CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                      AS BIGINT) AS x
          FROM events GROUP BY 1),
       lvl AS (SELECT x, CAST(count(*) AS BIGINT) AS n_l FROM u GROUP BY 1),
       lv2 AS (SELECT x, n_l,
                      CAST(coalesce(sum(n_l) OVER (ORDER BY x ASC
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                        AS BIGINT) AS cum_before
               FROM lvl),
       ut AS (SELECT CAST(sum(n_l) AS BIGINT) AS u_total FROM lvl),
       st AS (SELECT l.x, CAST(5 * l.cum_before // t.u_total AS BIGINT) AS stratum
              FROM lv2 l CROSS JOIN ut t),
       per AS (SELECT s.stratum,
                 CAST(sum(CASE WHEN u.treat = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_t,
                 CAST(sum(CASE WHEN u.treat = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_c,
                 CAST(sum(CASE WHEN u.treat = 1 THEN u.y ELSE 0 END) AS BIGINT) AS sy_t,
                 CAST(sum(CASE WHEN u.treat = 0 THEN u.y ELSE 0 END) AS BIGINT) AS sy_c
               FROM u JOIN st s ON s.x = u.x GROUP BY 1),
       ninc AS (SELECT CAST(sum(n_t + n_c) AS BIGINT) AS n_overlap
                FROM per WHERE n_t > 0 AND n_c > 0),
       ate AS (SELECT max(i.n_overlap) AS n_overlap,
                      round(sum(round(
                        (CAST(p.n_t + p.n_c AS DOUBLE) / CAST(i.n_overlap AS DOUBLE))
                        * (CAST(p.sy_t AS DOUBLE) / CAST(p.n_t AS DOUBLE)
                           - CAST(p.sy_c AS DOUBLE) / CAST(p.n_c AS DOUBLE)), 9)), 6)
                        AS ate_cents
               FROM per p CROSS JOIN ninc i WHERE p.n_t > 0 AND p.n_c > 0)
       SELECT p.stratum, p.n_t, p.n_c,
              CASE WHEN p.n_t > 0
                   THEN CAST(p.sy_t AS DOUBLE) / CAST(p.n_t AS DOUBLE) END
                AS mean_y_treated,
              CASE WHEN p.n_c > 0
                   THEN CAST(p.sy_c AS DOUBLE) / CAST(p.n_c AS DOUBLE) END
                AS mean_y_control,
              CASE WHEN p.n_t > 0 AND p.n_c > 0
                   THEN CAST(p.sy_t AS DOUBLE) / CAST(p.n_t AS DOUBLE)
                        - CAST(p.sy_c AS DOUBLE) / CAST(p.n_c AS DOUBLE) END
                AS diff_cents,
              a.n_overlap, a.ate_cents
       FROM per p CROSS JOIN ate a""",
)
def _propensity_stratified_ate(spark, sf_dir):
    """Subclassification ATE (Rosenbaum & Rubin 1984): does signing up
    cause purchase revenue, adjusting for engagement? Units = users,
    treatment = any signup event, outcome = purchase cents, covariate
    = click count, 5 quantile strata. The quantile boundaries come
    from the DISTINCT-CLICK-COUNT level table (weighted-median
    pattern: the only window runs over bounded distinct values, never
    users), per-stratum cells are exact int64, and the overlap-
    weighted ATE sums <= 5 round-9 double terms. operators/
    experiment.py:stratified_ate."""
    from redshells_spark.operators.experiment import cents, stratified_ate

    ev = _t(spark, sf_dir, "events")
    units = ev.groupBy("user_id").agg(
        F.max(F.when(F.col("event_type") == "signup", 1).otherwise(0)).alias("treat"),
        F.sum(
            F.when(F.col("event_type") == "purchase", cents("value")).otherwise(0)
        )
        .cast("long")
        .alias("y"),
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
        .cast("long")
        .alias("x"),
    )
    return stratified_ate(units, "treat", "y", "x", n_strata=5)


# ------------------------------------------------- diff-in-diff


@q(
    "diff_in_diff",
    f"""WITH mid AS (SELECT (min(epoch_us(ts)) + max(epoch_us(ts))) // 2 AS m
                FROM events),
       b AS (SELECT event_type,
                    CAST(user_id % 2 AS BIGINT) AS treat,
                    CASE WHEN epoch_us(ts) >= (SELECT m FROM mid)
                         THEN 1 ELSE 0 END AS post,
                    {_CENTS_SQL} AS r
             FROM events),
       agg AS (SELECT event_type,
                 CAST(count(*) AS BIGINT) AS n_total,
                 CAST(sum(CASE WHEN treat = 1 AND post = 0 THEN r ELSE 0 END) AS BIGINT) AS s_t0,
                 CAST(sum(CASE WHEN treat = 1 AND post = 1 THEN r ELSE 0 END) AS BIGINT) AS s_t1,
                 CAST(sum(CASE WHEN treat = 0 AND post = 0 THEN r ELSE 0 END) AS BIGINT) AS s_c0,
                 CAST(sum(CASE WHEN treat = 0 AND post = 1 THEN r ELSE 0 END) AS BIGINT) AS s_c1,
                 CAST(sum(CASE WHEN treat = 1 AND post = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_t0,
                 CAST(sum(CASE WHEN treat = 1 AND post = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_t1,
                 CAST(sum(CASE WHEN treat = 0 AND post = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_c0,
                 CAST(sum(CASE WHEN treat = 0 AND post = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_c1
               FROM b GROUP BY 1)
       SELECT event_type, n_total,
              CAST(s_t0 AS DOUBLE) / CAST(n_t0 AS DOUBLE) AS mean_treat_pre,
              CAST(s_t1 AS DOUBLE) / CAST(n_t1 AS DOUBLE) AS mean_treat_post,
              CAST(s_c0 AS DOUBLE) / CAST(n_c0 AS DOUBLE) AS mean_ctrl_pre,
              CAST(s_c1 AS DOUBLE) / CAST(n_c1 AS DOUBLE) AS mean_ctrl_post,
              (CAST(s_t1 AS DOUBLE) / CAST(n_t1 AS DOUBLE)
               - CAST(s_t0 AS DOUBLE) / CAST(n_t0 AS DOUBLE))
              - (CAST(s_c1 AS DOUBLE) / CAST(n_c1 AS DOUBLE)
                 - CAST(s_c0 AS DOUBLE) / CAST(n_c0 AS DOUBLE)) AS did_cents
       FROM agg""",
)
def _diff_in_diff(spark, sf_dir):
    """Two-group two-period difference-in-differences of mean event
    value per event type (Card & Krueger form): treatment = odd
    user_id, period split at the global time midpoint. One exact
    min/max pass for the split point, then ONE map-combined
    aggregation building all eight (sum, count) cells per type — each
    mean is a single double division of exact ints. Event-type-bounded
    output; no second shuffle. operators/experiment.py:diff_in_diff."""
    from redshells_spark.operators.experiment import cents, diff_in_diff

    ev = _t(spark, sf_dir, "events")
    us = event_us(ev).alias("us")
    base = ev.select("event_type", "user_id", "value", us)
    mid = base.agg(
        F.expr("(min(us) + max(us)) div 2").cast("long").alias("mid_us")
    )
    b = base.crossJoin(F.broadcast(mid)).select(
        "event_type",
        (F.col("user_id") % 2).cast("int").alias("treat"),
        (F.col("us") >= F.col("mid_us")).cast("int").alias("post"),
        cents("value").alias("r"),
    )
    return diff_in_diff(b, ["event_type"], "treat", "post", "r")


# ------------------------------------------------- CUPED


@q(
    "cuped_adjusted_metrics",
    f"""WITH mid AS (SELECT (min(epoch_us(ts)) + max(epoch_us(ts))) // 2 AS m
                FROM events),
       u AS (SELECT user_id, CAST(user_id % 2 AS BIGINT) AS variant,
                    CAST(sum(CASE WHEN epoch_us(ts) < (SELECT m FROM mid)
                                  THEN {_CENTS_SQL} ELSE 0 END) AS BIGINT) AS x,
                    CAST(sum(CASE WHEN epoch_us(ts) >= (SELECT m FROM mid)
                                  THEN {_CENTS_SQL} ELSE 0 END) AS BIGINT) AS y
             FROM events GROUP BY 1),
       pooled AS (SELECT CAST(count(*) AS BIGINT) AS n,
                         CAST(sum(x) AS BIGINT) AS sx,
                         CAST(sum(y) AS BIGINT) AS sy,
                         CAST(sum(x * y) AS BIGINT) AS sxy,
                         CAST(sum(x * x) AS BIGINT) AS sxx,
                         CAST(sum(y * y) AS BIGINT) AS syy
                  FROM u),
       th AS (SELECT n, sx,
                     (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                     / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS theta,
                     (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                     * (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                        - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                     / ((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                         - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                        * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                           - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))) AS rho2
              FROM pooled),
       pv AS (SELECT variant, CAST(count(*) AS BIGINT) AS n_units,
                     CAST(sum(x) AS BIGINT) AS svx,
                     CAST(sum(y) AS BIGINT) AS svy
              FROM u GROUP BY 1)
       SELECT v.variant, v.n_units,
              CAST(v.svx AS DOUBLE) / CAST(v.n_units AS DOUBLE) AS mean_pre_cents,
              CAST(v.svy AS DOUBLE) / CAST(v.n_units AS DOUBLE) AS mean_post_cents,
              t.theta,
              CAST(v.svy AS DOUBLE) / CAST(v.n_units AS DOUBLE)
              - t.theta * (CAST(v.svx AS DOUBLE) / CAST(v.n_units AS DOUBLE)
                           - CAST(t.sx AS DOUBLE) / CAST(t.n AS DOUBLE))
                AS adj_mean_post_cents,
              t.rho2 AS variance_reduction
       FROM pv v CROSS JOIN th t""",
)
def _cuped_adjusted_metrics(spark, sf_dir):
    """CUPED-adjusted A/B readout (Deng et al. WSDM 2013): per-user
    pre-period spend as the control covariate for post-period spend,
    variant = user parity, pooled theta = cov(X,Y)/var(X). The five
    pooled sums are exact int64 from one per-user pass; theta / rho^2
    / adjusted means are double expressions over those exact integers
    (n*Sxy would overflow int64 at ~1e6 heavy users, so the combine
    step is float-on-exact-ints — bit-deterministic on both engines).
    This is THE variance-reduction workhorse for experiment readouts
    over warehouse-scale logs. operators/experiment.py:cuped_adjusted."""
    from redshells_spark.operators.experiment import cents, cuped_adjusted

    ev = _t(spark, sf_dir, "events")
    us = event_us(ev).alias("us")
    base = ev.select("user_id", "value", us)
    mid = base.agg(
        F.expr("(min(us) + max(us)) div 2").cast("long").alias("mid_us")
    )
    per_user = (
        base.crossJoin(F.broadcast(mid))
        .groupBy("user_id")
        .agg(
            F.sum(F.when(F.col("us") < F.col("mid_us"), cents("value")).otherwise(0))
            .cast("long")
            .alias("x"),
            F.sum(F.when(F.col("us") >= F.col("mid_us"), cents("value")).otherwise(0))
            .cast("long")
            .alias("y"),
        )
        .withColumn("variant", (F.col("user_id") % 2).cast("long"))
    )
    return cuped_adjusted(per_user, "variant", "x", "y")


# ------------------------------------------------------- qini uplift


@q(
    "qini_uplift_curve",
    """WITH u AS (SELECT user_id,
            max(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS treat,
            CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                 AS BIGINT) AS score,
            max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS resp
          FROM events GROUP BY 1),
       lvl AS (SELECT score, CAST(count(*) AS BIGINT) AS n_l FROM u GROUP BY 1),
       lv2 AS (SELECT score, n_l,
               CAST(coalesce(sum(n_l) OVER (ORDER BY score DESC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                 AS BIGINT) AS cum_before
               FROM lvl),
       ut AS (SELECT CAST(sum(n_l) AS BIGINT) AS u_total FROM lvl),
       st AS (SELECT l.score, CAST(10 * l.cum_before // t.u_total AS BIGINT)
                       AS bucket
              FROM lv2 l CROSS JOIN ut t),
       per AS (SELECT s.bucket,
            CAST(sum(CASE WHEN u.treat = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_t,
            CAST(sum(CASE WHEN u.treat = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_c,
            CAST(sum(CASE WHEN u.treat = 1 THEN u.resp ELSE 0 END) AS BIGINT) AS r_t,
            CAST(sum(CASE WHEN u.treat = 0 THEN u.resp ELSE 0 END) AS BIGINT) AS r_c
          FROM u JOIN st s ON s.score = u.score GROUP BY 1),
       cum AS (SELECT bucket, n_t, n_c, r_t, r_c,
            CAST(sum(n_t) OVER w AS BIGINT) AS cum_n_t,
            CAST(sum(n_c) OVER w AS BIGINT) AS cum_n_c,
            CAST(sum(r_t) OVER w AS BIGINT) AS cum_r_t,
            CAST(sum(r_c) OVER w AS BIGINT) AS cum_r_c
          FROM per
          WINDOW w AS (ORDER BY bucket ASC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
       SELECT CAST(bucket AS BIGINT) AS bucket, n_t, n_c, r_t, r_c,
              cum_n_t, cum_n_c, cum_r_t, cum_r_c,
              CASE WHEN cum_n_c > 0 THEN
                round(CAST(cum_r_t AS DOUBLE)
                      - CAST(cum_r_c AS DOUBLE) * CAST(cum_n_t AS DOUBLE)
                        / CAST(cum_n_c AS DOUBLE), 6)
              END AS qini
       FROM cum ORDER BY bucket""",
)
def _qini_uplift_curve(spark, sf_dir):
    """Qini uplift curve (Radcliffe 2007) over the event log as an
    uplift-modeling readout: unit = user, treatment = signup exposure,
    targeting score = click count, response = purchased. Decile
    boundaries come from the distinct-score level table (window over
    score VALUES, not users), per-decile cells are exact int64, and the
    cumulative incremental-responder curve divides once at the end —
    the targeting-policy evaluation for the reference's click-feedback
    models. operators/experiment.py:qini_uplift_deciles."""
    from redshells_spark.operators.experiment import qini_uplift_deciles

    u = (
        _t(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.max(F.when(F.col("event_type") == "signup", 1).otherwise(0)).alias(
                "treat"
            ),
            F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
            .cast("long")
            .alias("score"),
            F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias(
                "resp"
            ),
        )
    )
    return qini_uplift_deciles(u, "treat", "score", "resp", n_buckets=10)


# ------------------------------------------------------- SPRT monitor

_SPRT_LA, _SPRT_LB = sprt_llr_literals(0.45, 0.55)
_SPRT_UP = 2_944_438_979  # round(1e9 * ln(0.95/0.05))
_SPRT_LO = -2_944_438_979


@q(
    "sprt_conversion_monitor",
    f"""WITH d AS (SELECT epoch_us(ts) // {_DAY_US} AS period,
            CAST(sum(CASE WHEN event_type IN ('view', 'purchase')
                          THEN 1 ELSE 0 END) AS BIGINT) AS n_trials,
            CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_success
          FROM events GROUP BY 1),
       l AS (SELECT period, n_trials, n_success,
            CAST(n_success * {_SPRT_LA}
                 + (n_trials - n_success) * {_SPRT_LB} AS BIGINT) AS llr_e9
          FROM d),
       c AS (SELECT *, CAST(sum(llr_e9) OVER (ORDER BY period ASC
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS cum_llr_e9
          FROM l)
       SELECT CAST(period AS BIGINT) AS period, n_trials, n_success,
              llr_e9, cum_llr_e9,
              CASE WHEN cum_llr_e9 >= {_SPRT_UP} THEN 'accept_h1'
                   WHEN cum_llr_e9 <= {_SPRT_LO} THEN 'accept_h0'
                   ELSE 'continue' END AS decision
       FROM c ORDER BY period""",
)
def _sprt_conversion_monitor(spark, sf_dir):
    """Wald SPRT replay on daily purchase-vs-view conversion
    (H0: p=0.45, H1: p=0.55, alpha=beta=0.05) — always-valid sequential
    monitoring in pure integer arithmetic: the two ln likelihood
    increments are driver-side nano-unit literals shared with the
    oracle, per-day LLR is linear in (successes, trials), and the only
    window runs over days. operators/sequential.py:sprt_monitor; the
    same per-day counts fold additively in the streaming twin."""
    from redshells_spark.operators.sequential import sprt_monitor

    ev = _t(spark, sf_dir, "events")
    ev = ev.withColumn("us", event_us(ev, "ts"))
    daily = ev.groupBy(F.expr(f"us div {_DAY_US}").cast("long").alias("period")).agg(
        F.sum(
            F.when(F.col("event_type").isin("view", "purchase"), 1).otherwise(0)
        )
        .cast("long")
        .alias("n_trials"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("long")
        .alias("n_success"),
    )
    return sprt_monitor(
        daily, "period", "n_trials", "n_success", p0=0.45, p1=0.55
    )


# ------------------------------------------------- delta-method ratio CI


@q(
    "delta_method_ratio_ci",
    f"""WITH u AS (SELECT user_id,
            CAST(sum(CASE WHEN event_type = 'purchase' THEN {_CENTS_SQL}
                          ELSE 0 END) AS BIGINT) AS x,
            CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
                 AS BIGINT) AS y
          FROM events GROUP BY 1),
       m AS (SELECT CAST(count(*) AS BIGINT) AS n,
            CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
            CAST(sum(x * x) AS BIGINT) AS sxx,
            CAST(sum(x * y) AS BIGINT) AS sxy,
            CAST(sum(y * y) AS BIGINT) AS syy
          FROM u),
       d AS (SELECT n, sx, sy,
            (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
             - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
              / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - CAST(1.0 AS DOUBLE)))
              AS varx,
            (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
             - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))
              / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - CAST(1.0 AS DOUBLE)))
              AS vary,
            (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
             - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
              / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - CAST(1.0 AS DOUBLE)))
              AS covxy,
            CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS xbar,
            CAST(sy AS DOUBLE) / CAST(n AS DOUBLE) AS ybar
          FROM m),
       r AS (SELECT *, xbar / ybar AS rr FROM d),
       v AS (SELECT *, sqrt((varx - CAST(2.0 AS DOUBLE) * rr * covxy
                             + rr * rr * vary)
                            / (CAST(n AS DOUBLE) * ybar * ybar)) AS se
          FROM r)
       SELECT 'revenue_per_view' AS metric, n,
              sx AS sum_num_cents, sy AS sum_den,
              round(rr, 6) AS ratio_cents,
              round(se, 6) AS se_cents,
              round(rr - CAST(1.959964 AS DOUBLE) * se, 6) AS ci_lo_cents,
              round(rr + CAST(1.959964 AS DOUBLE) * se, 6) AS ci_hi_cents
       FROM v""",
)
def _delta_method_ratio_ci(spark, sf_dir):
    """Delta-method CI for the ratio metric revenue-per-view when the
    randomization unit is the USER (Deng et al. KDD 2018): five exact
    int64 moments in one pass over per-user cells, variance combine in
    double on those exact ints — the CUPED/grouped-OLS determinism
    class. operators/experiment.py:delta_method_ratio."""
    from redshells_spark.operators.experiment import cents, delta_method_ratio

    u = (
        _t(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.sum(
                F.when(F.col("event_type") == "purchase", cents("value")).otherwise(0)
            )
            .cast("long")
            .alias("x"),
            F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0))
            .cast("long")
            .alias("y"),
        )
    )
    return delta_method_ratio(u, "x", "y", "revenue_per_view")


# ------------------------------------------------- switchback readout


@q(
    "switchback_readout",
    f"""WITH b AS (SELECT epoch_us(ts) // {_HOUR_US} AS bucket,
                          {_CENTS_SQL} AS c FROM events),
       per AS (SELECT bucket, CAST(count(*) AS BIGINT) AS n_b,
                      CAST(sum(c) AS BIGINT) AS s_b
               FROM b GROUP BY 1),
       pm AS (SELECT CAST(bucket % 2 AS BIGINT) AS arm,
                     CAST((100 * s_b) // n_b AS BIGINT) AS m_e2, n_b
              FROM per),
       arm AS (SELECT arm, CAST(count(*) AS BIGINT) AS n_buckets,
                      CAST(sum(n_b) AS BIGINT) AS n_events,
                      CAST(sum(m_e2) AS BIGINT) AS sm,
                      CAST(sum(m_e2 * m_e2) AS BIGINT) AS smm
               FROM pm GROUP BY 1)
       SELECT arm, n_buckets, n_events,
              CAST(sm AS DOUBLE) / CAST(n_buckets AS DOUBLE)
                / CAST(100.0 AS DOUBLE) AS mean_cents,
              sqrt((CASE WHEN n_buckets > 1 THEN
                      (CAST(n_buckets AS DOUBLE) * CAST(smm AS DOUBLE)
                       - CAST(sm AS DOUBLE) * CAST(sm AS DOUBLE))
                      / (CAST(n_buckets AS DOUBLE)
                         * (CAST(n_buckets AS DOUBLE) - CAST(1.0 AS DOUBLE)))
                    END) / CAST(n_buckets AS DOUBLE)) AS se_cluster_e2
       FROM arm ORDER BY arm""",
)
def _switchback_readout(spark, sf_dir):
    """Switchback experiment readout: alternating hour buckets as
    treat/control, per-bucket mean value as an EXACT e2 integer (so
    the arm-level moments Σm, Σm² stay associative int64), and the
    cluster-robust SE computed in double on those exact ints. The
    bucket relation is time-bounded — cluster-level inference never
    touches fact-scale rows twice.
    operators/experiment.py:switchback_readout."""
    from redshells_spark.operators.experiment import cents, switchback_readout

    ev0 = _t(spark, sf_dir, "events")
    ev = ev0.select(event_us(ev0, "ts").alias("us"), cents("value").alias("c"))
    return switchback_readout(ev, "us", "c", bucket_us=_HOUR_US)


# ------------------------------------------------- regression discontinuity


@q(
    "regression_discontinuity",
    f"""WITH u AS (SELECT user_id,
            CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                 AS BIGINT) AS x,
            CAST(sum(CASE WHEN event_type = 'purchase' THEN {_CENTS_SQL}
                          ELSE 0 END) AS BIGINT) AS y
          FROM events GROUP BY 1),
       c AS (SELECT CAST(sum(x) // count(*) AS BIGINT) AS cutoff FROM u),
       z AS (SELECT u.x - c.cutoff AS z, u.y, c.cutoff
             FROM u CROSS JOIN c
             WHERE u.x - c.cutoff BETWEEN -5 AND 5),
       s AS (SELECT CASE WHEN z < 0 THEN 'left' ELSE 'right' END AS side,
            CAST(max(cutoff) AS BIGINT) AS cutoff,
            CAST(count(*) AS BIGINT) AS n,
            CAST(sum(z) AS BIGINT) AS sz, CAST(sum(y) AS BIGINT) AS sy,
            CAST(sum(z * z) AS BIGINT) AS szz,
            CAST(sum(z * y) AS BIGINT) AS szy
          FROM z GROUP BY 1),
       f AS (SELECT side, cutoff, n, sz, sy, szz, szy,
            CASE WHEN CAST(n AS DOUBLE) * CAST(szz AS DOUBLE)
                      - CAST(sz AS DOUBLE) * CAST(sz AS DOUBLE)
                      <> CAST(0 AS DOUBLE) THEN
              (CAST(n AS DOUBLE) * CAST(szy AS DOUBLE)
               - CAST(sz AS DOUBLE) * CAST(sy AS DOUBLE))
              / (CAST(n AS DOUBLE) * CAST(szz AS DOUBLE)
                 - CAST(sz AS DOUBLE) * CAST(sz AS DOUBLE))
            END AS slope
          FROM s)
       SELECT side, cutoff, CAST(5 AS BIGINT) AS bandwidth, n,
              round(slope, 6) AS slope_cents,
              round(CASE WHEN slope IS NOT NULL THEN
                      (CAST(sy AS DOUBLE) - slope * CAST(sz AS DOUBLE))
                      / CAST(n AS DOUBLE)
                    ELSE CAST(sy AS DOUBLE) / CAST(n AS DOUBLE) END, 6)
                AS intercept_cents
       FROM f ORDER BY side""",
)
def _regression_discontinuity(spark, sf_dir):
    """Sharp RD readout (Imbens & Lemieux 2008): running variable =
    per-user click count, cutoff = its exact integer mean, bandwidth 5,
    outcome = purchase cents. Local-linear fits on each side come from
    five exact int64 moments via the closed normal equations
    (grouped_ols determinism class); the treatment-effect jump is the
    difference of the two boundary intercepts.
    operators/experiment.py:regression_discontinuity."""
    from redshells_spark.operators.experiment import cents, regression_discontinuity

    u = (
        _t(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
            .cast("long")
            .alias("x"),
            F.sum(
                F.when(F.col("event_type") == "purchase", cents("value")).otherwise(0)
            )
            .cast("long")
            .alias("y"),
        )
    )
    return regression_discontinuity(u, "x", "y", bandwidth=5)


# ------------------------------------------------- Neyman allocation


@q(
    "neyman_allocation",
    f"""WITH v AS (SELECT event_type AS stratum, {_CENTS_SQL} AS v FROM events),
       per AS (SELECT stratum, CAST(count(*) AS BIGINT) AS n,
                      CAST(sum(v) AS BIGINT) AS sv,
                      CAST(sum(v * v) AS BIGINT) AS svv
               FROM v GROUP BY 1),
       sw AS (SELECT stratum, n,
            CASE WHEN n > 1 THEN
              sqrt(greatest((CAST(n AS DOUBLE) * CAST(svv AS DOUBLE)
                             - CAST(sv AS DOUBLE) * CAST(sv AS DOUBLE))
                            / (CAST(n AS DOUBLE)
                               * (CAST(n AS DOUBLE) - CAST(1.0 AS DOUBLE))),
                            CAST(0.0 AS DOUBLE)))
            ELSE CAST(0.0 AS DOUBLE) END AS s_value
          FROM per),
       wq AS (SELECT stratum, n, s_value,
            CAST(floor(CAST(n AS DOUBLE) * s_value * CAST(1000000.0 AS DOUBLE)
                       + CAST(0.5 AS DOUBLE)) AS BIGINT) AS weight_e6
          FROM sw),
       tot AS (SELECT CAST(sum(weight_e6) AS BIGINT) AS wt FROM wq),
       base AS (SELECT stratum, n, s_value, weight_e6,
            CAST((1000 * weight_e6) // t.wt AS BIGINT) AS floor_share,
            CAST((1000 * weight_e6) % t.wt AS BIGINT) AS rem
          FROM wq CROSS JOIN tot t),
       sh AS (SELECT CAST(1000 - sum(floor_share) AS BIGINT) AS short FROM base),
       r AS (SELECT b.*, CAST(row_number() OVER (ORDER BY rem DESC, stratum ASC)
                              AS BIGINT) AS rk
             FROM base b)
       SELECT stratum, n, round(s_value, 6) AS s_value, weight_e6, floor_share,
              CAST(CASE WHEN rk <= s.short THEN 1 ELSE 0 END AS BIGINT) AS extra,
              CAST(floor_share + CASE WHEN rk <= s.short THEN 1 ELSE 0 END
                   AS BIGINT) AS allocation
       FROM r CROSS JOIN sh s ORDER BY stratum""",
)
def _neyman_allocation(spark, sf_dir):
    """Neyman-optimal allocation of a 1000-row sample budget across
    event-type strata (n_h ∝ N_h·S_h, Neyman 1934): exact int64
    moments per stratum, S_h in double on exact ints, weights
    re-quantized to e6 integers with half-up floor so the
    largest-remainder split is pure integer arithmetic — allocations
    sum exactly to the budget. data/sampling.py:neyman_allocation."""
    from redshells_spark.data.sampling import neyman_allocation
    from redshells_spark.operators.experiment import cents

    ev = _t(spark, sf_dir, "events").select(
        F.col("event_type").alias("stratum"), cents("value").alias("c")
    )
    return neyman_allocation(ev, "stratum", "c", total_budget=1000)


# ------------------------------------------------- power / MDE planning

_Z_SUM = 1.959964 + 0.841621  # z_{0.025} + z_{0.20}: 80% power at 5%


@q(
    "ab_power_mde",
    f"""WITH c AS (SELECT CAST(count(*) AS BIGINT) AS n_events,
            CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_success,
            CAST(count(DISTINCT epoch_us(ts) // {_DAY_US}) AS BIGINT) AS n_days
          FROM events),
       h AS (SELECT c.*, CAST(t.h AS BIGINT) AS horizon_days
             FROM c CROSS JOIN (VALUES (7), (14), (28)) t(h)),
       e AS (SELECT horizon_days,
            CAST((horizon_days * (n_events // n_days)) // 2 AS BIGINT)
              AS n_per_arm,
            CAST(n_success AS DOUBLE) / CAST(n_events AS DOUBLE) AS p
          FROM h),
       f AS (SELECT horizon_days, n_per_arm, p,
            CAST('{_Z_SUM!r}' AS DOUBLE)
              * sqrt(CAST(2.0 AS DOUBLE) * p * (CAST(1.0 AS DOUBLE) - p)
                     / CAST(n_per_arm AS DOUBLE)) AS mde
          FROM e)
       SELECT horizon_days, n_per_arm, round(p, 6) AS p_base,
              round(mde, 6) AS mde_abs, round(mde / p, 6) AS mde_rel
       FROM f ORDER BY horizon_days""",
)
def _ab_power_mde(spark, sf_dir):
    """Pre-experiment power planning: the minimum detectable effect of
    a two-proportion test (80% power, 5% two-sided) per 7/14/28-day
    horizon given the log's base purchase rate and integer daily
    traffic. The z-constant sum is interpolated into BOTH engines from
    the same Python repr so the doubles parse identically.
    operators/experiment.py:power_mde_table."""
    from redshells_spark.operators.experiment import power_mde_table

    ev = _t(spark, sf_dir, "events")
    ev = ev.withColumn("us", event_us(ev, "ts"))
    counts = ev.agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("long")
        .alias("n_success"),
        F.countDistinct(F.expr(f"us div {_DAY_US}")).cast("long").alias("n_days"),
    )
    return power_mde_table(counts, [7, 14, 28], z_alpha=1.959964, z_beta=0.841621)


# ------------------------------------------------- EB shrinkage


@q(
    "eb_shrunk_return_rates",
    """WITH g AS (SELECT l_partkey,
            CAST(count(*) AS BIGINT) AS n,
            CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
                 AS BIGINT) AS s
          FROM lineitem GROUP BY 1),
       g2 AS (SELECT l_partkey, n, s,
              CAST((1000 * s) // n AS BIGINT) AS raw_rate_e3 FROM g),
       pm AS (SELECT CAST(count(*) AS BIGINT) AS cnt,
              CAST(sum(raw_rate_e3) AS BIGINT) AS sr,
              CAST(sum(raw_rate_e3 * raw_rate_e3) AS BIGINT) AS srr
          FROM g2 WHERE n >= 5),
       mv AS (SELECT cnt,
            CAST(sr AS DOUBLE) / CAST(cnt AS DOUBLE)
              / CAST(1000.0 AS DOUBLE) AS m,
            (CAST(cnt AS DOUBLE) * CAST(srr AS DOUBLE)
             - CAST(sr AS DOUBLE) * CAST(sr AS DOUBLE))
              / (CAST(cnt AS DOUBLE) * (CAST(cnt AS DOUBLE)
                 - CAST(1.0 AS DOUBLE)))
              / CAST(1000000.0 AS DOUBLE) AS v
          FROM pm),
       kk AS (SELECT cnt, m, v,
              m * (CAST(1.0 AS DOUBLE) - m) / v - CAST(1.0 AS DOUBLE) AS k
          FROM mv),
       ab AS (SELECT
            CASE WHEN cnt > 1 AND v > CAST(0.0 AS DOUBLE)
                      AND k > CAST(0.0 AS DOUBLE)
                 THEN m * k ELSE CAST(1.0 AS DOUBLE) END AS alpha,
            CASE WHEN cnt > 1 AND v > CAST(0.0 AS DOUBLE)
                      AND k > CAST(0.0 AS DOUBLE)
                 THEN (CAST(1.0 AS DOUBLE) - m) * k
                 ELSE CAST(1.0 AS DOUBLE) END AS beta
          FROM kk)
       SELECT l_partkey, n, s, raw_rate_e3,
              round(alpha, 6) AS alpha, round(beta, 6) AS beta,
              round((alpha + CAST(s AS DOUBLE))
                    / (alpha + beta + CAST(n AS DOUBLE)), 6) AS shrunk_rate
       FROM g2 CROSS JOIN ab
       ORDER BY round((alpha + CAST(s AS DOUBLE))
                      / (alpha + beta + CAST(n AS DOUBLE)), 6) DESC,
                l_partkey ASC
       LIMIT 100""",
)
def _eb_shrunk_return_rates(spark, sf_dir):
    """Empirical-Bayes shrunk return rate per part (beta-binomial,
    Robinson's construction): the method-of-moments prior is fit on
    e3-QUANTIZED observed rates so both moments are exact int64 and
    alpha/beta are doubles-from-ints; small-n parts collapse to the
    prior mean instead of topping the leaderboard at 1/1. Top-100 by
    shrunk rate (TakeOrdered — distributed, no global window).
    operators/shrinkage.py:eb_beta_binomial_shrinkage."""
    from redshells_spark.operators.shrinkage import eb_beta_binomial_shrinkage

    per = (
        _t(spark, sf_dir, "lineitem")
        .groupBy("l_partkey")
        .agg(
            F.sum(F.when(F.col("l_returnflag") == "R", 1).otherwise(0))
            .cast("long")
            .alias("s"),
            F.count(F.lit(1)).cast("long").alias("n"),
        )
    )
    out = eb_beta_binomial_shrinkage(per, ["l_partkey"], "s", "n", min_n_prior=5)
    return out.orderBy(
        F.col("shrunk_rate").desc(), F.col("l_partkey").asc()
    ).limit(100)


# ------------------------------------------------- group-sequential looks

@q(
    "group_sequential_monitor",
    f"""WITH e AS (SELECT epoch_us(ts) // {_WEEK_US} AS look,
                          CAST(user_id % 2 AS BIGINT) AS arm, event_type
                   FROM events),
       lc AS (SELECT look, arm,
            CAST(sum(CASE WHEN event_type IN ('view', 'purchase')
                          THEN 1 ELSE 0 END) AS BIGINT) AS nt,
            CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                 AS BIGINT) AS ns
          FROM e GROUP BY 1, 2),
       cum AS (SELECT look, arm,
            CAST(sum(nt) OVER (PARTITION BY arm ORDER BY look ASC
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS cn,
            CAST(sum(ns) OVER (PARTITION BY arm ORDER BY look ASC
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS cs
          FROM lc),
       wide AS (SELECT look,
            CAST(max(CASE WHEN arm = 1 THEN cn END) AS BIGINT) AS n1,
            CAST(max(CASE WHEN arm = 1 THEN cs END) AS BIGINT) AS s1,
            CAST(max(CASE WHEN arm = 0 THEN cn END) AS BIGINT) AS n0,
            CAST(max(CASE WHEN arm = 0 THEN cs END) AS BIGINT) AS s0
          FROM cum GROUP BY 1),
       kt AS (SELECT CAST(count(*) AS BIGINT) AS k_total FROM wide),
       wk AS (SELECT w.*, t.k_total,
              CAST(row_number() OVER (ORDER BY look ASC) AS BIGINT) AS k_idx
          FROM wide w CROSS JOIN kt t),
       zz AS (SELECT *,
            (CAST(s1 AS DOUBLE) + CAST(s0 AS DOUBLE))
              / (CAST(n1 AS DOUBLE) + CAST(n0 AS DOUBLE)) AS pp
          FROM wk),
       z2 AS (SELECT *,
            sqrt(pp * (CAST(1.0 AS DOUBLE) - pp)
                 * (CAST(1.0 AS DOUBLE) / CAST(n1 AS DOUBLE)
                    + CAST(1.0 AS DOUBLE) / CAST(n0 AS DOUBLE))) AS se
          FROM zz),
       z3 AS (SELECT look, k_idx, k_total, n1, s1, n0, s0,
            CASE WHEN n1 > 0 AND n0 > 0 AND se > CAST(0.0 AS DOUBLE) THEN
              round((CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)
                     - CAST(s0 AS DOUBLE) / CAST(n0 AS DOUBLE)) / se, 6)
            END AS z,
            round(CAST(1.959964 AS DOUBLE)
                  * sqrt(CAST(k_total AS DOUBLE) / CAST(k_idx AS DOUBLE)), 6)
              AS z_bound
          FROM z2)
       SELECT look, k_idx, k_total, n1, s1, n0, s0, z, z_bound,
              CAST(coalesce(abs(z) >= z_bound, false) AS BIGINT) AS stop
       FROM z3 ORDER BY look""",
)
def _group_sequential_monitor(spark, sf_dir):
    """Group-sequential two-proportion monitor over weekly looks
    (arm = user parity, conversion = purchase vs view) with
    sqrt(K/k)-inflated interim boundaries — the scheduled-peeking
    counterpart of the SPRT's continuous monitor. Cumulative cells per
    (arm, look) are exact int64 from one pass + a window over weeks;
    z and boundary are doubles-from-ints rounded for export.
    operators/sequential.py:group_sequential_z."""
    from redshells_spark.operators.sequential import group_sequential_z

    ev = _t(spark, sf_dir, "events")
    ev = ev.withColumn("us", event_us(ev, "ts"))
    lc = (
        ev.groupBy(
            F.expr(f"us div {_WEEK_US}").cast("long").alias("look"),
            (F.col("user_id") % 2).cast("long").alias("arm"),
        )
        .agg(
            F.sum(
                F.when(F.col("event_type").isin("view", "purchase"), 1).otherwise(0)
            )
            .cast("long")
            .alias("nt"),
            F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
            .cast("long")
            .alias("ns"),
        )
    )
    return group_sequential_z(lc, "look", "arm", "nt", "ns", z_final=1.959964)


# ------------------------------------------------- IV / LATE


@q(
    "iv_wald_late",
    f"""WITH u AS (SELECT user_id,
            CAST(user_id % 2 AS BIGINT) AS z,
            max(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS d,
            CAST(sum(CASE WHEN event_type = 'purchase' THEN {_CENTS_SQL}
                          ELSE 0 END) AS BIGINT) AS y
          FROM events GROUP BY 1, 2),
       a AS (SELECT
            CAST(sum(CASE WHEN z = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_z1,
            CAST(sum(CASE WHEN z = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_z0,
            CAST(sum(CASE WHEN z = 1 THEN d ELSE 0 END) AS BIGINT) AS d_z1,
            CAST(sum(CASE WHEN z = 0 THEN d ELSE 0 END) AS BIGINT) AS d_z0,
            CAST(sum(CASE WHEN z = 1 THEN y ELSE 0 END) AS BIGINT) AS y_z1,
            CAST(sum(CASE WHEN z = 0 THEN y ELSE 0 END) AS BIGINT) AS y_z0
          FROM u),
       f AS (SELECT *,
            CAST(y_z1 AS DOUBLE) / CAST(n_z1 AS DOUBLE)
              - CAST(y_z0 AS DOUBLE) / CAST(n_z0 AS DOUBLE) AS itt,
            CAST(d_z1 AS DOUBLE) / CAST(n_z1 AS DOUBLE)
              - CAST(d_z0 AS DOUBLE) / CAST(n_z0 AS DOUBLE) AS fs
          FROM a)
       SELECT n_z1, n_z0,
              round(CAST(d_z1 AS DOUBLE) / CAST(n_z1 AS DOUBLE), 6) AS take_up_z1,
              round(CAST(d_z0 AS DOUBLE) / CAST(n_z0 AS DOUBLE), 6) AS take_up_z0,
              round(fs, 6) AS first_stage,
              round(itt, 6) AS itt_cents,
              CASE WHEN fs <> CAST(0 AS DOUBLE)
                   THEN round(itt / fs, 6) END AS late_cents
       FROM f""",
)
def _iv_wald_late(spark, sf_dir):
    """Wald IV / LATE readout (Angrist & Imbens 1994): instrument =
    user parity (the deterministic stand-in for randomized
    encouragement), treatment = signed up, outcome = purchase cents —
    the estimator for randomized-assignment-imperfect-compliance,
    completing the causal family (DiD, RD, stratified ATE, IV). Six
    exact int64 cells from one pass.
    operators/experiment.py:iv_wald_estimate."""
    from redshells_spark.operators.experiment import cents, iv_wald_estimate

    u = (
        _t(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.max(F.when(F.col("event_type") == "signup", 1).otherwise(0)).alias("d"),
            F.sum(
                F.when(F.col("event_type") == "purchase", cents("value")).otherwise(0)
            )
            .cast("long")
            .alias("y"),
        )
        .withColumn("z", (F.col("user_id") % 2).cast("long"))
    )
    return iv_wald_estimate(u, "z", "d", "y")


# ------------------------------------------------- quantile treatment effects


@q(
    "quantile_treatment_effect",
    f"""WITH u AS (SELECT user_id,
                CAST(user_id % 2 AS BIGINT) AS treat,
                CAST(sum(CASE WHEN event_type = 'purchase' THEN {_CENTS_SQL}
                         ELSE 0 END) AS BIGINT) AS outcome
              FROM events GROUP BY 1),
       rk AS (SELECT treat, outcome,
                CAST(row_number() OVER (PARTITION BY treat
                       ORDER BY outcome, user_id) AS BIGINT) AS i,
                CAST(count(*) OVER (PARTITION BY treat) AS BIGINT) AS n
              FROM u),
       dec AS (SELECT unnest(generate_series(1, 9)) AS decile),
       per AS (SELECT r.treat, d.decile,
                CAST(max(CASE WHEN (10 * r.i >= d.decile * (r.n + 1)
                                    AND 10 * (r.i - 1) < d.decile * (r.n + 1))
                               OR (r.i = r.n
                                   AND 10 * r.n < d.decile * (r.n + 1))
                          THEN r.outcome END) AS BIGINT) AS qv,
                CAST(max(r.n) AS BIGINT) AS n
               FROM rk r CROSS JOIN dec d GROUP BY 1, 2)
       SELECT CAST(decile AS BIGINT) AS decile,
              max(CASE WHEN treat = 1 THEN n END) AS n_treat,
              max(CASE WHEN treat = 0 THEN n END) AS n_ctrl,
              max(CASE WHEN treat = 1 THEN qv END) AS q_treat_e2,
              max(CASE WHEN treat = 0 THEN qv END) AS q_ctrl_e2,
              max(CASE WHEN treat = 1 THEN qv END)
                - max(CASE WHEN treat = 0 THEN qv END) AS qte_e2
       FROM per GROUP BY 1 ORDER BY 1""",
)
def _quantile_treatment_effect(spark, sf_dir):
    """Quantile treatment effects (Doksum 1974): the difference of
    exact per-group outcome deciles (total purchase cents per user)
    between the two user-id experiment buckets (the hash-bucket
    assignment real A/B systems use) — the distributional
    causal readout that mean-based ATE queries miss (heavy-tail
    lifts, median no-ops). Deciles are ceil(q(n+1))-th order
    statistics selected with pure integer rank inequalities; ranks
    come from data/sharding.distributed_rank partitioned by arm
    (range shuffle + per-partition row_number + broadcast offsets —
    NO single-reducer sort), so the plan holds at 10^9 users. The
    9-decile expansion rides a broadcast nested-loop join."""
    from redshells_spark.data.sharding import distributed_rank

    ev = _t(spark, sf_dir, "events")
    u = (
        ev.select(
            "user_id",
            "event_type",
            money_units(F.col("value"), 100).alias("vc"),
        )
        .groupBy("user_id")
        .agg(
            F.sum(F.when(F.col("event_type") == "purchase", F.col("vc")).otherwise(0))
            .cast("long")
            .alias("outcome"),
        )
        .select("user_id", (F.col("user_id") % 2).cast("long").alias("treat"), "outcome")
    )
    cnt = u.groupBy("treat").agg(F.count(F.lit(1)).cast("long").alias("n"))
    rk = (
        distributed_rank(
            u,
            [F.col("outcome").asc(), F.col("user_id").asc()],
            out_col="__i0",
            partition_cols=["treat"],
        )
        .join(F.broadcast(cnt), "treat")
        .select("treat", "outcome", (F.col("__i0") + 1).cast("long").alias("i"), "n")
    )
    dec = spark.range(1, 10).select(F.col("id").cast("long").alias("decile"))
    cond = (
        (10 * F.col("i") >= F.col("decile") * (F.col("n") + 1))
        & (10 * (F.col("i") - 1) < F.col("decile") * (F.col("n") + 1))
    ) | (
        (F.col("i") == F.col("n"))
        & (10 * F.col("n") < F.col("decile") * (F.col("n") + 1))
    )
    per = (
        rk.crossJoin(F.broadcast(dec))
        .groupBy("treat", "decile")
        .agg(
            F.max(F.when(cond, F.col("outcome"))).cast("long").alias("qv"),
            F.max("n").cast("long").alias("n"),
        )
    )
    qt = F.max(F.when(F.col("treat") == 1, F.col("qv")))
    qc = F.max(F.when(F.col("treat") == 0, F.col("qv")))
    return (
        per.groupBy("decile")
        .agg(
            F.max(F.when(F.col("treat") == 1, F.col("n"))).cast("long").alias("n_treat"),
            F.max(F.when(F.col("treat") == 0, F.col("n"))).cast("long").alias("n_ctrl"),
            qt.cast("long").alias("q_treat_e2"),
            qc.cast("long").alias("q_ctrl_e2"),
            (qt - qc).cast("long").alias("qte_e2"),
        )
        .orderBy("decile")
    )


# --------------------------------------------- effect sizes by segment


@q(
    "effect_size_by_segment",
    """WITH j AS (
         SELECT c.c_mktsegment AS segment,
                CAST(floor(o.o_totalprice * 100 + CAST(0.5 AS DOUBLE))
                     AS BIGINT) // 100 AS v
         FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey),
       per AS (SELECT segment, CAST(count(*) AS BIGINT) AS n1,
                      CAST(sum(v) AS BIGINT) AS s1,
                      CAST(sum(v * v) AS BIGINT) AS ss1
               FROM j GROUP BY 1),
       tot AS (SELECT CAST(count(*) AS BIGINT) AS n,
                      CAST(sum(v) AS BIGINT) AS s,
                      CAST(sum(v * v) AS BIGINT) AS ss
               FROM j)
       SELECT per.segment, per.n1,
              round(CAST(per.s1 AS DOUBLE) / CAST(per.n1 AS DOUBLE), 4)
                AS mean_dollars,
              round((CAST(per.s1 AS DOUBLE) / CAST(per.n1 AS DOUBLE)
                     - CAST(tot.s - per.s1 AS DOUBLE)
                       / CAST(tot.n - per.n1 AS DOUBLE))
                    / sqrt((CAST(per.ss1 AS DOUBLE)
                            - CAST(per.s1 AS DOUBLE) * CAST(per.s1 AS DOUBLE)
                              / CAST(per.n1 AS DOUBLE)
                            + CAST(tot.ss - per.ss1 AS DOUBLE)
                            - CAST(tot.s - per.s1 AS DOUBLE)
                              * CAST(tot.s - per.s1 AS DOUBLE)
                              / CAST(tot.n - per.n1 AS DOUBLE))
                           / CAST(tot.n - 2 AS DOUBLE)), 6) AS cohen_d,
              round(((CAST(per.s1 AS DOUBLE) / CAST(per.n1 AS DOUBLE)
                      - CAST(tot.s - per.s1 AS DOUBLE)
                        / CAST(tot.n - per.n1 AS DOUBLE))
                     / sqrt((CAST(per.ss1 AS DOUBLE)
                             - CAST(per.s1 AS DOUBLE) * CAST(per.s1 AS DOUBLE)
                               / CAST(per.n1 AS DOUBLE)
                             + CAST(tot.ss - per.ss1 AS DOUBLE)
                             - CAST(tot.s - per.s1 AS DOUBLE)
                               * CAST(tot.s - per.s1 AS DOUBLE)
                               / CAST(tot.n - per.n1 AS DOUBLE))
                            / CAST(tot.n - 2 AS DOUBLE)))
                    * (CAST(1 AS DOUBLE)
                       - CAST(3 AS DOUBLE)
                         / (CAST(4 AS DOUBLE) * CAST(tot.n AS DOUBLE)
                            - CAST(9 AS DOUBLE))), 6) AS hedges_g
       FROM per CROSS JOIN tot ORDER BY per.segment""",
)
def _effect_size_by_segment(spark, sf_dir):
    """Cohen's d and Hedges' g standardized effect sizes of each
    market segment's order totals against all other segments — the
    practical-significance companion to the BH-screened z-tests
    (a segment can be statistically significant and practically
    trivial; d says which). Rest-group moments come from exact
    whole-corpus minus segment int64 sums (dollar units keep sum(v^2)
    inside int64 through factor 10); pooled-sd, d, and the small-
    sample J correction are one fixed IEEE tree per segment."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    j = o.join(F.broadcast(c), o["o_custkey"] == c["c_custkey"]).select(
        F.col("c_mktsegment").alias("segment"),
        F.expr("cast(floor(o_totalprice * 100 + 0.5d) as long) div 100").alias("v"),
    )
    per = j.groupBy("segment").agg(
        F.count(F.lit(1)).cast("long").alias("n1"),
        F.sum("v").cast("long").alias("s1"),
        F.sum(F.col("v") * F.col("v")).cast("long").alias("ss1"),
    )
    tot = j.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("v").cast("long").alias("s"),
        F.sum(F.col("v") * F.col("v")).cast("long").alias("ss"),
    )
    x = per.crossJoin(F.broadcast(tot))
    m1 = F.col("s1").cast("double") / F.col("n1").cast("double")
    s2 = (F.col("s") - F.col("s1")).cast("double")
    n2 = (F.col("n") - F.col("n1")).cast("double")
    m2 = s2 / n2
    pooled = F.sqrt(
        (
            F.col("ss1").cast("double")
            - F.col("s1").cast("double") * F.col("s1").cast("double")
            / F.col("n1").cast("double")
            + (F.col("ss") - F.col("ss1")).cast("double")
            - s2 * s2 / n2
        )
        / (F.col("n") - 2).cast("double")
    )
    d = (m1 - m2) / pooled
    jcorr = F.lit(1.0) - F.lit(3.0) / (
        F.lit(4.0) * F.col("n").cast("double") - F.lit(9.0)
    )
    return x.select(
        "segment",
        "n1",
        F.round(m1, 4).alias("mean_dollars"),
        F.round(d, 6).alias("cohen_d"),
        F.round(d * jcorr, 6).alias("hedges_g"),
    ).orderBy("segment")


# --------------------------------------------------- UCB arm indices


@q(
    "ucb_arm_indices",
    """WITH arms AS (SELECT event_type AS arm,
                CAST(count(*) AS BIGINT) AS n_a,
                CAST(sum(CAST(floor(value * 100 + CAST(0.5 AS DOUBLE))
                              AS BIGINT)) AS BIGINT) AS s_c
         FROM events GROUP BY 1),
       tot AS (SELECT CAST(sum(n_a) AS BIGINT) AS t FROM arms),
       mx AS (SELECT CAST(max(CAST(floor(value * 100 + CAST(0.5 AS DOUBLE))
                                   AS BIGINT)) AS BIGINT) AS max_c
              FROM events),
       idx AS (SELECT arms.arm, arms.n_a,
                      round(CAST(arms.s_c AS DOUBLE)
                            / CAST(arms.n_a AS DOUBLE)
                            / CAST(mx.max_c AS DOUBLE), 6) AS mean_norm,
                      round(CAST(arms.s_c AS DOUBLE)
                            / CAST(arms.n_a AS DOUBLE)
                            / CAST(mx.max_c AS DOUBLE)
                            + sqrt(CAST(2 AS DOUBLE) * ln(CAST(tot.t AS DOUBLE))
                                   / CAST(arms.n_a AS DOUBLE)), 6) AS ucb
               FROM arms CROSS JOIN tot CROSS JOIN mx)
       SELECT arm, n_a, mean_norm, ucb,
              CAST(CASE WHEN row_number() OVER (
                     ORDER BY ucb DESC, arm ASC) = 1
                   THEN 1 ELSE 0 END AS BIGINT) AS pull_next
       FROM idx ORDER BY arm""",
)
def _ucb_arm_indices(spark, sf_dir):
    """UCB1 bandit indices (Auer et al. 2002) over event types as arms
    with max-normalized cent values as rewards: index = mean +
    sqrt(2 ln T / n) — the optimism bonus that decides which arm an
    explore/exploit loop pulls next (the online companion to the
    offline ips_policy_value estimator). Counts and cent sums are
    exact int64 per arm; the index is one fixed IEEE tree; the
    pull_next flag is a full-tie-break rank over the arm level table."""
    ev = _t(spark, sf_dir, "events")
    cents = F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
    arms = ev.groupBy(F.col("event_type").alias("arm")).agg(
        F.count(F.lit(1)).cast("long").alias("n_a"),
        F.sum(cents).cast("long").alias("s_c"),
    )
    tot = arms.agg(F.sum("n_a").cast("long").alias("t"))
    mx = ev.agg(F.max(cents).cast("long").alias("max_c"))
    idx = arms.crossJoin(F.broadcast(tot)).crossJoin(F.broadcast(mx))
    mean_norm = (
        F.col("s_c").cast("double")
        / F.col("n_a").cast("double")
        / F.col("max_c").cast("double")
    )
    ucb = mean_norm + F.sqrt(
        F.lit(2.0) * F.log(F.col("t").cast("double")) / F.col("n_a").cast("double")
    )
    out = idx.select(
        "arm",
        "n_a",
        F.round(mean_norm, 6).alias("mean_norm"),
        F.round(ucb, 6).alias("ucb"),
    )
    wr = Window.orderBy(F.col("ucb").desc(), F.col("arm").asc())
    return out.withColumn(
        "pull_next", (F.row_number().over(wr) == 1).cast("long")
    ).orderBy("arm")
