"""Round-7 batch 2: experimentation session-2 tier — sequential
testing (Wald SPRT replay), uplift targeting (Qini deciles), robust
location metrics (trimmed/winsorized means), ratio-metric delta-method
CI, switchback readout with cluster-robust errors, sharp regression
discontinuity, Neyman-optimal sample allocation, multi-touch revenue
attribution, pre-experiment power/MDE planning, and the Mann-Kendall
trend test. Each with an exact DuckDB oracle.

Completes the causal/experiment readout layer started in r7_ops.py on
the reference's logged-feedback data model (app/word_item_similarity/
make_click_train_data.py). Shared determinism discipline: exact int64
sums everywhere; transcendental constants (SPRT log-likelihood
increments) precomputed driver-side as nano-unit integers and embedded
as the SAME literals in both engines; doubles only in final scalar
formulas on exact integers.
"""

from __future__ import annotations

from redshells_spark.operators.sequential import sprt_llr_literals
from redshells_spark.queries._shared import *  # noqa: F401,F403

_CENTS_SQL = "CAST(floor(value * 100 + CAST(0.5 AS DOUBLE)) AS BIGINT)"
_DAY_US = 86_400_000_000
_HOUR_US = 3_600_000_000

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


# ------------------------------------------------- robust means


@q(
    "trimmed_mean_by_type",
    f"""WITH v AS (SELECT event_type, {_CENTS_SQL} AS v FROM events),
       lvl AS (SELECT event_type, v, CAST(count(*) AS BIGINT) AS n_l
               FROM v GROUP BY 1, 2),
       lv2 AS (SELECT event_type, v, n_l,
               CAST(coalesce(sum(n_l) OVER (PARTITION BY event_type
                 ORDER BY v ASC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                 AS BIGINT) AS cum_before
               FROM lvl),
       tot AS (SELECT event_type, CAST(sum(n_l) AS BIGINT) AS n
               FROM lvl GROUP BY 1),
       j AS (SELECT l.*, t.n, CAST((t.n * 10) // 100 AS BIGINT) AS lo
             FROM lv2 l JOIN tot t USING (event_type)),
       agg AS (SELECT event_type,
            CAST(max(n) AS BIGINT) AS n,
            CAST(max(lo) AS BIGINT) AS lo,
            CAST(sum(greatest(0, least(cum_before + n_l, n - lo)
                                 - greatest(cum_before, lo)) * v)
                 AS BIGINT) AS trimmed_sum,
            CAST(min(CASE WHEN cum_before + n_l >= lo + 1 THEN v END)
                 AS BIGINT) AS v_lo,
            CAST(min(CASE WHEN cum_before + n_l >= n - lo THEN v END)
                 AS BIGINT) AS v_hi
          FROM j GROUP BY 1)
       SELECT event_type, n, CAST(n - 2 * lo AS BIGINT) AS n_kept, v_lo, v_hi,
              round(CAST(trimmed_sum AS DOUBLE)
                    / CAST(n - 2 * lo AS DOUBLE), 6) AS trimmed_mean,
              round(CAST(trimmed_sum + lo * v_lo + lo * v_hi AS DOUBLE)
                    / CAST(n AS DOUBLE), 6) AS winsorized_mean
       FROM agg ORDER BY event_type""",
)
def _trimmed_mean_by_type(spark, sf_dir):
    """10%-per-tail trimmed and winsorized mean value per event type —
    the robust-location readout heavy-tailed metrics need. Exact order
    statistics on the distinct-value level table (the weighted-median
    pattern): the only window runs over distinct cent values per
    group, every sum is int64, one double division per mean at the
    end. operators/robust.py:trimmed_winsorized_means."""
    from redshells_spark.operators.experiment import cents
    from redshells_spark.operators.robust import trimmed_winsorized_means

    ev = _t(spark, sf_dir, "events").select(
        "event_type", cents("value").alias("c")
    )
    return trimmed_winsorized_means(ev, ["event_type"], "c", trim_pct=10).orderBy(
        "event_type"
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


# ------------------------------------------------- multi-touch attribution


@q(
    "attribution_revenue",
    f"""WITH p AS (SELECT user_id AS u, epoch_us(ts) AS cts, event_id AS cid,
                          {_CENTS_SQL} AS cents
                   FROM events WHERE event_type = 'purchase'),
       t AS (SELECT user_id AS u, epoch_us(ts) AS tts, event_id AS tid
             FROM events WHERE event_type = 'click'),
       pr AS (SELECT p.cid, p.cents, t.tts, t.tid
              FROM p JOIN t USING (u)
              WHERE t.tts <= p.cts AND t.tts > p.cts - {7 * _DAY_US}),
       rk AS (SELECT *,
            CAST(row_number() OVER (PARTITION BY cid
                                    ORDER BY tts ASC, tid ASC) AS BIGINT) AS rk,
            CAST(count(*) OVER (PARTITION BY cid) AS BIGINT) AS k,
            CAST((tts // {_HOUR_US}) % 24 AS BIGINT) AS touch_hour
          FROM pr),
       m AS (
         SELECT 'first_touch' AS model, touch_hour, cents AS credit
         FROM rk WHERE rk = 1
         UNION ALL
         SELECT 'last_touch' AS model, touch_hour, cents AS credit
         FROM rk WHERE rk = k
         UNION ALL
         SELECT 'linear' AS model, touch_hour,
                CAST(cents // k + CASE WHEN rk = k THEN cents % k ELSE 0 END
                     AS BIGINT) AS credit
         FROM rk)
       SELECT model, touch_hour,
              CAST(count(*) AS BIGINT) AS n_touches_credited,
              CAST(sum(credit) AS BIGINT) AS credited_cents
       FROM m GROUP BY 1, 2 ORDER BY model, touch_hour""",
)
def _attribution_revenue(spark, sf_dir):
    """Multi-touch revenue attribution (first/last/linear) of purchase
    cents to the user's clicks inside a 7-day lookback, reported by
    touch hour-of-day. The purchase×click join is user-keyed and
    window-bounded; per-conversion ranking windows run over that
    bounded touch list; linear credit is exact integer division with
    the remainder pinned to the last touch, so per-model totals
    reconcile to the cent. operators/attribution.py."""
    from redshells_spark.operators.attribution import multi_touch_attribution
    from redshells_spark.operators.experiment import cents

    ev = _t(spark, sf_dir, "events")
    ev = ev.withColumn("us", event_us(ev, "ts"))
    conv = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("us").alias("ts_us"), "event_id", cents("value").alias("c")
    )
    touch = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("us").alias("ts_us"), "event_id"
    )
    return multi_touch_attribution(
        conv,
        touch,
        user_col="user_id",
        ts_us_col="ts_us",
        id_col="event_id",
        cents_col="c",
        lookback_days=7,
    )


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


# ------------------------------------------------- Mann-Kendall trend


@q(
    "mann_kendall_purchases",
    f"""WITH days AS (SELECT DISTINCT epoch_us(ts) // {_DAY_US} AS t FROM events),
       pc AS (SELECT epoch_us(ts) // {_DAY_US} AS t,
                     CAST(count(*) AS BIGINT) AS v
              FROM events WHERE event_type = 'purchase' GROUP BY 1),
       s AS (SELECT d.t, CAST(coalesce(pc.v, 0) AS BIGINT) AS v
             FROM days d LEFT JOIN pc USING (t)),
       pr AS (SELECT CAST(coalesce(sum(CASE WHEN b.v > a.v THEN 1
                                            WHEN b.v < a.v THEN -1
                                            ELSE 0 END), 0) AS BIGINT) AS s_stat
              FROM s a JOIN s b ON b.t > a.t),
       nn AS (SELECT CAST(count(*) AS BIGINT) AS n_periods FROM s),
       ties AS (SELECT CAST(coalesce(sum(CASE WHEN tg > 1
                        THEN tg * (tg - 1) * (2 * tg + 5) ELSE 0 END), 0)
                        AS BIGINT) AS tie_term
                FROM (SELECT CAST(count(*) AS BIGINT) AS tg
                      FROM s GROUP BY v)),
       r AS (SELECT s_stat, n_periods,
            CAST(n_periods * (n_periods - 1) * (2 * n_periods + 5) - tie_term
                 AS BIGINT) AS var_s_x18
          FROM pr CROSS JOIN nn CROSS JOIN ties),
       zz AS (SELECT *, CASE WHEN var_s_x18 > 0 THEN
                round(CAST(s_stat - CASE WHEN s_stat > 0 THEN 1
                                         WHEN s_stat < 0 THEN -1
                                         ELSE 0 END AS DOUBLE)
                      / sqrt(CAST(var_s_x18 AS DOUBLE)
                             / CAST(18.0 AS DOUBLE)), 6)
              END AS z
          FROM r)
       SELECT n_periods, s_stat, var_s_x18, z,
              CASE WHEN z > CAST(1.959964 AS DOUBLE) THEN 'increasing'
                   WHEN z < CAST(-1.959964 AS DOUBLE) THEN 'decreasing'
                   ELSE 'none' END AS trend
       FROM zz""",
)
def _mann_kendall_purchases(spark, sf_dir):
    """Mann-Kendall trend test on the dense daily purchase-count
    series (zero-filled over the log's observed days): S and the
    tie-corrected variance stay exact int64 (the pair self-join runs
    over the time-bounded day relation, never fact rows), z applies
    the continuity correction in double on exact ints.
    operators/drift.py:mann_kendall_trend."""
    from redshells_spark.operators.drift import mann_kendall_trend

    series = _daily_purchases(spark, sf_dir)
    return mann_kendall_trend(series, "t", "v")


# ------------------------------------------------- containment join

from redshells_spark.queries.dedup import _SHINGLE_SQL  # noqa: E402


@q(
    "containment_dedup_join",
    f"""WITH {_VOCAB_SQL}, {_TOK_SQL}, {_SHINGLE_SQL},
       freq AS (SELECT shingle AS el, count(*) AS f FROM shingles GROUP BY 1),
       ord AS (SELECT el, row_number() OVER (ORDER BY f ASC, el ASC) AS erk
               FROM freq),
       szs AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS sz
               FROM shingles GROUP BY 1),
       rk AS (
         SELECT s.doc_id, s.shingle AS el, z.sz,
                row_number() OVER (PARTITION BY s.doc_id
                                   ORDER BY o.erk ASC) AS pos
         FROM shingles s JOIN ord o ON o.el = s.shingle
         JOIN szs z USING (doc_id)),
       pre AS (SELECT doc_id, el, sz FROM rk
               WHERE pos <= sz - CAST((8 * sz + 9) // 10 AS BIGINT) + 1),
       idx AS (SELECT doc_id, el, sz FROM rk),
       cand AS (
         SELECT DISTINCT a.doc_id AS ida, b.doc_id AS idb,
                a.sz AS sza, b.sz AS szb
         FROM pre a JOIN idx b ON a.el = b.el
         WHERE a.doc_id <> b.doc_id AND b.sz * 10 >= a.sz * 8),
       arrs AS (SELECT doc_id, list_sort(list(shingle)) AS arr
                FROM shingles GROUP BY 1),
       itr AS (
         SELECT c.ida, c.idb, c.sza, c.szb,
                CAST(len(list_intersect(a0.arr, a1.arr)) AS BIGINT) AS inter
         FROM cand c
         JOIN arrs a0 ON a0.doc_id = c.ida
         JOIN arrs a1 ON a1.doc_id = c.idb)
       SELECT ida AS id_a, idb AS id_b, inter,
              CAST(sza AS BIGINT) AS size_a, CAST(szb AS BIGINT) AS size_b,
              CAST(inter * 10000 // sza AS BIGINT) AS cont_e4
       FROM itr WHERE inter * 10 >= 8 * sza""",
)
def _containment_dedup_join(spark, sf_dir):
    """EXACT asymmetric containment join |A∩B|/|A| >= 0.8 over bigram
    shingle sets — the 'onion-layer' dedup relation (quote /
    boilerplate inclusion) that symmetric Jaccard misses when
    |B| >> |A|. A-side prefix filtering against the FULL inverted
    index (Vernica et al. 2010 probe-index shape) with both of Xiao's
    positional bounds carried over at the containment alpha; exact
    array_intersect verification, no corpus-sized broadcast.
    Shares the in-session rank-sorted index with prefix_filter_jaccard
    (one shared index, two join semantics).
    dedup/ppjoin.py:containment_pairs_from_rank_sorted; the oracle
    replays candidate generation WITHOUT the positional prunes (a
    sound superset — the exact final filter equalizes), so a hash
    MATCH also certifies the prunes lose no qualifying pair."""
    return _containment_pairs(spark, sf_dir)


@session_memo
def _containment_pairs(spark, sf_dir):
    """The verified UNFLOORED τ=0.8 containment relation over the
    shared rank-sorted shingle index, cached per (session, sf): the
    floored registry entry is EXACTLY this relation filtered on
    size_a (the min-|A| floor is a probe-side pre-filter, not an
    approximation — see containment_pairs_from_rank_sorted), so both
    entries share one candidate join + verification. Passes the
    measured element universe for the adaptive bitset gate (at sf0.1
    u = 931 exceeds the single-word auto gate, so the measured-faster
    positional array path runs; a u ≤ 64 corpus flips to the inline
    popcount verify — see dedup/ppjoin.py:_containment_bitmask)."""
    from redshells_spark.dedup.ppjoin import containment_pairs_from_rank_sorted
    from redshells_spark.queries.r6c_ops import _ppjoin_index, _ppjoin_universe

    return containment_pairs_from_rank_sorted(
        _ppjoin_index(spark, sf_dir),
        8,
        10,
        element_universe=_ppjoin_universe(spark, sf_dir),
    ).cache()


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

_WEEK_US = 7 * _DAY_US


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


# ------------------------------------------------- WAND-pruned BM25


@q(
    "bm25_wand_topk",
    """WITH tok AS (
         SELECT doc_id,
                unnest(list_filter(string_split(lower(text), ' '),
                                   t -> t <> '')) AS term
         FROM documents),
       dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY 1),
       st AS (SELECT count(*) AS n_docs, sum(dl) AS dl_sum FROM dl),
       p AS (SELECT doc_id, term, count(*) AS tf FROM tok
             WHERE term IN ('spark', 'hash', 'stream')
             GROUP BY 1, 2),
       dft AS (SELECT term, count(*) AS df FROM p GROUP BY 1),
       s AS (
         SELECT p.doc_id,
                ln(CAST(1.0 AS DOUBLE)
                   + (st.n_docs - dft.df + CAST(0.5 AS DOUBLE))
                     / (dft.df + CAST(0.5 AS DOUBLE)))
                  * p.tf
                  / (p.tf + CAST(1.2 AS DOUBLE)
                     * (CAST(1.0 AS DOUBLE) - CAST(0.75 AS DOUBLE)
                        + CAST(0.75 AS DOUBLE) * dl.dl
                          / (st.dl_sum / st.n_docs))) AS t
         FROM p JOIN dl USING (doc_id) JOIN dft USING (term), st)
       SELECT doc_id, round(sum(t), 4) AS score
       FROM s GROUP BY doc_id
       ORDER BY score DESC, doc_id ASC LIMIT 15""",
)
def _bm25_wand_topk(spark, sf_dir):
    """BM25 top-15 through WAND upper-bound pruning (Broder et al.
    2003; text/bm25.py:bm25_wand_topk): per-term max-contribution
    bounds + a score floor from the rarest term's posting list prune
    the exact-scoring pass to documents still competitive at rank k.
    The ORACLE is the plain exact ranking — a hash MATCH certifies the
    pruning is lossless, the same grading contract as
    containment_dedup_join and the minhash eval."""
    from redshells_spark.text.bm25 import bm25_wand_topk

    docs = _t(spark, sf_dir, "documents")
    return bm25_wand_topk(docs, ("spark", "hash", "stream"), k=15)


# ------------------------------------------------- CUSUM + MASE

_DAILY_PURCHASES_SQL = f"""days AS (SELECT DISTINCT epoch_us(ts) // {_DAY_US} AS t
                FROM events),
       pc AS (SELECT epoch_us(ts) // {_DAY_US} AS t,
                     CAST(count(*) AS BIGINT) AS v
              FROM events WHERE event_type = 'purchase' GROUP BY 1),
       s AS (SELECT d.t, CAST(coalesce(pc.v, 0) AS BIGINT) AS v
             FROM days d LEFT JOIN pc USING (t))"""


@q(
    "cusum_daily_purchases",
    f"""WITH {_DAILY_PURCHASES_SQL},
       mu AS (SELECT CAST(sum(v) // count(*) AS BIGINT) AS mu0 FROM s),
       c AS (SELECT s.t, s.v, m.mu0,
            CAST(sum(s.v - m.mu0 - 0) OVER wt AS BIGINT) AS cp,
            CAST(sum(m.mu0 - s.v - 0) OVER wt AS BIGINT) AS cn
          FROM s CROSS JOIN mu m
          WINDOW wt AS (ORDER BY s.t ASC
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
       mm AS (SELECT t, v, mu0,
            CAST(cp - least(min(cp) OVER wt, 0) AS BIGINT) AS cusum_pos,
            CAST(cn - least(min(cn) OVER wt, 0) AS BIGINT) AS cusum_neg
          FROM c
          WINDOW wt AS (ORDER BY t ASC
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
       ff AS (SELECT *, round(CAST(5.0 AS DOUBLE) * sqrt(CAST(mu0 AS DOUBLE)), 6)
                        AS threshold
              FROM mm)
       SELECT t, v, cusum_pos, cusum_neg, threshold,
              greatest(
                CAST(CAST(cusum_pos AS DOUBLE) >= threshold AS BIGINT),
                CAST(CAST(cusum_neg AS DOUBLE) >= threshold AS BIGINT)
              ) AS flag
       FROM ff ORDER BY t""",
)
def _cusum_daily_purchases(spark, sf_dir):
    """Page's CUSUM over the dense daily purchase-count series: the
    reset-at-zero recursion evaluated by its closed form (running
    deviation cumsum minus running min — two plain windows over the
    day relation, no iteration); both CUSUM sides stay exact int64 and
    the only double is the 5·sqrt(mu0) decision threshold.
    operators/changepoint.py:cusum_monitor."""
    from redshells_spark.operators.changepoint import cusum_monitor

    series = _daily_purchases(spark, sf_dir)
    return cusum_monitor(series, "t", "v", slack=0)


@q(
    "seasonal_naive_mase",
    f"""WITH {_DAILY_PURCHASES_SQL},
       j AS (SELECT s.t, s.v, l1.v AS v1, ls.v AS vs
             FROM s JOIN s l1 ON s.t = l1.t + 1
                    JOIN s ls ON s.t = ls.t + 7),
       a AS (SELECT CAST(count(*) AS BIGINT) AS n_terms,
                    CAST(sum(abs(v - vs)) AS BIGINT) AS sae_seasonal,
                    CAST(sum(abs(v - v1)) AS BIGINT) AS sae_naive
             FROM j)
       SELECT n_terms, sae_seasonal, sae_naive,
              CASE WHEN sae_naive > 0 THEN
                round(CAST(sae_seasonal AS DOUBLE) / CAST(sae_naive AS DOUBLE), 6)
              END AS mase
       FROM a""",
)
def _seasonal_naive_mase(spark, sf_dir):
    """Seasonal-naive vs one-step-naive absolute error on daily
    purchases (MASE-style, Hyndman & Koehler 2006): mase < 1 certifies
    weekly structure beats persistence before any heavier forecaster.
    Exact int64 error sums over the time-bounded day relation.
    operators/drift.py:seasonal_naive_mase."""
    from redshells_spark.operators.drift import seasonal_naive_mase

    series = _daily_purchases(spark, sf_dir)
    return seasonal_naive_mase(series, "t", "v", season=7)


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
