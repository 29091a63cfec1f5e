"""Time series: trend fits, forecasts and their evaluation, seasonality,
change-point and drift detectors, serial-dependence tests, and the dense
daily/rolling series they share.
"""

from __future__ import annotations

import math

from pyspark.sql import Row, types as T
from redshells_spark.queries._shared import *  # noqa: F401,F403


@q(
    "time_bucket_gapfill",
    """WITH obs AS (
         SELECT user_id, epoch_us(ts) // 3600000000 AS bucket,
                round(avg(value), 10) AS v
         FROM events GROUP BY 1, 2),
       span AS (SELECT user_id, min(bucket) AS b0, max(bucket) AS b1 FROM obs GROUP BY 1),
       grid AS (SELECT user_id, unnest(range(b0, b1 + 1)) AS bucket FROM span),
       gfull AS (SELECT g.user_id, g.bucket, o.v
                 FROM grid g LEFT JOIN obs o ON o.user_id = g.user_id AND o.bucket = g.bucket),
       w AS (SELECT user_id, bucket, v,
               last_value(v IGNORE NULLS) OVER fw AS prev_v,
               last_value(CASE WHEN v IS NOT NULL THEN bucket END IGNORE NULLS) OVER fw AS prev_b,
               first_value(v IGNORE NULLS) OVER bw AS next_v,
               first_value(CASE WHEN v IS NOT NULL THEN bucket END IGNORE NULLS) OVER bw AS next_b
             FROM gfull
             WINDOW fw AS (PARTITION BY user_id ORDER BY bucket ROWS UNBOUNDED PRECEDING),
                    bw AS (PARTITION BY user_id ORDER BY bucket
                           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
       SELECT user_id, (bucket * 3600)::BIGINT AS bucket_start,
              (v IS NULL)::INTEGER AS is_gap,
              CAST(round(prev_v * 10000) AS BIGINT) AS v_locf_e4,
              CAST(round((CASE WHEN v IS NOT NULL THEN v
                    ELSE prev_v + (next_v - prev_v) * (bucket - prev_b) / (next_b - prev_b)
                    END) * 10000) AS BIGINT) AS v_interp_e4
       FROM w""",
)
def _time_bucket_gapfill(spark, sf_dir):
    """Hypertable-style gap-fill (operators/gapfill.py): hourly per-user
    buckets, missing buckets materialized inside each user's observed
    span, LOCF + linear interpolation. Fills are exported as 1e-4-scaled
    integers: ``round(x*10000)`` rounds the *same* IEEE product on both
    engines, where ``round(x, 4)`` diverges (Spark's exact-BigDecimal
    HALF_UP vs DuckDB's multiply-then-round double-rounding) whenever an
    interpolated value lands exactly on a 5e-5 boundary."""
    from redshells_spark.operators.gapfill import time_bucket_gapfill

    out = time_bucket_gapfill(
        _t(spark, sf_dir, "events"),
        key_column="user_id",
        value_column="value",
        ts_column="ts",
        bucket_seconds=3600,
    )
    return out.select(
        "user_id",
        "bucket_start",
        "is_gap",
        F.round(F.col("v_locf") * 10000, 0).cast("long").alias("v_locf_e4"),
        F.round(F.col("v_interp") * 10000, 0).cast("long").alias("v_interp_e4"),
    )


@q(
    "rolling_event_stats",
    """WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS us,
                         CAST(round(value * 100) AS BIGINT) AS vc
                  FROM events)
       SELECT event_id, user_id,
              (count(*) OVER w)::BIGINT AS n_1h,
              (sum(vc) OVER w)::BIGINT AS sum_c_1h,
              round((sum(vc) OVER w)::DOUBLE / (100.0 * (count(*) OVER w)), 4) AS avg_1h
       FROM e
       WINDOW w AS (PARTITION BY user_id ORDER BY us
                    RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)""",
)
def _rolling_event_stats(spark, sf_dir):
    """Sliding event-time aggregate: per event, count/sum/avg of the
    user's trailing 1-hour window via a RANGE frame over microseconds —
    the per-row counterpart to the tumbling `windowed_event_counts`.
    Values ride as integer cents (`round(value*100)` — 2-decimal source
    data), so the sliding sums are order-free integer arithmetic and
    the avg divides identical ints: bit-stable on both engines."""
    ev = _t(spark, sf_dir, "events")
    e = ev.select(
        "event_id",
        "user_id",
        event_us(ev, "ts").alias("__us"),
        F.round(F.col("value") * 100, 0).cast("long").alias("vc"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("__us")
        .rangeBetween(-3_600_000_000, Window.currentRow)
    )
    return e.select(
        "event_id",
        "user_id",
        F.count(F.lit(1)).over(w).cast("long").alias("n_1h"),
        F.sum("vc").over(w).cast("long").alias("sum_c_1h"),
        _r4(
            F.sum("vc").over(w).cast("double") / (F.lit(100.0) * F.count(F.lit(1)).over(w)),
            "avg_1h",
        ),
    )


_EV_EPOCH_HOURS = 473_352  # 2024-01-01 00:00 UTC in whole hours
_US_2024_01_22 = 1_705_881_600 * 1_000_000
_US_2024_01_29 = 1_706_486_400 * 1_000_000


@q(
    "grouped_ols_trend",
    f"""WITH pts AS (SELECT event_type,
                           epoch_us(ts) // {_HOUR_US} - {_EV_EPOCH_HOURS} AS x,
                           CAST(round(value * 100) AS BIGINT) AS y
                    FROM events),
       m AS (SELECT event_type, count(*) AS n,
                    sum(x) AS sx, sum(y) AS sy,
                    sum(x * x) AS sxx, sum(x * y) AS sxy, sum(y * y) AS syy
             FROM pts GROUP BY event_type)
       SELECT event_type, n,
              round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                    / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                       - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) / 100.0, 6) AS slope,
              round((CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)
                     - ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                         - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                        / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                           - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))
                       * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))) / 100.0, 6) AS intercept,
              round(((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                     * (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                        - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)))
                    / ((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                       * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                          - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6) AS r2
       FROM m""",
)
def _grouped_ols_trend(spark, sf_dir):
    """Per-group simple linear regression (value ~ hours-since-epoch)
    in closed form from FIVE exact integer moments — one aggregate
    pass, no iteration, no MLlib. x rides as whole hours (offset to
    keep magnitudes small), y as integer cents, so every sum is
    order-independent; the slope/intercept/R² arithmetic happens once
    per GROUP on already-exact moments, with the same literal
    expression tree on both engines (IEEE doubles are deterministic
    given identical inputs and op order). At 100 TB this is one
    map-side-combined shuffle of 7 longs per group."""
    ev = _t(spark, sf_dir, "events")
    pts = ev.select(
        "event_type",
        (event_us(ev, "ts") / F.lit(_HOUR_US)).cast("long").alias("x_raw"),
        F.round(F.col("value") * 100, 0).cast("long").alias("y"),
    ).select(
        "event_type", (F.col("x_raw") - _EV_EPOCH_HOURS).alias("x"), "y"
    )
    m = pts.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    n, sx, sy = (F.col(c).cast("double") for c in ("n", "sx", "sy"))
    sxx, sxy, syy = (F.col(c).cast("double") for c in ("sxx", "sxy", "syy"))
    num = n * sxy - sx * sy
    den = n * sxx - sx * sx
    slope = num / den
    return m.select(
        "event_type",
        "n",
        F.round(slope / 100.0, 6).alias("slope"),
        F.round((sy / n - slope * (sx / n)) / 100.0, 6).alias("intercept"),
        F.round((num * num) / (den * (n * syy - sy * sy)), 6).alias("r2"),
    )


@q(
    "seasonal_baseline_forecast",
    f"""WITH ev AS (SELECT event_type, epoch_us(ts) AS us,
                          (epoch_us(ts) // {_HOUR_US}) % 24 AS hod,
                          CAST(round(value * 100) AS BIGINT) AS v_c
                   FROM events),
       train AS (SELECT event_type, hod, sum(v_c) AS s, count(*) AS c
                 FROM ev WHERE us < {_US_2024_01_22} GROUP BY event_type, hod),
       test AS (SELECT event_type, hod, v_c FROM ev
                WHERE us >= {_US_2024_01_22} AND us < {_US_2024_01_29}),
       terms AS (SELECT t.event_type,
                        CAST(round(abs(CAST(t.v_c AS DOUBLE) * CAST(tr.c AS DOUBLE)
                                       - CAST(tr.s AS DOUBLE))
                                   * 1000000.0 / CAST(tr.c AS DOUBLE)) AS BIGINT) AS err_u
                 FROM test t JOIN train tr
                   ON t.event_type = tr.event_type AND t.hod = tr.hod)
       SELECT event_type, count(*) AS n_test,
              round(CAST(sum(err_u) AS DOUBLE) / 1000000.0 / count(*) / 100.0, 4) AS mae
       FROM terms GROUP BY event_type""",
)
def _seasonal_baseline_forecast(spark, sf_dir):
    """Seasonal-naive backtest: the forecast for (event_type,
    hour-of-day) is the training-window mean; score one held-out week
    by MAE. The per-row error is converted to an exact integer
    micro-unit (|v·c − s|/c rounded to 1e-6) BEFORE summing, so the
    aggregate is order-free and cross-engine identical — the same
    fixed-point discipline as the chi-square and A/B queries. The
    hour-of-day profile is a tiny broadcast join onto the test scan;
    train is one map-combined aggregate."""
    ev = _t(spark, sf_dir, "events")
    base = ev.select(
        "event_type",
        event_us(ev, "ts").alias("us"),
        ((event_us(ev, "ts") / F.lit(_HOUR_US)).cast("long") % 24).alias("hod"),
        F.round(F.col("value") * 100, 0).cast("long").alias("v_c"),
    )
    train = (
        base.filter(F.col("us") < _US_2024_01_22)
        .groupBy("event_type", "hod")
        .agg(F.sum("v_c").alias("s"), F.count(F.lit(1)).alias("c"))
    )
    test = base.filter(
        (F.col("us") >= _US_2024_01_22) & (F.col("us") < _US_2024_01_29)
    ).select("event_type", "hod", "v_c")
    err_u = F.round(
        F.abs(
            F.col("v_c").cast("double") * F.col("c").cast("double")
            - F.col("s").cast("double")
        )
        * 1_000_000.0
        / F.col("c").cast("double"),
        0,
    ).cast("long")
    terms = test.join(F.broadcast(train), ["event_type", "hod"]).select(
        "event_type", err_u.alias("err_u")
    )
    return terms.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_test"),
        F.round(
            F.sum("err_u").cast("double") / 1_000_000.0 / F.count(F.lit(1)) / 100.0, 4
        ).alias("mae"),
    )


@q(
    "seasonal_decompose_profile",
    f"""WITH daily AS (SELECT event_type, epoch_us(ts) // {_DAY_US} AS day,
                       sum(CAST(round(value * 100, 0) AS BIGINT)) AS v_c
                FROM events GROUP BY 1, 2),
       tr AS (SELECT event_type, day, v_c,
                     sum(v_c) OVER (PARTITION BY event_type ORDER BY day ASC
                                    ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS t7,
                     count(*) OVER (PARTITION BY event_type ORDER BY day ASC
                                    ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS t7n
              FROM daily),
       det AS (SELECT event_type, day % 7 AS dow,
                      7 * v_c - t7 AS d_x7
               FROM tr WHERE t7n = 7)
       SELECT event_type, dow, count(*)::BIGINT AS n_days,
              CAST(floor((sum(d_x7)::DOUBLE / count(*)) / 700.0 * 10000 + 0.5)
                   AS BIGINT) AS seasonal_e4
       FROM det GROUP BY event_type, dow""",
)
def _seasonal_decompose_profile(spark, sf_dir):
    """STL-lite seasonal profile under the exact contract: daily sums
    carried as integer cents, the 7-day centered moving trend kept as
    the un-divided window SUM (detrended value = 7·v − Σ₇ stays
    integer — no float drift in any aggregate), weekday seasonal
    means exported via the floor(x·1e4+0.5) fixed-point (one IEEE
    division + one multiply — identical in both engines, sidestepping
    their different round() semantics). Interior days only (full
    7-day window), all windows partitioned by series key."""
    ev = _t(spark, sf_dir, "events")
    us = event_us(ev, "ts")
    daily = (
        ev.select(
            "event_type",
            (us / F.lit(_DAY_US)).cast("long").alias("day"),
            F.round(F.col("value") * 100, 0).cast("long").alias("v_c"),
        )
        .groupBy("event_type", "day")
        .agg(F.sum("v_c").alias("v_c"))
    )
    w7 = (
        Window.partitionBy("event_type")
        .orderBy(F.col("day").asc())
        .rowsBetween(-3, 3)
    )
    tr = daily.select(
        "event_type",
        "day",
        "v_c",
        F.sum("v_c").over(w7).alias("t7"),
        F.count(F.lit(1)).over(w7).alias("t7n"),
    )
    det = tr.filter(F.col("t7n") == 7).select(
        "event_type",
        (F.col("day") % 7).alias("dow"),
        (F.lit(7) * F.col("v_c") - F.col("t7")).alias("d_x7"),
    )
    return det.groupBy("event_type", "dow").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.floor(
            (F.sum("d_x7").cast("double") / F.count(F.lit(1)))
            / 700.0
            * 10000
            + F.lit(0.5)
        )
        .cast("long")
        .alias("seasonal_e4"),
    )


def _changepoint_oracle() -> str:
    from redshells_spark.operators.changepoint import mean_shift_changepoint_sql

    return mean_shift_changepoint_sql(
        "points AS (SELECT user_id, value AS x, epoch_us(ts) AS ord, event_id AS ord2 FROM events)",
        group="user_id",
    )


@q("mean_shift_changepoint", _changepoint_oracle())
def _mean_shift_changepoint(spark, sf_dir):
    """Best single mean-shift split per user's event-value series —
    the first step of binary segmentation (operators/changepoint.py):
    SSE cost for every split from one pass of EXACT integer-cent
    prefix sums (int64 window sums are order-free; double prefixes
    aren't portable — DuckDB folds window frames via a segment tree),
    full-precision export (round() itself diverges on half
    boundaries). Per-group windows over bounded series; one row per
    user."""
    from redshells_spark.operators.changepoint import mean_shift_changepoint

    ev = _t(spark, sf_dir, "events")
    pts = ev.select(
        "user_id",
        "value",
        event_us(ev, "ts").alias("ord"),
        F.col("event_id").alias("ord2"),
    )
    return mean_shift_changepoint(pts, "user_id", "value", ["ord", "ord2"])


def _theil_sen_oracle() -> str:
    from redshells_spark.ml.theil_sen import theil_sen_sql

    base = theil_sen_sql(
        "points AS (SELECT user_id, epoch_us(ts) AS tus, value AS v, event_id AS k FROM events)",
        group="user_id",
    )
    return (
        f"WITH ts_base AS ({base}) "
        "SELECT user_id, n_points, n_slopes, round(slope, 4) AS slope FROM ts_base"
    )


@q("theil_sen_trend", _theil_sen_oracle())
def _theil_sen_trend(spark, sf_dir):
    """Per-user Theil-Sen robust trend of event value over time
    (ml/theil_sen.py): median of all pairwise slopes — 29% breakdown
    vs OLS's single-outlier failure. Quadratic per group BY CONTRACT
    (bounded: a user's events), group-keyed self-join, max_points
    exclusion guard mirrored by the oracle's HAVING; medians are exact
    order statistics, never percentile_approx."""
    from redshells_spark.ml.theil_sen import theil_sen_trend

    ev = _t(spark, sf_dir, "events")
    pts = ev.select(
        "user_id",
        event_us(ev, "ts").alias("tus"),
        F.col("value").alias("v"),
        "event_id",
    )
    out = theil_sen_trend(pts, "user_id", "tus", "v", "event_id")
    return out.select(
        "user_id", "n_points", "n_slopes", F.round("slope", 4).alias("slope")
    )


# ------------------------------------------------- autocorrelation


@q(
    "autocorrelation_lags",
    f"""WITH r AS (SELECT min(epoch_us(ts)) // {_DAY_US} AS mn,
                     max(epoch_us(ts)) // {_DAY_US} AS mx FROM events),
       days AS (SELECT unnest(range(r.mn, r.mx + 1)) AS day FROM r),
       e AS (SELECT epoch_us(ts) // {_DAY_US} AS day,
                    CAST(count(*) AS BIGINT) AS n
             FROM events GROUP BY 1),
       c AS (SELECT d.day, CAST(coalesce(e.n, 0) AS BIGINT) AS n
             FROM days d LEFT JOIN e USING (day)),
       lags AS (SELECT unnest(range(1, 8)) AS lag),
       p AS (SELECT l.lag,
                    CAST(count(*) AS BIGINT) AS n_pairs,
                    CAST(sum(a.n) AS BIGINT) AS sa,
                    CAST(sum(b.n) AS BIGINT) AS sb,
                    CAST(sum(a.n * b.n) AS BIGINT) AS sab,
                    CAST(sum(a.n * a.n) AS BIGINT) AS saa,
                    CAST(sum(b.n * b.n) AS BIGINT) AS sbb
             FROM c a CROSS JOIN lags l JOIN c b ON b.day = a.day + l.lag
             GROUP BY 1)
       SELECT CAST(lag AS BIGINT) AS lag, n_pairs,
              CASE WHEN sqrt((CAST(n_pairs AS DOUBLE) * CAST(saa AS DOUBLE)
                              - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE))
                             * (CAST(n_pairs AS DOUBLE) * CAST(sbb AS DOUBLE)
                                - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE))) > 0
                   THEN round((CAST(n_pairs AS DOUBLE) * CAST(sab AS DOUBLE)
                               - CAST(sa AS DOUBLE) * CAST(sb AS DOUBLE))
                              / sqrt((CAST(n_pairs AS DOUBLE) * CAST(saa AS DOUBLE)
                                      - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE))
                                     * (CAST(n_pairs AS DOUBLE) * CAST(sbb AS DOUBLE)
                                        - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE))), 6)
              END AS acf
       FROM p""",
)
def _autocorrelation_lags(spark, sf_dir):
    """Daily-event-count autocorrelation at lags 1..7 — the weekly
    periodicity / burst-structure probe for event streams. The fact
    table collapses to a DENSE zero-filled day series first (bounded
    by the observation window, not the event count), so the lag
    self-join and the six exact int64 sums per lag run on a tiny
    relation at any scale; each correlation is one double formula
    over those ints. operators/drift.py:lagged_autocorrelation."""
    from redshells_spark.operators.drift import lagged_autocorrelation

    ev = _t(spark, sf_dir, "events")
    day = F.expr(f"us div {_DAY_US}").alias("day")
    e = ev.select(event_us(ev).alias("us")).select(day).groupBy("day").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    rng = e.agg(F.min("day").alias("mn"), F.max("day").alias("mx"))
    days = rng.select(F.explode(F.sequence("mn", "mx")).alias("day"))
    dense = days.join(e, "day", "left").select(
        "day", F.coalesce(F.col("n"), F.lit(0)).cast("long").alias("n")
    )
    return lagged_autocorrelation(dense, "day", "n", max_lag=7)


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


# ------------------------------------------------- CUSUM + MASE


@q(
    "cusum_daily_purchases",
    f"""WITH {_DAILY_SQL},
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
    f"""WITH {_DAILY_SQL},
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


# ------------------------------------------------- pinball loss


@q(
    "pinball_forecast_eval",
    f"""WITH days AS (SELECT DISTINCT epoch_us(ts) // {_DAY_US} AS t FROM events),
       pr AS (SELECT epoch_us(ts) // {_DAY_US} AS t,
                     CAST(sum({_CENTS_SQL}) AS BIGINT) AS v
              FROM events WHERE event_type = 'purchase' GROUP BY 1),
       s AS (SELECT d.t, CAST(coalesce(pr.v, 0) AS BIGINT) AS v
             FROM days d LEFT JOIN pr USING (t)),
       p AS (SELECT a.t, a.v, b.v AS f FROM s a JOIN s b ON b.t = a.t - 7),
       taus AS (SELECT unnest([1, 5, 9]) AS tau_tenths),
       l AS (SELECT tau_tenths, CAST(count(*) AS BIGINT) AS n_days,
                    CAST(sum(CASE WHEN v - f >= 0 THEN tau_tenths * (v - f)
                             ELSE (tau_tenths - 10) * (v - f) END) AS BIGINT)
                      AS loss_sum_e3
             FROM p CROSS JOIN taus GROUP BY 1)
       SELECT CAST(tau_tenths AS BIGINT) AS tau_tenths, n_days, loss_sum_e3,
              round(CAST(loss_sum_e3 AS DOUBLE)
                    / CAST(n_days * 10 AS DOUBLE), 4) AS mean_loss_cents
       FROM l ORDER BY tau_tenths""",
)
def _pinball_forecast_eval(spark, sf_dir):
    """Pinball (quantile) loss of the seasonal-naive forecast y_hat_t
    = y_(t-7) on daily purchase revenue, at tau in {0.1, 0.5, 0.9} —
    the quantile-forecast evaluation that grades a probabilistic
    forecaster (Koenker & Bassett 1978). With integer-cent residuals
    and tau in tenths, 10x the loss is EXACT int64 (tau*d vs
    (tau-10)*d), so the per-tau sums are order-free; the only double
    is the final mean. Day grid and the 7-day self-join run on the
    date-bounded level table."""
    ev = _t(spark, sf_dir, "events")
    ev2 = ev.select(
        "event_type", money_units(F.col("value"), 100).alias("vc"),
        event_us(ev).alias("us")
    ).select("event_type", "vc", F.expr(f"us div {_DAY_US}").cast("long").alias("t"))
    days = ev2.select("t").distinct()
    pr = (
        ev2.filter(F.col("event_type") == "purchase")
        .groupBy("t")
        .agg(F.sum("vc").cast("long").alias("v"))
    )
    s = days.join(pr, "t", "left").select(
        "t", F.coalesce(F.col("v"), F.lit(0)).cast("long").alias("v")
    )
    a = s.alias("a")
    b = s.select((F.col("t") + 7).alias("t"), F.col("v").alias("f")).alias("b")
    p = a.join(b, "t").select("t", "v", "f")
    taus = spark.createDataFrame([(1,), (5,), (9,)], "tau_tenths long")
    d = F.col("v") - F.col("f")
    l = (
        p.crossJoin(F.broadcast(taus))
        .select(
            "tau_tenths",
            F.when(d >= 0, F.col("tau_tenths") * d)
            .otherwise((F.col("tau_tenths") - 10) * d)
            .cast("long")
            .alias("loss10"),
        )
        .groupBy("tau_tenths")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_days"),
            F.sum("loss10").cast("long").alias("loss_sum_e3"),
        )
    )
    return l.select(
        F.col("tau_tenths").cast("long"),
        "n_days",
        "loss_sum_e3",
        F.round(
            F.col("loss_sum_e3").cast("double")
            / (F.col("n_days") * 10).cast("double"),
            4,
        ).alias("mean_loss_cents"),
    )


# --------------------------------------- weekday-seasonal outliers


@q(
    "weekday_seasonal_outliers",
    f"""WITH days AS (SELECT DISTINCT epoch_us(ts) // {_DAY_US} AS t FROM events),
       pc AS (SELECT epoch_us(ts) // {_DAY_US} AS t,
                     CAST(count(*) AS BIGINT) AS v
              FROM events WHERE event_type = 'purchase' GROUP BY 1),
       s AS (SELECT d.t, CAST(coalesce(pc.v, 0) AS BIGINT) AS v,
                    CAST(d.t % 7 AS BIGINT) AS wd
             FROM days d LEFT JOIN pc USING (t)),
       lv AS (SELECT wd, v, CAST(count(*) AS BIGINT) AS c FROM s GROUP BY 1, 2),
       cum AS (SELECT wd, v, c,
                CAST(sum(c) OVER (PARTITION BY wd ORDER BY v ASC
                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cw,
                CAST(sum(c) OVER (PARTITION BY wd) AS BIGINT) AS n
               FROM lv),
       med AS (SELECT wd, CAST(min(v) AS BIGINT) AS med
               FROM cum WHERE 2 * cw >= n GROUP BY 1),
       r AS (SELECT s.t, s.v, s.wd, CAST(s.v - m.med AS BIGINT) AS resid
             FROM s JOIN med m USING (wd)),
       alv AS (SELECT abs(resid) AS av, CAST(count(*) AS BIGINT) AS c
               FROM r GROUP BY 1),
       acum AS (SELECT av, c,
                 CAST(sum(c) OVER (ORDER BY av ASC ROWS UNBOUNDED PRECEDING)
                   AS BIGINT) AS cw,
                 CAST(sum(c) OVER () AS BIGINT) AS n
                FROM alv),
       mad AS (SELECT CAST(min(av) AS BIGINT) AS mad
               FROM acum WHERE 2 * cw >= n)
       SELECT r.t, r.v, r.wd, m2.med AS weekday_median, r.resid,
              (SELECT mad FROM mad) AS mad,
              CAST(2 * abs(r.resid) > 7 * (SELECT mad FROM mad) AS BIGINT)
                AS is_outlier
       FROM r JOIN med m2 USING (wd)
       WHERE 2 * abs(r.resid) > 7 * (SELECT mad FROM mad)""",
)
def _weekday_seasonal_outliers(spark, sf_dir):
    """Seasonal-robust outlier detection on daily purchase counts (the
    S-H-ESD shape, Hochenbaum et al. 2017, with exact medians instead
    of sample quantiles): subtract the per-weekday MEDIAN, flag days
    where |residual| > 3.5 x global MAD — the comparison kept exact as
    2|resid| > 7*MAD in int64. Both medians come from value-COUNT
    level tables (count domain, not day rows): the weekday median via
    a PARTITIONED cumulative-weight window, the MAD via the same
    selection on |residual| levels. Returns only flagged days."""
    # the shared cached daily purchase series (one conditional groupBy,
    # zero-purchase days folded in) replaces the distinct-days +
    # left-join double scan; the before-plan re-expanded that subtree
    # per reference (24 events scans, 66 Exchanges)
    s = _daily_purchases(spark, sf_dir).select(
        "t", "v", (F.col("t") % 7).cast("long").alias("wd")
    )
    lv = s.groupBy("wd", "v").agg(F.count(F.lit(1)).cast("long").alias("c"))
    wc = Window.partitionBy("wd").orderBy(F.col("v").asc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    wn = Window.partitionBy("wd")
    cum = lv.withColumn("cw", F.sum("c").over(wc).cast("long")).withColumn(
        "n", F.sum("c").over(wn).cast("long")
    )
    med = (
        cum.filter(2 * F.col("cw") >= F.col("n"))
        .groupBy("wd")
        .agg(F.min("v").cast("long").alias("med"))
    )
    r = s.join(F.broadcast(med), "wd").select(
        "t", "v", "wd", (F.col("v") - F.col("med")).cast("long").alias("resid"),
        F.col("med").alias("weekday_median"),
    )
    alv = r.groupBy(F.abs(F.col("resid")).alias("av")).agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    wa = Window.orderBy(F.col("av").asc()).rowsBetween(Window.unboundedPreceding, 0)
    tot = alv.agg(F.sum("c").cast("long").alias("n"))
    acum = alv.crossJoin(F.broadcast(tot)).withColumn(
        "cw", F.sum("c").over(wa).cast("long")
    )
    mad = (
        acum.filter(2 * F.col("cw") >= F.col("n"))
        .agg(F.min("av").cast("long").alias("mad"))
    )
    return (
        r.crossJoin(F.broadcast(mad))
        .filter(2 * F.abs(F.col("resid")) > 7 * F.col("mad"))
        .select(
            "t",
            "v",
            "wd",
            "weekday_median",
            "resid",
            "mad",
            (2 * F.abs(F.col("resid")) > 7 * F.col("mad"))
            .cast("long")
            .alias("is_outlier"),
        )
    )


# ------------------------------------------------ Page-Hinkley drift


@q(
    "page_hinkley_drift",
    f"""WITH days AS (SELECT DISTINCT epoch_us(ts) // {_DAY_US} AS t
                FROM events),
       pc AS (SELECT epoch_us(ts) // {_DAY_US} AS t,
                     CAST(count(*) AS BIGINT) AS v
              FROM events WHERE event_type = 'purchase' GROUP BY 1),
       s AS (SELECT d.t, CAST(coalesce(pc.v, 0) AS BIGINT) AS v
             FROM days d LEFT JOIN pc USING (t)),
       mu AS (SELECT CAST(sum(v) // count(*) AS BIGINT) AS mu0 FROM s),
       c AS (SELECT t, v,
                    CAST(sum(v) OVER wt AS BIGINT) AS cum,
                    CAST(row_number() OVER (ORDER BY t ASC) AS BIGINT) AS i
             FROM s
             WINDOW wt AS (ORDER BY t ASC
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
       m AS (SELECT t, v,
                    CAST(sum(v * 1000000 - (cum * 1000000 // i)) OVER wt
                         AS BIGINT) AS m_e6
             FROM c
             WINDOW wt AS (ORDER BY t ASC
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
       ph AS (SELECT t, v, m_e6,
                     CAST(m_e6 - min(m_e6) OVER wt AS BIGINT) AS ph_e6
              FROM m
              WINDOW wt AS (ORDER BY t ASC
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
       SELECT ph.t, ph.v, ph.m_e6, ph.ph_e6,
              round(CAST(5.0 AS DOUBLE) * sqrt(CAST(mu.mu0 AS DOUBLE))
                    * CAST(1000000 AS DOUBLE), 6) AS threshold_e6,
              CAST(CASE WHEN CAST(ph.ph_e6 AS DOUBLE)
                             > CAST(5.0 AS DOUBLE)
                               * sqrt(CAST(mu.mu0 AS DOUBLE))
                               * CAST(1000000 AS DOUBLE)
                        THEN 1 ELSE 0 END AS BIGINT) AS alarm
       FROM ph CROSS JOIN mu
       ORDER BY ph.t""",
)
def _page_hinkley_drift(spark, sf_dir):
    """Page-Hinkley upward-drift monitor (Page 1954; the standard
    stream-drift test next to CUSUM) on the dense daily purchase-count
    series: m_t = sum_i (x_i - xbar_i) with the RUNNING mean folded to
    exact integers (x*1e6 - cum*1e6 div i per day), PH_t = m_t -
    min_s<=t m_s via one running-min window — the reset-free closed
    form, no recursion. All chart columns exact int64; the only double
    is the 5*sqrt(mu0) alarm threshold. Windows run over the
    day-level relation (time-bounded, never fact-scale).
    operators/changepoint.py:page_hinkley_monitor; the same monitor
    runs from the streaming SPRT ingest state
    (streaming/sprt.py:page_hinkley_from_sprt_state, parity-pinned)."""
    from redshells_spark.operators.changepoint import page_hinkley_monitor

    s = _daily_purchases(spark, sf_dir)
    return page_hinkley_monitor(s, "t", "v")


# -------------------------------------------- Holt linear forecast


@q(
    "holt_linear_forecast",
    f"""WITH RECURSIVE {_DAILY_SQL},
       idx AS (SELECT t, v,
                      CAST(row_number() OVER (ORDER BY t ASC) AS BIGINT) AS i
               FROM s),
       nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM idx),
       it(i, l, b) AS (
         SELECT CAST(1 AS BIGINT),
                CAST(x1.v AS DOUBLE),
                CAST(x2.v - x1.v AS DOUBLE)
         FROM idx x1, idx x2 WHERE x1.i = 1 AND x2.i = 2
         UNION ALL
         SELECT it.i + 1,
                round(CAST(0.3 AS DOUBLE) * CAST(x.v AS DOUBLE)
                      + CAST(0.7 AS DOUBLE) * (it.l + it.b), 10),
                round(CAST(0.1 AS DOUBLE)
                      * (round(CAST(0.3 AS DOUBLE) * CAST(x.v AS DOUBLE)
                               + CAST(0.7 AS DOUBLE) * (it.l + it.b), 10)
                         - it.l)
                      + CAST(0.9 AS DOUBLE) * it.b, 10)
         FROM it JOIN idx x ON x.i = it.i + 1
         CROSS JOIN nn WHERE it.i + 1 <= nn.n)
       SELECT idx.t, idx.v, it.l AS level, it.b AS trend,
              round(it.l + it.b, 10) AS fcst_next
       FROM it JOIN idx ON idx.i = it.i
       ORDER BY idx.t""",
)
def _holt_linear_forecast(spark, sf_dir):
    """Holt's linear-trend (double exponential smoothing, Holt 1957)
    over the dense daily purchase series, alpha=0.3 / beta=0.1:
    l_t = a*x_t + (1-a)(l+b), b_t = B*(l_t - l) + (1-B)*b, each step
    rounded HALF-UP to 10 decimals on both engines so the recurrence
    is engine-exact (the markov_attribution bounded-iteration idiom:
    the day relation is time-bounded — ~a month here, <=a few thousand
    rows at any corpus scale — so the sequential solve runs on the
    collected level table while the fact-scale work stays in the one
    map-combined daily groupBy; the DuckDB oracle is the identical
    recursion as a recursive CTE). fcst_next = l+b is the one-step-
    ahead forecast the seasonal-naive MASE gate benchmarks against."""
    from redshells_spark.operators.markov import _round_half_up as rhu

    s = _daily_purchases(spark, sf_dir).orderBy("t").collect()
    schema_cols = [
        T.StructField("t", T.LongType()),
        T.StructField("v", T.LongType()),
        T.StructField("level", T.DoubleType()),
        T.StructField("trend", T.DoubleType()),
        T.StructField("fcst_next", T.DoubleType()),
    ]
    if len(s) < 2:
        # degenerate corpus (<2 days): the recursive-CTE oracle's
        # anchor needs i=1 AND i=2, so it returns no rows — mirror
        # that instead of raising IndexError on s[1]
        return spark.createDataFrame([], T.StructType(schema_cols))
    l = float(s[0]["v"])
    b = float(s[1]["v"] - s[0]["v"])
    rows = [Row(t=int(s[0]["t"]), v=int(s[0]["v"]), level=l, trend=b,
                fcst_next=rhu(l + b, 10))]
    for r in s[1:]:
        l_new = rhu(0.3 * float(r["v"]) + 0.7 * (l + b), 10)
        b = rhu(0.1 * (l_new - l) + 0.9 * b, 10)
        l = l_new
        rows.append(
            Row(t=int(r["t"]), v=int(r["v"]), level=l, trend=b,
                fcst_next=rhu(l + b, 10))
        )
    schema = T.StructType(
        [
            T.StructField("t", T.LongType()),
            T.StructField("v", T.LongType()),
            T.StructField("level", T.DoubleType()),
            T.StructField("trend", T.DoubleType()),
            T.StructField("fcst_next", T.DoubleType()),
        ]
    )
    return spark.createDataFrame(rows, schema).orderBy("t")


# ------------------------------------------------ runs test (daily)


@q(
    "runs_test_daily",
    f"""WITH days AS (SELECT DISTINCT epoch_us(ts) // {_DAY_US} AS t
                FROM events),
       pc AS (SELECT epoch_us(ts) // {_DAY_US} AS t,
                     CAST(count(*) AS BIGINT) AS v
              FROM events WHERE event_type = 'purchase' GROUP BY 1),
       s AS (SELECT d.t, CAST(coalesce(pc.v, 0) AS BIGINT) AS v
             FROM days d LEFT JOIN pc USING (t)),
       lvl AS (SELECT v, CAST(count(*) AS BIGINT) AS cnt FROM s GROUP BY 1),
       nn AS (SELECT CAST(sum(cnt) AS BIGINT) AS n FROM lvl),
       cw AS (SELECT v, CAST(sum(cnt) OVER (ORDER BY v ASC
                       ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
              FROM lvl),
       med AS (SELECT CAST(min(v) AS BIGINT) AS med
               FROM cw CROSS JOIN nn WHERE cw.cum * 2 >= nn.n),
       sg AS (SELECT s.t, CAST(s.v > med.med AS INT) AS sign
              FROM s CROSS JOIN med WHERE s.v <> med.med),
       r AS (SELECT sign,
                    CASE WHEN lag(sign) OVER (ORDER BY t ASC) IS NULL THEN 1
                         WHEN sign <> lag(sign) OVER (ORDER BY t ASC) THEN 1
                         ELSE 0 END AS brk
             FROM sg),
       agg AS (SELECT CAST(sum(sign) AS BIGINT) AS n1,
                      CAST(sum(1 - sign) AS BIGINT) AS n2,
                      CAST(sum(brk) AS BIGINT) AS runs
               FROM r)
       SELECT n1, n2, runs,
              round(CAST(runs AS DOUBLE)
                    - (CAST(1 AS DOUBLE)
                       + CAST(2 * n1 * n2 AS DOUBLE)
                         / CAST(n1 + n2 AS DOUBLE)), 6) AS excess_runs,
              round((CAST(runs AS DOUBLE)
                     - (CAST(1 AS DOUBLE)
                        + CAST(2 * n1 * n2 AS DOUBLE)
                          / CAST(n1 + n2 AS DOUBLE)))
                    / sqrt(CAST(2 * n1 * n2 AS DOUBLE)
                           * CAST(2 * n1 * n2 - n1 - n2 AS DOUBLE)
                           / (CAST(n1 + n2 AS DOUBLE)
                              * CAST(n1 + n2 AS DOUBLE)
                              * CAST(n1 + n2 - 1 AS DOUBLE))), 6) AS z,
              CAST(CASE WHEN abs((CAST(runs AS DOUBLE)
                     - (CAST(1 AS DOUBLE)
                        + CAST(2 * n1 * n2 AS DOUBLE)
                          / CAST(n1 + n2 AS DOUBLE)))
                    / sqrt(CAST(2 * n1 * n2 AS DOUBLE)
                           * CAST(2 * n1 * n2 - n1 - n2 AS DOUBLE)
                           / (CAST(n1 + n2 AS DOUBLE)
                              * CAST(n1 + n2 AS DOUBLE)
                              * CAST(n1 + n2 - 1 AS DOUBLE))))
                    > CAST(1.96 AS DOUBLE)
                   THEN 1 ELSE 0 END AS BIGINT) AS reject_005
       FROM agg""",
)
def _runs_test_daily(spark, sf_dir):
    """Wald-Wolfowitz runs test (1940) for serial dependence in the
    daily purchase series: days above/below the exact median (median
    days drop, the standard treatment) form a binary sequence; too few
    runs = positive autocorrelation (streaks), too many = oscillation.
    The median comes from the value level table by cumulative weight,
    run breaks from one lag over the day relation (time-bounded), and
    n1/n2/R are exact int64 feeding the closed-form z. Complements the
    Ljung-Box portmanteau with a distribution-free check."""
    s = _daily_purchases(spark, sf_dir)
    lvl = s.groupBy("v").agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    nn = lvl.agg(F.sum("cnt").cast("long").alias("n"))
    wv = Window.orderBy(F.col("v").asc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    cw = lvl.select("v", F.sum("cnt").over(wv).cast("long").alias("cum"))
    med = (
        cw.crossJoin(F.broadcast(nn))
        .filter(F.col("cum") * 2 >= F.col("n"))
        .agg(F.min("v").cast("long").alias("med"))
    )
    sg = (
        s.crossJoin(F.broadcast(med))
        .filter(F.col("v") != F.col("med"))
        .select("t", (F.col("v") > F.col("med")).cast("int").alias("sign"))
    )
    wt = Window.orderBy(F.col("t").asc())
    r = sg.select(
        "sign",
        F.when(F.lag("sign").over(wt).isNull(), F.lit(1))
        .when(F.col("sign") != F.lag("sign").over(wt), F.lit(1))
        .otherwise(F.lit(0))
        .alias("brk"),
    )
    agg = r.agg(
        F.sum("sign").cast("long").alias("n1"),
        F.sum(F.lit(1) - F.col("sign")).cast("long").alias("n2"),
        F.sum("brk").cast("long").alias("runs"),
    )
    nd = (F.col("n1") + F.col("n2")).cast("double")
    two = (F.lit(2) * F.col("n1") * F.col("n2")).cast("double")
    e_r = F.lit(1.0) + two / nd
    v_r = (
        two
        * (F.lit(2) * F.col("n1") * F.col("n2") - F.col("n1") - F.col("n2")).cast(
            "double"
        )
        / (nd * nd * (nd - F.lit(1.0)))
    )
    z = (F.col("runs").cast("double") - e_r) / F.sqrt(v_r)
    return agg.select(
        "n1",
        "n2",
        "runs",
        F.round(F.col("runs").cast("double") - e_r, 6).alias("excess_runs"),
        F.round(z, 6).alias("z"),
        (F.abs(z) > F.lit(1.96)).cast("long").alias("reject_005"),
    )


# ------------------------------------------------------- Ljung-Box


@q(
    "ljung_box_daily",
    f"""WITH r AS (SELECT min(epoch_us(ts)) // {_DAY_US} AS mn,
                     max(epoch_us(ts)) // {_DAY_US} AS mx FROM events),
       days AS (SELECT unnest(range(r.mn, r.mx + 1)) AS day FROM r),
       e AS (SELECT epoch_us(ts) // {_DAY_US} AS day,
                    CAST(count(*) AS BIGINT) AS n
             FROM events GROUP BY 1),
       c AS (SELECT d.day, CAST(coalesce(e.n, 0) AS BIGINT) AS n
             FROM days d LEFT JOIN e USING (day)),
       nn AS (SELECT CAST(count(*) AS BIGINT) AS nd FROM c),
       lags AS (SELECT unnest(range(1, 8)) AS lag),
       p AS (SELECT l.lag,
                    CAST(count(*) AS BIGINT) AS n_pairs,
                    CAST(sum(a.n) AS BIGINT) AS sa,
                    CAST(sum(b.n) AS BIGINT) AS sb,
                    CAST(sum(a.n * b.n) AS BIGINT) AS sab,
                    CAST(sum(a.n * a.n) AS BIGINT) AS saa,
                    CAST(sum(b.n * b.n) AS BIGINT) AS sbb
             FROM c a CROSS JOIN lags l JOIN c b ON b.day = a.day + l.lag
             GROUP BY 1),
       rr AS (SELECT lag,
                     CAST(floor((CAST(n_pairs AS DOUBLE) * CAST(sab AS DOUBLE)
                               - CAST(sa AS DOUBLE) * CAST(sb AS DOUBLE))
                              / sqrt((CAST(n_pairs AS DOUBLE)
                                      * CAST(saa AS DOUBLE)
                                      - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE))
                                     * (CAST(n_pairs AS DOUBLE)
                                        * CAST(sbb AS DOUBLE)
                                        - CAST(sb AS DOUBLE)
                                          * CAST(sb AS DOUBLE)))
                              * CAST(1000000 AS DOUBLE)
                              + CAST(0.5 AS DOUBLE)) AS BIGINT) AS r_e6
              FROM p),
       terms AS (SELECT rr.lag,
                        CAST(rr.r_e6 * rr.r_e6 // (nn.nd - rr.lag) AS BIGINT)
                          AS term
                 FROM rr CROSS JOIN nn),
       s AS (SELECT CAST(sum(term) AS BIGINT) AS sum_terms FROM terms)
       SELECT nn.nd AS n_days, s.sum_terms, CAST(7 AS BIGINT) AS df,
              round(CAST(nn.nd AS DOUBLE) * CAST(nn.nd + 2 AS DOUBLE)
                    * CAST(s.sum_terms AS DOUBLE)
                    / CAST(1000000000000 AS DOUBLE), 4) AS lb_stat,
              CAST(CASE WHEN CAST(nn.nd AS DOUBLE) * CAST(nn.nd + 2 AS DOUBLE)
                             * CAST(s.sum_terms AS DOUBLE)
                             / CAST(1000000000000 AS DOUBLE)
                             > CAST(14.0671 AS DOUBLE)
                        THEN 1 ELSE 0 END AS BIGINT) AS reject_005
       FROM nn CROSS JOIN s""",
)
def _ljung_box_daily(spark, sf_dir):
    """Ljung-Box portmanteau test (1978) over the lag-1..7 daily
    event-count autocorrelations — "is this series white noise?", the
    gate a forecasting pipeline runs before trusting residuals. Each
    lag's correlation is the same moment-sum Pearson tree
    autocorrelation_lags ships, e6-quantized; per-lag terms
    r^2/(n-k) are exact integer divisions and LB = n(n+2)*sum is the
    single final double against the chi2(7) 5% critical value. The
    lag pair join is 7 shifted self-joins of the bounded day relation."""
    ev = _t(spark, sf_dir, "events")
    ev = ev.withColumn("us", event_us(ev, "ts"))
    r = ev.agg(
        F.expr(f"min(us) div {_DAY_US}").cast("long").alias("mn"),
        F.expr(f"max(us) div {_DAY_US}").cast("long").alias("mx"),
    )
    days = r.select(
        F.explode(F.sequence(F.col("mn"), F.col("mx"))).alias("day")
    )
    e = ev.groupBy(F.expr(f"us div {_DAY_US}").cast("long").alias("day")).agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    c = days.join(e, "day", "left").select(
        "day", F.coalesce(F.col("n"), F.lit(0)).cast("long").alias("n")
    ).localCheckpoint(eager=True)  # day-level bounded; the count probe
    # and both shifted self-join sides consume it (6 scans unpinned)
    nn = c.agg(F.count(F.lit(1)).cast("long").alias("nd"))
    lags = spark.range(1, 8).select(F.col("id").cast("long").alias("lag"))
    a = c.select(F.col("day").alias("da"), F.col("n").alias("na"))
    b = c.select(F.col("day").alias("db"), F.col("n").alias("nb"))
    p = (
        a.crossJoin(F.broadcast(lags))
        .join(b, F.col("db") == F.col("da") + F.col("lag"))
        .groupBy("lag")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.sum("na").cast("long").alias("sa"),
            F.sum("nb").cast("long").alias("sb"),
            F.sum(F.col("na") * F.col("nb")).cast("long").alias("sab"),
            F.sum(F.col("na") * F.col("na")).cast("long").alias("saa"),
            F.sum(F.col("nb") * F.col("nb")).cast("long").alias("sbb"),
        )
    )
    num = (
        F.col("n_pairs").cast("double") * F.col("sab").cast("double")
        - F.col("sa").cast("double") * F.col("sb").cast("double")
    )
    den = F.sqrt(
        (
            F.col("n_pairs").cast("double") * F.col("saa").cast("double")
            - F.col("sa").cast("double") * F.col("sa").cast("double")
        )
        * (
            F.col("n_pairs").cast("double") * F.col("sbb").cast("double")
            - F.col("sb").cast("double") * F.col("sb").cast("double")
        )
    )
    rr = p.select(
        "lag",
        F.floor(num / den * F.lit(1000000.0) + F.lit(0.5))
        .cast("long")
        .alias("r_e6"),
    )
    terms = rr.crossJoin(F.broadcast(nn)).select(
        F.expr("cast(r_e6 * r_e6 div (nd - lag) as long)").alias("term")
    )
    s = terms.agg(F.sum("term").cast("long").alias("sum_terms"))
    lb = (
        F.col("nd").cast("double")
        * (F.col("nd") + 2).cast("double")
        * F.col("sum_terms").cast("double")
        / F.lit(1.0e12)
    )
    return nn.crossJoin(F.broadcast(s)).select(
        F.col("nd").alias("n_days"),
        "sum_terms",
        F.lit(7).cast("long").alias("df"),
        F.round(lb, 4).alias("lb_stat"),
        (lb > F.lit(14.0671)).cast("long").alias("reject_005"),
    )


# ------------------------------------------ seasonal/trend strength


@q(
    "series_strength_features",
    """WITH daily AS (SELECT event_type, epoch_us(ts) // 86400000000 AS day,
                       CAST(sum(CAST(round(value * 100, 0) AS BIGINT))
                            AS BIGINT) AS v_c
                FROM events GROUP BY 1, 2),
       tr AS (SELECT event_type, day, v_c,
                     CAST(sum(v_c) OVER (PARTITION BY event_type ORDER BY day ASC
                                    ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
                          AS BIGINT) AS t7,
                     CAST(count(*) OVER (PARTITION BY event_type ORDER BY day ASC
                                    ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
                          AS BIGINT) AS t7n
              FROM daily),
       det AS (SELECT event_type, day % 7 AS dow,
                      CAST(7 * v_c AS BIGINT) AS x7,
                      CAST(7 * v_c - t7 AS BIGINT) AS d_x7
               FROM tr WHERE t7n = 7),
       per AS (SELECT event_type, dow, CAST(count(*) AS BIGINT) AS n_g,
                      CAST(sum(d_x7) AS BIGINT) AS s_g
               FROM det GROUP BY 1, 2),
       tot AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
                      CAST(sum(d_x7) AS BIGINT) AS sd,
                      CAST(sum(d_x7 * d_x7) AS BIGINT) AS ssd,
                      CAST(sum(x7) AS BIGINT) AS sx,
                      CAST(sum(x7 * x7) AS BIGINT) AS ssx
               FROM det GROUP BY 1),
       ssb AS (SELECT event_type,
                      CAST(sum(CAST(floor(
                        CAST(s_g AS DOUBLE) * CAST(s_g AS DOUBLE)
                        / CAST(n_g AS DOUBLE) + CAST(0.5 AS DOUBLE))
                        AS BIGINT)) AS BIGINT) AS sum_sq
               FROM per GROUP BY 1)
       SELECT tot.event_type, tot.n AS n_days,
              CAST(floor(greatest(CAST(0 AS DOUBLE),
                (CAST(ssb.sum_sq AS DOUBLE)
                 - CAST(tot.sd AS DOUBLE) * CAST(tot.sd AS DOUBLE)
                   / CAST(tot.n AS DOUBLE))
                / (CAST(tot.ssd AS DOUBLE)
                   - CAST(tot.sd AS DOUBLE) * CAST(tot.sd AS DOUBLE)
                     / CAST(tot.n AS DOUBLE)))
                * CAST(1000000 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)
                AS seasonal_strength_e6,
              CAST(floor(greatest(CAST(0 AS DOUBLE),
                CAST(1 AS DOUBLE)
                - (CAST(tot.ssd AS DOUBLE)
                   - CAST(tot.sd AS DOUBLE) * CAST(tot.sd AS DOUBLE)
                     / CAST(tot.n AS DOUBLE))
                  / (CAST(tot.ssx AS DOUBLE)
                     - CAST(tot.sx AS DOUBLE) * CAST(tot.sx AS DOUBLE)
                       / CAST(tot.n AS DOUBLE)))
                * CAST(1000000 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT)
                AS trend_strength_e6
       FROM tot JOIN ssb USING (event_type)
       ORDER BY tot.event_type""",
)
def _series_strength_features(spark, sf_dir):
    """Seasonal- and trend-strength features (Wang, Smith & Hyndman
    2006 — the tsfeatures pair every forecasting triage starts with)
    for each event type's daily value series, on the SAME centered
    7-day MA decomposition seasonal_decompose_profile ships:
    seasonal strength = eta^2 of the detrended series across
    day-of-week (ANOVA identity, SSB/SST), trend strength = 1 -
    Var(detrended)/Var(series), both clamped to [0,1] and e6-quantized
    from exact int64 moments (x7 = 7*value keeps the MA exact). Level
    tables are (type x dow)-bounded; windows partitioned per type."""
    ev = _t(spark, sf_dir, "events")
    ev = ev.withColumn("us", event_us(ev, "ts"))
    daily = ev.groupBy(
        "event_type", F.expr(f"us div {_DAY_US}").cast("long").alias("day")
    ).agg(
        F.sum(F.round(F.col("value") * 100, 0).cast("long"))
        .cast("long")
        .alias("v_c")
    )
    wt = Window.partitionBy("event_type").orderBy(F.col("day").asc()).rowsBetween(
        -3, 3
    )
    tr = daily.select(
        "event_type",
        "day",
        "v_c",
        F.sum("v_c").over(wt).cast("long").alias("t7"),
        F.count(F.lit(1)).over(wt).cast("long").alias("t7n"),
    )
    det = tr.filter(F.col("t7n") == 7).select(
        "event_type",
        (F.col("day") % 7).alias("dow"),
        (F.lit(7) * F.col("v_c")).cast("long").alias("x7"),
        (F.lit(7) * F.col("v_c") - F.col("t7")).cast("long").alias("d_x7"),
    )
    per = det.groupBy("event_type", "dow").agg(
        F.count(F.lit(1)).cast("long").alias("n_g"),
        F.sum("d_x7").cast("long").alias("s_g"),
    )
    tot = det.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("d_x7").cast("long").alias("sd"),
        F.sum(F.col("d_x7") * F.col("d_x7")).cast("long").alias("ssd"),
        F.sum("x7").cast("long").alias("sx"),
        F.sum(F.col("x7") * F.col("x7")).cast("long").alias("ssx"),
    )
    ssb = per.groupBy("event_type").agg(
        F.sum(
            F.floor(
                F.col("s_g").cast("double")
                * F.col("s_g").cast("double")
                / F.col("n_g").cast("double")
                + F.lit(0.5)
            ).cast("long")
        )
        .cast("long")
        .alias("sum_sq")
    )
    x = tot.join(ssb, "event_type")
    sst = (
        F.col("ssd").cast("double")
        - F.col("sd").cast("double") * F.col("sd").cast("double")
        / F.col("n").cast("double")
    )
    ssb_d = (
        F.col("sum_sq").cast("double")
        - F.col("sd").cast("double") * F.col("sd").cast("double")
        / F.col("n").cast("double")
    )
    varx = (
        F.col("ssx").cast("double")
        - F.col("sx").cast("double") * F.col("sx").cast("double")
        / F.col("n").cast("double")
    )
    return x.select(
        "event_type",
        F.col("n").alias("n_days"),
        F.floor(
            F.greatest(F.lit(0.0), ssb_d / sst) * F.lit(1000000.0) + F.lit(0.5)
        )
        .cast("long")
        .alias("seasonal_strength_e6"),
        F.floor(
            F.greatest(F.lit(0.0), F.lit(1.0) - sst / varx) * F.lit(1000000.0)
            + F.lit(0.5)
        )
        .cast("long")
        .alias("trend_strength_e6"),
    ).orderBy("event_type")


# ------------------------------------------------- Theta forecast


@q(
    "theta_forecast",
    f"""WITH RECURSIVE {_DAILY_SQL},
       idx AS (SELECT t, v,
                      CAST(row_number() OVER (ORDER BY t ASC) AS BIGINT) AS i
               FROM s),
       m AS (SELECT CAST(count(*) AS BIGINT) AS n,
                    CAST(sum(t) AS BIGINT) AS st,
                    CAST(sum(v) AS BIGINT) AS sv,
                    CAST(sum(t * v) AS BIGINT) AS stv,
                    CAST(sum(t * t) AS BIGINT) AS stt
             FROM idx),
       ab AS (SELECT n, st, sv,
                     CAST(n * stv - st * sv AS DOUBLE)
                       / CAST(n * stt - st * st AS DOUBLE) AS b
              FROM m),
       ab2 AS (SELECT b,
                      (CAST(sv AS DOUBLE) - b * CAST(st AS DOUBLE))
                        / CAST(n AS DOUBLE) AS a
               FROM ab),
       z AS (SELECT idx.i, idx.t, idx.v,
                    round(2 * CAST(idx.v AS DOUBLE)
                          - (ab2.a + ab2.b * CAST(idx.t AS DOUBLE)), 10) AS z
             FROM idx CROSS JOIN ab2),
       nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM idx),
       it(i, l) AS (
         SELECT CAST(1 AS BIGINT), z.z FROM z WHERE z.i = 1
         UNION ALL
         SELECT it.i + 1,
                round(CAST(0.3 AS DOUBLE) * x.z
                      + CAST(0.7 AS DOUBLE) * it.l, 10)
         FROM it JOIN z x ON x.i = it.i + 1
         CROSS JOIN nn WHERE it.i + 1 <= nn.n)
       SELECT z.t, z.v, z.z AS theta_z, it.l AS level,
              round(CAST(0.5 AS DOUBLE)
                    * (it.l + (ab2.a + ab2.b * CAST(z.t + 1 AS DOUBLE))),
                    10) AS fcst_next
       FROM it JOIN z ON z.i = it.i CROSS JOIN ab2
       ORDER BY z.t""",
)
def _theta_forecast(spark, sf_dir):
    """Theta-method forecast (Assimakopoulos & Nikolopoulos 2000; the
    M3-competition benchmark winner and standard strong baseline) over
    the dense daily purchase series: the theta=2 line z_t = 2*x_t −
    (a + b·t) doubles the curvature around the OLS drift line, SES
    (alpha=0.3) smooths it, and the one-step forecast is the equal-
    weight combination of the SES level and the drift line at t+1.
    The OLS moments are exact int64 (the zipf_law_fit idiom); a and b
    are one fixed IEEE tree over those ints; the SES recurrence is
    rounded half-up to 10 decimals per step on BOTH engines (the holt
    idiom — Python Decimal half-up == DuckDB round), so the table is
    engine-exact. Fact-scale work is one map-combined daily groupBy;
    the sequential solve runs on the collected day-level table
    (time-bounded: ~a month here, ≤ a few thousand rows at any corpus
    scale)."""
    from redshells_spark.operators.markov import _round_half_up as rhu

    s = _daily_purchases(spark, sf_dir).orderBy("t").collect()
    schema = T.StructType(
        [
            T.StructField("t", T.LongType()),
            T.StructField("v", T.LongType()),
            T.StructField("theta_z", T.DoubleType()),
            T.StructField("level", T.DoubleType()),
            T.StructField("fcst_next", T.DoubleType()),
        ]
    )
    if len(s) < 2:
        # the OLS denominator needs >=2 distinct days; mirror the
        # oracle's empty anchor on a degenerate corpus
        return spark.createDataFrame([], schema)
    n = len(s)
    st = sum(int(r["t"]) for r in s)
    sv = sum(int(r["v"]) for r in s)
    stv = sum(int(r["t"]) * int(r["v"]) for r in s)
    stt = sum(int(r["t"]) * int(r["t"]) for r in s)
    b = float(n * stv - st * sv) / float(n * stt - st * st)
    a = (float(sv) - b * float(st)) / float(n)
    rows = []
    level = None
    for r in s:
        t, v = int(r["t"]), int(r["v"])
        z = rhu(2 * float(v) - (a + b * float(t)), 10)
        level = z if level is None else rhu(0.3 * z + 0.7 * level, 10)
        rows.append(
            Row(
                t=t,
                v=v,
                theta_z=z,
                level=level,
                fcst_next=rhu(0.5 * (level + (a + b * float(t + 1))), 10),
            )
        )
    return spark.createDataFrame(rows, schema).orderBy("t")


# --------------------------------------------- Pettitt changepoint


@q(
    "pettitt_changepoint_daily",
    f"""WITH {_DAILY_SQL},
       lvl AS (SELECT v, CAST(count(*) AS BIGINT) AS cnt FROM s GROUP BY 1),
       rk AS (SELECT v,
                     CAST(2 * coalesce(sum(cnt) OVER (ORDER BY v ASC
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                          + cnt + 1 AS BIGINT) AS r2
              FROM lvl),
       dr AS (SELECT s.t, r.r2,
                     CAST(row_number() OVER (ORDER BY s.t ASC) AS BIGINT) AS i,
                     CAST(count(*) OVER () AS BIGINT) AS tn
              FROM s JOIN rk r ON r.v = s.v),
       u AS (SELECT t, i, tn,
                    CAST(sum(r2) OVER (ORDER BY i ASC
                       ROWS UNBOUNDED PRECEDING) - i * (tn + 1) AS BIGINT)
                      AS u2
             FROM dr),
       k AS (SELECT t, u2, tn,
                    row_number() OVER (ORDER BY abs(u2) DESC, t ASC) AS rn
             FROM u WHERE i < tn)
       SELECT t AS t_star, CAST(abs(u2) AS BIGINT) AS k_stat,
              round(CAST(2 AS DOUBLE) * exp(
                 CAST(-6 AS DOUBLE) * CAST(u2 AS DOUBLE) * CAST(u2 AS DOUBLE)
                 / (CAST(tn AS DOUBLE) * CAST(tn AS DOUBLE) * CAST(tn AS DOUBLE)
                    + CAST(tn AS DOUBLE) * CAST(tn AS DOUBLE))), 6) AS p_approx,
              CAST(CASE WHEN CAST(2 AS DOUBLE) * exp(
                 CAST(-6 AS DOUBLE) * CAST(u2 AS DOUBLE) * CAST(u2 AS DOUBLE)
                 / (CAST(tn AS DOUBLE) * CAST(tn AS DOUBLE) * CAST(tn AS DOUBLE)
                    + CAST(tn AS DOUBLE) * CAST(tn AS DOUBLE)))
                 < CAST(0.05 AS DOUBLE) THEN 1 ELSE 0 END AS BIGINT)
                AS reject_005
       FROM k WHERE rn = 1""",
)
def _pettitt_changepoint_daily(spark, sf_dir):
    """Pettitt changepoint test (1979) on the dense daily purchase
    series — the nonparametric "did the level shift, and when"
    companion to page_hinkley (running-mean monitor) and
    mean_shift_changepoint (exact binary-split): U_t = 2·Σ_{i≤t}R_i −
    t(T+1) over the midranks of the full series, K = max|U_t|, with
    the standard p ≈ 2exp(−6K²/(T³+T²)). Doubled midranks over the
    count level table make every U_t exact int64 directly: Σ_{i≤t}r2_i
    = 2·ΣR_i, so u2 = Σr2 − t(T+1) IS the textbook U_t (integer even
    when midranks are half-integers). Argmax tie-breaks on the
    earliest day in both engines. All windows are over the day-level
    relation (time-bounded)."""
    s = _daily_purchases(spark, sf_dir)
    lvl = s.groupBy("v").agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    wv = Window.orderBy(F.col("v").asc()).rowsBetween(
        Window.unboundedPreceding, -1
    )
    rk = lvl.select(
        "v",
        (F.lit(2) * F.coalesce(F.sum("cnt").over(wv), F.lit(0)) + F.col("cnt") + 1)
        .cast("long")
        .alias("r2"),
    )
    wt = Window.orderBy(F.col("t").asc())
    dr = (
        s.join(rk, "v")
        .select(
            "t",
            "r2",
            F.row_number().over(wt).cast("long").alias("i"),
            F.count(F.lit(1)).over(Window.partitionBy()).cast("long").alias("tn"),
        )
    )
    wu = Window.orderBy(F.col("i").asc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    u = dr.select(
        "t",
        "i",
        "tn",
        (F.sum("r2").over(wu) - F.col("i") * (F.col("tn") + 1))
        .cast("long")
        .alias("u2"),
    )
    wk = Window.orderBy(F.abs(F.col("u2")).desc(), F.col("t").asc())
    k = (
        u.filter(F.col("i") < F.col("tn"))
        .withColumn("rn", F.row_number().over(wk))
        .filter(F.col("rn") == 1)
    )
    p = F.lit(2.0) * F.exp(
        F.lit(-6.0)
        * F.col("u2").cast("double")
        * F.col("u2").cast("double")
        / (
            F.col("tn").cast("double")
            * F.col("tn").cast("double")
            * F.col("tn").cast("double")
            + F.col("tn").cast("double") * F.col("tn").cast("double")
        )
    )
    return k.select(
        F.col("t").alias("t_star"),
        F.abs(F.col("u2")).cast("long").alias("k_stat"),
        F.round(p, 6).alias("p_approx"),
        (p < F.lit(0.05)).cast("long").alias("reject_005"),
    )


# ----------------------------------------------------- OHLC daily bars


@q(
    "ohlc_daily_value",
    f"""WITH p AS (
         SELECT epoch_us(ts) // {_DAY_US} AS t, event_id,
                CAST(floor(value * 100 + CAST(0.5 AS DOUBLE)) AS BIGINT) AS c,
                epoch_us(ts) AS us
         FROM events WHERE event_type = 'purchase'),
       o AS (SELECT t, c,
                    row_number() OVER (PARTITION BY t
                       ORDER BY us ASC, event_id ASC) AS rn_a,
                    row_number() OVER (PARTITION BY t
                       ORDER BY us DESC, event_id DESC) AS rn_z
             FROM p)
       SELECT t,
              CAST(max(CASE WHEN rn_a = 1 THEN c END) AS BIGINT) AS open_c,
              CAST(max(c) AS BIGINT) AS high_c,
              CAST(min(c) AS BIGINT) AS low_c,
              CAST(max(CASE WHEN rn_z = 1 THEN c END) AS BIGINT) AS close_c,
              CAST(count(*) AS BIGINT) AS n,
              CAST(sum(c) AS BIGINT) AS total_c
       FROM o
       GROUP BY 1 ORDER BY 1""",
)
def _ohlc_daily_value(spark, sf_dir):
    """Daily OHLC bars over purchase values — the warehouse
    first/last/min/max rollup (open = value of the first event by
    (ts, event_id), close = last; the time-series-table staple).
    Values are exact cents; open/close come from per-day row_number
    windows (partitioned by day — per-partition work is a day's
    events, never global), folded through one grouped aggregate with
    flag-gated max. Output is day-bounded."""
    ev = _t(spark, sf_dir, "events")
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .withColumn("us", event_us(ev, "ts"))
        .select(
            F.expr(f"us div {_DAY_US}").cast("long").alias("t"),
            "event_id",
            money_units(F.col("value")).alias("c"),
            "us",
        )
    )
    wa = Window.partitionBy("t").orderBy(F.col("us").asc(), F.col("event_id").asc())
    wz = Window.partitionBy("t").orderBy(
        F.col("us").desc(), F.col("event_id").desc()
    )
    o = p.select(
        "t",
        "c",
        F.row_number().over(wa).alias("rn_a"),
        F.row_number().over(wz).alias("rn_z"),
    )
    return (
        o.groupBy("t")
        .agg(
            F.max(F.when(F.col("rn_a") == 1, F.col("c"))).cast("long").alias("open_c"),
            F.max("c").cast("long").alias("high_c"),
            F.min("c").cast("long").alias("low_c"),
            F.max(F.when(F.col("rn_z") == 1, F.col("c"))).cast("long").alias("close_c"),
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("c").cast("long").alias("total_c"),
        )
        .orderBy("t")
    )


# ---------------------------------------------- Croston intermittent


@q(
    "croston_intermittent",
    f"""WITH RECURSIVE days AS (SELECT DISTINCT epoch_us(ts) // {_DAY_US} AS t
                FROM events),
       pc AS (SELECT epoch_us(ts) // {_DAY_US} AS t,
                     CAST(count(*) AS BIGINT) AS v
              FROM events
              WHERE event_type = 'purchase' AND user_id % 97 = 0
              GROUP BY 1),
       s AS (SELECT d.t, CAST(coalesce(pc.v, 0) AS BIGINT) AS v,
                    CAST(row_number() OVER (ORDER BY d.t ASC) AS BIGINT) AS i
             FROM days d LEFT JOIN pc ON pc.t = d.t),
       dem AS (SELECT t, v, i,
                      CAST(row_number() OVER (ORDER BY i ASC) AS BIGINT) AS k,
                      CAST(i - coalesce(lag(i) OVER (ORDER BY i ASC), 0)
                           AS BIGINT) AS gap
               FROM s WHERE v > 0),
       nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM dem),
       it(k, z, p) AS (
         SELECT CAST(1 AS BIGINT), CAST(d.v AS DOUBLE), CAST(d.gap AS DOUBLE)
         FROM dem d WHERE d.k = 1
         UNION ALL
         SELECT it.k + 1,
                round(CAST(0.2 AS DOUBLE) * CAST(x.v AS DOUBLE)
                      + CAST(0.8 AS DOUBLE) * it.z, 10),
                round(CAST(0.2 AS DOUBLE) * CAST(x.gap AS DOUBLE)
                      + CAST(0.8 AS DOUBLE) * it.p, 10)
         FROM it JOIN dem x ON x.k = it.k + 1
         CROSS JOIN nn WHERE it.k + 1 <= nn.n)
       SELECT d.k, d.t, d.v, d.gap, it.z AS z_level, it.p AS p_level,
              round(it.z / it.p, 10) AS demand_rate
       FROM it JOIN dem d ON d.k = it.k
       ORDER BY d.k""",
)
def _croston_intermittent(spark, sf_dir):
    """Croston's method (1972) for intermittent demand over the sparse
    daily purchase series of the user_id % 97 cohort (a fixed hash
    slice — deterministically sparse at any corpus scale): SES
    (alpha=0.2) runs separately on the non-zero demand SIZES and on
    the INTERVALS between demand days; the demand-rate forecast is
    z/p. This is the standard spare-parts/slow-mover baseline the
    SES/Holt/Theta family misses (plain SES biases toward zero on
    intermittent series). Initialization: z₁ = first demand size,
    p₁ = index of the first demand day (gap from series start).
    Recurrences rounded half-up to 10 decimals per step on BOTH
    engines (the holt idiom); the sequential solve runs on the
    collected demand-day table (time-bounded). Fact-scale work is one
    filtered daily groupBy."""
    from redshells_spark.operators.markov import _round_half_up as rhu

    ev = _t(spark, sf_dir, "events")
    ev = ev.withColumn("us", event_us(ev, "ts"))
    # day spine from the shared cached daily series (same distinct-day
    # set); only the cohort-filtered counts need their own scan
    days = _daily_purchases(spark, sf_dir).select("t")
    pc = (
        ev.filter(
            (F.col("event_type") == "purchase") & (F.col("user_id") % 97 == 0)
        )
        .groupBy(F.expr(f"us div {_DAY_US}").cast("long").alias("t"))
        .agg(F.count(F.lit(1)).cast("long").alias("v"))
    )
    s = (
        days.join(pc, "t", "left")
        .select("t", F.coalesce(F.col("v"), F.lit(0)).cast("long").alias("v"))
        .orderBy("t")
        .collect()
    )
    schema = T.StructType(
        [
            T.StructField("k", T.LongType()),
            T.StructField("t", T.LongType()),
            T.StructField("v", T.LongType()),
            T.StructField("gap", T.LongType()),
            T.StructField("z_level", T.DoubleType()),
            T.StructField("p_level", T.DoubleType()),
            T.StructField("demand_rate", T.DoubleType()),
        ]
    )
    dem = [(i + 1, int(r["t"]), int(r["v"])) for i, r in enumerate(s) if r["v"] > 0]
    if not dem:
        return spark.createDataFrame([], schema)
    rows, z, p, prev_i = [], None, None, 0
    for k, (i, t, v) in enumerate(dem, start=1):
        gap = i - prev_i
        prev_i = i
        if k == 1:
            z, p = float(v), float(gap)
        else:
            z = rhu(0.2 * float(v) + 0.8 * z, 10)
            p = rhu(0.2 * float(gap) + 0.8 * p, 10)
        rows.append(
            Row(
                k=k,
                t=t,
                v=v,
                gap=gap,
                z_level=z,
                p_level=p,
                demand_rate=rhu(z / p, 10),
            )
        )
    return spark.createDataFrame(rows, schema).orderBy("k")


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


# ------------------------------------------ seasonal Mann-Kendall


@q(
    "seasonal_mann_kendall",
    f"""WITH {_DAILY_SQL},
       sw AS (SELECT t, t % 7 AS w, v FROM s),
       pairs AS (SELECT a.w,
                        CAST(sum(CASE WHEN b.v > a.v THEN 1
                                      WHEN b.v < a.v THEN -1
                                      ELSE 0 END) AS BIGINT) AS s_w
                 FROM sw a JOIN sw b ON b.w = a.w AND b.t > a.t
                 GROUP BY 1),
       nw AS (SELECT w, CAST(count(*) AS BIGINT) AS n FROM sw GROUP BY 1),
       tie AS (SELECT w, CAST(sum(c * (c - 1) * (2 * c + 5)) AS BIGINT) AS tt
               FROM (SELECT w, v, CAST(count(*) AS BIGINT) AS c
                     FROM sw GROUP BY 1, 2)
               GROUP BY 1),
       per AS (SELECT n.w, coalesce(p.s_w, 0) AS s_w,
                      CAST(n.n * (n.n - 1) * (2 * n.n + 5)
                           - coalesce(t.tt, 0) AS BIGINT) AS var18_w
               FROM nw n LEFT JOIN pairs p ON p.w = n.w
               LEFT JOIN tie t ON t.w = n.w),
       tot AS (SELECT CAST(sum(s_w) AS BIGINT) AS s_total,
                      CAST(sum(var18_w) AS BIGINT) AS var18_total
               FROM per)
       SELECT s_total, var18_total,
              round(CASE WHEN s_total > 0
                    THEN CAST(s_total - 1 AS DOUBLE)
                    WHEN s_total < 0 THEN CAST(s_total + 1 AS DOUBLE)
                    ELSE CAST(0 AS DOUBLE) END
                    / sqrt(CAST(var18_total AS DOUBLE) / CAST(18 AS DOUBLE)),
                    6) AS z,
              CAST(CASE WHEN abs(CASE WHEN s_total > 0
                    THEN CAST(s_total - 1 AS DOUBLE)
                    WHEN s_total < 0 THEN CAST(s_total + 1 AS DOUBLE)
                    ELSE CAST(0 AS DOUBLE) END
                    / sqrt(CAST(var18_total AS DOUBLE) / CAST(18 AS DOUBLE)))
                    > CAST(1.96 AS DOUBLE) THEN 1 ELSE 0 END AS BIGINT)
                AS reject_005
       FROM tot""",
)
def _seasonal_mann_kendall(spark, sf_dir):
    """Seasonal Mann-Kendall trend test (Hirsch-Slack 1984) on the
    daily purchase series, stratified by weekday — the
    weekday-structure-robust version of mann_kendall_purchases (a pure
    weekly cycle contributes NO cross-season pairs, so the seasonal S
    is immune to the weekday effect the plain test confounds with
    trend). Per-season pair signs and tie-corrected variances (×18)
    are exact int64 over the day relation (time-bounded pairs:
    (T/7)² per season); z applies the standard continuity correction,
    one fixed IEEE tree."""
    sw = _daily_purchases(spark, sf_dir).select(
        "t", (F.col("t") % 7).alias("w"), "v"
    )
    a = sw.select("w", F.col("t").alias("ta"), F.col("v").alias("va"))
    b = sw.select("w", F.col("t").alias("tb"), F.col("v").alias("vb"))
    pairs = (
        a.join(b, "w")
        .filter(F.col("tb") > F.col("ta"))
        .groupBy("w")
        .agg(
            F.sum(
                F.when(F.col("vb") > F.col("va"), 1)
                .when(F.col("vb") < F.col("va"), -1)
                .otherwise(0)
            )
            .cast("long")
            .alias("s_w")
        )
    )
    nw = sw.groupBy("w").agg(F.count(F.lit(1)).cast("long").alias("n"))
    tie = (
        sw.groupBy("w", "v")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .groupBy("w")
        .agg(
            F.sum(F.col("c") * (F.col("c") - 1) * (2 * F.col("c") + 5))
            .cast("long")
            .alias("tt")
        )
    )
    per = (
        nw.join(pairs, "w", "left")
        .join(tie, "w", "left")
        .select(
            F.coalesce(F.col("s_w"), F.lit(0)).cast("long").alias("s_w"),
            (
                F.col("n") * (F.col("n") - 1) * (2 * F.col("n") + 5)
                - F.coalesce(F.col("tt"), F.lit(0))
            )
            .cast("long")
            .alias("var18_w"),
        )
    )
    tot = per.agg(
        F.sum("s_w").cast("long").alias("s_total"),
        F.sum("var18_w").cast("long").alias("var18_total"),
    )
    num = (
        F.when(F.col("s_total") > 0, F.col("s_total").cast("double") - 1.0)
        .when(F.col("s_total") < 0, F.col("s_total").cast("double") + 1.0)
        .otherwise(F.lit(0.0))
    )
    z = num / F.sqrt(F.col("var18_total").cast("double") / F.lit(18.0))
    return tot.select(
        "s_total",
        "var18_total",
        F.round(z, 6).alias("z"),
        (F.abs(z) > F.lit(1.96)).cast("long").alias("reject_005"),
    )


# --------------------------------------------------- Cox-Stuart


@q(
    "cox_stuart_trend",
    f"""WITH {_DAILY_SQL},
       idx AS (SELECT v,
                      CAST(row_number() OVER (ORDER BY t ASC) AS BIGINT) AS i,
                      CAST(count(*) OVER () AS BIGINT) AS tn
               FROM s),
       h AS (SELECT tn, tn // 2 AS half FROM idx LIMIT 1),
       pairs AS (SELECT a.v AS va, b.v AS vb
                 FROM idx a JOIN h ON a.i <= h.half
                 JOIN idx b ON b.i = a.i + (h.tn - h.tn % 2) // 2
                    + (h.tn % 2)),
       cnt AS (SELECT CAST(sum(CASE WHEN vb > va THEN 1 ELSE 0 END)
                           AS BIGINT) AS pos,
                      CAST(sum(CASE WHEN vb < va THEN 1 ELSE 0 END)
                           AS BIGINT) AS neg
               FROM pairs)
       SELECT pos, neg, CAST(pos + neg AS BIGINT) AS n_pairs,
              round((CAST(pos AS DOUBLE) - CAST(pos + neg AS DOUBLE)
                     / CAST(2 AS DOUBLE))
                    / sqrt(CAST(pos + neg AS DOUBLE) / CAST(4 AS DOUBLE)),
                    6) AS z,
              CAST(CASE WHEN abs((CAST(pos AS DOUBLE)
                    - CAST(pos + neg AS DOUBLE) / CAST(2 AS DOUBLE))
                    / sqrt(CAST(pos + neg AS DOUBLE) / CAST(4 AS DOUBLE)))
                    > CAST(1.96 AS DOUBLE) THEN 1 ELSE 0 END AS BIGINT)
                AS reject_005
       FROM cnt WHERE pos + neg > 0""",
)
def _cox_stuart_trend(spark, sf_dir):
    """Cox-Stuart trend test (1955) on the daily purchase series: pair
    day i of the first half with day i + ⌈T/2⌉ of the second half,
    count sign(later − earlier), and test the sign count against
    Binomial(n, ½) — the O(T) assumption-free trend check beside
    Mann-Kendall's O(T²) pair scan (same null, far cheaper; the
    standard first look). Ties drop (the standard treatment); the
    pair join is index-shifted (one row per first-half day, never
    T²); z is the normal approximation over exact integer sign
    counts. All windows over the day relation (time-bounded)."""
    s = _daily_purchases(spark, sf_dir)
    wt = Window.orderBy(F.col("t").asc())
    idx = s.select(
        "v",
        F.row_number().over(wt).cast("long").alias("i"),
        F.count(F.lit(1)).over(Window.partitionBy()).cast("long").alias("tn"),
    )
    # shift = ceil(T/2) = (T - T%2)/2 + T%2; pairs are (i, i+shift)
    # with i <= floor(T/2) — the odd middle day drops (standard)
    a = idx.select(
        F.col("v").alias("va"),
        "i",
        "tn",
        F.expr("(tn - tn % 2) div 2 + (tn % 2)").alias("shift"),
        F.expr("tn div 2").alias("half"),
    ).filter(F.col("i") <= F.col("half"))
    b = idx.select(F.col("v").alias("vb"), F.col("i").alias("j"))
    pairs = a.join(b, F.col("j") == F.col("i") + F.col("shift"))
    cnt = pairs.agg(
        F.sum((F.col("vb") > F.col("va")).cast("long"))
        .cast("long")
        .alias("pos"),
        F.sum((F.col("vb") < F.col("va")).cast("long"))
        .cast("long")
        .alias("neg"),
    )
    npairs = (F.col("pos") + F.col("neg")).cast("long")
    z = (
        F.col("pos").cast("double") - npairs.cast("double") / F.lit(2.0)
    ) / F.sqrt(npairs.cast("double") / F.lit(4.0))
    return cnt.filter(npairs > 0).select(
        "pos",
        "neg",
        npairs.alias("n_pairs"),
        F.round(z, 6).alias("z"),
        (F.abs(z) > F.lit(1.96)).cast("long").alias("reject_005"),
    )
