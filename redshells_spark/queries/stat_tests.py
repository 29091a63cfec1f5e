"""Statistical tests and distribution statistics: two-sample and
k-sample tests, association measures, survival estimators, tail and
distribution fits, drift, concentration and inequality indices. Each
with an exact DuckDB oracle: sums in exact int64, doubles only in the
final scalar formulas.
"""

from __future__ import annotations

from redshells_spark.operators.sketches import _bitlen_case_sql
from redshells_spark.queries._shared import *  # noqa: F401,F403


@q(
    "chi_square_independence",
    """WITH o AS (SELECT lang, source, count(*) AS obs
                  FROM documents GROUP BY lang, source),
       r AS (SELECT lang, sum(obs) AS rt FROM o GROUP BY lang),
       c AS (SELECT source, sum(obs) AS ct FROM o GROUP BY source),
       n AS (SELECT sum(obs) AS tot FROM o),
       cells AS (SELECT o.lang, o.source,
                        CAST(round(1000000.0 *
                          CAST((tot * obs - rt * ct) AS DOUBLE) * (tot * obs - rt * ct)
                          / (CAST(tot AS DOUBLE) * rt * ct)) AS BIGINT) AS term_u
                 FROM o JOIN r ON o.lang = r.lang
                        JOIN c ON o.source = c.source, n)
       SELECT CAST(sum(term_u) AS BIGINT) AS chi2_micro,
              round(CAST(sum(term_u) AS DOUBLE) / 1000000.0, 4) AS chi2,
              count(*) AS n_cells
       FROM cells""",
)
def _chi_square_independence(spark, sf_dir):
    """Chi-square independence test on the lang × source contingency
    table. Per-cell terms use the all-integer form
    (N·o − r·c)²/(N·r·c) — exact int64 numerators — and are *rounded
    to integer micro-units before summing*, so the final reduction is
    order-free integer addition (a plain double sum of 20 cells folds
    in engine-dependent order). The statistic is exact to 1e-6, which
    is far inside any significance-test tolerance."""
    d = _t(spark, sf_dir, "documents")
    o = d.groupBy("lang", "source").agg(F.count(F.lit(1)).alias("obs"))
    r = o.groupBy("lang").agg(F.sum("obs").alias("rt"))
    c = o.groupBy("source").agg(F.sum("obs").alias("ct"))
    n = o.agg(F.sum("obs").alias("tot"))
    num = F.col("tot") * F.col("obs") - F.col("rt") * F.col("ct")
    term = (
        F.lit(1000000.0)
        * num.cast("double")
        * num
        / (F.col("tot").cast("double") * F.col("rt") * F.col("ct"))
    )
    cells = (
        o.join(F.broadcast(r), "lang")
        .join(F.broadcast(c), "source")
        .crossJoin(F.broadcast(n))
        .select(F.round(term, 0).cast("long").alias("term_u"))
    )
    return cells.agg(
        F.sum("term_u").cast("long").alias("chi2_micro"),
        _r4(F.sum("term_u").cast("double") / 1000000.0, "chi2"),
        F.count(F.lit(1)).alias("n_cells"),
    )


@q(
    "spearman_by_group",
    f"""WITH r AS (SELECT l_returnflag,
                    2 * rank() OVER (PARTITION BY l_returnflag ORDER BY l_quantity ASC)
                      + count(*) OVER (PARTITION BY l_returnflag, l_quantity) - 1
                      AS x,
                    2 * rank() OVER (PARTITION BY l_returnflag ORDER BY l_extendedprice ASC)
                      + count(*) OVER (PARTITION BY l_returnflag, l_extendedprice) - 1
                      AS y
             FROM lineitem),
       m AS (SELECT l_returnflag, count(*) AS n,
                    sum(x) AS sx, sum(y) AS sy, sum(x * y) AS sxy,
                    sum(x * x) AS sxx, sum(y * y) AS syy
             FROM r GROUP BY l_returnflag)
       SELECT l_returnflag,
              {corr_e4_sql('(n * sxy - sx * sy)', '(n * sxx - sx * sx)', '(n * syy - sy * sy)', '//')} AS spearman,
              n FROM m""",
)
def _spearman_by_group(spark, sf_dir):
    """Spearman rank correlation per group: average ranks computed
    tie-independently as min-rank + (tie_count − 1)/2 — doubled to the
    INTEGER 2·rank + ties − 1 (Pearson is affine-invariant, so the ×2
    cancels), which makes every co-moment an exact integer sum — the
    engine-internal corr() streams float partials in engine order, the
    correlation_stats boundary class (functions/exact.py:corr_e4_sql).
    All windows partition by the group key, so each group ranks
    independently (the global-Spearman variant would need a single
    total order; per-group is the shape that scales). rank() is int32,
    so it is widened to int64 BEFORE the doubling, as the oracle's
    BIGINT rank() is: doubled in int32 it wrapped once a group passed
    2^30 rows. The co-moment products (x*y < 9n^2) are int64 before
    their decimal sums, which bounds a group to ~1e9 rows."""
    li = _t(spark, sf_dir, "lineitem")
    wq = Window.partitionBy("l_returnflag").orderBy(F.col("l_quantity").asc())
    wp = Window.partitionBy("l_returnflag").orderBy(F.col("l_extendedprice").asc())
    x = (
        2 * F.rank().over(wq).cast("long")
        + F.count(F.lit(1)).over(Window.partitionBy("l_returnflag", "l_quantity"))
        - 1
    )
    y = (
        2 * F.rank().over(wp).cast("long")
        + F.count(F.lit(1)).over(Window.partitionBy("l_returnflag", "l_extendedprice"))
        - 1
    )
    ranked = li.select("l_returnflag", x.alias("x"), y.alias("y"))
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731 — Σy² > int64
    m = ranked.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(dec(F.col("x"))).alias("sx"),
        F.sum(dec(F.col("y"))).alias("sy"),
        F.sum(dec(F.col("x") * F.col("y"))).alias("sxy"),
        F.sum(dec(F.col("x") * F.col("x"))).alias("sxx"),
        F.sum(dec(F.col("y") * F.col("y"))).alias("syy"),
    )
    return m.selectExpr(
        "l_returnflag",
        corr_e4_sql(
            "(n * sxy - sx * sy)",
            "(n * sxx - sx * sx)",
            "(n * syy - sy * sy)",
            "div",
        )
        + " AS spearman",
        "n",
    )


@q(
    "grouped_mad_outliers",
    """WITH r AS (SELECT event_type, value,
                    row_number() OVER (PARTITION BY event_type
                                       ORDER BY value ASC, event_id ASC) AS rn,
                    count(*) OVER (PARTITION BY event_type) AS n
             FROM events),
       med AS (SELECT event_type, value AS m FROM r WHERE rn = (n + 1) // 2),
       d AS (SELECT e.event_type, e.value, e.event_id, abs(e.value - med.m) AS dev,
                    med.m
             FROM events e JOIN med USING (event_type)),
       r2 AS (SELECT event_type, m, dev,
                     row_number() OVER (PARTITION BY event_type
                                        ORDER BY dev ASC, event_id ASC) AS rn,
                     count(*) OVER (PARTITION BY event_type) AS n
              FROM d),
       mad AS (SELECT event_type, m, dev AS mad, n FROM r2 WHERE rn = (n + 1) // 2)
       SELECT d.event_type, any_value(mad.n)::BIGINT AS n,
              round(any_value(mad.m), 4) AS median_value,
              round(any_value(mad.mad), 4) AS mad,
              sum(CASE WHEN mad.mad > 0 AND d.dev > 3 * mad.mad
                       THEN 1 ELSE 0 END)::BIGINT AS n_outliers
       FROM d JOIN mad USING (event_type)
       GROUP BY d.event_type""",
)
def _grouped_mad_outliers(spark, sf_dir):
    """Robust outlier detection per group: exact lower median via
    window selection (same trick as grouped_median_price — no
    percentile semantics to reconcile), MAD as the median of absolute
    deviations, outliers = |x − median| > 3·MAD. Two key-partitioned
    window passes + one broadcast join of the 5-row median table; the
    robust pair (median, MAD) survives the heavy-tailed values that
    wreck mean/stddev z-scores."""
    ev = _t(spark, sf_dir, "events").select("event_type", "value", "event_id")
    wv = Window.partitionBy("event_type").orderBy(
        F.col("value").asc(), F.col("event_id").asc()
    )
    wn = Window.partitionBy("event_type")
    med = (
        ev.withColumn("rn", F.row_number().over(wv))
        .withColumn("n", F.count(F.lit(1)).over(wn))
        .filter(F.col("rn") == F.expr("(n + 1) div 2"))
        .select("event_type", F.col("value").alias("m"))
    )
    d = ev.join(F.broadcast(med), on="event_type").select(
        "event_type", "event_id", "m", F.abs(F.col("value") - F.col("m")).alias("dev")
    )
    wd = Window.partitionBy("event_type").orderBy(
        F.col("dev").asc(), F.col("event_id").asc()
    )
    mad = (
        d.withColumn("rn", F.row_number().over(wd))
        .withColumn("n", F.count(F.lit(1)).over(wn))
        .filter(F.col("rn") == F.expr("(n + 1) div 2"))
        .select("event_type", F.col("dev").alias("mad"), "n")
    )
    return (
        d.join(F.broadcast(mad), on="event_type")
        .groupBy("event_type")
        .agg(
            F.any_value(F.col("n")).cast("long").alias("n"),
            _r4(F.any_value(F.col("m")), "median_value"),
            _r4(F.any_value(F.col("mad")), "mad"),
            F.sum(
                ((F.col("mad") > 0) & (F.col("dev") > 3 * F.col("mad"))).cast("long")
            ).cast("long").alias("n_outliers"),
        )
    )


@q(
    "event_value_histogram",
    """WITH st AS (SELECT min(value) AS lo, max(value) AS hi FROM events),
       b AS (
         SELECT least(CAST(floor((value - st.lo) * 20 / (st.hi - st.lo))
                           AS BIGINT), 19) AS bucket
         FROM events, st),
       h AS (SELECT bucket, CAST(count(*) AS BIGINT) AS n
             FROM b GROUP BY bucket)
       SELECT h.bucket, h.n,
              round(st.lo + h.bucket * (st.hi - st.lo) / 20, 4) AS bucket_lo,
              round(st.lo + (h.bucket + 1) * (st.hi - st.lo) / 20, 4) AS bucket_hi
       FROM h, st""",
)
def _event_value_histogram(spark, sf_dir):
    """Fixed-width 20-bucket histogram of events.value — the profiling
    primitive for data cards and skew diagnosis. Two passes (one tiny
    min/max agg broadcast back, one map-combined bucket count); bucket
    index = floor((x−lo)·20/(hi−lo)) clamped to 19 — every operand
    identical cross-engine, so bucket assignment is exact and only the
    display bounds are rounded."""
    ev = _t(spark, sf_dir, "events").select("value")
    st = ev.agg(F.min("value").alias("lo"), F.max("value").alias("hi"))
    b = ev.crossJoin(F.broadcast(st)).select(
        F.least(
            F.floor(
                (F.col("value") - F.col("lo")) * 20 / (F.col("hi") - F.col("lo"))
            ).cast("long"),
            F.lit(19),
        ).alias("bucket")
    )
    h = b.groupBy("bucket").agg(F.count(F.lit(1)).cast("long").alias("n"))
    return h.crossJoin(F.broadcast(st)).select(
        "bucket",
        "n",
        _r4(F.col("lo") + F.col("bucket") * (F.col("hi") - F.col("lo")) / 20, "bucket_lo"),
        _r4(F.col("lo") + (F.col("bucket") + 1) * (F.col("hi") - F.col("lo")) / 20, "bucket_hi"),
    )


@q(
    "ks_two_sample",
    """WITH b AS (
         SELECT CAST(floor(value * 100 + CAST(0.5 AS DOUBLE)) AS BIGINT) AS v,
                CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS is1
         FROM events WHERE event_type IN ('click', 'purchase')),
       pv AS (SELECT v, CAST(sum(is1) AS BIGINT) AS c1,
                     CAST(sum(1 - is1) AS BIGINT) AS c2
              FROM b GROUP BY 1),
       cum AS (SELECT v,
                      CAST(sum(c1) OVER (ORDER BY v ASC
                        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum1,
                      CAST(sum(c2) OVER (ORDER BY v ASC
                        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum2
               FROM pv),
       n AS (SELECT CAST(sum(is1) AS BIGINT) AS n1,
                    CAST(sum(1 - is1) AS BIGINT) AS n2
             FROM b),
       d AS (SELECT CAST(max(abs(cum1 * n.n2 - cum2 * n.n1)) AS BIGINT)
                      AS d_num
             FROM cum, n)
       SELECT n.n1, n.n2, d.d_num,
              CAST(d.d_num AS DOUBLE) / (n.n1 * n.n2) AS d_stat,
              CAST(1.358 AS DOUBLE)
                * sqrt((n.n1 + n.n2) / (CAST(n.n1 AS DOUBLE) * n.n2))
                AS critical_005,
              CAST(CASE WHEN CAST(d.d_num AS DOUBLE) / (n.n1 * n.n2)
                        > CAST(1.358 AS DOUBLE)
                          * sqrt((n.n1 + n.n2)
                                 / (CAST(n.n1 AS DOUBLE) * n.n2))
                        THEN 1 ELSE 0 END AS BIGINT) AS reject_005
       FROM n, d""",
)
def _ks_two_sample(spark, sf_dir):
    """Exact two-sample Kolmogorov-Smirnov test between the click and
    purchase value distributions — the standard drift check between
    two data slices. The supremum gap folds to max|cum1*n2 - cum2*n1|
    — an exact int64 over one value-ordered window (missing values in
    either sample carry forward automatically because the cumsum runs
    over the UNION of distinct values) — and D, the alpha=0.05
    critical value, and the reject flag are one fixed IEEE tree over
    those ints (identical operands -> identical comparison in both
    engines). No p-value series expansion: the decision threshold is
    the closed Smirnov large-sample form. The per-value count relation
    is also the mergeable state of streaming/drift.py's monitor."""
    from redshells_spark.operators.drift import ks_two_sample

    ev = _t(spark, sf_dir, "events")
    b = ev.filter(F.col("event_type").isin("click", "purchase")).select(
        "value",
        (F.col("event_type") == "click").cast("long").alias("is1"),
    )
    return ks_two_sample(b, "value", "is1", scale=100)


# ----------------------------------------------------------- Hill tail fit


@q(
    "hill_tail_index",
    """WITH tok AS (
         SELECT source,
                unnest(list_filter(string_split(lower(text), ' '), t -> t <> '')) AS token
         FROM documents),
       cnt AS (SELECT source, token, count(*) AS c FROM tok GROUP BY 1, 2),
       rk AS (
         SELECT source, c,
                row_number() OVER (PARTITION BY source
                                   ORDER BY c DESC, token ASC) AS rn
         FROM cnt),
       tail AS (SELECT source, CAST(c AS DOUBLE) AS c_ref FROM rk WHERE rn = 11),
       top AS (SELECT source, c FROM rk WHERE rn <= 10)
       SELECT t.source,
              CAST(10 AS BIGINT) AS m,
              CAST(max(ta.c_ref) AS BIGINT) AS c_tail,
              round(10.0 / sum(ln(t.c / ta.c_ref)), 4) AS hill_alpha
       FROM top t JOIN tail ta ON ta.source = t.source
       GROUP BY t.source""",
)
def _hill_tail_index(spark, sf_dir):
    """Hill tail-index estimate (Hill 1975) of each source's token
    frequency distribution — the standard check that a corpus slice
    follows the expected Zipfian tail (alpha ~ 1) rather than being
    template-dominated (heavy head, alpha >> 1) or shredded. Uses the
    top m=10 order statistics against the (m+1)-th:
    alpha = m / sum ln(c_i / c_(m+1)). Counts are exact int64; the
    log-sum is one fixed expression per source, rounded after the
    aggregate (the ppl-oracle precedent). Token counting is the usual
    map-combined groupBy; the window runs over the vocabulary-bounded
    counts relation, never the corpus."""
    docs = _t(spark, sf_dir, "documents")
    toks = tokenize_on_space(docs, "text", "toks", lowercase=True)
    cnt = (
        toks.select("source", F.explode("toks").alias("token"))
        .groupBy("source", "token")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    w = Window.partitionBy("source").orderBy(
        F.col("c").desc(), F.col("token").asc()
    )
    rk = cnt.withColumn("rn", F.row_number().over(w))
    tail = rk.filter(F.col("rn") == 11).select(
        "source", F.col("c").cast("double").alias("c_ref")
    )
    top = rk.filter(F.col("rn") <= 10).select("source", "c")
    return (
        top.join(tail, "source")
        .groupBy("source")
        .agg(
            F.lit(10).cast("long").alias("m"),
            F.max("c_ref").cast("long").alias("c_tail"),
            F.round(
                F.lit(10.0) / F.sum(F.log(F.col("c") / F.col("c_ref"))), 4
            ).alias("hill_alpha"),
        )
    )


# ----------------------------------------------------------------- PSI drift

_PSI_BITS = 24  # value*100 fits well under 2^24; bucket = bit length


@q(
    "psi_value_drift",
    f"""WITH e AS (
         SELECT event_type,
                greatest(CAST(floor(value * 100 + CAST(0.5 AS DOUBLE)) AS BIGINT), 0) AS u,
                epoch_us(ts) AS us
         FROM events),
       mm AS (SELECT min(us) + max(us) AS mm FROM e),
       bk AS (
         SELECT event_type,
                {_bitlen_case_sql('u', _PSI_BITS)} AS bucket,
                CASE WHEN us * 2 < mm.mm THEN 1 ELSE 0 END AS is1
         FROM e, mm),
       pv AS (SELECT event_type, bucket,
                     CAST(sum(is1) AS BIGINT) AS c1,
                     CAST(sum(1 - is1) AS BIGINT) AS c2
              FROM bk GROUP BY 1, 2),
       g AS (SELECT event_type,
                    CAST(sum(c1) AS BIGINT) AS n1,
                    CAST(sum(c2) AS BIGINT) AS n2,
                    CAST(count(*) AS BIGINT) AS nb
             FROM pv GROUP BY 1),
       t AS (
         SELECT p.event_type,
                ((p.c1 + CAST(0.5 AS DOUBLE)) / (CAST(g.n1 AS DOUBLE) + CAST(0.5 AS DOUBLE) * g.nb)
                 - (p.c2 + CAST(0.5 AS DOUBLE)) / (CAST(g.n2 AS DOUBLE) + CAST(0.5 AS DOUBLE) * g.nb))
                * ln(((p.c1 + CAST(0.5 AS DOUBLE)) / (CAST(g.n1 AS DOUBLE) + CAST(0.5 AS DOUBLE) * g.nb))
                     / ((p.c2 + CAST(0.5 AS DOUBLE)) / (CAST(g.n2 AS DOUBLE) + CAST(0.5 AS DOUBLE) * g.nb)))
                  AS term
         FROM pv p JOIN g USING (event_type))
       SELECT g.event_type, g.n1 AS n1, g.n2 AS n2, g.nb AS n_buckets,
              round(sum(t.term), 6) AS psi
       FROM t JOIN g USING (event_type)
       GROUP BY g.event_type, g.n1, g.n2, g.nb""",
)
def _psi_value_drift(spark, sf_dir):
    """Population Stability Index of each event type's value
    distribution between the first and second half of the observation
    window (operators/drift.py:psi_drift) — the model-monitoring
    standard next to the KS test (PSI > 0.25 = action). The time split
    is the exact integer comparison us*2 < min+max (no division), the
    binning is the integer log2 bucket of the cent units (a comparison
    chain, no float log), and the per-bucket KL terms are one fixed
    IEEE expression over exact counts, summed over a ≤24-row relation
    per group and rounded after (the hill/ppl float discipline).
    Counts fold additively, so the bucket relation is also the
    mergeable streaming state, mirroring ks_value_counts."""
    from redshells_spark.operators.drift import psi_drift

    ev = _t(spark, sf_dir, "events")
    b = ev.select("event_type", "value", event_us(ev).alias("__us"))
    mm = b.agg((F.min("__us") + F.max("__us")).alias("__mm"))
    flagged = b.crossJoin(F.broadcast(mm)).select(
        "event_type",
        "value",
        (F.col("__us") * 2 < F.col("__mm")).cast("long").alias("is_early"),
    )
    return psi_drift(
        flagged, "value", "is_early", ["event_type"], scale=100, max_bits=_PSI_BITS
    )


# ----------------------------------------------------------- Mann-Whitney


@q(
    "mann_whitney_shift",
    """WITH b AS (
         SELECT CAST(floor(value * 100 + CAST(0.5 AS DOUBLE)) AS BIGINT) AS v,
                CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS is1
         FROM events WHERE event_type IN ('click', 'purchase')),
       pv AS (SELECT v, CAST(sum(is1) AS BIGINT) AS c1,
                     CAST(sum(1 - is1) AS BIGINT) AS c2
              FROM b GROUP BY 1),
       r AS (SELECT c1, (c1 + c2) AS t,
                    CAST(coalesce(sum(c1 + c2) OVER (ORDER BY v ASC
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                      AS BIGINT) AS cb
             FROM pv),
       a AS (SELECT CAST(sum(c1) AS BIGINT) AS n1,
                    CAST(sum(t - c1) AS BIGINT) AS n2,
                    CAST(sum(c1 * (2 * cb + t + 1)) AS BIGINT) AS r1_x2,
                    CAST(sum(t * t * t - t) AS BIGINT) AS tie_t
             FROM r)
       SELECT n1, n2,
              CAST(r1_x2 - n1 * (n1 + 1) AS BIGINT) AS u1_x2, tie_t,
              round(CAST((r1_x2 - n1 * (n1 + 1)) - n1 * n2 AS DOUBLE)
                    / (CAST(2.0 AS DOUBLE)
                       * sqrt(CAST(n1 * n2 AS DOUBLE) / CAST(12.0 AS DOUBLE)
                              * (CAST(n1 + n2 + 1 AS DOUBLE)
                                 - CAST(tie_t AS DOUBLE)
                                   / (CAST(n1 + n2 AS DOUBLE)
                                      * CAST(n1 + n2 - 1 AS DOUBLE))))), 6) AS z,
              CAST(CASE WHEN abs(round(CAST((r1_x2 - n1 * (n1 + 1)) - n1 * n2 AS DOUBLE)
                    / (CAST(2.0 AS DOUBLE)
                       * sqrt(CAST(n1 * n2 AS DOUBLE) / CAST(12.0 AS DOUBLE)
                              * (CAST(n1 + n2 + 1 AS DOUBLE)
                                 - CAST(tie_t AS DOUBLE)
                                   / (CAST(n1 + n2 AS DOUBLE)
                                      * CAST(n1 + n2 - 1 AS DOUBLE))))), 6))
                    > CAST(1.96 AS DOUBLE) THEN 1 ELSE 0 END AS BIGINT) AS reject_005
       FROM a""",
)
def _mann_whitney_shift(spark, sf_dir):
    """Mann-Whitney U (Wilcoxon rank-sum) between the click and
    purchase value distributions (operators/drift.py
    mann_whitney_u) — the nonparametric location-shift test completing
    the drift triad (KS = CDF supremum, PSI = binned KL, U = rank
    shift). Midrank ties make doubled rank sums exact int64
    (2·midrank = 2·count_below + count + 1); the tie-corrected normal
    z is one fixed IEEE expression over those integers, rounded after.
    The per-value count relation is the same mergeable state as
    ks_value_counts — streamable for free."""
    from redshells_spark.operators.drift import mann_whitney_u

    ev = _t(spark, sf_dir, "events")
    b = ev.filter(F.col("event_type").isin("click", "purchase")).select(
        "value", (F.col("event_type") == "click").cast("long").alias("is1")
    )
    return mann_whitney_u(b, "value", "is1", scale=100)


@q(
    "weighted_median_by_group",
    """WITH b AS (
         SELECT event_type,
                CAST(floor(value * 100 + CAST(0.5 AS DOUBLE)) AS BIGINT) AS v,
                CAST(json_extract_string(props, '$.k') AS BIGINT) AS w
         FROM events),
       pv AS (SELECT event_type, v, CAST(sum(w) AS BIGINT) AS w_v
              FROM b GROUP BY 1, 2),
       cum AS (
         SELECT event_type, v, w_v,
                CAST(sum(w_v) OVER (PARTITION BY event_type ORDER BY v ASC
                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cw
         FROM pv),
       tot AS (SELECT event_type, CAST(sum(w_v) AS BIGINT) AS w_total,
                      CAST(count(*) AS BIGINT) AS n_values
               FROM pv GROUP BY 1)
       SELECT t.event_type, t.n_values, t.w_total,
              CAST(min(c.v) AS BIGINT) AS weighted_median_e2
       FROM cum c JOIN tot t USING (event_type)
       WHERE 2 * c.cw >= t.w_total
       GROUP BY t.event_type, t.n_values, t.w_total""",
)
def _weighted_median_by_group(spark, sf_dir):
    """Weighted (lower) median of event value per type, weighted by
    the props payload weight k — robust central tendency where rows
    carry unequal mass (docs weighted by tokens, events by spend).
    Entirely exact integers: cent units, int64 weight cumsums over the
    per-value count relation (domain-bounded, the KS/PSI state shape),
    and the median is min(v) with 2·cumweight ≥ total — no float ever
    appears."""
    ev = _t(spark, sf_dir, "events")
    b = ev.select(
        "event_type",
        money_units(F.col("value"), 100).alias("v"),
        F.get_json_object("props", "$.k").cast("long").alias("w"),
    )
    pv = b.groupBy("event_type", "v").agg(F.sum("w").cast("long").alias("w_v"))
    wc = Window.partitionBy("event_type").orderBy(F.col("v").asc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = pv.withColumn("cw", F.sum("w_v").over(wc).cast("long"))
    tot = pv.groupBy("event_type").agg(
        F.sum("w_v").cast("long").alias("w_total"),
        F.count(F.lit(1)).cast("long").alias("n_values"),
    )
    return (
        cum.join(F.broadcast(tot), "event_type")
        .filter(2 * F.col("cw") >= F.col("w_total"))
        .groupBy("event_type", "n_values", "w_total")
        .agg(F.min("v").cast("long").alias("weighted_median_e2"))
        .select("event_type", "n_values", "w_total", "weighted_median_e2")
    )


# ------------------------------------------- revenue concentration


@q(
    "revenue_concentration",
    """WITH r AS (
         SELECT n.n_name AS nation,
                CAST(sum(CAST(floor(o.o_totalprice * 100 + CAST(0.5 AS DOUBLE)) AS BIGINT)) AS BIGINT) AS rev
         FROM orders o
         JOIN customer c ON c.c_custkey = o.o_custkey
         JOIN nation n ON n.n_nationkey = c.c_nationkey
         GROUP BY 1),
       rk AS (SELECT nation, rev,
                     row_number() OVER (ORDER BY rev ASC, nation ASC) AS i,
                     CAST(count(*) OVER () AS BIGINT) AS n,
                     CAST(sum(rev) OVER () AS BIGINT) AS tot
              FROM r)
       SELECT CAST(max(n) AS BIGINT) AS n_nations,
              CAST(max(tot) AS BIGINT) AS total_rev_e2,
              -- denominator pre-divided: D*1e6 overflows int64 at 10x
              -- (caught by the factor-10 differential); greatest(..,1)
              -- guards tiny corpora
              CAST((2 * sum(i * rev) - (max(n) + 1) * max(tot))
                   // greatest(max(n) * max(tot) // 1000000, 1) AS BIGINT) AS gini_e6,
              -- HHI over e3 integer shares: rev*rev sums overflow
              -- int64 (DuckDB would silently widen to HUGEINT and
              -- diverge); shares <= 1000 keep everything in range
              CAST(sum((rev * 1000 // max_tot) * (rev * 1000 // max_tot)) AS BIGINT)
                  AS hhi_e6
       FROM (SELECT *, CAST(max(tot) OVER () AS BIGINT) AS max_tot FROM rk) rk2""",
)
def _revenue_concentration(spark, sf_dir):
    """Revenue concentration across nations: the Gini coefficient via
    the sorted-rank identity G = (2·Σ i·x_i − (n+1)·Σx) / (n·Σx) and
    the Herfindahl-Hirschman index Σ share² over e3 integer shares — both exact-integer fixed point over cent units (the identity needs one rank
    window over the nation-bounded relation; no float ever appears).
    The standard imbalance audit for corpus sources and revenue alike
    — a Gini near 1 or HHI near 1e6 says one group dominates."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    nat = _t(spark, sf_dir, "nation")
    r = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(nat), c.c_nationkey == nat.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(F.sum(money_units(F.col("o_totalprice"), 100)).cast("long").alias("rev"))
    )
    w = Window.orderBy(F.col("rev").asc(), F.col("nation").asc())
    wa = Window.partitionBy()
    rk = r.select(
        "nation",
        "rev",
        F.row_number().over(w).alias("i"),
        F.count(F.lit(1)).over(wa).cast("long").alias("n"),
        F.sum("rev").over(wa).cast("long").alias("tot"),
    )
    rk2 = rk.withColumn("max_tot", F.max("tot").over(wa).cast("long"))
    return rk2.agg(
        F.max("n").cast("long").alias("n_nations"),
        F.max("tot").cast("long").alias("total_rev_e2"),
        # denominator pre-divided: D*1e6 overflows int64 at 10x data
        # (caught by the factor-10 differential); greatest(.., 1)
        # guards tiny corpora
        F.expr(
            "cast((2 * sum(i * rev) - (max(n) + 1) * max(tot))"
            " div greatest(max(n) * max(tot) div 1000000, 1L) as bigint)"
        ).alias("gini_e6"),
        # e3 integer shares: rev*rev would overflow int64 (and DuckDB
        # would silently widen to HUGEINT and diverge)
        F.expr(
            "cast(sum((rev * 1000 div max_tot) * (rev * 1000 div max_tot)) as bigint)"
        ).alias("hhi_e6"),
    )


# ---------------------------------------------------- dispersion index


@q(
    "event_dispersion_index",
    """WITH c AS (
         SELECT event_type, user_id, CAST(count(*) AS BIGINT) AS x
         FROM events GROUP BY 1, 2),
       a AS (SELECT event_type,
                    CAST(count(*) AS BIGINT) AS n,
                    CAST(sum(x) AS BIGINT) AS sx,
                    CAST(sum(x * x) AS BIGINT) AS sxx
             FROM c GROUP BY 1)
       SELECT event_type, n, sx AS total_events,
              CAST((n * sxx - sx * sx) * 10000 // ((n - 1) * sx) AS BIGINT)
                  AS vmr_e4
       FROM a WHERE n > 1 AND sx > 0""",
)
def _event_dispersion_index(spark, sf_dir):
    """Variance-to-mean ratio of per-user event counts per type — the
    Poisson over-dispersion check (VMR = 1 under Poisson arrivals;
    >> 1 = bursty/bot-like, << 1 = quota-like). Exact e4 fixed point:
    VMR = (n·Σx² − (Σx)²) / ((n−1)·Σx) over int64 sums of bounded
    per-user counts — no float moments. Two map-combined aggregations,
    nothing else."""
    ev = _t(spark, sf_dir, "events")
    c = ev.groupBy("event_type", "user_id").agg(
        F.count(F.lit(1)).cast("long").alias("x")
    )
    a = c.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
    )
    return a.filter((F.col("n") > 1) & (F.col("sx") > 0)).select(
        "event_type",
        "n",
        F.col("sx").alias("total_events"),
        F.expr(
            "cast((n * sxx - sx * sx) * 10000 div ((n - 1) * sx) as bigint)"
        ).alias("vmr_e4"),
    )


# ---------------------------------------------- rank normalization


@q(
    "rank_normalize_scores",
    """WITH r AS (
         SELECT doc_id, source, n_chars,
                row_number() OVER (PARTITION BY source
                                   ORDER BY n_chars ASC, doc_id ASC) AS rk,
                CAST(count(*) OVER (PARTITION BY source) AS BIGINT) AS n
         FROM documents)
       SELECT doc_id, source, CAST(n_chars AS BIGINT) AS n_chars,
              CAST((rk - 1) * 1000000 // (n - 1) AS BIGINT) AS pr_e6
       FROM r WHERE n > 1""",
)
def _rank_normalize_scores(spark, sf_dir):
    """Rank-based score normalization per source: percent-rank of the
    quality proxy (n_chars) as exact e6 integers — the standard move
    before mixing quality scores ACROSS sources whose raw scales
    differ (a CommonCrawl perplexity is not a Wikipedia perplexity).
    Ties broken on doc_id so both engines rank identically; one window
    per source, zero floats."""
    docs = _t(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(
        F.col("n_chars").asc(), F.col("doc_id").asc()
    )
    wn = Window.partitionBy("source")
    r = docs.select(
        "doc_id",
        "source",
        F.col("n_chars").cast("long").alias("n_chars"),
        F.row_number().over(w).alias("rk"),
        F.count(F.lit(1)).over(wn).cast("long").alias("n"),
    )
    return r.filter(F.col("n") > 1).select(
        "doc_id",
        "source",
        "n_chars",
        # rk is int32 (row_number): widen BEFORE the 1e6 multiply —
        # (rk-1)*1e6 overflows int at >2147 rows/group (f10 catch)
        F.expr("cast(cast(rk - 1 as bigint) * 1000000 div (n - 1) as bigint)").alias("pr_e6"),
    )


# ------------------------------------------------- Kaplan-Meier


@q(
    "kaplan_meier_churn",
    f"""WITH gm AS (SELECT max(epoch_us(ts)) AS mx FROM events),
       u AS (SELECT user_id, min(epoch_us(ts)) AS f, max(epoch_us(ts)) AS l
             FROM events GROUP BY 1),
       d AS (SELECT (l - f) // {_HOUR_US} AS t,
                    CASE WHEN l > (SELECT mx FROM gm) - {12 * _HOUR_US}
                         THEN 0 ELSE 1 END AS ev
             FROM u),
       lvl AS (SELECT t, CAST(count(*) AS BIGINT) AS n_at_t,
                      CAST(sum(ev) AS BIGINT) AS d_at_t
               FROM d GROUP BY 1),
       tot AS (SELECT CAST(sum(n_at_t) AS BIGINT) AS n_total FROM lvl),
       lv2 AS (SELECT t, n_at_t, d_at_t,
                      CAST((SELECT n_total FROM tot)
                           - coalesce(sum(n_at_t) OVER (ORDER BY t ASC
                               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                        AS BIGINT) AS n_risk
               FROM lvl),
       lv3 AS (SELECT t, d_at_t, n_risk,
                      CASE WHEN d_at_t >= n_risk THEN CAST(-1e30 AS DOUBLE)
                           WHEN d_at_t > 0
                           THEN ln(CAST(1 AS DOUBLE)
                                   - CAST(d_at_t AS DOUBLE) / CAST(n_risk AS DOUBLE))
                           ELSE CAST(0 AS DOUBLE) END AS ln_term
               FROM lv2),
       s AS (SELECT t, n_risk, d_at_t,
                    round(exp(sum(ln_term) OVER (ORDER BY t ASC
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)), 6)
                      AS survival
             FROM lv3)
       SELECT CAST(t AS BIGINT) AS duration_hours, n_risk,
              d_at_t AS n_events, survival
       FROM s WHERE d_at_t > 0""",
)
def _kaplan_meier_churn(spark, sf_dir):
    """Kaplan-Meier user-lifetime survival curve (Kaplan & Meier 1958)
    with right-censoring: lifetime = hours between a user's first and
    last event; users still active in the final 12 hours of the
    observation window are censored (the testdata log spans ~30 days
    with hour-scale idle gaps — hour granularity is what makes the
    death distribution non-degenerate). The estimator runs on the
    DISTINCT-DURATION level table (bounded by the window's hour count,
    never by user count), so past one per-user min/max pass the plan
    is scale-free; at-risk counts are exact int64 prefix sums and the
    survival product is exp(cumsum(ln)) in pinned ascending order,
    rounded to 6. operators/survival.py:kaplan_meier."""
    from redshells_spark.operators.survival import kaplan_meier

    ev = _t(spark, sf_dir, "events")
    us = event_us(ev).alias("us")
    u = (
        ev.select("user_id", us)
        .groupBy("user_id")
        .agg(F.min("us").alias("f"), F.max("us").alias("l"))
    )
    gm = u.agg(F.max("l").alias("mx"))
    d = u.crossJoin(F.broadcast(gm)).select(
        F.expr(f"(l - f) div {_HOUR_US}").cast("long").alias("duration_hours"),
        F.when(F.col("l") > F.col("mx") - F.lit(12 * _HOUR_US), 0)
        .otherwise(1)
        .alias("event"),
    )
    return kaplan_meier(d, "duration_hours", "event")


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


# churn-duration derivation shared by the survival family (identical
# to kaplan_meier_churn's: lifetime in hours, censor-at-window-tail)
_CHURN_SQL = f"""gm AS (SELECT max(epoch_us(ts)) AS mx FROM events),
       u AS (SELECT user_id, min(epoch_us(ts)) AS f, max(epoch_us(ts)) AS l
             FROM events GROUP BY 1),
       d AS (SELECT user_id, (l - f) // {_HOUR_US} AS t,
                    CASE WHEN l > (SELECT mx FROM gm) - {12 * _HOUR_US}
                         THEN 0 ELSE 1 END AS ev
             FROM u)"""


def _churn_durations(spark, sf_dir):
    """(user_id, duration_hours, event) — the KM/NA/log-rank input."""
    ev = _t(spark, sf_dir, "events")
    us = event_us(ev).alias("us")
    u = (
        ev.select("user_id", us)
        .groupBy("user_id")
        .agg(F.min("us").alias("f"), F.max("us").alias("l"))
    )
    gm = u.agg(F.max("l").alias("mx"))
    return u.crossJoin(F.broadcast(gm)).select(
        "user_id",
        F.expr(f"(l - f) div {_HOUR_US}").cast("long").alias("duration_hours"),
        F.when(F.col("l") > F.col("mx") - F.lit(12 * _HOUR_US), 0)
        .otherwise(1)
        .alias("event"),
    )


# ------------------------------------------------ Nelson-Aalen hazard


@q(
    "nelson_aalen_hazard",
    f"""WITH {_CHURN_SQL},
       lvl AS (SELECT t, CAST(count(*) AS BIGINT) AS n_at_t,
                      CAST(sum(ev) AS BIGINT) AS d_at_t
               FROM d GROUP BY 1),
       tot AS (SELECT CAST(sum(n_at_t) AS BIGINT) AS n_total FROM lvl),
       lv2 AS (SELECT t, n_at_t, d_at_t,
                      CAST((SELECT n_total FROM tot)
                           - coalesce(sum(n_at_t) OVER (ORDER BY t ASC
                               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                        AS BIGINT) AS n_risk
               FROM lvl),
       lv3 AS (SELECT t, n_risk, d_at_t,
                      CAST(d_at_t * 1000000000 // n_risk AS BIGINT) AS haz_e9,
                      CAST(d_at_t * 1000000000000 // (n_risk * n_risk) AS BIGINT)
                        AS var_e12
               FROM lv2),
       s AS (SELECT t, n_risk, d_at_t,
                    CAST(sum(haz_e9) OVER wt AS BIGINT) AS cum_haz_e9,
                    CAST(sum(var_e12) OVER wt AS BIGINT) AS cum_var_e12
             FROM lv3
             WINDOW wt AS (ORDER BY t ASC
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
       SELECT CAST(t AS BIGINT) AS duration_hours, n_risk,
              d_at_t AS n_events,
              round(CAST(cum_haz_e9 AS DOUBLE)
                    / CAST(1000000000 AS DOUBLE), 6) AS cum_hazard,
              round(sqrt(CAST(cum_var_e12 AS DOUBLE)
                         / CAST(1000000000000 AS DOUBLE)), 6) AS hazard_se
       FROM s WHERE d_at_t > 0""",
)
def _nelson_aalen_hazard(spark, sf_dir):
    """Nelson-Aalen cumulative user-churn hazard H(t) = sum(d_i/n_i)
    (Aalen 1978) over the same lifetime/censoring derivation as
    kaplan_meier_churn. STRONGER determinism than KM's exp(cumsum(ln)):
    each hazard increment is the pure integer division d*1e9 div n
    (variance: d*1e12 div n^2), so the cumulative sums are exact int64
    — no float is ever aggregated anywhere. Runs entirely on the
    distinct-duration level table (bounded by the observation window's
    hour count, never user count). operators/survival.py:nelson_aalen."""
    from redshells_spark.operators.survival import nelson_aalen

    d = _churn_durations(spark, sf_dir).select("duration_hours", "event")
    return nelson_aalen(d, "duration_hours", "event")


# ------------------------------------------------- log-rank test


@q(
    "log_rank_churn",
    f"""WITH {_CHURN_SQL},
       dg AS (SELECT t, ev, CAST(user_id % 2 AS BIGINT) AS g FROM d),
       lvl AS (SELECT t,
                CAST(sum(CASE WHEN g = 0 THEN 1 ELSE 0 END) AS BIGINT) AS a1,
                CAST(sum(CASE WHEN g = 1 THEN 1 ELSE 0 END) AS BIGINT) AS a2,
                CAST(sum(CASE WHEN g = 0 THEN ev ELSE 0 END) AS BIGINT) AS d1,
                CAST(sum(CASE WHEN g = 1 THEN ev ELSE 0 END) AS BIGINT) AS d2
               FROM dg GROUP BY 1),
       tot AS (SELECT CAST(sum(a1) AS BIGINT) AS t1,
                      CAST(sum(a2) AS BIGINT) AS t2 FROM lvl),
       lv2 AS (SELECT t, d1, d2,
                CAST((SELECT t1 FROM tot)
                     - coalesce(sum(a1) OVER wb, 0) AS BIGINT) AS n1r,
                CAST((SELECT t2 FROM tot)
                     - coalesce(sum(a2) OVER wb, 0) AS BIGINT) AS n2r
               FROM lvl
               WINDOW wb AS (ORDER BY t ASC
                             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
       lv3 AS (SELECT d1, d2, n1r, n2r,
                      CAST(d1 + d2 AS BIGINT) AS dj,
                      CAST(n1r + n2r AS BIGINT) AS nj
               FROM lv2 WHERE d1 + d2 > 0),
       lv4 AS (SELECT d1, d2,
                CAST(floor(CAST(dj AS DOUBLE) * CAST(n1r AS DOUBLE)
                           / CAST(nj AS DOUBLE)
                           * CAST(1000000000 AS DOUBLE)
                           + CAST(0.5 AS DOUBLE)) AS BIGINT) AS e1_e9,
                CASE WHEN nj > 1 THEN
                  CAST(floor(CAST(dj AS DOUBLE) * CAST(n1r AS DOUBLE)
                             / CAST(nj AS DOUBLE)
                             * CAST(n2r AS DOUBLE) / CAST(nj AS DOUBLE)
                             * CAST(nj - dj AS DOUBLE)
                             / CAST(nj - 1 AS DOUBLE)
                             * CAST(1000000000 AS DOUBLE)
                             + CAST(0.5 AS DOUBLE)) AS BIGINT)
                ELSE 0 END AS v_e9
               FROM lv3),
       agg AS (SELECT CAST(count(*) AS BIGINT) AS n_times,
                      CAST(sum(d1) AS BIGINT) AS o1,
                      CAST(sum(d2) AS BIGINT) AS o2,
                      CAST(sum(e1_e9) AS BIGINT) AS se1,
                      CAST(sum(v_e9) AS BIGINT) AS sv
               FROM lv4)
       SELECT n_times, o1, o2,
              round(CAST(se1 AS DOUBLE) / CAST(1000000000 AS DOUBLE), 6) AS e1,
              round(CAST(sv AS DOUBLE) / CAST(1000000000 AS DOUBLE), 6) AS var_lr,
              round((CAST(o1 AS DOUBLE) - CAST(se1 AS DOUBLE)
                     / CAST(1000000000 AS DOUBLE))
                    * (CAST(o1 AS DOUBLE) - CAST(se1 AS DOUBLE)
                       / CAST(1000000000 AS DOUBLE))
                    / (CAST(sv AS DOUBLE) / CAST(1000000000 AS DOUBLE)), 6)
                AS chi2,
              round((CAST(o1 AS DOUBLE) - CAST(se1 AS DOUBLE)
                     / CAST(1000000000 AS DOUBLE))
                    / sqrt(CAST(sv AS DOUBLE) / CAST(1000000000 AS DOUBLE)), 6)
                AS z
       FROM agg""",
)
def _log_rank_churn(spark, sf_dir):
    """Two-sample log-rank test (Mantel 1966) comparing the churn
    hazard of even vs odd user cohorts over the shared lifetime
    derivation: per event time the expected-death and hypergeometric-
    variance terms are single double expressions over exact int64
    level counts, floor(x*1e9+0.5)-quantized BEFORE aggregation, so
    the test statistic is bit-stable under any partition order. The
    whole test runs on the distinct-duration level table.
    operators/survival.py:log_rank."""
    from redshells_spark.operators.survival import log_rank

    d = _churn_durations(spark, sf_dir).select(
        "duration_hours", "event", (F.col("user_id") % 2).cast("long").alias("grp")
    )
    return log_rank(d, "duration_hours", "event", "grp")


# --------------------------------------------- McNemar's test


@q(
    "mcnemar_rule_compare",
    """WITH d AS (SELECT
            CASE WHEN n_chars >= 200 THEN 1 ELSE 0 END AS pred_a,
            CASE WHEN len(list_filter(string_split(lower(text), ' '),
                                      t -> t <> '')) >= 40
                 THEN 1 ELSE 0 END AS pred_b,
            CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS truth
           FROM documents),
       cells AS (SELECT
            CAST(sum(CASE WHEN pred_a = truth AND pred_b <> truth
                     THEN 1 ELSE 0 END) AS BIGINT) AS b,
            CAST(sum(CASE WHEN pred_a <> truth AND pred_b = truth
                     THEN 1 ELSE 0 END) AS BIGINT) AS c,
            CAST(sum(CASE WHEN pred_a = truth AND pred_b = truth
                     THEN 1 ELSE 0 END) AS BIGINT) AS both_right,
            CAST(sum(CASE WHEN pred_a <> truth AND pred_b <> truth
                     THEN 1 ELSE 0 END) AS BIGINT) AS both_wrong
           FROM d)
       SELECT b, c, both_right, both_wrong,
              CASE WHEN b + c > 0 THEN
                round(CAST((abs(b - c) - 1) * (abs(b - c) - 1) AS DOUBLE)
                      / CAST(b + c AS DOUBLE), 6)
              END AS chi2,
              CASE WHEN b + c > 0 THEN
                CAST(CAST((abs(b - c) - 1) * (abs(b - c) - 1) AS DOUBLE)
                     / CAST(b + c AS DOUBLE) > CAST(3.841 AS DOUBLE) AS BIGINT)
              ELSE 0 END AS reject_005
       FROM cells""",
)
def _mcnemar_rule_compare(spark, sf_dir):
    """McNemar's paired test (continuity-corrected, McNemar 1947)
    comparing two deterministic document filters — a char-length rule
    vs a token-count rule — against the language label: the b/c
    discordant cells are exact int64 sums over one scan; chi2 =
    (|b-c|-1)^2/(b+c) is the final one-shot formula. This is the
    paired-classifier significance check an eval harness runs before
    swapping quality filters (companion to fleiss_kappa_ratings /
    cohen_kappa_positions on the agreement side)."""
    docs = _t(spark, sf_dir, "documents")
    toks = space_tokens(F.col("text"))
    d = docs.select(
        F.when(F.col("n_chars") >= 200, 1).otherwise(0).alias("pred_a"),
        F.when(F.size(toks) >= 40, 1).otherwise(0).alias("pred_b"),
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("truth"),
    )
    cells = d.agg(
        F.sum(
            F.when((F.col("pred_a") == F.col("truth")) & (F.col("pred_b") != F.col("truth")), 1).otherwise(0)
        )
        .cast("long")
        .alias("b"),
        F.sum(
            F.when((F.col("pred_a") != F.col("truth")) & (F.col("pred_b") == F.col("truth")), 1).otherwise(0)
        )
        .cast("long")
        .alias("c"),
        F.sum(
            F.when((F.col("pred_a") == F.col("truth")) & (F.col("pred_b") == F.col("truth")), 1).otherwise(0)
        )
        .cast("long")
        .alias("both_right"),
        F.sum(
            F.when((F.col("pred_a") != F.col("truth")) & (F.col("pred_b") != F.col("truth")), 1).otherwise(0)
        )
        .cast("long")
        .alias("both_wrong"),
    )
    chi = (
        ((F.abs(F.col("b") - F.col("c")) - 1) * (F.abs(F.col("b") - F.col("c")) - 1))
        .cast("double")
        / (F.col("b") + F.col("c")).cast("double")
    )
    return cells.select(
        "b",
        "c",
        "both_right",
        "both_wrong",
        F.when(F.col("b") + F.col("c") > 0, F.round(chi, 6)).alias("chi2"),
        F.when(F.col("b") + F.col("c") > 0, (chi > F.lit(3.841)).cast("long"))
        .otherwise(F.lit(0))
        .alias("reject_005"),
    )


# --------------------------------------------- Theil / Atkinson


@q(
    "theil_atkinson_inequality",
    """WITH c AS (SELECT o_custkey,
                CAST(sum(CAST(floor(o_totalprice * 100 + CAST(0.5 AS DOUBLE))
                         AS BIGINT)) AS BIGINT) AS x
              FROM orders GROUP BY 1),
       tot AS (SELECT CAST(count(*) AS BIGINT) AS n,
                      CAST(sum(x) AS BIGINT) AS xt FROM c),
       t AS (SELECT
            CAST(floor((CAST(c.x AS DOUBLE) / CAST(tot.xt AS DOUBLE))
                       * ln(CAST(c.x AS DOUBLE) * CAST(tot.n AS DOUBLE)
                            / CAST(tot.xt AS DOUBLE))
                       * CAST(1000000000 AS DOUBLE)
                       + CAST(0.5 AS DOUBLE)) AS BIGINT) AS theil_e9,
            CAST(floor(ln(CAST(c.x AS DOUBLE)) * CAST(1000000000 AS DOUBLE)
                       + CAST(0.5 AS DOUBLE)) AS BIGINT) AS lnx_e9
           FROM c CROSS JOIN tot),
       agg AS (SELECT CAST(sum(theil_e9) AS BIGINT) AS st,
                      CAST(sum(lnx_e9) AS BIGINT) AS sl
               FROM t)
       SELECT tot.n AS n_customers, tot.xt AS total_spend_e2,
              round(CAST(agg.st AS DOUBLE) / CAST(1000000000 AS DOUBLE), 6)
                AS theil_t,
              round(CAST(1 AS DOUBLE)
                    - exp(CAST(agg.sl AS DOUBLE) / CAST(tot.n AS DOUBLE)
                          / CAST(1000000000 AS DOUBLE))
                      * CAST(tot.n AS DOUBLE) / CAST(tot.xt AS DOUBLE), 6)
                AS atkinson_1
       FROM agg CROSS JOIN tot""",
)
def _theil_atkinson_inequality(spark, sf_dir):
    """Theil T and Atkinson(epsilon=1) inequality indices of customer
    spend — the decomposable-entropy companions to
    revenue_concentration's Gini/HHI. Theil term (x/X)ln(x*n/X) and
    ln(x) are single doubles over exact cent totals, e9-quantized
    before the two global int64 sums; Atkinson(1) = 1 - geomean/mean
    composes from the ln-sum in one final formula. One map-combined
    per-customer aggregation is the only fact-scale work."""
    o = _t(spark, sf_dir, "orders")
    c = o.groupBy("o_custkey").agg(
        F.sum(money_units(F.col("o_totalprice"), 100)).cast("long").alias("x")
    )
    tot = c.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("xt"),
    )
    xd = F.col("x").cast("double")
    theil_term = (
        (xd / F.col("xt").cast("double"))
        * F.log(xd * F.col("n").cast("double") / F.col("xt").cast("double"))
        * F.lit(1.0e9)
        + F.lit(0.5)
    )
    t = c.crossJoin(F.broadcast(tot)).select(
        F.floor(theil_term).cast("long").alias("theil_e9"),
        F.floor(F.log(xd) * F.lit(1.0e9) + F.lit(0.5)).cast("long").alias("lnx_e9"),
    )
    agg = t.agg(
        F.sum("theil_e9").cast("long").alias("st"),
        F.sum("lnx_e9").cast("long").alias("sl"),
    )
    one = agg.crossJoin(F.broadcast(tot))
    e9 = F.lit(1.0e9)
    return one.select(
        F.col("n").alias("n_customers"),
        F.col("xt").alias("total_spend_e2"),
        F.round(F.col("st").cast("double") / e9, 6).alias("theil_t"),
        F.round(
            F.lit(1.0)
            - F.exp(
                F.col("sl").cast("double") / F.col("n").cast("double") / e9
            )
            * F.col("n").cast("double")
            / F.col("xt").cast("double"),
            6,
        ).alias("atkinson_1"),
    )


# --------------------------------------------------- 1-D EMD (Wasserstein)


@q(
    "emd_price_histogram",
    """WITH b AS (
         SELECT CAST(floor(l_extendedprice * 100 + CAST(0.5 AS DOUBLE))
                     AS BIGINT) AS cents,
                CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS is1
         FROM lineitem WHERE l_returnflag IN ('R', 'N')),
       mm AS (SELECT CAST(min(cents) AS BIGINT) AS mn,
                     CAST(max(cents) AS BIGINT) AS mx FROM b),
       pv AS (SELECT CAST((b.cents - mm.mn) * 1000 // (mm.mx - mm.mn + 1)
                          AS BIGINT) AS bucket,
                     CAST(sum(b.is1) AS BIGINT) AS c1,
                     CAST(sum(1 - b.is1) AS BIGINT) AS c2
              FROM b CROSS JOIN mm GROUP BY 1),
       n AS (SELECT CAST(sum(is1) AS BIGINT) AS n1,
                    CAST(sum(1 - is1) AS BIGINT) AS n2 FROM b),
       cum AS (SELECT bucket,
                      CAST(sum(c1) OVER (ORDER BY bucket ASC
                        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum1,
                      CAST(sum(c2) OVER (ORDER BY bucket ASC
                        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum2,
                      CAST(coalesce(lead(bucket) OVER (ORDER BY bucket ASC)
                                    - bucket, 0) AS BIGINT) AS gap
               FROM pv),
       s AS (SELECT CAST(sum(abs(cum1 * n.n2 - cum2 * n.n1) * gap) AS BIGINT)
                      AS emd_num
             FROM cum CROSS JOIN n)
       SELECT n.n1, n.n2, s.emd_num,
              round(CAST(s.emd_num AS DOUBLE)
                    / (CAST(n.n1 AS DOUBLE) * CAST(n.n2 AS DOUBLE)), 6)
                AS emd_buckets,
              round(CAST(s.emd_num AS DOUBLE)
                    * (CAST(mm.mx - mm.mn + 1 AS DOUBLE)
                       / CAST(1000 AS DOUBLE))
                    / (CAST(n.n1 AS DOUBLE) * CAST(n.n2 AS DOUBLE))
                    / CAST(100 AS DOUBLE), 4) AS emd_dollars
       FROM s CROSS JOIN n CROSS JOIN mm""",
)
def _emd_price_histogram(spark, sf_dir):
    """Exact 1-D Wasserstein-1 (earth-mover) distance between the
    returned ('R') and delivered ('N') extended-price distributions
    over a fixed 1000-bucket equal-width histogram — the
    distribution-shift magnitude check that complements ks_two_sample
    (KS reports the sup gap; EMD reports how much mass moved how
    far). W1 = sum_i |CDF1-CDF2| folds to an exact int64:
    sum(|cum1*n2 - cum2*n1| * bucket_gap) over the <=1000-row bucket
    level table (gaps cover absent buckets, where CDFs are constant);
    the only window runs over those bounded buckets. At 10^9 lines the
    fact-scale work is one map-combined groupBy(bucket); term bound
    n1*n2*1000 stays under int64 through factor 10."""
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag").isin("R", "N")
    )
    b = li.select(
        F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5))
        .cast("long")
        .alias("cents"),
        (F.col("l_returnflag") == "R").cast("long").alias("is1"),
    )
    mm = b.agg(
        F.min("cents").cast("long").alias("mn"),
        F.max("cents").cast("long").alias("mx"),
    )
    pv = (
        b.crossJoin(F.broadcast(mm))
        .select(
            F.expr("cast((cents - mn) * 1000 div (mx - mn + 1) as long)").alias(
                "bucket"
            ),
            "is1",
        )
        .groupBy("bucket")
        .agg(
            F.sum("is1").cast("long").alias("c1"),
            F.sum(F.lit(1) - F.col("is1")).cast("long").alias("c2"),
        )
        # <=1000 bucket rows; the totals, the CDF window and the final
        # readout all derive from it (int64 sums are associative, so
        # n1/n2 folded from buckets equal the direct aggregation)
        .localCheckpoint(eager=True)
    )
    n = pv.agg(
        F.sum("c1").cast("long").alias("n1"),
        F.sum("c2").cast("long").alias("n2"),
    )
    w = Window.orderBy(F.col("bucket").asc())
    cum = pv.select(
        "bucket",
        F.sum("c1").over(w.rowsBetween(Window.unboundedPreceding, 0))
        .cast("long")
        .alias("cum1"),
        F.sum("c2").over(w.rowsBetween(Window.unboundedPreceding, 0))
        .cast("long")
        .alias("cum2"),
        F.coalesce(F.lead("bucket").over(w) - F.col("bucket"), F.lit(0))
        .cast("long")
        .alias("gap"),
    )
    s = cum.crossJoin(F.broadcast(n)).agg(
        F.sum(
            F.abs(F.col("cum1") * F.col("n2") - F.col("cum2") * F.col("n1"))
            * F.col("gap")
        )
        .cast("long")
        .alias("emd_num")
    )
    out = s.crossJoin(F.broadcast(n)).crossJoin(F.broadcast(mm))
    n1d = F.col("n1").cast("double")
    n2d = F.col("n2").cast("double")
    return out.select(
        "n1",
        "n2",
        "emd_num",
        F.round(F.col("emd_num").cast("double") / (n1d * n2d), 6).alias(
            "emd_buckets"
        ),
        F.round(
            F.col("emd_num").cast("double")
            * ((F.col("mx") - F.col("mn") + F.lit(1)).cast("double") / F.lit(1000.0))
            / (n1d * n2d)
            / F.lit(100.0),
            4,
        ).alias("emd_dollars"),
    )


# --------------------------------------------- linear-kernel MMD drift


@q(
    "mmd_label_shift",
    """WITH e2 AS (
         SELECT CAST(label AS BIGINT) AS label, embedding
         FROM embeddings WHERE label IN (0, 1)),
       x AS (SELECT label,
                    generate_subscripts(embedding, 1) AS dim,
                    CAST(floor(unnest(embedding)::DOUBLE
                               * 1000000 + CAST(0.5 AS DOUBLE)) AS BIGINT)
                      AS qe6
             FROM e2),
       n AS (SELECT CAST(sum(CASE WHEN label = 0 THEN 1 ELSE 0 END) AS BIGINT)
                      AS n0,
                    CAST(sum(CASE WHEN label = 1 THEN 1 ELSE 0 END) AS BIGINT)
                      AS n1
             FROM e2),
       d AS (SELECT dim,
                    CAST(sum(CASE WHEN label = 0 THEN qe6 ELSE 0 END)
                         AS BIGINT) AS s0,
                    CAST(sum(CASE WHEN label = 1 THEN qe6 ELSE 0 END)
                         AS BIGINT) AS s1
             FROM x GROUP BY 1),
       t AS (SELECT CAST(floor(
                      (CAST(d.s0 * n.n1 - d.s1 * n.n0 AS DOUBLE)
                       / (CAST(n.n0 AS DOUBLE) * CAST(n.n1 AS DOUBLE))
                       / CAST(1000000 AS DOUBLE))
                      * (CAST(d.s0 * n.n1 - d.s1 * n.n0 AS DOUBLE)
                         / (CAST(n.n0 AS DOUBLE) * CAST(n.n1 AS DOUBLE))
                         / CAST(1000000 AS DOUBLE))
                      * CAST(1000000000 AS DOUBLE)
                      + CAST(0.5 AS DOUBLE)) AS BIGINT) AS term_e9
             FROM d CROSS JOIN n)
       SELECT n.n0, n.n1,
              CAST(s.mmd2_e9 AS BIGINT) AS mmd2_e9,
              round(CAST(s.mmd2_e9 AS DOUBLE) / CAST(1000000000 AS DOUBLE), 6)
                AS mmd2
       FROM (SELECT sum(term_e9) AS mmd2_e9 FROM t) s CROSS JOIN n""",
)
def _mmd_label_shift(spark, sf_dir):
    """Linear-kernel maximum-mean-discrepancy (Gretton et al. 2012)
    between the label-0 and label-1 embedding populations:
    MMD^2 = ||mean_0 - mean_1||^2 — THE two-sample drift test for
    embedding spaces (model-version shift, corpus-slice shift).
    Per-dimension element sums are exact int64 over e6-quantized
    elements (posexplode + one map-combined groupBy(dim) — scales as
    64x rows, all combinable); each dimension's squared mean-gap is
    one fixed IEEE tree over those ints, e9-quantized before the final
    64-term sum. No window, no collect; the level table is 64 rows."""
    emb = _t(spark, sf_dir, "embeddings").filter(F.col("label").isin(0, 1))
    e2 = emb.select(F.col("label").cast("long").alias("label"), "embedding")
    x = e2.select(
        "label",
        F.posexplode("embedding").alias("pos", "v"),
    ).select(
        "label",
        (F.col("pos") + F.lit(1)).cast("long").alias("dim"),
        F.floor(F.col("v").cast("double") * 1000000 + F.lit(0.5))
        .cast("long")
        .alias("qe6"),
    )
    n = e2.agg(
        F.sum((F.col("label") == 0).cast("long")).cast("long").alias("n0"),
        F.sum((F.col("label") == 1).cast("long")).cast("long").alias("n1"),
    )
    d = x.groupBy("dim").agg(
        F.sum(F.when(F.col("label") == 0, F.col("qe6")).otherwise(F.lit(0)))
        .cast("long")
        .alias("s0"),
        F.sum(F.when(F.col("label") == 1, F.col("qe6")).otherwise(F.lit(0)))
        .cast("long")
        .alias("s1"),
    )
    md = (
        (F.col("s0") * F.col("n1") - F.col("s1") * F.col("n0")).cast("double")
        / (F.col("n0").cast("double") * F.col("n1").cast("double"))
        / F.lit(1000000.0)
    )
    t = d.crossJoin(F.broadcast(n)).select(
        F.floor(md * md * F.lit(1000000000.0) + F.lit(0.5))
        .cast("long")
        .alias("term_e9")
    )
    s = t.agg(F.sum("term_e9").cast("long").alias("mmd2_e9"))
    return s.crossJoin(F.broadcast(n)).select(
        "n0",
        "n1",
        "mmd2_e9",
        F.round(F.col("mmd2_e9").cast("double") / F.lit(1000000000.0), 6).alias(
            "mmd2"
        ),
    )


# ------------------------------------------------ Cramér's V matrix


@q(
    "cramers_v_matrix",
    """WITH src AS (
         SELECT 'orders_status_priority' AS pair, o_orderstatus AS a,
                o_orderpriority AS b
         FROM orders
         UNION ALL
         SELECT 'lineitem_flag_status', l_returnflag, l_linestatus
         FROM lineitem
         UNION ALL
         SELECT 'cust_segment_priority', c.c_mktsegment, o.o_orderpriority
         FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey),
       ct AS (SELECT pair, a, b, CAST(count(*) AS BIGINT) AS nij
              FROM src GROUP BY 1, 2, 3),
       ra AS (SELECT pair, a, CAST(sum(nij) AS BIGINT) AS ri
              FROM ct GROUP BY 1, 2),
       cb AS (SELECT pair, b, CAST(sum(nij) AS BIGINT) AS cj
              FROM ct GROUP BY 1, 2),
       nn AS (SELECT pair, CAST(sum(nij) AS BIGINT) AS n,
                     CAST(count(DISTINCT a) AS BIGINT) AS r,
                     CAST(count(DISTINCT b) AS BIGINT) AS c
              FROM ct GROUP BY 1),
       grid AS (SELECT ra.pair, ra.a, cb.b, ra.ri, cb.cj,
                       CAST(coalesce(ct.nij, 0) AS BIGINT) AS nij
                FROM ra JOIN cb ON cb.pair = ra.pair
                LEFT JOIN ct ON ct.pair = ra.pair AND ct.a = ra.a
                            AND ct.b = cb.b),
       tm AS (SELECT g.pair,
                     CAST(floor(
                       CAST(g.nij * nn.n - g.ri * g.cj AS DOUBLE)
                       * CAST(g.nij * nn.n - g.ri * g.cj AS DOUBLE)
                       / (CAST(nn.n AS DOUBLE) * CAST(g.ri AS DOUBLE)
                          * CAST(g.cj AS DOUBLE))
                       * CAST(1000000 AS DOUBLE)
                       + CAST(0.5 AS DOUBLE)) AS BIGINT) AS term_e6
              FROM grid g
              JOIN nn ON nn.pair = g.pair),
       chi AS (SELECT pair, CAST(sum(term_e6) AS BIGINT) AS chi2_e6
               FROM tm GROUP BY 1)
       SELECT nn.pair, nn.n, nn.r, nn.c,
              round(CAST(chi.chi2_e6 AS DOUBLE) / CAST(1000000 AS DOUBLE), 4)
                AS chi2,
              round(sqrt(CAST(chi.chi2_e6 AS DOUBLE) / CAST(1000000 AS DOUBLE)
                         / (CAST(nn.n AS DOUBLE)
                            * CAST(CASE WHEN nn.r < nn.c THEN nn.r - 1
                                        ELSE nn.c - 1 END AS DOUBLE))), 6)
                AS cramers_v
       FROM nn JOIN chi USING (pair)""",
)
def _cramers_v_matrix(spark, sf_dir):
    """Cramér's-V association matrix across three categorical column
    pairs (order status x priority, line returnflag x linestatus,
    customer segment x order priority via the fact-dim join) — the
    dataset-profiling step that ranks which categorical relationships
    carry signal. Extends chi_square_independence from one pair to a
    profiled matrix with the V = sqrt(chi2/(n*min(r-1,c-1)))
    normalization. Contingency cells, margins, and n are exact int64;
    chi2 sums over the COMPLETE a x b margin grid (ra x cb with
    observed cells left-joined, absent cells at nij=0 contributing
    their full expected-count term ri*cj/n — the friedman/cochran
    complete-grid convention), each term (nij*n - ri*cj)^2/(n*ri*cj)
    one fixed IEEE tree over exact ints, e6-quantized before the
    per-pair sum (cells are domain-bounded: <=25 per pair).
    Fact-scale work is one groupBy per source plus one broadcastable
    dim join."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    c = _t(spark, sf_dir, "customer")
    src = (
        o.select(
            F.lit("orders_status_priority").alias("pair"),
            F.col("o_orderstatus").alias("a"),
            F.col("o_orderpriority").alias("b"),
        )
        .unionAll(
            li.select(
                F.lit("lineitem_flag_status").alias("pair"),
                F.col("l_returnflag").alias("a"),
                F.col("l_linestatus").alias("b"),
            )
        )
        .unionAll(
            o.join(c, o["o_custkey"] == c["c_custkey"]).select(
                F.lit("cust_segment_priority").alias("pair"),
                F.col("c_mktsegment").alias("a"),
                F.col("o_orderpriority").alias("b"),
            )
        )
    )
    # domain-bounded (<=25 cells/pair) and consumed by FOUR branches
    # (ra, cb, nn, grid) — pin or each re-runs the 3-source union scan
    # (20 fact scans at the round-8 plan audit; theils_u precedent)
    ct = (
        src.groupBy("pair", "a", "b")
        .agg(F.count(F.lit(1)).cast("long").alias("nij"))
        .localCheckpoint(eager=True)
    )
    ra = ct.groupBy("pair", "a").agg(F.sum("nij").cast("long").alias("ri"))
    cb = ct.groupBy("pair", "b").agg(F.sum("nij").cast("long").alias("cj"))
    nn = ct.groupBy("pair").agg(
        F.sum("nij").cast("long").alias("n"),
        F.countDistinct("a").cast("long").alias("r"),
        F.countDistinct("b").cast("long").alias("c"),
    )
    d = (F.col("nij") * F.col("n") - F.col("ri") * F.col("cj")).cast("double")
    # complete margin grid: absent cells enter at nij=0 so their
    # expected-count term ri*cj/n is counted (both margin relations
    # are domain-bounded level tables — the cross join is <=25 rows
    # per pair)
    grid = (
        ra.join(cb, "pair")
        .join(ct, ["pair", "a", "b"], "left")
        .withColumn("nij", F.coalesce(F.col("nij"), F.lit(0)).cast("long"))
    )
    tm = (
        grid.join(F.broadcast(nn.select("pair", "n")), "pair")
        .select(
            "pair",
            F.floor(
                d
                * d
                / (
                    F.col("n").cast("double")
                    * F.col("ri").cast("double")
                    * F.col("cj").cast("double")
                )
                * F.lit(1000000.0)
                + F.lit(0.5)
            )
            .cast("long")
            .alias("term_e6"),
        )
    )
    chi = tm.groupBy("pair").agg(F.sum("term_e6").cast("long").alias("chi2_e6"))
    out = nn.join(chi, "pair")
    chi2d = F.col("chi2_e6").cast("double") / F.lit(1000000.0)
    mindim = F.when(F.col("r") < F.col("c"), F.col("r") - 1).otherwise(
        F.col("c") - 1
    )
    return out.select(
        "pair",
        "n",
        "r",
        "c",
        F.round(chi2d, 4).alias("chi2"),
        F.round(
            F.sqrt(chi2d / (F.col("n").cast("double") * mindim.cast("double"))), 6
        ).alias("cramers_v"),
    )


# ------------------------------------------------- Kendall's tau-b


@q(
    "kendall_tau_by_flag",
    """WITH b AS (
         SELECT l_returnflag AS flag,
                CAST(l_quantity AS BIGINT) AS x,
                CAST(floor(l_discount * 100 + CAST(0.5 AS DOUBLE)) AS BIGINT)
                  AS y
         FROM lineitem),
       cells AS (SELECT flag, x, y, CAST(count(*) AS BIGINT) AS cnt
                 FROM b GROUP BY 1, 2, 3),
       cd AS (SELECT c1.flag,
                     CAST(sum(CASE WHEN c2.y > c1.y THEN c1.cnt * c2.cnt
                                   ELSE 0 END) AS BIGINT) AS conc,
                     CAST(sum(CASE WHEN c2.y < c1.y THEN c1.cnt * c2.cnt
                                   ELSE 0 END) AS BIGINT) AS disc
              FROM cells c1 JOIN cells c2
                ON c1.flag = c2.flag AND c1.x < c2.x
              GROUP BY 1),
       mx AS (SELECT flag, CAST(sum(tx * (tx - 1) // 2) AS BIGINT) AS tiex
              FROM (SELECT flag, x, CAST(sum(cnt) AS BIGINT) AS tx
                    FROM cells GROUP BY 1, 2) GROUP BY 1),
       my AS (SELECT flag, CAST(sum(ty * (ty - 1) // 2) AS BIGINT) AS tiey
              FROM (SELECT flag, y, CAST(sum(cnt) AS BIGINT) AS ty
                    FROM cells GROUP BY 1, 2) GROUP BY 1),
       nn AS (SELECT flag, CAST(sum(cnt) AS BIGINT) AS n FROM cells GROUP BY 1)
       SELECT nn.flag, nn.n, cd.conc, cd.disc,
              round(CAST(cd.conc - cd.disc AS DOUBLE)
                    / sqrt(CAST(nn.n * (nn.n - 1) // 2 - mx.tiex AS DOUBLE)
                           * CAST(nn.n * (nn.n - 1) // 2 - my.tiey AS DOUBLE)),
                    6) AS tau_b
       FROM nn
       JOIN cd ON cd.flag = nn.flag
       JOIN mx ON mx.flag = nn.flag
       JOIN my ON my.flag = nn.flag
       ORDER BY nn.flag""",
)
def _kendall_tau_by_flag(spark, sf_dir):
    """Kendall's tau-b rank correlation between quantity and discount
    per returnflag — the tie-robust monotone-association companion to
    spearman_by_group. Computed entirely on the JOINT VALUE LEVEL
    TABLE (<=50 quantities x 11 discounts per flag): concordant /
    discordant pair counts are sums of cnt1*cnt2 over the <=550^2
    bounded cell self-join, tie corrections come from the margins, and
    every count is exact int64 (an O(n^2) pair scan is never
    materialized — the classic count-algebra trick that makes Kendall
    feasible at 10^9 rows when the value domain is bounded). tau_b's
    denominator product is taken in double (it exceeds int64 at 10x)."""
    li = _t(spark, sf_dir, "lineitem")
    b = li.select(
        F.col("l_returnflag").alias("flag"),
        F.col("l_quantity").cast("long").alias("x"),
        F.floor(F.col("l_discount") * 100 + F.lit(0.5)).cast("long").alias("y"),
    )
    # value-level bounded (<=550 cells/flag) and consumed FIVE times
    # (both pair sides, both tie margins, the totals)
    cells = (
        b.groupBy("flag", "x", "y")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .localCheckpoint(eager=True)
    )
    c1 = cells.select(
        F.col("flag"), F.col("x").alias("x1"), F.col("y").alias("y1"),
        F.col("cnt").alias("cnt1"),
    )
    c2 = cells.select(
        F.col("flag"), F.col("x").alias("x2"), F.col("y").alias("y2"),
        F.col("cnt").alias("cnt2"),
    )
    cd = (
        c1.join(c2, "flag")
        .filter(F.col("x1") < F.col("x2"))
        .groupBy("flag")
        .agg(
            F.sum(
                F.when(F.col("y2") > F.col("y1"), F.col("cnt1") * F.col("cnt2"))
                .otherwise(F.lit(0))
            )
            .cast("long")
            .alias("conc"),
            F.sum(
                F.when(F.col("y2") < F.col("y1"), F.col("cnt1") * F.col("cnt2"))
                .otherwise(F.lit(0))
            )
            .cast("long")
            .alias("disc"),
        )
    )
    mx = (
        cells.groupBy("flag", "x")
        .agg(F.sum("cnt").cast("long").alias("tx"))
        .groupBy("flag")
        .agg(F.sum(F.expr("tx * (tx - 1) div 2")).cast("long").alias("tiex"))
    )
    my = (
        cells.groupBy("flag", "y")
        .agg(F.sum("cnt").cast("long").alias("ty"))
        .groupBy("flag")
        .agg(F.sum(F.expr("ty * (ty - 1) div 2")).cast("long").alias("tiey"))
    )
    nn = cells.groupBy("flag").agg(F.sum("cnt").cast("long").alias("n"))
    n0 = F.expr("n * (n - 1) div 2")
    out = nn.join(cd, "flag").join(mx, "flag").join(my, "flag")
    return out.select(
        "flag",
        "n",
        "conc",
        "disc",
        F.round(
            (F.col("conc") - F.col("disc")).cast("double")
            / F.sqrt(
                (n0 - F.col("tiex")).cast("double")
                * (n0 - F.col("tiey")).cast("double")
            ),
            6,
        ).alias("tau_b"),
    ).orderBy("flag")


# ---------------------------------------------- GPD tail fit (POT)


@q(
    "gpd_tail_fit",
    """WITH b AS (
         SELECT CAST(floor(o_totalprice * 100 + CAST(0.5 AS DOUBLE))
                     AS BIGINT) // 100 AS v
         FROM orders),
       lvl AS (SELECT v, CAST(count(*) AS BIGINT) AS cnt FROM b GROUP BY 1),
       n AS (SELECT CAST(sum(cnt) AS BIGINT) AS n FROM lvl),
       cw AS (SELECT v, CAST(sum(cnt) OVER (ORDER BY v ASC
                       ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
              FROM lvl),
       u AS (SELECT CAST(min(v) AS BIGINT) AS u
             FROM cw CROSS JOIN n WHERE cw.cum * 20 >= n.n * 19),
       exc AS (SELECT CAST(sum(cnt) AS BIGINT) AS n_e,
                      CAST(sum(cnt * (lvl.v - u.u)) AS BIGINT) AS s1,
                      CAST(sum(cnt * (lvl.v - u.u) * (lvl.v - u.u)) AS BIGINT)
                        AS s2
               FROM lvl CROSS JOIN u WHERE lvl.v > u.u)
       SELECT u.u, exc.n_e,
              round(CAST(exc.s1 AS DOUBLE) / CAST(exc.n_e AS DOUBLE), 4)
                AS mean_excess,
              round(CAST(0.5 AS DOUBLE)
                    * (CAST(1 AS DOUBLE)
                       - (CAST(exc.s1 AS DOUBLE) / CAST(exc.n_e AS DOUBLE))
                         * (CAST(exc.s1 AS DOUBLE) / CAST(exc.n_e AS DOUBLE))
                         / ((CAST(exc.s2 AS DOUBLE)
                             - CAST(exc.s1 AS DOUBLE) * CAST(exc.s1 AS DOUBLE)
                               / CAST(exc.n_e AS DOUBLE))
                            / CAST(exc.n_e - 1 AS DOUBLE))), 6) AS xi,
              round(CAST(0.5 AS DOUBLE)
                    * (CAST(exc.s1 AS DOUBLE) / CAST(exc.n_e AS DOUBLE))
                    * ((CAST(exc.s1 AS DOUBLE) / CAST(exc.n_e AS DOUBLE))
                       * (CAST(exc.s1 AS DOUBLE) / CAST(exc.n_e AS DOUBLE))
                       / ((CAST(exc.s2 AS DOUBLE)
                           - CAST(exc.s1 AS DOUBLE) * CAST(exc.s1 AS DOUBLE)
                             / CAST(exc.n_e AS DOUBLE))
                          / CAST(exc.n_e - 1 AS DOUBLE))
                       + CAST(1 AS DOUBLE)), 4) AS beta
       FROM u CROSS JOIN exc""",
)
def _gpd_tail_fit(spark, sf_dir):
    """Peaks-over-threshold generalized-Pareto tail fit on order
    totals (Pickands 1975; the standard heavy-tail model for spend /
    latency extremes): threshold u = exact p95 selected on the
    distinct-DOLLAR level table by cumulative weight (the
    weighted_median pattern — no fact-scale sort), then
    method-of-moments xi and beta from three exact int64 excess
    moments (n_e, sum y, sum y^2 in dollars so y^2 sums stay inside
    int64 through factor 100). The shape/scale formulas are one fixed
    IEEE tree over those ints on both engines. At 10^9 orders the
    only work is two map-combined aggregations over the level table."""
    o = _t(spark, sf_dir, "orders")
    b = o.select(
        F.expr(
            "cast(floor(o_totalprice * 100 + 0.5d) as long) div 100"
        ).alias("v")
    )
    # dollar-level bounded; the total, the threshold window and the
    # excess moments all consume it
    lvl = (
        b.groupBy("v")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .localCheckpoint(eager=True)
    )
    n = lvl.agg(F.sum("cnt").cast("long").alias("n"))
    wv = Window.orderBy(F.col("v").asc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    cw = lvl.select("v", F.sum("cnt").over(wv).cast("long").alias("cum"))
    u = (
        cw.crossJoin(F.broadcast(n))
        .filter(F.col("cum") * 20 >= F.col("n") * 19)
        .agg(F.min("v").cast("long").alias("u"))
    )
    exc = (
        lvl.crossJoin(F.broadcast(u))
        .filter(F.col("v") > F.col("u"))
        .agg(
            F.sum("cnt").cast("long").alias("n_e"),
            F.sum(F.col("cnt") * (F.col("v") - F.col("u")))
            .cast("long")
            .alias("s1"),
            F.sum(
                F.col("cnt") * (F.col("v") - F.col("u")) * (F.col("v") - F.col("u"))
            )
            .cast("long")
            .alias("s2"),
        )
    )
    out = u.crossJoin(F.broadcast(exc))
    m = F.col("s1").cast("double") / F.col("n_e").cast("double")
    s2v = (
        F.col("s2").cast("double")
        - F.col("s1").cast("double") * F.col("s1").cast("double")
        / F.col("n_e").cast("double")
    ) / (F.col("n_e") - F.lit(1)).cast("double")
    return out.select(
        "u",
        "n_e",
        F.round(m, 4).alias("mean_excess"),
        F.round(F.lit(0.5) * (F.lit(1.0) - m * m / s2v), 6).alias("xi"),
        F.round(F.lit(0.5) * m * (m * m / s2v + F.lit(1.0)), 4).alias("beta"),
    )


# ----------------------------------------------- Friedman test


@q(
    "friedman_event_types",
    """WITH u AS (SELECT DISTINCT user_id FROM events),
       ty AS (SELECT DISTINCT event_type FROM events),
       cnts AS (SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS c
                FROM events GROUP BY 1, 2),
       grid AS (SELECT u.user_id, ty.event_type,
                       CAST(coalesce(cnts.c, 0) AS BIGINT) AS c
                FROM u CROSS JOIN ty
                LEFT JOIN cnts ON cnts.user_id = u.user_id
                              AND cnts.event_type = ty.event_type),
       lvl AS (SELECT user_id, c, CAST(count(*) AS BIGINT) AS tied
               FROM grid GROUP BY 1, 2),
       rk AS (SELECT user_id, c,
                     CAST(2 * (sum(tied) OVER (PARTITION BY user_id
                            ORDER BY c ASC ROWS UNBOUNDED PRECEDING) - tied)
                          + tied + 1 AS BIGINT) AS r2
              FROM lvl),
       g2 AS (SELECT grid.user_id, grid.event_type, rk.r2
              FROM grid JOIN rk ON rk.user_id = grid.user_id
                                AND rk.c = grid.c),
       dims AS (SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n,
                       CAST(count(DISTINCT event_type) AS BIGINT) AS k
                FROM grid),
       rj AS (SELECT event_type, CAST(sum(r2) AS BIGINT) AS rank_sum_x2
              FROM g2 GROUP BY 1),
       den AS (SELECT CAST(sum(r2 * r2) AS BIGINT) AS ss2 FROM g2),
       num AS (SELECT CAST(sum((rj.rank_sum_x2 - dims.n * (dims.k + 1))
                               * (rj.rank_sum_x2 - dims.n * (dims.k + 1)))
                           AS BIGINT) AS num
               FROM rj CROSS JOIN dims)
       SELECT rj.event_type, rj.rank_sum_x2, dims.n AS n_users, dims.k,
              CAST(dims.k - 1 AS BIGINT) AS df,
              round(CAST(dims.k - 1 AS DOUBLE) * CAST(num.num AS DOUBLE)
                    / CAST(den.ss2 - dims.n * dims.k * (dims.k + 1)
                                     * (dims.k + 1) AS DOUBLE), 6)
                AS chi2_friedman
       FROM rj CROSS JOIN dims CROSS JOIN den CROSS JOIN num
       ORDER BY rj.event_type""",
)
def _friedman_event_types(spark, sf_dir):
    """Friedman rank test (Friedman 1937, tie-corrected midrank form)
    for whether event-type activity levels differ systematically
    within users: blocks = users, treatments = event types, values =
    per-(user,type) counts on the COMPLETE user x type grid (absent
    combinations are genuine zeros). Midranks are kept as exact
    doubled integers r2 = 2*rank (one window per user over <=k level
    rows — fully partitioned, never global), so rank sums, the
    squared deviations, and the tie-corrected denominator
    sum(r^2) - nk(k+1)^2/4 are all exact int64 algebra; chi2_F is the
    single final double. Per-type rank sums ship alongside the
    statistic so the readout shows WHICH types drive the rejection.

    Plan shape (round-8): the complete user x type grid is never
    materialized as rows — per-user counts fold to a <=k-element
    struct array (two-level aggregate), absent types zero-fill
    in-row against the broadcast type list, and the tie-corrected
    midranks are computed per user with array HOFs (k^2 work on a
    handful of types), so the whole test is 2 events scans + 3
    combinable shuffles. The old grid/window/join form re-expanded
    the grid subtree once per consumer — 22 events scans at the
    round-8 plan audit."""
    ev = _t(spark, sf_dir, "events")
    ty_arr = (
        ev.select("event_type")
        .distinct()
        .agg(F.array_sort(F.collect_list("event_type")).alias("__tys"))
    )
    cnts = ev.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    per_u = cnts.groupBy("user_id").agg(
        F.collect_list(F.struct("event_type", "c")).alias("tc")
    )
    zero = F.lit(0).cast("long")
    filled = per_u.crossJoin(F.broadcast(ty_arr)).select(
        "user_id",
        F.concat(
            F.col("tc"),
            F.transform(
                F.array_except(
                    F.col("__tys"),
                    F.transform(F.col("tc"), lambda s: s["event_type"]),
                ),
                lambda t: F.struct(
                    t.alias("event_type"), zero.alias("c")
                ),
            ),
        ).alias("tc"),
    )
    # midrank (doubled): r2 = 2*#{c' < c} + #{c' == c} + 1 — the same
    # exact int64 the window-over-levels form produced
    cs = F.transform(F.col("tc"), lambda s: s["c"])
    g2rows = F.transform(
        F.col("tc"),
        lambda s: F.struct(
            s["event_type"].alias("event_type"),
            (
                F.lit(2)
                * F.size(F.filter(cs, lambda x: x < s["c"]))
                + F.size(F.filter(cs, lambda x: x == s["c"]))
                + F.lit(1)
            )
            .cast("long")
            .alias("r2"),
        ),
    )
    ex = filled.select(F.explode(g2rows).alias("g")).select(
        F.col("g.event_type").alias("event_type"),
        F.col("g.r2").alias("r2"),
    )
    rjd = (
        ex.groupBy("event_type")
        .agg(
            F.sum("r2").cast("long").alias("rank_sum_x2"),
            F.count(F.lit(1)).cast("long").alias("__n_t"),
            F.sum(F.col("r2") * F.col("r2")).cast("long").alias("__ss2_t"),
        )
        # k rows (one per event type) feeding three consumers — pin or
        # each re-runs the whole fact aggregation
        .localCheckpoint(eager=True)
    )
    # the grid is complete, so every type sees each user exactly once:
    # n = per-type row count, k = number of type rows, ss2 = Σ ss2_t
    dims = rjd.agg(
        F.max("__n_t").cast("long").alias("n"),
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("__ss2_t").cast("long").alias("ss2"),
    )
    num = (
        rjd.crossJoin(F.broadcast(dims))
        .agg(
            F.sum(
                (F.col("rank_sum_x2") - F.col("n") * (F.col("k") + 1))
                * (F.col("rank_sum_x2") - F.col("n") * (F.col("k") + 1))
            )
            .cast("long")
            .alias("num")
        )
    )
    out = (
        rjd.select("event_type", "rank_sum_x2")
        .crossJoin(F.broadcast(dims))
        .crossJoin(F.broadcast(num))
    )
    return out.select(
        "event_type",
        "rank_sum_x2",
        F.col("n").alias("n_users"),
        "k",
        (F.col("k") - 1).cast("long").alias("df"),
        F.round(
            (F.col("k") - 1).cast("double")
            * F.col("num").cast("double")
            / (
                F.col("ss2")
                - F.col("n") * F.col("k") * (F.col("k") + 1) * (F.col("k") + 1)
            ).cast("double"),
            6,
        ).alias("chi2_friedman"),
    ).orderBy("event_type")


# ---------------------------------- Benjamini-Hochberg FDR screening


@q(
    "bh_fdr_return_rates",
    """WITH j AS (
         SELECT c.c_nationkey AS nationkey,
                CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END AS is_r
         FROM lineitem l
         JOIN orders o ON l.l_orderkey = o.o_orderkey
         JOIN customer c ON o.o_custkey = c.c_custkey),
       per AS (SELECT nationkey, CAST(count(*) AS BIGINT) AS n_i,
                      CAST(sum(is_r) AS BIGINT) AS r_i
               FROM j GROUP BY 1),
       tot AS (SELECT CAST(sum(n_i) AS BIGINT) AS n,
                      CAST(sum(r_i) AS BIGINT) AS r,
                      CAST(count(*) AS BIGINT) AS m
               FROM per),
       z AS (SELECT per.nationkey, per.n_i, per.r_i,
                    abs((CAST(per.r_i AS DOUBLE) / CAST(per.n_i AS DOUBLE)
                         - CAST(tot.r AS DOUBLE) / CAST(tot.n AS DOUBLE))
                        / sqrt((CAST(tot.r AS DOUBLE) / CAST(tot.n AS DOUBLE))
                               * (CAST(1 AS DOUBLE)
                                  - CAST(tot.r AS DOUBLE)
                                    / CAST(tot.n AS DOUBLE))
                               * (CAST(1 AS DOUBLE) / CAST(per.n_i AS DOUBLE)
                                  + CAST(1 AS DOUBLE)
                                    / CAST(tot.n AS DOUBLE)))) AS az,
                    tot.m
              FROM per CROSS JOIN tot),
       tx AS (SELECT nationkey, n_i, r_i, m, az,
                     az / sqrt(CAST(2 AS DOUBLE)) AS x,
                     CAST(1 AS DOUBLE)
                       / (CAST(1 AS DOUBLE)
                          + CAST(0.3275911 AS DOUBLE)
                            * (az / sqrt(CAST(2 AS DOUBLE)))) AS tt
              FROM z),
       p AS (SELECT nationkey, n_i, r_i, m,
                    round(az, 6) AS z_abs,
                    CAST(floor(
                      (((((CAST(1.061405429 AS DOUBLE) * tt
                           - CAST(1.453152027 AS DOUBLE)) * tt
                          + CAST(1.421413741 AS DOUBLE)) * tt
                         - CAST(0.284496736 AS DOUBLE)) * tt
                        + CAST(0.254829592 AS DOUBLE)) * tt
                       * exp(-x * x))
                      * CAST(1000000000 AS DOUBLE)
                      + CAST(0.5 AS DOUBLE)) AS BIGINT) AS p_e9
              FROM tx),
       rk AS (SELECT *, CAST(row_number() OVER (
                ORDER BY p_e9 ASC, nationkey ASC) AS BIGINT) AS i
              FROM p),
       km AS (SELECT *, CAST(i * 50000000 // m AS BIGINT) AS thr_e9,
                     max(CASE WHEN p_e9 <= i * 50000000 // m THEN i
                              ELSE NULL END) OVER () AS kmax
              FROM rk)
       SELECT CAST(nationkey AS BIGINT) AS nationkey, n_i, r_i, z_abs,
              p_e9, thr_e9,
              CAST(CASE WHEN i <= coalesce(kmax, 0) THEN 1 ELSE 0 END
                   AS BIGINT) AS significant
       FROM km ORDER BY nationkey""",
)
def _bh_fdr_return_rates(spark, sf_dir):
    """Benjamini-Hochberg FDR screening (BH 1995) across the 25
    per-nation return-rate z-tests against the pooled rate — the
    multiple-testing correction any per-segment metric dashboard needs
    before flagging segments. Two-sided p-values come from the
    Abramowitz-Stegun 7.1.26 erf polynomial (the identical closed
    expression evaluated in both engines), e9-quantized BEFORE the
    rank step so ordering and the step-up comparison run on exact
    integers; the BH threshold i*alpha/m is exact integer division,
    and the step-up cutoff is one max window over the 25-row nation
    level table. Fact-scale work is one map-combined groupBy behind
    two broadcastable dim joins."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    j = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .select(
            F.col("c_nationkey").alias("nationkey"),
            (F.col("l_returnflag") == "R").cast("long").alias("is_r"),
        )
    )
    per = (
        j.groupBy("nationkey")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_i"),
            F.sum("is_r").cast("long").alias("r_i"),
        )
        # 25 nation rows; the pooled totals and the z/p projection both
        # consume it — unpinned, the 3-table join ran per consumer
        .localCheckpoint(eager=True)
    )
    tot = per.agg(
        F.sum("n_i").cast("long").alias("n"),
        F.sum("r_i").cast("long").alias("r"),
        F.count(F.lit(1)).cast("long").alias("m"),
    )
    zrel = per.crossJoin(F.broadcast(tot))
    pr = F.col("r").cast("double") / F.col("n").cast("double")
    az = F.abs(
        (F.col("r_i").cast("double") / F.col("n_i").cast("double") - pr)
        / F.sqrt(
            pr
            * (F.lit(1.0) - pr)
            * (
                F.lit(1.0) / F.col("n_i").cast("double")
                + F.lit(1.0) / F.col("n").cast("double")
            )
        )
    )
    x = az / F.sqrt(F.lit(2.0))
    t = F.lit(1.0) / (F.lit(1.0) + F.lit(0.3275911) * x)
    # A&S 7.1.26: 1 - erf(x) IS the polynomial tail — computing it
    # directly (instead of 1-(1-tail)) keeps one IEEE tree on both
    # engines with no catastrophic 1-1+y cancellation at the e9 edge
    p_two = (
        (
            (
                (
                    (F.lit(1.061405429) * t - F.lit(1.453152027)) * t
                    + F.lit(1.421413741)
                )
                * t
                - F.lit(0.284496736)
            )
            * t
            + F.lit(0.254829592)
        )
        * t
        * F.exp(-x * x)
    )
    p = zrel.select(
        "nationkey",
        "n_i",
        "r_i",
        "m",
        F.round(az, 6).alias("z_abs"),
        F.floor(p_two * F.lit(1000000000.0) + F.lit(0.5))
        .cast("long")
        .alias("p_e9"),
    )
    wr = Window.orderBy(F.col("p_e9").asc(), F.col("nationkey").asc())
    rk = p.withColumn("i", F.row_number().over(wr).cast("long"))
    thr = F.expr("cast(i * 50000000 div m as long)")
    km = rk.withColumn("thr_e9", thr).withColumn(
        "kmax",
        F.max(F.when(F.col("p_e9") <= F.col("thr_e9"), F.col("i"))).over(
            Window.partitionBy()
        ),
    )
    return km.select(
        F.col("nationkey").cast("long").alias("nationkey"),
        "n_i",
        "r_i",
        "z_abs",
        "p_e9",
        "thr_e9",
        (F.col("i") <= F.coalesce(F.col("kmax"), F.lit(0)))
        .cast("long")
        .alias("significant"),
    ).orderBy("nationkey")


# ----------------------------------------- Theil's U (uncertainty coef)


@q(
    "theils_u_matrix",
    """WITH src AS (
         SELECT 'orders_status_priority' AS pair, o_orderstatus AS a,
                o_orderpriority AS b
         FROM orders
         UNION ALL
         SELECT 'lineitem_flag_status', l_returnflag, l_linestatus
         FROM lineitem
         UNION ALL
         SELECT 'cust_segment_priority', c.c_mktsegment, o.o_orderpriority
         FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey),
       ct AS (SELECT pair, a, b, CAST(count(*) AS BIGINT) AS nij
              FROM src GROUP BY 1, 2, 3),
       ra AS (SELECT pair, a, CAST(sum(nij) AS BIGINT) AS ri
              FROM ct GROUP BY 1, 2),
       cb AS (SELECT pair, b, CAST(sum(nij) AS BIGINT) AS cj
              FROM ct GROUP BY 1, 2),
       nn AS (SELECT pair, CAST(sum(nij) AS BIGINT) AS n FROM ct GROUP BY 1),
       ha AS (SELECT ra.pair,
                     CAST(sum(CAST(floor(
                       -(CAST(ra.ri AS DOUBLE) / CAST(nn.n AS DOUBLE))
                       * ln(CAST(ra.ri AS DOUBLE) / CAST(nn.n AS DOUBLE))
                       * CAST(1000000000 AS DOUBLE)
                       + CAST(0.5 AS DOUBLE)) AS BIGINT)) AS BIGINT) AS ha_e9
              FROM ra JOIN nn USING (pair) GROUP BY 1),
       hb AS (SELECT cb.pair,
                     CAST(sum(CAST(floor(
                       -(CAST(cb.cj AS DOUBLE) / CAST(nn.n AS DOUBLE))
                       * ln(CAST(cb.cj AS DOUBLE) / CAST(nn.n AS DOUBLE))
                       * CAST(1000000000 AS DOUBLE)
                       + CAST(0.5 AS DOUBLE)) AS BIGINT)) AS BIGINT) AS hb_e9
              FROM cb JOIN nn USING (pair) GROUP BY 1),
       hab AS (SELECT ct.pair,
                      CAST(sum(CAST(floor(
                        -(CAST(ct.nij AS DOUBLE) / CAST(nn.n AS DOUBLE))
                        * ln(CAST(ct.nij AS DOUBLE) / CAST(cb.cj AS DOUBLE))
                        * CAST(1000000000 AS DOUBLE)
                        + CAST(0.5 AS DOUBLE)) AS BIGINT)) AS BIGINT) AS hab_e9
               FROM ct
               JOIN cb ON cb.pair = ct.pair AND cb.b = ct.b
               JOIN nn ON nn.pair = ct.pair
               GROUP BY 1),
       hba AS (SELECT ct.pair,
                      CAST(sum(CAST(floor(
                        -(CAST(ct.nij AS DOUBLE) / CAST(nn.n AS DOUBLE))
                        * ln(CAST(ct.nij AS DOUBLE) / CAST(ra.ri AS DOUBLE))
                        * CAST(1000000000 AS DOUBLE)
                        + CAST(0.5 AS DOUBLE)) AS BIGINT)) AS BIGINT) AS hba_e9
               FROM ct
               JOIN ra ON ra.pair = ct.pair AND ra.a = ct.a
               JOIN nn ON nn.pair = ct.pair
               GROUP BY 1)
       SELECT nn.pair, nn.n, ha.ha_e9, hb.hb_e9,
              round(CAST(ha.ha_e9 - hab.hab_e9 AS DOUBLE)
                    / CAST(ha.ha_e9 AS DOUBLE), 6) AS u_a_given_b,
              round(CAST(hb.hb_e9 - hba.hba_e9 AS DOUBLE)
                    / CAST(hb.hb_e9 AS DOUBLE), 6) AS u_b_given_a
       FROM nn
       JOIN ha USING (pair) JOIN hb USING (pair)
       JOIN hab USING (pair) JOIN hba USING (pair)
       ORDER BY nn.pair""",
)
def _theils_u_matrix(spark, sf_dir):
    """Theil's uncertainty coefficient U (Theil 1970) for the same
    three categorical pairs cramers_v_matrix profiles — the
    ASYMMETRIC association measure ("how much of A does knowing B
    explain") that V cannot express: U(A|B) = (H(A)-H(A|B))/H(A).
    Every entropy is a sum of e9-quantized -p*ln(p) terms over exact
    int64 contingency/margin counts (the l_diversity_audit idiom), so
    both U directions are ratios of exact integers with one final
    double division. Cells are domain-bounded; fact-scale work is the
    same groupBys V already pays."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    cu = _t(spark, sf_dir, "customer")
    src = (
        o.select(
            F.lit("orders_status_priority").alias("pair"),
            F.col("o_orderstatus").alias("a"),
            F.col("o_orderpriority").alias("b"),
        )
        .unionAll(
            li.select(
                F.lit("lineitem_flag_status").alias("pair"),
                F.col("l_returnflag").alias("a"),
                F.col("l_linestatus").alias("b"),
            )
        )
        .unionAll(
            o.join(cu, o["o_custkey"] == cu["c_custkey"]).select(
                F.lit("cust_segment_priority").alias("pair"),
                F.col("c_mktsegment").alias("a"),
                F.col("o_orderpriority").alias("b"),
            )
        )
    )
    # the contingency table is domain-bounded (tens of cells) but its
    # subtree is the fact-scale 3-way union — materialize it once; the
    # before-plan re-expanded it for each of the five downstream
    # references (88 parquet scans, 84 Exchanges)
    ct = (
        src.groupBy("pair", "a", "b")
        .agg(F.count(F.lit(1)).cast("long").alias("nij"))
        .localCheckpoint(eager=True)
    )
    ra = ct.groupBy("pair", "a").agg(F.sum("nij").cast("long").alias("ri"))
    cb = ct.groupBy("pair", "b").agg(F.sum("nij").cast("long").alias("cj"))
    nn = ct.groupBy("pair").agg(F.sum("nij").cast("long").alias("n"))

    def _ent_term(p_num, p_den, l_num, l_den):
        return (
            F.floor(
                -(p_num.cast("double") / p_den.cast("double"))
                * F.log(l_num.cast("double") / l_den.cast("double"))
                * F.lit(1000000000.0)
                + F.lit(0.5)
            )
        ).cast("long")

    ha = (
        ra.join(F.broadcast(nn), "pair")
        .select("pair", _ent_term(F.col("ri"), F.col("n"), F.col("ri"), F.col("n")).alias("t"))
        .groupBy("pair")
        .agg(F.sum("t").cast("long").alias("ha_e9"))
    )
    hb = (
        cb.join(F.broadcast(nn), "pair")
        .select("pair", _ent_term(F.col("cj"), F.col("n"), F.col("cj"), F.col("n")).alias("t"))
        .groupBy("pair")
        .agg(F.sum("t").cast("long").alias("hb_e9"))
    )
    hab = (
        ct.join(cb, ["pair", "b"])
        .join(F.broadcast(nn), "pair")
        .select("pair", _ent_term(F.col("nij"), F.col("n"), F.col("nij"), F.col("cj")).alias("t"))
        .groupBy("pair")
        .agg(F.sum("t").cast("long").alias("hab_e9"))
    )
    hba = (
        ct.join(ra, ["pair", "a"])
        .join(F.broadcast(nn), "pair")
        .select("pair", _ent_term(F.col("nij"), F.col("n"), F.col("nij"), F.col("ri")).alias("t"))
        .groupBy("pair")
        .agg(F.sum("t").cast("long").alias("hba_e9"))
    )
    out = (
        nn.join(ha, "pair").join(hb, "pair").join(hab, "pair").join(hba, "pair")
    )
    return out.select(
        "pair",
        "n",
        "ha_e9",
        "hb_e9",
        F.round(
            (F.col("ha_e9") - F.col("hab_e9")).cast("double")
            / F.col("ha_e9").cast("double"),
            6,
        ).alias("u_a_given_b"),
        F.round(
            (F.col("hb_e9") - F.col("hba_e9")).cast("double")
            / F.col("hb_e9").cast("double"),
            6,
        ).alias("u_b_given_a"),
    ).orderBy("pair")


# --------------------------------------------- Wilcoxon signed-rank


@q(
    "wilcoxon_signed_rank",
    """WITH u AS (
         SELECT user_id,
                CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                     - sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                     AS BIGINT) AS d
         FROM events GROUP BY 1),
       nz AS (SELECT abs(d) AS a, CAST(d > 0 AS INT) AS pos
              FROM u WHERE d <> 0),
       lvl AS (SELECT a, CAST(count(*) AS BIGINT) AS cnt,
                      CAST(sum(pos) AS BIGINT) AS pcnt
               FROM nz GROUP BY 1),
       rk AS (SELECT a, cnt, pcnt,
                     CAST(2 * (sum(cnt) OVER (ORDER BY a ASC
                            ROWS UNBOUNDED PRECEDING) - cnt)
                          + cnt + 1 AS BIGINT) AS r2
              FROM lvl),
       s AS (SELECT CAST(sum(cnt) AS BIGINT) AS n,
                    CAST(sum(pcnt * r2) AS BIGINT) AS w2_plus,
                    CAST(sum(cnt * cnt * cnt - cnt) AS BIGINT) AS ties
             FROM rk)
       SELECT n, w2_plus,
              CAST(n * (n + 1) // 2 AS BIGINT) AS e_w2,
              CAST(2 * n * (n + 1) * (2 * n + 1) - ties AS BIGINT) AS var12,
              round(CAST(w2_plus - n * (n + 1) // 2 AS DOUBLE)
                    / sqrt(CAST(2 * n * (n + 1) * (2 * n + 1) - ties AS DOUBLE)
                           / CAST(12 AS DOUBLE)), 6) AS z,
              CAST(CASE WHEN abs(CAST(w2_plus - n * (n + 1) // 2 AS DOUBLE)
                    / sqrt(CAST(2 * n * (n + 1) * (2 * n + 1) - ties AS DOUBLE)
                           / CAST(12 AS DOUBLE))) > CAST(1.96 AS DOUBLE)
                   THEN 1 ELSE 0 END AS BIGINT) AS reject_005
       FROM s""",
)
def _wilcoxon_signed_rank(spark, sf_dir):
    """Wilcoxon signed-rank test (Wilcoxon 1945) on the paired
    per-user (purchases - clicks) count difference — the paired-sample
    companion to Mann-Whitney: are purchase and click volumes
    systematically different WITHIN users? Zero differences drop (the
    standard treatment); midranks of |d| are doubled integers over the
    |d| value level table (one bounded window), so W+, its null mean
    n(n+1)/2, and the tie-corrected variance
    12*Var(2W) = 2n(n+1)(2n+1) - sum(t^3-t) are ALL exact int64; z is
    the single final double. Fact-scale work is one user groupBy."""
    ev = _t(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        (
            F.sum((F.col("event_type") == "purchase").cast("long"))
            - F.sum((F.col("event_type") == "click").cast("long"))
        )
        .cast("long")
        .alias("d")
    )
    nz = u.filter(F.col("d") != 0).select(
        F.abs(F.col("d")).alias("a"), (F.col("d") > 0).cast("int").alias("pos")
    )
    lvl = nz.groupBy("a").agg(
        F.count(F.lit(1)).cast("long").alias("cnt"),
        F.sum("pos").cast("long").alias("pcnt"),
    )
    wa = Window.orderBy(F.col("a").asc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    rk = lvl.select(
        "a",
        "cnt",
        "pcnt",
        (
            F.lit(2) * (F.sum("cnt").over(wa) - F.col("cnt"))
            + F.col("cnt")
            + F.lit(1)
        )
        .cast("long")
        .alias("r2"),
    )
    s = rk.agg(
        F.sum("cnt").cast("long").alias("n"),
        F.sum(F.col("pcnt") * F.col("r2")).cast("long").alias("w2_plus"),
        F.sum(F.col("cnt") * F.col("cnt") * F.col("cnt") - F.col("cnt"))
        .cast("long")
        .alias("ties"),
    )
    e_w2 = F.expr("cast(n * (n + 1) div 2 as long)")
    var12 = (
        F.lit(2) * F.col("n") * (F.col("n") + 1) * (2 * F.col("n") + 1)
        - F.col("ties")
    ).cast("long")
    z = (F.col("w2_plus") - e_w2).cast("double") / F.sqrt(
        var12.cast("double") / F.lit(12.0)
    )
    return s.select(
        "n",
        "w2_plus",
        e_w2.alias("e_w2"),
        var12.alias("var12"),
        F.round(z, 6).alias("z"),
        (F.abs(z) > F.lit(1.96)).cast("long").alias("reject_005"),
    )


# ------------------------------------------------- Cochran's Q


@q(
    "cochran_q_event_types",
    """WITH u AS (SELECT DISTINCT user_id FROM events),
       ty AS (SELECT DISTINCT event_type FROM events),
       cnts AS (SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS n
                FROM events GROUP BY 1, 2),
       gridn AS (SELECT u.user_id, ty.event_type,
                        CAST(coalesce(cnts.n, 0) AS BIGINT) AS n
                 FROM u CROSS JOIN ty
                 LEFT JOIN cnts ON cnts.user_id = u.user_id
                               AND cnts.event_type = ty.event_type),
       lvl AS (SELECT n, CAST(count(*) AS BIGINT) AS cnt
               FROM gridn GROUP BY 1),
       ncells AS (SELECT CAST(sum(cnt) AS BIGINT) AS nc FROM lvl),
       med AS (SELECT CAST(min(n) AS BIGINT) AS med
               FROM (SELECT n, CAST(sum(cnt) OVER (ORDER BY n ASC
                       ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
                     FROM lvl) cw CROSS JOIN ncells
               WHERE cw.cum * 2 >= ncells.nc),
       grid AS (SELECT g.user_id, g.event_type,
                       CAST(g.n > med.med AS BIGINT) AS x
                FROM gridn g CROSS JOIN med),
       cj AS (SELECT event_type, CAST(sum(x) AS BIGINT) AS c_j
              FROM grid GROUP BY 1),
       ri AS (SELECT user_id, CAST(sum(x) AS BIGINT) AS r_i
              FROM grid GROUP BY 1),
       dims AS (SELECT CAST(count(*) AS BIGINT) AS k FROM ty),
       s AS (SELECT CAST(sum(c_j) AS BIGINT) AS t_tot,
                    CAST(sum(c_j * c_j) AS BIGINT) AS sum_c2
             FROM cj),
       sr AS (SELECT CAST(sum(r_i * r_i) AS BIGINT) AS sum_r2 FROM ri)
       SELECT cj.event_type, cj.c_j, dims.k,
              CAST(dims.k - 1 AS BIGINT) AS df,
              CASE WHEN dims.k * s.t_tot - sr.sum_r2 = 0 THEN NULL
                   ELSE round(CAST(dims.k - 1 AS DOUBLE)
                    * CAST(dims.k * s.sum_c2 - s.t_tot * s.t_tot AS DOUBLE)
                    / CAST(dims.k * s.t_tot - sr.sum_r2 AS DOUBLE), 6) END
                AS cochran_q
       FROM cj CROSS JOIN dims CROSS JOIN s CROSS JOIN sr
       ORDER BY cj.event_type""",
)
def _cochran_q_event_types(spark, sf_dir):
    """Cochran's Q test (Cochran 1950) for whether the k event types
    differ in per-user HEAVY-USE incidence — the binary indicator is
    "this user's count of type j exceeds the global median cell count"
    (exact lower median over the complete-grid count level table;
    plain reach>=1 is degenerate on this log where every user touches
    every type). The binary-treatment counterpart of the Friedman test
    on the same complete user x type grid: Q = (k-1)(k*sum(Cj^2) -
    T^2)/(kT - sum(Ri^2)), all sums exact int64, Q the single final
    double (NULL-guarded when the denominator degenerates), shipped
    beside each type's incidence count so the readout shows which
    type deviates."""
    ev = _t(spark, sf_dir, "events")
    u = ev.select("user_id").distinct()
    ty = ev.select("event_type").distinct()
    cnts = ev.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    gridn = (
        u.crossJoin(F.broadcast(ty))
        .join(cnts, ["user_id", "event_type"], "left")
        .select(
            "user_id",
            "event_type",
            F.coalesce(F.col("n"), F.lit(0)).cast("long").alias("n"),
        )
        # consumed by the median level table AND the indicator grid
        # (which itself feeds cj + ri) — materialize the |users|x|types|
        # relation once instead of re-running the three events shuffles
        # per reference
        .localCheckpoint(eager=True)
    )
    lvl = gridn.groupBy("n").agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    ncells = lvl.agg(F.sum("cnt").cast("long").alias("nc"))
    wv = Window.orderBy(F.col("n").asc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    cw = lvl.select("n", F.sum("cnt").over(wv).cast("long").alias("cum"))
    med = (
        cw.crossJoin(F.broadcast(ncells))
        .filter(F.col("cum") * 2 >= F.col("nc"))
        .agg(F.min("n").cast("long").alias("med"))
    )
    grid = gridn.crossJoin(F.broadcast(med)).select(
        "user_id",
        "event_type",
        (F.col("n") > F.col("med")).cast("long").alias("x"),
    )
    cj = grid.groupBy("event_type").agg(F.sum("x").cast("long").alias("c_j"))
    ri = grid.groupBy("user_id").agg(F.sum("x").cast("long").alias("r_i"))
    dims = ty.agg(F.count(F.lit(1)).cast("long").alias("k"))
    s = cj.agg(
        F.sum("c_j").cast("long").alias("t_tot"),
        F.sum(F.col("c_j") * F.col("c_j")).cast("long").alias("sum_c2"),
    )
    sr = ri.agg(F.sum(F.col("r_i") * F.col("r_i")).cast("long").alias("sum_r2"))
    out = (
        cj.crossJoin(F.broadcast(dims))
        .crossJoin(F.broadcast(s))
        .crossJoin(F.broadcast(sr))
    )
    den = F.col("k") * F.col("t_tot") - F.col("sum_r2")
    return out.select(
        "event_type",
        "c_j",
        "k",
        (F.col("k") - 1).cast("long").alias("df"),
        F.when(
            den != 0,
            F.round(
                (F.col("k") - 1).cast("double")
                * (F.col("k") * F.col("sum_c2") - F.col("t_tot") * F.col("t_tot"))
                .cast("double")
                / den.cast("double"),
                6,
            ),
        ).alias("cochran_q"),
    ).orderBy("event_type")


# ---------------------------------------------------- RMST (survival)


@q(
    "rmst_churn",
    f"""WITH gm AS (SELECT max(epoch_us(ts)) AS mx FROM events),
       u AS (SELECT user_id, min(epoch_us(ts)) AS f, max(epoch_us(ts)) AS l
             FROM events GROUP BY 1),
       d AS (SELECT (l - f) // {_HOUR_US} AS t,
                    CASE WHEN l > (SELECT mx FROM gm) - {12 * _HOUR_US}
                         THEN 0 ELSE 1 END AS ev
             FROM u),
       tau AS (SELECT CAST(max(t) AS BIGINT) AS tau FROM d),
       lvl AS (SELECT t, CAST(count(*) AS BIGINT) AS n_at_t,
                      CAST(sum(ev) AS BIGINT) AS d_at_t
               FROM d GROUP BY 1),
       tot AS (SELECT CAST(sum(n_at_t) AS BIGINT) AS n_total FROM lvl),
       lv2 AS (SELECT t, n_at_t, d_at_t,
                      CAST((SELECT n_total FROM tot)
                           - coalesce(sum(n_at_t) OVER (ORDER BY t ASC
                               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                        AS BIGINT) AS n_risk
               FROM lvl),
       lv3 AS (SELECT t, d_at_t, n_risk,
                      CASE WHEN d_at_t >= n_risk THEN CAST(-1e30 AS DOUBLE)
                           WHEN d_at_t > 0
                           THEN ln(CAST(1 AS DOUBLE)
                                   - CAST(d_at_t AS DOUBLE)
                                     / CAST(n_risk AS DOUBLE))
                           ELSE CAST(0 AS DOUBLE) END AS ln_term
               FROM lv2),
       s AS (SELECT t,
                    CAST(floor(round(exp(sum(ln_term) OVER (ORDER BY t ASC
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)), 6)
                      * 1000000 + CAST(0.5 AS DOUBLE)) AS BIGINT) AS s_e6
             FROM lv3 WHERE d_at_t > 0),
       ev2 AS (SELECT t, s_e6,
                      CAST(coalesce(lead(t) OVER (ORDER BY t ASC),
                                    (SELECT tau FROM tau)) - t AS BIGINT)
                        AS gap
               FROM s),
       first_t AS (SELECT CAST(min(t) AS BIGINT) AS t1 FROM ev2),
       acc AS (SELECT CAST(sum(s_e6 * gap) AS BIGINT) AS area_e6 FROM ev2)
       SELECT tau.tau AS tau_hours, tot.n_total,
              CAST(first_t.t1 * 1000000 + acc.area_e6 AS BIGINT) AS rmst_e6,
              round(CAST(first_t.t1 * 1000000 + acc.area_e6 AS DOUBLE)
                    / CAST(1000000 AS DOUBLE), 4) AS rmst_hours
       FROM tau CROSS JOIN tot CROSS JOIN first_t CROSS JOIN acc""",
)
def _rmst_churn(spark, sf_dir):
    """Restricted mean survival time (RMST) to the horizon tau = max
    observed lifetime — the area under the Kaplan-Meier curve, THE
    clinically/product-recommended summary when hazards are not
    proportional (mean hours a user stays active, censoring-adjusted).
    Consumes the same r6-rounded KM survival levels as
    kaplan_meier_churn, re-quantized to exact e6 integers, and folds
    area = S(t_i)*(t_{i+1}-t_i) + the S=1 head segment as one exact
    int64 sum over the duration level table. One lead window over the
    bounded hour domain; fact-scale work is the per-user min/max."""
    from redshells_spark.operators.survival import kaplan_meier

    ev = _t(spark, sf_dir, "events")
    us = event_us(ev).alias("us")
    u = (
        ev.select("user_id", us)
        .groupBy("user_id")
        .agg(F.min("us").alias("f"), F.max("us").alias("l"))
        # 2 ints/user, consumed by the global-max probe and the
        # duration projection — unpinned, the events scan ran per
        # consumer (16 scans at the round-8 plan audit)
        .localCheckpoint(eager=True)
    )
    gm = u.agg(F.max("l").alias("mx"))
    d = u.crossJoin(F.broadcast(gm)).select(
        F.expr(f"(l - f) div {_HOUR_US}").cast("long").alias("t"),
        F.when(F.col("l") > F.col("mx") - F.lit(12 * _HOUR_US), 0)
        .otherwise(1)
        .alias("ev"),
    )
    tau = d.agg(F.max("t").cast("long").alias("tau"))
    tot = d.agg(F.count(F.lit(1)).cast("long").alias("n_total"))
    km = kaplan_meier(d, "t", "ev")  # (t, n_risk, n_events, survival r6)
    s = km.select(
        "t",
        F.floor(F.col("survival") * F.lit(1000000.0) + F.lit(0.5))
        .cast("long")
        .alias("s_e6"),
    )
    wl = Window.orderBy(F.col("t").asc())
    ev2 = (
        s.crossJoin(F.broadcast(tau))
        .select(
            "t",
            "s_e6",
            (F.coalesce(F.lead("t").over(wl), F.col("tau")) - F.col("t"))
            .cast("long")
            .alias("gap"),
        )
        # KM-level bounded; the head-segment and area probes both read it
        .localCheckpoint(eager=True)
    )
    first_t = ev2.agg(F.min("t").cast("long").alias("t1"))
    acc = ev2.agg(F.sum(F.col("s_e6") * F.col("gap")).cast("long").alias("area_e6"))
    out = (
        tau.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(first_t))
        .crossJoin(F.broadcast(acc))
    )
    rmst_e6 = (F.col("t1") * F.lit(1000000) + F.col("area_e6")).cast("long")
    return out.select(
        F.col("tau").alias("tau_hours"),
        "n_total",
        rmst_e6.alias("rmst_e6"),
        F.round(rmst_e6.cast("double") / F.lit(1000000.0), 4).alias("rmst_hours"),
    )


_SEG_DOLLARS_SQL = """j AS (
         SELECT c.c_mktsegment AS segment,
                CAST(floor(o.o_totalprice * 100 + CAST(0.5 AS DOUBLE))
                     AS BIGINT) // 100 AS v
         FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey)"""


def _seg_dollars(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    return o.join(F.broadcast(c), o["o_custkey"] == c["c_custkey"]).select(
        F.col("c_mktsegment").alias("segment"),
        F.expr("cast(floor(o_totalprice * 100 + 0.5d) as long) div 100").alias("v"),
    )


# ------------------------------------------------ one-way ANOVA


@q(
    "anova_order_totals",
    f"""WITH {_SEG_DOLLARS_SQL},
       per AS (SELECT segment, CAST(count(*) AS BIGINT) AS n_g,
                      CAST(sum(v) AS BIGINT) AS s_g
               FROM j GROUP BY 1),
       tot AS (SELECT CAST(count(*) AS BIGINT) AS n,
                      CAST(sum(v) AS BIGINT) AS s,
                      CAST(sum(v * v) AS BIGINT) AS ss,
                      CAST(count(DISTINCT segment) AS BIGINT) AS k
               FROM j),
       ssb AS (SELECT CAST(sum(CAST(floor(
                        CAST(per.s_g AS DOUBLE) * CAST(per.s_g AS DOUBLE)
                        / CAST(per.n_g AS DOUBLE)
                        + CAST(0.5 AS DOUBLE)) AS BIGINT)) AS BIGINT)
                 AS sum_sq
              FROM per)
       SELECT per.segment, per.n_g,
              round(CAST(per.s_g AS DOUBLE) / CAST(per.n_g AS DOUBLE), 4)
                AS mean_dollars,
              CAST(tot.k - 1 AS BIGINT) AS df1,
              CAST(tot.n - tot.k AS BIGINT) AS df2,
              round(((CAST(ssb.sum_sq AS DOUBLE)
                      - CAST(tot.s AS DOUBLE) * CAST(tot.s AS DOUBLE)
                        / CAST(tot.n AS DOUBLE))
                     / CAST(tot.k - 1 AS DOUBLE))
                    / ((CAST(tot.ss AS DOUBLE)
                        - CAST(ssb.sum_sq AS DOUBLE))
                       / CAST(tot.n - tot.k AS DOUBLE)), 4) AS f_stat
       FROM per CROSS JOIN tot CROSS JOIN ssb ORDER BY per.segment""",
)
def _anova_order_totals(spark, sf_dir):
    """One-way ANOVA F test of order totals across market segments —
    the omnibus "do any segments differ at all" gate that precedes the
    per-segment effect sizes (effect_size_by_segment) and BH-corrected
    z-tests. Group sums and the global sum of squares are exact int64
    in dollar units; each group's s_g^2/n_g is one double quantized to
    whole dollar^2 units before the between-group sum (dollar^2 keeps
    the quantized term inside int64 through factor 10) so SSB is partition-order-free; F is
    the single final tree. Output repeats F beside each group's mean
    so the readout is self-contained."""
    j = _seg_dollars(spark, sf_dir)
    # ONE fact aggregation: carry the per-group sum of squares so the
    # grand totals (n, s, ss, k) fold from the pinned segment rows —
    # int64 addition is associative, so the derived totals are
    # bit-identical to the direct aggregation (6 scans -> 2 at build)
    per = (
        j.groupBy("segment")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_g"),
            F.sum("v").cast("long").alias("s_g"),
            F.sum(F.col("v") * F.col("v")).cast("long").alias("ss_g"),
        )
        .localCheckpoint(eager=True)
    )
    tot = per.agg(
        F.sum("n_g").cast("long").alias("n"),
        F.sum("s_g").cast("long").alias("s"),
        F.sum("ss_g").cast("long").alias("ss"),
        F.count(F.lit(1)).cast("long").alias("k"),
    )
    ssb = per.agg(
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
    x = (
        per.select("segment", "n_g", "s_g")
        .crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(ssb))
    )
    sumsq = F.col("sum_sq").cast("double")
    corr = F.col("s").cast("double") * F.col("s").cast("double") / F.col(
        "n"
    ).cast("double")
    f_stat = ((sumsq - corr) / (F.col("k") - 1).cast("double")) / (
        (F.col("ss").cast("double") - sumsq) / (F.col("n") - F.col("k")).cast("double")
    )
    return x.select(
        "segment",
        "n_g",
        F.round(F.col("s_g").cast("double") / F.col("n_g").cast("double"), 4).alias(
            "mean_dollars"
        ),
        (F.col("k") - 1).cast("long").alias("df1"),
        (F.col("n") - F.col("k")).cast("long").alias("df2"),
        F.round(f_stat, 4).alias("f_stat"),
    ).orderBy("segment")


# --------------------------------------- Brown-Forsythe (Levene) test


@q(
    "levene_variance_check",
    f"""WITH {_SEG_DOLLARS_SQL},
       lvl AS (SELECT segment, v, CAST(count(*) AS BIGINT) AS cnt
               FROM j GROUP BY 1, 2),
       ns AS (SELECT segment, CAST(sum(cnt) AS BIGINT) AS n_g
              FROM lvl GROUP BY 1),
       cw AS (SELECT segment, v,
                     CAST(sum(cnt) OVER (PARTITION BY segment ORDER BY v ASC
                       ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
              FROM lvl),
       med AS (SELECT cw.segment, CAST(min(cw.v) AS BIGINT) AS med
               FROM cw JOIN ns USING (segment)
               WHERE cw.cum * 2 >= ns.n_g GROUP BY 1),
       z AS (SELECT j.segment, abs(j.v - med.med) AS z
             FROM j JOIN med USING (segment)),
       per AS (SELECT segment, CAST(count(*) AS BIGINT) AS n_g,
                      CAST(sum(z) AS BIGINT) AS s_g
               FROM z GROUP BY 1),
       tot AS (SELECT CAST(count(*) AS BIGINT) AS n,
                      CAST(sum(z) AS BIGINT) AS s,
                      CAST(sum(z * z) AS BIGINT) AS ss,
                      CAST(count(DISTINCT segment) AS BIGINT) AS k
               FROM z),
       ssb AS (SELECT CAST(sum(CAST(floor(
                        CAST(per.s_g AS DOUBLE) * CAST(per.s_g AS DOUBLE)
                        / CAST(per.n_g AS DOUBLE)
                        + CAST(0.5 AS DOUBLE)) AS BIGINT)) AS BIGINT)
                 AS sum_sq
              FROM per)
       SELECT per.segment, per.n_g, med.med AS median_dollars,
              round(CAST(per.s_g AS DOUBLE) / CAST(per.n_g AS DOUBLE), 4)
                AS mean_absdev,
              CAST(tot.k - 1 AS BIGINT) AS df1,
              CAST(tot.n - tot.k AS BIGINT) AS df2,
              round(((CAST(ssb.sum_sq AS DOUBLE)
                      - CAST(tot.s AS DOUBLE) * CAST(tot.s AS DOUBLE)
                        / CAST(tot.n AS DOUBLE))
                     / CAST(tot.k - 1 AS DOUBLE))
                    / ((CAST(tot.ss AS DOUBLE)
                        - CAST(ssb.sum_sq AS DOUBLE))
                       / CAST(tot.n - tot.k AS DOUBLE)), 4) AS w_stat
       FROM per JOIN med USING (segment)
       CROSS JOIN tot CROSS JOIN ssb ORDER BY per.segment""",
)
def _levene_variance_check(spark, sf_dir):
    """Brown-Forsythe variance-homogeneity test (Levene's test with
    median centering, 1974) across market segments — the assumption
    gate for the pooled-variance t/F machinery (ANOVA, Cohen's d): are
    segment spend VARIANCES equal? Per-segment exact medians come from
    partitioned level-table cumsums; absolute deviations stay int64 in
    dollars; W is one-way ANOVA on those deviations with the same
    e6-quantized between-group fold as anova_order_totals."""
    j = _seg_dollars(spark, sf_dir)
    # ONE fact-scale pass: everything below derives from the
    # (segment, v) level table — |z| sums fold the level counts
    # (sum cnt*|v-med| == sum |v-med| over rows, exact int64) and the
    # totals fold per-segment sums, so the before-plan's three
    # rebuilds of the orders x customer join (44 scans) collapse
    lvl = (
        j.groupBy("segment", "v")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .localCheckpoint(eager=True)  # value-level: domain-bounded
    )
    ns = lvl.groupBy("segment").agg(F.sum("cnt").cast("long").alias("n_g"))
    wseg = Window.partitionBy("segment").orderBy(F.col("v").asc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    cw = lvl.select(
        "segment", "v", F.sum("cnt").over(wseg).cast("long").alias("cum")
    )
    med = (
        cw.join(ns, "segment")
        .filter(F.col("cum") * 2 >= F.col("n_g"))
        .groupBy("segment")
        .agg(F.min("v").cast("long").alias("med"))
    )
    zl = lvl.join(F.broadcast(med), "segment").select(
        "segment", "cnt", F.abs(F.col("v") - F.col("med")).alias("z")
    )
    per = zl.groupBy("segment").agg(
        F.sum("cnt").cast("long").alias("n_g"),
        F.sum(F.col("cnt") * F.col("z")).cast("long").alias("s_g"),
        F.sum(F.col("cnt") * F.col("z") * F.col("z")).cast("long").alias("ss_g"),
    )
    tot = per.agg(
        F.sum("n_g").cast("long").alias("n"),
        F.sum("s_g").cast("long").alias("s"),
        F.sum("ss_g").cast("long").alias("ss"),
        F.count(F.lit(1)).cast("long").alias("k"),
    )
    ssb = per.agg(
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
    x = (
        per.join(F.broadcast(med), "segment")
        .crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(ssb))
    )
    sumsq = F.col("sum_sq").cast("double")
    corr = F.col("s").cast("double") * F.col("s").cast("double") / F.col(
        "n"
    ).cast("double")
    w_stat = ((sumsq - corr) / (F.col("k") - 1).cast("double")) / (
        (F.col("ss").cast("double") - sumsq) / (F.col("n") - F.col("k")).cast("double")
    )
    return x.select(
        "segment",
        "n_g",
        F.col("med").alias("median_dollars"),
        F.round(F.col("s_g").cast("double") / F.col("n_g").cast("double"), 4).alias(
            "mean_absdev"
        ),
        (F.col("k") - 1).cast("long").alias("df1"),
        (F.col("n") - F.col("k")).cast("long").alias("df2"),
        F.round(w_stat, 4).alias("w_stat"),
    ).orderBy("segment")


# --------------------------------------------- Hodges-Lehmann shift


@q(
    "hodges_lehmann_shift",
    f"""WITH days AS (SELECT DISTINCT epoch_us(ts) // {_DAY_US} AS t
                FROM events),
       pc AS (SELECT epoch_us(ts) // {_DAY_US} AS t,
                     CAST(sum(CASE WHEN event_type = 'purchase' THEN 1
                                   ELSE 0 END) AS BIGINT) AS p,
                     CAST(sum(CASE WHEN event_type = 'click' THEN 1
                                   ELSE 0 END) AS BIGINT) AS c
              FROM events GROUP BY 1),
       s AS (SELECT d.t, CAST(coalesce(pc.p, 0) AS BIGINT) AS p,
                    CAST(coalesce(pc.c, 0) AS BIGINT) AS c
             FROM days d LEFT JOIN pc USING (t)),
       lp AS (SELECT p AS v, CAST(count(*) AS BIGINT) AS cnt
              FROM s GROUP BY 1),
       lc AS (SELECT c AS v, CAST(count(*) AS BIGINT) AS cnt
              FROM s GROUP BY 1),
       dif AS (SELECT lp.v - lc.v AS d,
                      CAST(sum(lp.cnt * lc.cnt) AS BIGINT) AS w
               FROM lp CROSS JOIN lc GROUP BY 1),
       nn AS (SELECT CAST(sum(w) AS BIGINT) AS n FROM dif),
       cw AS (SELECT d, CAST(sum(w) OVER (ORDER BY d ASC
                       ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
              FROM dif)
       SELECT nn.n AS n_pairs,
              CAST((SELECT min(d) FROM cw CROSS JOIN nn
                    WHERE cw.cum * 2 >= nn.n) AS BIGINT) AS hl_shift
       FROM nn""",
)
def _hodges_lehmann_shift(spark, sf_dir):
    """Two-sample Hodges-Lehmann shift estimator (1963) between the
    daily purchase and click count distributions — the robust location
    difference associated with the Mann-Whitney test (median of all
    pairwise differences p_i - c_j), 29%-breakdown-robust where the
    mean difference is not. The pairwise-diff multiset is NEVER
    materialized: it folds to the cross of two VALUE level tables with
    cnt products as weights (the Kendall count-algebra idiom), and the
    weighted lower median comes from one cumweight window over the
    bounded diff domain."""
    ev = _t(spark, sf_dir, "events")
    ev = ev.withColumn("us", event_us(ev, "ts"))
    # the unfiltered day groupBy already contains EVERY observed day
    # (conditional sums give exact zeros), so the former distinct-days
    # left join was an identity — one scan; materialized because both
    # value level tables (lp, lc) re-read it
    s = (
        ev.groupBy(F.expr(f"us div {_DAY_US}").cast("long").alias("t"))
        .agg(
            F.sum((F.col("event_type") == "purchase").cast("long"))
            .cast("long")
            .alias("p"),
            F.sum((F.col("event_type") == "click").cast("long"))
            .cast("long")
            .alias("c"),
        )
        .select("p", "c")
        .localCheckpoint(eager=True)  # day-level
    )
    lp = s.groupBy(F.col("p").alias("v")).agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    lc = s.groupBy(F.col("c").alias("v")).agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    dif = (
        lp.select(F.col("v").alias("vp"), F.col("cnt").alias("cp"))
        .crossJoin(lc.select(F.col("v").alias("vc"), F.col("cnt").alias("cc")))
        .groupBy((F.col("vp") - F.col("vc")).alias("d"))
        .agg(F.sum(F.col("cp") * F.col("cc")).cast("long").alias("w"))
    )
    nn = dif.agg(F.sum("w").cast("long").alias("n"))
    wd = Window.orderBy(F.col("d").asc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    cw = dif.select("d", F.sum("w").over(wd).cast("long").alias("cum"))
    hl = (
        cw.crossJoin(F.broadcast(nn))
        .filter(F.col("cum") * 2 >= F.col("n"))
        .agg(F.min("d").cast("long").alias("hl_shift"))
    )
    return nn.crossJoin(F.broadcast(hl)).select(
        F.col("n").alias("n_pairs"), "hl_shift"
    )


# ------------------------------------------------ tail dependence


@q(
    "tail_dependence_lambda",
    """WITH b AS (SELECT CAST(l_quantity AS BIGINT) AS x,
                CAST(floor(l_extendedprice * 100 + CAST(0.5 AS DOUBLE))
                     AS BIGINT) AS y
         FROM lineitem),
       lx AS (SELECT x AS v, CAST(count(*) AS BIGINT) AS cnt FROM b GROUP BY 1),
       ly AS (SELECT y AS v, CAST(count(*) AS BIGINT) AS cnt FROM b GROUP BY 1),
       nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM b),
       qx AS (SELECT CAST(min(v) AS BIGINT) AS x95
              FROM (SELECT v, CAST(sum(cnt) OVER (ORDER BY v ASC
                      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum FROM lx) c
              CROSS JOIN nn WHERE c.cum * 20 >= nn.n * 19),
       qy AS (SELECT CAST(min(v) AS BIGINT) AS y95
              FROM (SELECT v, CAST(sum(cnt) OVER (ORDER BY v ASC
                      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum FROM ly) c
              CROSS JOIN nn WHERE c.cum * 20 >= nn.n * 19),
       qxl AS (SELECT CAST(min(v) AS BIGINT) AS x05
               FROM (SELECT v, CAST(sum(cnt) OVER (ORDER BY v ASC
                       ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum FROM lx) c
               CROSS JOIN nn WHERE c.cum * 20 >= nn.n),
       qyl AS (SELECT CAST(min(v) AS BIGINT) AS y05
               FROM (SELECT v, CAST(sum(cnt) OVER (ORDER BY v ASC
                       ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum FROM ly) c
               CROSS JOIN nn WHERE c.cum * 20 >= nn.n),
       agg AS (SELECT
                 CAST(sum(CASE WHEN b.x > qx.x95 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_xu,
                 CAST(sum(CASE WHEN b.x > qx.x95 AND b.y > qy.y95
                               THEN 1 ELSE 0 END) AS BIGINT) AS n_uu,
                 CAST(sum(CASE WHEN b.x <= qxl.x05 THEN 1 ELSE 0 END)
                      AS BIGINT) AS n_xl,
                 CAST(sum(CASE WHEN b.x <= qxl.x05 AND b.y <= qyl.y05
                               THEN 1 ELSE 0 END) AS BIGINT) AS n_ll
               FROM b CROSS JOIN qx CROSS JOIN qy
               CROSS JOIN qxl CROSS JOIN qyl)
       SELECT qx.x95, qy.y95, agg.n_xu, agg.n_uu,
              CAST(agg.n_uu * 1000000 // agg.n_xu AS BIGINT) AS lambda_u_e6,
              agg.n_xl, agg.n_ll,
              CAST(agg.n_ll * 1000000 // agg.n_xl AS BIGINT) AS lambda_l_e6
       FROM agg CROSS JOIN qx CROSS JOIN qy""",
)
def _tail_dependence_lambda(spark, sf_dir):
    """Empirical upper/lower tail-dependence coefficients (the copula
    lambda_U = P(Y > q95(Y) | X > q95(X)) and its lower mirror)
    between quantity and extended price — the joint-extremes statistic
    that Pearson/Spearman cannot see (two variables can be
    uncorrelated yet crash together). Quantile thresholds come from
    the two value level tables by cumulative weight; the conditional
    probabilities are exact e6 integer ratios from one map-combined
    pass; under independence lambda ~ 0.05 (the conditioning mass),
    so the readout is directly interpretable."""
    li = _t(spark, sf_dir, "lineitem")
    b = li.select(
        F.col("l_quantity").cast("long").alias("x"),
        F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5))
        .cast("long")
        .alias("y"),
    )
    # one level table per variable, materialized — the hi and lo
    # thresholds (and n, folded from the x levels) all derive from it;
    # the earlier per-threshold rebuild expanded the lineitem scan ~7x
    lx = (
        b.groupBy(F.col("x").alias("v"))
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .localCheckpoint(eager=True)  # quantity domain: tiny
    )
    ly = (
        b.groupBy(F.col("y").alias("v"))
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .localCheckpoint(eager=True)  # cent-value domain: << fact rows
    )
    nn = lx.agg(F.sum("cnt").cast("long").alias("n"))

    def _thr(lv, hi, out):
        w = Window.orderBy(F.col("v").asc()).rowsBetween(
            Window.unboundedPreceding, 0
        )
        cw = lv.select("v", F.sum("cnt").over(w).cast("long").alias("cum"))
        cond = (
            (F.col("cum") * 20 >= F.col("n") * 19)
            if hi
            else (F.col("cum") * 20 >= F.col("n"))
        )
        return (
            cw.crossJoin(F.broadcast(nn))
            .filter(cond)
            .agg(F.min("v").cast("long").alias(out))
        )

    qx = _thr(lx, True, "x95")
    qy = _thr(ly, True, "y95")
    qxl = _thr(lx, False, "x05")
    qyl = _thr(ly, False, "y05")
    agg = (
        b.crossJoin(F.broadcast(qx))
        .crossJoin(F.broadcast(qy))
        .crossJoin(F.broadcast(qxl))
        .crossJoin(F.broadcast(qyl))
        .agg(
            F.sum((F.col("x") > F.col("x95")).cast("long"))
            .cast("long")
            .alias("n_xu"),
            F.sum(
                ((F.col("x") > F.col("x95")) & (F.col("y") > F.col("y95"))).cast(
                    "long"
                )
            )
            .cast("long")
            .alias("n_uu"),
            F.sum((F.col("x") <= F.col("x05")).cast("long"))
            .cast("long")
            .alias("n_xl"),
            F.sum(
                ((F.col("x") <= F.col("x05")) & (F.col("y") <= F.col("y05"))).cast(
                    "long"
                )
            )
            .cast("long")
            .alias("n_ll"),
        )
    )
    return (
        agg.crossJoin(F.broadcast(qx))
        .crossJoin(F.broadcast(qy))
        .select(
            "x95",
            "y95",
            "n_xu",
            "n_uu",
            F.expr("cast(n_uu * 1000000 div n_xu as long)").alias("lambda_u_e6"),
            "n_xl",
            "n_ll",
            F.expr("cast(n_ll * 1000000 div n_xl as long)").alias("lambda_l_e6"),
        )
    )


# --------------------------------------------- generalized means


@q(
    "generalized_means_by_segment",
    """WITH j AS (
         SELECT c.c_mktsegment AS segment,
                CAST(floor(o.o_totalprice * 100 + CAST(0.5 AS DOUBLE))
                     AS BIGINT) // 100 AS v
         FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey),
       t AS (SELECT segment,
                    CAST(count(*) AS BIGINT) AS n,
                    CAST(sum(v) AS BIGINT) AS s,
                    CAST(sum(v * v) AS BIGINT) AS ss,
                    CAST(sum(CAST(floor(ln(CAST(v AS DOUBLE))
                                        * 1000000000
                                        + CAST(0.5 AS DOUBLE)) AS BIGINT))
                         AS BIGINT) AS sln_e9,
                    CAST(sum(CAST(floor(CAST(1000000000000 AS DOUBLE)
                                        / CAST(v AS DOUBLE)
                                        + CAST(0.5 AS DOUBLE)) AS BIGINT))
                         AS BIGINT) AS sinv_e12
             FROM j GROUP BY 1)
       SELECT segment, n,
              round(CAST(s AS DOUBLE) / CAST(n AS DOUBLE), 4) AS mean_arith,
              round(exp(CAST(sln_e9 AS DOUBLE) / CAST(n AS DOUBLE)
                        / CAST(1000000000 AS DOUBLE)), 4) AS mean_geo,
              round(CAST(n AS DOUBLE)
                    / (CAST(sinv_e12 AS DOUBLE)
                       / CAST(1000000000000 AS DOUBLE)), 4) AS mean_harm,
              round(sqrt((CAST(ss AS DOUBLE)
                          - CAST(s AS DOUBLE) * CAST(s AS DOUBLE)
                            / CAST(n AS DOUBLE))
                         / CAST(n - 1 AS DOUBLE))
                    / (CAST(s AS DOUBLE) / CAST(n AS DOUBLE)), 6) AS cv
       FROM t ORDER BY segment""",
)
def _generalized_means_by_segment(spark, sf_dir):
    """The generalized-mean family per market segment: arithmetic,
    geometric (exp of the mean e9-quantized log), harmonic (reciprocal
    of the mean e12-quantized reciprocal), and the coefficient of
    variation — the AM >= GM >= HM ladder whose gaps measure spend
    dispersion (pinned in tests), with HM the correct average for
    rate-like quantities and GM for growth-like ones. All sums exact
    int64 in dollars; one map-combined groupBy, no windows."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    j = o.join(F.broadcast(c), o["o_custkey"] == c["c_custkey"]).select(
        F.col("c_mktsegment").alias("segment"),
        F.expr("cast(floor(o_totalprice * 100 + 0.5d) as long) div 100").alias("v"),
    )
    t = j.groupBy("segment").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("v").cast("long").alias("s"),
        F.sum(F.col("v") * F.col("v")).cast("long").alias("ss"),
        F.sum(
            F.floor(
                F.log(F.col("v").cast("double")) * F.lit(1000000000.0) + F.lit(0.5)
            ).cast("long")
        )
        .cast("long")
        .alias("sln_e9"),
        F.sum(
            F.floor(
                F.lit(1.0e12) / F.col("v").cast("double") + F.lit(0.5)
            ).cast("long")
        )
        .cast("long")
        .alias("sinv_e12"),
    )
    nd = F.col("n").cast("double")
    mean = F.col("s").cast("double") / nd
    return t.select(
        "segment",
        "n",
        F.round(mean, 4).alias("mean_arith"),
        F.round(
            F.exp(F.col("sln_e9").cast("double") / nd / F.lit(1000000000.0)), 4
        ).alias("mean_geo"),
        F.round(
            nd / (F.col("sinv_e12").cast("double") / F.lit(1.0e12)), 4
        ).alias("mean_harm"),
        F.round(
            F.sqrt(
                (
                    F.col("ss").cast("double")
                    - F.col("s").cast("double") * F.col("s").cast("double") / nd
                )
                / (F.col("n") - 1).cast("double")
            )
            / mean,
            6,
        ).alias("cv"),
    ).orderBy("segment")


# --------------------------------------------- Pareto share curve


@q(
    "pareto_share_curve",
    """WITH cu AS (SELECT o_custkey,
                CAST(sum(CAST(floor(o_totalprice * 100 + CAST(0.5 AS DOUBLE))
                              AS BIGINT)) AS BIGINT) AS rev
         FROM orders GROUP BY 1),
       lvl AS (SELECT rev, CAST(count(*) AS BIGINT) AS cnt
               FROM cu GROUP BY 1),
       tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS n,
                      CAST(sum(rev * cnt) AS BIGINT) AS r FROM lvl),
       cw AS (SELECT rev,
                     CAST(sum(cnt) OVER (ORDER BY rev DESC
                       ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_n,
                     CAST(sum(rev * cnt) OVER (ORDER BY rev DESC
                       ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_r
              FROM lvl),
       fr AS (SELECT unnest([1, 5, 10, 20, 50]) AS pct),
       pick AS (SELECT fr.pct,
                       CAST(coalesce(max(cwt.cum_n), 0) AS BIGINT) AS n_top,
                       CAST(coalesce(max(cwt.cum_r), 0) AS BIGINT) AS r_top
                FROM fr LEFT JOIN (SELECT cw.cum_n, cw.cum_r, tot.n
                                   FROM cw CROSS JOIN tot) cwt
                  ON cwt.cum_n * 100 <= cwt.n * fr.pct
                GROUP BY 1)
       SELECT pick.pct, pick.n_top,
              CAST((pick.r_top // 1000) * 1000000 // (tot.r // 1000)
                   AS BIGINT) AS rev_share_e6
       FROM pick CROSS JOIN tot ORDER BY pick.pct""",
)
def _pareto_share_curve(spark, sf_dir):
    """Pareto revenue-concentration curve: the exact share of total
    revenue carried by the top 1/5/10/20/50% of customers (by spend) —
    the "is this an 80/20 business" readout that complements the Gini
    / HHI indices of revenue_concentration with the interpretable
    curve points. Per-customer revenue folds to a value LEVEL table;
    the top-x% cut is the largest cumulative-count prefix within the
    exact integer bound cum_n*100 <= n*pct (whole levels only — ties
    at the boundary stay together, deterministically); shares are
    exact e6 integer divisions of cent sums. The pct list is LEFT
    joined so the output is always exactly 5 rows — a pct whose bound
    admits no level prefix (e.g. >1% of customers tie at the top
    revenue level when pct=1) reports n_top=0, rev_share_e6=0 instead
    of silently dropping the row."""
    o = _t(spark, sf_dir, "orders")
    cu = o.groupBy("o_custkey").agg(
        F.sum(F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long"))
        .cast("long")
        .alias("rev")
    )
    lvl = cu.groupBy("rev").agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    tot = lvl.agg(
        F.sum("cnt").cast("long").alias("n"),
        F.sum(F.col("rev") * F.col("cnt")).cast("long").alias("r"),
    )
    w = Window.orderBy(F.col("rev").desc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    cw = lvl.select(
        "rev",
        F.sum("cnt").over(w).cast("long").alias("cum_n"),
        F.sum(F.col("rev") * F.col("cnt")).over(w).cast("long").alias("cum_r"),
    )
    fr = spark.createDataFrame([(1,), (5,), (10,), (20,), (50,)], "pct long")
    pick = (
        F.broadcast(fr)
        .join(
            cw.crossJoin(F.broadcast(tot)),
            F.col("cum_n") * 100 <= F.col("n") * F.col("pct"),
            "left",
        )
        .groupBy("pct")
        .agg(
            F.coalesce(F.max("cum_n"), F.lit(0)).cast("long").alias("n_top"),
            F.coalesce(F.max("cum_r"), F.lit(0)).cast("long").alias("r_top"),
        )
    )
    return (
        pick.crossJoin(F.broadcast(tot))
        .select(
            "pct",
            "n_top",
            # tenth-dollar pre-division keeps r_top*1e6 inside int64
            # at 10x (total cents * 1e6 overflows — caught at f10)
            F.expr(
                "cast((r_top div 1000) * 1000000 div (r div 1000) as long)"
            ).alias("rev_share_e6"),
        )
        .orderBy("pct")
    )


# --------------------------------------------- lognormal spend fit


@q(
    "lognormal_spend_fit",
    """WITH cu AS (SELECT o_custkey,
                CAST(sum(CAST(floor(o_totalprice * 100 + CAST(0.5 AS DOUBLE))
                              AS BIGINT)) AS BIGINT) // 100 AS rev
         FROM orders GROUP BY 1),
       t AS (SELECT CAST(count(*) AS BIGINT) AS n,
                    CAST(sum(CAST(floor(ln(CAST(rev AS DOUBLE))
                                        * 1000000000
                                        + CAST(0.5 AS DOUBLE)) AS BIGINT))
                         AS BIGINT) AS sln_e9,
                    CAST(sum(CAST(floor(ln(CAST(rev AS DOUBLE))
                                        * ln(CAST(rev AS DOUBLE))
                                        * 1000000000
                                        + CAST(0.5 AS DOUBLE)) AS BIGINT))
                         AS BIGINT) AS sln2_e9
             FROM cu WHERE rev > 0)
       SELECT n,
              round(CAST(sln_e9 AS DOUBLE) / CAST(n AS DOUBLE)
                    / CAST(1000000000 AS DOUBLE), 6) AS mu,
              round(sqrt((CAST(sln2_e9 AS DOUBLE) / CAST(1000000000 AS DOUBLE)
                          - (CAST(sln_e9 AS DOUBLE)
                             / CAST(1000000000 AS DOUBLE))
                            * (CAST(sln_e9 AS DOUBLE)
                               / CAST(1000000000 AS DOUBLE))
                            / CAST(n AS DOUBLE))
                         / CAST(n - 1 AS DOUBLE)), 6) AS sigma,
              round(exp(CAST(sln_e9 AS DOUBLE) / CAST(n AS DOUBLE)
                        / CAST(1000000000 AS DOUBLE)), 4) AS implied_median,
              round(exp(CAST(sln_e9 AS DOUBLE) / CAST(n AS DOUBLE)
                        / CAST(1000000000 AS DOUBLE)
                        + ((CAST(sln2_e9 AS DOUBLE)
                            / CAST(1000000000 AS DOUBLE)
                            - (CAST(sln_e9 AS DOUBLE)
                               / CAST(1000000000 AS DOUBLE))
                              * (CAST(sln_e9 AS DOUBLE)
                                 / CAST(1000000000 AS DOUBLE))
                              / CAST(n AS DOUBLE))
                           / CAST(n - 1 AS DOUBLE))
                          / CAST(2 AS DOUBLE)), 4) AS implied_mean
       FROM t""",
)
def _lognormal_spend_fit(spark, sf_dir):
    """Lognormal fit of per-customer total spend (dollars) by moments
    of the log — the standard BODY model for spend/income
    distributions (the GPD fit handles the tail; together they are the
    composite model risk teams use): mu and sigma from e9-quantized
    per-customer ln terms (both moments exact int64 sums), plus the
    implied median exp(mu) and mean exp(mu + sigma^2/2) whose gap IS
    the skewness readout. One groupBy + one aggregate; no windows."""
    o = _t(spark, sf_dir, "orders")
    cu = o.groupBy("o_custkey").agg(
        F.expr(
            "cast(sum(cast(floor(o_totalprice * 100 + 0.5d) as long)) div 100"
            " as long)"
        ).alias("rev")
    )
    ln = F.log(F.col("rev").cast("double"))
    t = cu.filter(F.col("rev") > 0).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.floor(ln * F.lit(1000000000.0) + F.lit(0.5)).cast("long"))
        .cast("long")
        .alias("sln_e9"),
        F.sum(F.floor(ln * ln * F.lit(1000000000.0) + F.lit(0.5)).cast("long"))
        .cast("long")
        .alias("sln2_e9"),
    )
    nd = F.col("n").cast("double")
    m = F.col("sln_e9").cast("double") / nd / F.lit(1000000000.0)
    var = (
        F.col("sln2_e9").cast("double") / F.lit(1000000000.0)
        - (F.col("sln_e9").cast("double") / F.lit(1000000000.0))
        * (F.col("sln_e9").cast("double") / F.lit(1000000000.0))
        / nd
    ) / (F.col("n") - 1).cast("double")
    return t.select(
        "n",
        F.round(m, 6).alias("mu"),
        F.round(F.sqrt(var), 6).alias("sigma"),
        F.round(F.exp(m), 4).alias("implied_median"),
        F.round(F.exp(m + var / F.lit(2.0)), 4).alias("implied_mean"),
    )


# ------------------------------------------ Cramér-von Mises (L2)


@q(
    "cvm_two_sample",
    """WITH b AS (
         SELECT CAST(floor(value * 100 + CAST(0.5 AS DOUBLE)) AS BIGINT) AS v,
                CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS is1
         FROM events WHERE event_type IN ('click', 'purchase')),
       pv AS (SELECT v, CAST(sum(is1) AS BIGINT) AS c1,
                     CAST(sum(1 - is1) AS BIGINT) AS c2
              FROM b GROUP BY 1),
       n AS (SELECT CAST(sum(c1) AS BIGINT) AS n1,
                    CAST(sum(c2) AS BIGINT) AS n2 FROM pv),
       cum AS (SELECT v, c1, c2,
                      CAST(sum(c1) OVER (ORDER BY v ASC
                        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum1,
                      CAST(sum(c2) OVER (ORDER BY v ASC
                        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum2
               FROM pv),
       tm AS (SELECT CAST(floor(
                       CAST(c1 + c2 AS DOUBLE)
                       * (CAST(cum1 * n.n2 - cum2 * n.n1 AS DOUBLE)
                          / (CAST(n.n1 AS DOUBLE) * CAST(n.n2 AS DOUBLE)))
                       * (CAST(cum1 * n.n2 - cum2 * n.n1 AS DOUBLE)
                          / (CAST(n.n1 AS DOUBLE) * CAST(n.n2 AS DOUBLE)))
                       * CAST(1000000000 AS DOUBLE)
                       + CAST(0.5 AS DOUBLE)) AS BIGINT) AS t_e9
              FROM cum CROSS JOIN n)
       SELECT n.n1, n.n2,
              CAST(s.sum_t AS BIGINT) AS sum_t_e9,
              round(CAST(n.n1 AS DOUBLE) * CAST(n.n2 AS DOUBLE)
                    / (CAST(n.n1 + n.n2 AS DOUBLE)
                       * CAST(n.n1 + n.n2 AS DOUBLE))
                    * CAST(s.sum_t AS DOUBLE) / CAST(1000000000 AS DOUBLE), 6)
                AS cvm_t,
              CAST(CASE WHEN CAST(n.n1 AS DOUBLE) * CAST(n.n2 AS DOUBLE)
                    / (CAST(n.n1 + n.n2 AS DOUBLE)
                       * CAST(n.n1 + n.n2 AS DOUBLE))
                    * CAST(s.sum_t AS DOUBLE) / CAST(1000000000 AS DOUBLE)
                    > CAST(0.461 AS DOUBLE) THEN 1 ELSE 0 END AS BIGINT)
                AS reject_005
       FROM (SELECT sum(t_e9) AS sum_t FROM tm) s CROSS JOIN n""",
)
def _cvm_two_sample(spark, sf_dir):
    """Two-sample Cramér-von Mises test between the click and purchase
    value distributions — the L2 companion to ks_two_sample (sup norm)
    and emd_price_histogram (L1): T = n1*n2/(n1+n2)^2 * sum over the
    pooled sample of (F1-F2)^2, folded over the value LEVEL table with
    per-level multiplicity c1+c2. Each level's squared CDF gap is one
    fixed IEEE tree over exact int64 cumsums, e9-quantized before the
    sum; the 5% decision uses the asymptotic critical value 0.461
    (Anderson 1962). CvM sees distributed small gaps KS misses."""
    ev = _t(spark, sf_dir, "events")
    b = ev.filter(F.col("event_type").isin("click", "purchase")).select(
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("v"),
        (F.col("event_type") == "click").cast("long").alias("is1"),
    )
    pv = b.groupBy("v").agg(
        F.sum("is1").cast("long").alias("c1"),
        F.sum(F.lit(1) - F.col("is1")).cast("long").alias("c2"),
    )
    n = pv.agg(
        F.sum("c1").cast("long").alias("n1"),
        F.sum("c2").cast("long").alias("n2"),
    )
    w = Window.orderBy(F.col("v").asc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = pv.select(
        "v",
        "c1",
        "c2",
        F.sum("c1").over(w).cast("long").alias("cum1"),
        F.sum("c2").over(w).cast("long").alias("cum2"),
    )
    gap = (
        (F.col("cum1") * F.col("n2") - F.col("cum2") * F.col("n1")).cast("double")
        / (F.col("n1").cast("double") * F.col("n2").cast("double"))
    )
    tm = cum.crossJoin(F.broadcast(n)).select(
        F.floor(
            (F.col("c1") + F.col("c2")).cast("double")
            * gap
            * gap
            * F.lit(1000000000.0)
            + F.lit(0.5)
        )
        .cast("long")
        .alias("t_e9")
    )
    s = tm.agg(F.sum("t_e9").cast("long").alias("sum_t"))
    out = s.crossJoin(F.broadcast(n))
    nd = (F.col("n1") + F.col("n2")).cast("double")
    t = (
        F.col("n1").cast("double")
        * F.col("n2").cast("double")
        / (nd * nd)
        * F.col("sum_t").cast("double")
        / F.lit(1000000000.0)
    )
    return out.select(
        "n1",
        "n2",
        F.col("sum_t").alias("sum_t_e9"),
        F.round(t, 6).alias("cvm_t"),
        (t > F.lit(0.461)).cast("long").alias("reject_005"),
    )


# --------------------------------------------------- Kruskal-Wallis


@q(
    "kruskal_wallis_order_totals",
    """WITH b AS (
         SELECT CAST(floor(o_totalprice * 100 + CAST(0.5 AS DOUBLE)) AS BIGINT)
                  AS v,
                o_orderpriority AS g
         FROM orders),
       glvl AS (SELECT v, g, CAST(count(*) AS BIGINT) AS cg
                FROM b GROUP BY 1, 2),
       lvl AS (SELECT v, CAST(sum(cg) AS BIGINT) AS t FROM glvl GROUP BY 1),
       rk AS (SELECT v, t,
                     CAST(2 * coalesce(sum(t) OVER (ORDER BY v ASC
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                          + t + 1 AS BIGINT) AS r2
              FROM lvl),
       grp AS (SELECT g.g, CAST(sum(g.cg) AS BIGINT) AS ng,
                      CAST(sum(g.cg * r.r2) AS BIGINT) AS r2sum
               FROM glvl g JOIN rk r ON r.v = g.v
               GROUP BY 1),
       grp2 AS (SELECT ng, r2sum,
                       CAST(sum(ng) OVER () AS BIGINT) AS n,
                       CAST(r2sum // ng - sum(ng) OVER () - 1 AS BIGINT) AS dev2
                FROM grp),
       tot AS (SELECT n, CAST(sum(ng * dev2 * dev2) AS BIGINT) AS s2
               FROM grp2 GROUP BY n),
       ties AS (SELECT CAST(sum(t * t * t - t) AS BIGINT) AS tie_t FROM lvl),
       h AS (SELECT n,
                    CAST(3 AS DOUBLE) * CAST(s2 AS DOUBLE)
                      / (CAST(n AS DOUBLE) * CAST(n + 1 AS DOUBLE)) AS h_raw,
                    CAST(1 AS DOUBLE)
                      - CAST(tie_t AS DOUBLE)
                        / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
                           * CAST(n AS DOUBLE) - CAST(n AS DOUBLE)) AS c
             FROM tot CROSS JOIN ties)
       SELECT n, round(h_raw, 6) AS h,
              round(h_raw / c, 6) AS h_tie_corrected,
              CAST(CASE WHEN h_raw / c > CAST(9.487729036781154 AS DOUBLE)
                   THEN 1 ELSE 0 END AS BIGINT) AS reject_005
       FROM h""",
)
def _kruskal_wallis_order_totals(spark, sf_dir):
    """Kruskal-Wallis H test (1952) of order-total distributions across
    the five order priorities — the k-sample completion of the rank
    family (Mann-Whitney = 2 samples, Friedman = blocked, this =
    independent k groups). Midranks over the cent-value level table are
    doubled integers (the wilcoxon idiom); the group term uses the
    FLOORED doubled mean rank m2_g = r2sum div ng — both engines floor
    identically, so H is engine-exact under the documented convention
    (the same floor convention as every e6 share in the repo; the
    deviation from the textbook mean rank is < 1 rank unit and the
    doubled deviation (m2_g − (N+1)) keeps n_g·dev² inside int64 to
    factor 100). H = 3·Σ n_g dev2² / (N(N+1)) since the doubled scale
    contributes 4 and 12/4 = 3; tie correction C = 1 − Σ(t³−t)/(N³−N);
    reject at the chi²₄ 5% point. Fact-scale work is one (cent,
    priority) groupBy; every window is over the value level table."""
    o = _t(spark, sf_dir, "orders")
    b = o.select(
        money_units(F.col("o_totalprice")).alias("v"),
        F.col("o_orderpriority").alias("g"),
    )
    glvl = b.groupBy("v", "g").agg(F.count(F.lit(1)).cast("long").alias("cg"))
    lvl = glvl.groupBy("v").agg(F.sum("cg").cast("long").alias("t"))
    wv = Window.orderBy(F.col("v").asc()).rowsBetween(
        Window.unboundedPreceding, -1
    )
    rk = lvl.select(
        "v",
        "t",
        (F.lit(2) * F.coalesce(F.sum("t").over(wv), F.lit(0)) + F.col("t") + 1)
        .cast("long")
        .alias("r2"),
    )
    grp = (
        glvl.join(rk, "v")
        .groupBy("g")
        .agg(
            F.sum("cg").cast("long").alias("ng"),
            F.sum(F.col("cg") * F.col("r2")).cast("long").alias("r2sum"),
        )
    )
    # dev2 = floored doubled mean rank − doubled overall mean (N+1);
    # the group relation is 5 rows, so the global windows are bounded
    grp2 = grp.select(
        "ng",
        F.sum("ng").over(Window.partitionBy()).cast("long").alias("n"),
        F.expr("cast(r2sum div ng as long)").alias("m2"),
    ).select(
        "ng", "n", (F.col("m2") - F.col("n") - 1).cast("long").alias("dev2")
    )
    tot = grp2.groupBy("n").agg(
        F.sum(F.col("ng") * F.col("dev2") * F.col("dev2"))
        .cast("long")
        .alias("s2")
    )
    ties = lvl.agg(
        F.sum(F.col("t") * F.col("t") * F.col("t") - F.col("t"))
        .cast("long")
        .alias("tie_t")
    )
    h = tot.crossJoin(ties).select(
        "n",
        (
            F.lit(3.0)
            * F.col("s2").cast("double")
            / (F.col("n").cast("double") * (F.col("n") + 1).cast("double"))
        ).alias("h_raw"),
        (
            F.lit(1.0)
            - F.col("tie_t").cast("double")
            / (
                F.col("n").cast("double")
                * F.col("n").cast("double")
                * F.col("n").cast("double")
                - F.col("n").cast("double")
            )
        ).alias("c"),
    )
    return h.select(
        "n",
        F.round(F.col("h_raw"), 6).alias("h"),
        F.round(F.col("h_raw") / F.col("c"), 6).alias("h_tie_corrected"),
        (
            (F.col("h_raw") / F.col("c") > F.lit(9.487729036781154)).cast(
                "long"
            )
        ).alias("reject_005"),
    )


# ------------------------------------------- Herfindahl concentration


@q(
    "herfindahl_concentration",
    """WITH r AS (
         SELECT s.s_nationkey AS nationkey, l.l_suppkey AS suppkey,
                CAST(sum(CAST(floor(l.l_extendedprice * 100
                                    + CAST(0.5 AS DOUBLE)) AS BIGINT)
                         * (100 - CAST(floor(l.l_discount * 100
                                    + CAST(0.5 AS DOUBLE)) AS BIGINT)))
                     AS BIGINT) AS rev_u
         FROM lineitem l JOIN supplier s ON s.s_suppkey = l.l_suppkey
         GROUP BY 1, 2),
       nat AS (SELECT nationkey, CAST(sum(rev_u) AS BIGINT) AS tot_u,
                      CAST(count(*) AS BIGINT) AS n_suppliers
               FROM r GROUP BY 1),
       sh AS (SELECT r.nationkey,
                     CAST(r.rev_u * 1000000 // nat.tot_u AS BIGINT) AS share_e6
              FROM r JOIN nat USING (nationkey))
       SELECT s.nationkey,
              n.n_suppliers,
              CAST(sum(s.share_e6 * s.share_e6) // 1000000 AS BIGINT)
                AS hhi_e6,
              CAST(max(s.share_e6) AS BIGINT) AS top_share_e6
       FROM sh s JOIN nat n USING (nationkey)
       GROUP BY 1, 2
       ORDER BY 1""",
)
def _herfindahl_concentration(spark, sf_dir):
    """Herfindahl-Hirschman concentration index of supplier revenue
    within each supplier nation — "how concentrated is each market",
    the antitrust-standard readout (HHI > 0.25 = highly concentrated)
    beside the theil_atkinson inequality family. Revenue is the exact
    e4-dollar integer unit sum (the _REV_SUM idiom); shares are e6
    integer floors of that exact ratio (both engines floor
    identically), and HHI_e6 = Σ share_e6² div 1e6 is pure int64
    (share² ≤ 1e12, supplier count bounded). One fact-scale groupBy on
    (supplier); everything after is supplier-level."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_suppkey", "l_extendedprice", "l_discount"
    )
    su = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    r = (
        li.join(su, li["l_suppkey"] == su["s_suppkey"])
        .groupBy(
            F.col("s_nationkey").alias("nationkey"),
            F.col("l_suppkey").alias("suppkey"),
        )
        .agg(
            F.sum(
                money_units(F.col("l_extendedprice"))
                * (F.lit(100) - money_units(F.col("l_discount")))
            )
            .cast("long")
            .alias("rev_u")
        )
        # supplier-level rows; the nation totals and the share
        # projection both consume it — unpinned, the fact groupBy ran
        # twice (6 scans at the r8 audit)
        .localCheckpoint(eager=True)
    )
    nat = r.groupBy("nationkey").agg(
        F.sum("rev_u").cast("long").alias("tot_u"),
        F.count(F.lit(1)).cast("long").alias("n_suppliers"),
    )
    sh = r.join(nat, "nationkey").select(
        "nationkey",
        F.expr("cast(rev_u * 1000000 div tot_u as long)").alias("share_e6"),
    )
    return (
        sh.groupBy("nationkey")
        .agg(
            F.expr(
                "cast(sum(share_e6 * share_e6) div 1000000 as long)"
            ).alias("hhi_e6"),
            F.max("share_e6").cast("long").alias("top_share_e6"),
        )
        .join(nat.select("nationkey", "n_suppliers"), "nationkey")
        .select("nationkey", "n_suppliers", "hhi_e6", "top_share_e6")
        .orderBy("nationkey")
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


# ------------------------------------------- Gumbel block maxima

_SQRT6_OVER_PI = 0.779696801233676  # √6/π, shared literal
_EULER_GAMMA = 0.5772156649015329
_GUMBEL_Q99 = 4.600149226776579  # −ln(−ln(0.99)), shared literal


@q(
    "block_maxima_gumbel_fit",
    f"""WITH {_DAILY_SQL},
       blk AS (SELECT t // 7 AS w, CAST(max(v) AS BIGINT) AS mx
               FROM s GROUP BY 1),
       m AS (SELECT CAST(count(*) AS BIGINT) AS n_blocks,
                    CAST(sum(mx) AS BIGINT) AS s1,
                    CAST(sum(mx * mx) AS BIGINT) AS s2
             FROM blk),
       fit AS (SELECT n_blocks, s1, s2,
                      sqrt(CAST(s2 AS DOUBLE) / CAST(n_blocks AS DOUBLE)
                           - (CAST(s1 AS DOUBLE) / CAST(n_blocks AS DOUBLE))
                             * (CAST(s1 AS DOUBLE) / CAST(n_blocks AS DOUBLE)))
                        * CAST({_SQRT6_OVER_PI} AS DOUBLE) AS beta,
                      CAST(s1 AS DOUBLE) / CAST(n_blocks AS DOUBLE) AS mean
               FROM m WHERE n_blocks >= 2)
       SELECT n_blocks, s1, s2,
              round(mean - CAST({_EULER_GAMMA} AS DOUBLE) * beta, 6) AS mu,
              round(beta, 6) AS beta,
              round(mean - CAST({_EULER_GAMMA} AS DOUBLE) * beta
                    + beta * CAST({_GUMBEL_Q99} AS DOUBLE), 6) AS p99_gumbel
       FROM fit""",
)
def _block_maxima_gumbel_fit(spark, sf_dir):
    """Gumbel fit of weekly block maxima of daily purchase counts
    (method of moments: β = σ√6/π, μ = mean − γβ) — the block-maxima
    half of extreme-value theory beside gpd_tail_fit's
    peaks-over-threshold half; the p99 return level μ + β·q₉₉ answers
    "what weekly peak should capacity planning expect". The three
    irrational constants are Python literals shared verbatim by both
    engines; moments are exact int64 (weekly maxima are counts); the
    fit is one fixed IEEE tree, rounded 6. Fewer than 2 blocks emits
    no row on either side."""
    s = _daily_purchases(spark, sf_dir)
    blk = s.groupBy(F.expr("t div 7").alias("w")).agg(
        F.max("v").cast("long").alias("mx")
    )
    m = blk.agg(
        F.count(F.lit(1)).cast("long").alias("n_blocks"),
        F.sum("mx").cast("long").alias("s1"),
        F.sum(F.col("mx") * F.col("mx")).cast("long").alias("s2"),
    )
    nb = F.col("n_blocks").cast("double")
    mean = F.col("s1").cast("double") / nb
    beta = (
        F.sqrt(F.col("s2").cast("double") / nb - mean * mean)
        * F.lit(_SQRT6_OVER_PI)
    )
    return m.filter(F.col("n_blocks") >= 2).select(
        "n_blocks",
        "s1",
        "s2",
        F.round(mean - F.lit(_EULER_GAMMA) * beta, 6).alias("mu"),
        F.round(beta, 6).alias("beta"),
        F.round(
            mean - F.lit(_EULER_GAMMA) * beta + beta * F.lit(_GUMBEL_Q99), 6
        ).alias("p99_gumbel"),
    )


# --------------------------------------- negative-binomial moments


@q(
    "negbin_overdispersion_fit",
    """WITH u AS (SELECT DISTINCT user_id FROM events),
       k AS (SELECT u.user_id,
                    CAST(coalesce(p.c, 0) AS BIGINT) AS k
             FROM u LEFT JOIN (
               SELECT user_id, count(*) AS c FROM events
               WHERE event_type = 'purchase' GROUP BY 1) p
             USING (user_id)),
       m AS (SELECT CAST(count(*) AS BIGINT) AS n,
                    CAST(sum(k) AS BIGINT) AS s1,
                    CAST(sum(k * k) AS BIGINT) AS s2
             FROM k),
       c AS (SELECT n, s1, s2,
                    CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS mean,
                    CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE)
                      - (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                        * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)) AS var
             FROM m WHERE s1 > 0)
       SELECT n AS n_users, s1, s2,
              round(mean, 6) AS mean,
              round(var, 6) AS variance,
              round(var / mean, 6) AS vmr,
              CAST(CASE WHEN var > mean THEN 1 ELSE 0 END AS BIGINT)
                AS overdispersed,
              round(CASE WHEN var > mean
                    THEN mean * mean / (var - mean) ELSE CAST(0 AS DOUBLE) END,
                    6) AS r_mom,
              round(CASE WHEN var > mean
                    THEN mean / var ELSE CAST(0 AS DOUBLE) END, 6) AS p_mom
       FROM c""",
)
def _negbin_overdispersion_fit(spark, sf_dir):
    """Negative-binomial moment fit of per-user purchase counts
    (r = m²/(σ²−m), p = m/σ²) — the MODEL behind
    event_dispersion_index's VMR flag: when counts are overdispersed,
    the NB(r, p) parameters say HOW clumpy (small r = bursty users).
    Zero-purchase users count (left join from the distinct-user
    relation); moments are exact int64; mean/variance (population) and
    both parameters are one fixed IEEE tree, rounded 6, with the
    var ≤ mean branch pinned to 0 on both engines (no NULL
    divergence)."""
    ev = _t(spark, sf_dir, "events")
    u = ev.select("user_id").distinct()
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    k = u.join(p, "user_id", "left").select(
        F.coalesce(F.col("c"), F.lit(0)).cast("long").alias("k")
    )
    m = k.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("k").cast("long").alias("s1"),
        F.sum(F.col("k") * F.col("k")).cast("long").alias("s2"),
    )
    nd = F.col("n").cast("double")
    mean = F.col("s1").cast("double") / nd
    var = F.col("s2").cast("double") / nd - mean * mean
    return m.filter(F.col("s1") > 0).select(
        F.col("n").alias("n_users"),
        "s1",
        "s2",
        F.round(mean, 6).alias("mean"),
        F.round(var, 6).alias("variance"),
        F.round(var / mean, 6).alias("vmr"),
        (var > mean).cast("long").alias("overdispersed"),
        F.round(
            F.when(var > mean, mean * mean / (var - mean)).otherwise(F.lit(0.0)),
            6,
        ).alias("r_mom"),
        F.round(F.when(var > mean, mean / var).otherwise(F.lit(0.0)), 6).alias(
            "p_mom"
        ),
    )


# ------------------------------------------- capture-recapture


@q(
    "capture_recapture_users",
    f"""WITH b AS (SELECT CAST(min(epoch_us(ts)) // {_DAY_US} AS BIGINT) AS d0
               FROM events),
       e AS (SELECT user_id, epoch_us(ts) // {_DAY_US} AS d FROM events),
       s1 AS (SELECT DISTINCT user_id FROM e, b WHERE e.d < b.d0 + 15),
       s2 AS (SELECT DISTINCT user_id FROM e, b WHERE e.d >= b.d0 + 15),
       m AS (SELECT CAST(count(*) AS BIGINT) AS m FROM s1
             JOIN s2 USING (user_id)),
       c AS (SELECT (SELECT CAST(count(*) AS BIGINT) FROM s1) AS n1,
                    (SELECT CAST(count(*) AS BIGINT) FROM s2) AS n2,
                    m.m AS m,
                    (SELECT CAST(count(DISTINCT user_id) AS BIGINT) FROM e)
                      AS true_n
             FROM m),
       est AS (SELECT n1, n2, m, true_n,
                      CAST((n1 + 1) * (n2 + 1) // (m + 1) - 1 AS BIGINT)
                        AS chapman
               FROM c)
       SELECT n1, n2, m, chapman, true_n,
              CAST(CASE WHEN chapman >= true_n
                   THEN ((chapman - true_n) * 1000000) // true_n
                   ELSE -(((true_n - chapman) * 1000000) // true_n)
                   END AS BIGINT) AS err_e6
       FROM est""",
)
def _capture_recapture_users(spark, sf_dir):
    """Chapman capture-recapture estimate (1951) of the active-user
    population from two time-split "captures" (first 15 days vs the
    rest): N̂ = (n1+1)(n2+1)/(m+1) − 1 — the overlap-based cardinality
    estimate ecologists use, here the closed-form sanity check beside
    the HLL/KMV sketches (it needs only three exact counts, no
    hashing). The estimate, the true distinct count, and the signed e6
    relative error are all exact integers (sign outside the div). Two
    distinct-aggregations and one semi-join — fact-scale work is the
    day-tagged scan."""
    ev = _t(spark, sf_dir, "events")
    e = ev.withColumn("us", event_us(ev, "ts")).select(
        "user_id", F.expr(f"us div {_DAY_US}").cast("long").alias("d")
    )
    d0 = e.agg(F.min("d").cast("long").alias("d0"))
    # ONE per-user aggregate carries both capture flags: n1/n2/m/true_n
    # are sums over it — the set-algebra form re-ran the events scan
    # per distinct/count (9 scans at the r8 audit); |s1 ∩ s2| is exactly
    # the users flagged in both windows, true_n the user-row count
    peru = (
        e.crossJoin(F.broadcast(d0))
        .groupBy("user_id")
        .agg(
            F.max(F.when(F.col("d") < F.col("d0") + 15, 1).otherwise(0)).alias(
                "in1"
            ),
            F.max(F.when(F.col("d") >= F.col("d0") + 15, 1).otherwise(0)).alias(
                "in2"
            ),
        )
    )
    c = peru.agg(
        F.sum("in1").cast("long").alias("n1"),
        F.sum("in2").cast("long").alias("n2"),
        F.sum(F.when((F.col("in1") == 1) & (F.col("in2") == 1), 1).otherwise(0))
        .cast("long")
        .alias("m"),
        F.count(F.lit(1)).cast("long").alias("true_n"),
    )
    est = c.withColumn(
        "chapman",
        F.expr("cast((n1 + 1) * (n2 + 1) div (m + 1) - 1 as long)"),
    )
    return est.select(
        "n1",
        "n2",
        "m",
        "chapman",
        "true_n",
        F.expr(
            "cast(case when chapman >= true_n"
            " then ((chapman - true_n) * 1000000) div true_n"
            " else -(((true_n - chapman) * 1000000) div true_n)"
            " end as long)"
        ).alias("err_e6"),
    )


# ------------------------------------------------ weekly PSI series


@q(
    "psi_weekly_series",
    f"""WITH p AS (SELECT epoch_us(ts) // {_WEEK_US} AS w,
                        least(CAST(floor(value / 10) AS BIGINT), 9) AS bin
               FROM events WHERE event_type = 'purchase'),
       w0 AS (SELECT CAST(min(w) AS BIGINT) AS w0 FROM p),
       cnt AS (SELECT w, bin, CAST(count(*) AS BIGINT) AS c
               FROM p GROUP BY 1, 2),
       tot AS (SELECT w, CAST(sum(c) AS BIGINT) AS n FROM cnt GROUP BY 1),
       grid AS (SELECT t.w, b.bin, coalesce(c.c, 0) AS c, t.n
                FROM tot t CROSS JOIN (SELECT unnest(range(10)) AS bin) b
                LEFT JOIN cnt c ON c.w = t.w AND c.bin = b.bin),
       sm AS (SELECT w, bin,
                     (CAST(c + 1 AS DOUBLE)) / (CAST(n + 10 AS DOUBLE)) AS pr,
                     n
              FROM grid),
       base AS (SELECT s.bin, s.pr AS p0 FROM sm s, w0
                WHERE s.w = w0.w0),
       terms AS (SELECT s.w, s.n,
                        CAST(floor((s.pr - b.p0) * ln(s.pr / b.p0)
                                   * 1000000000 + CAST(0.5 AS DOUBLE))
                             AS BIGINT) AS t_e9
                 FROM sm s JOIN base b ON b.bin = s.bin)
       SELECT w, CAST(max(n) AS BIGINT) AS n_events,
              CAST(sum(t_e9) AS BIGINT) AS psi_e9
       FROM terms GROUP BY 1 ORDER BY 1""",
)
def _psi_weekly_series(spark, sf_dir):
    """Per-week Population Stability Index of the purchase-value
    distribution against the FIRST week — the time-series form of the
    one-shot psi_value_drift: the monitoring dashboard a model owner
    actually watches (PSI > 0.2 per week = investigate). Ten fixed
    $10-wide bins with add-one smoothing (no empty-bin NULLs on
    either engine); each bin's (p_w−p_0)·ln(p_w/p_0) term is
    e9-quantized BEFORE the sum (the bigram-entropy idiom), so the
    weekly PSI is an exact int64 sum of 10 integers. The first week's
    own row is the exact-zero self-comparison anchor. One fact-scale
    (week, bin) groupBy."""
    ev = _t(spark, sf_dir, "events")
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .withColumn("us", event_us(ev, "ts"))
        .select(
            F.expr(f"us div {_WEEK_US}").cast("long").alias("w"),
            F.least(F.floor(F.col("value") / 10).cast("long"), F.lit(9)).alias(
                "bin"
            ),
        )
    )
    # week x 10-bin bounded; the weekly totals, the grid and the
    # first-week anchor all derive from it (ONE fact aggregation)
    cnt = (
        p.groupBy("w", "bin")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .localCheckpoint(eager=True)
    )
    tot = cnt.groupBy("w").agg(F.sum("c").cast("long").alias("n"))
    bins = spark.range(10).select(F.col("id").cast("long").alias("bin"))
    grid = (
        tot.crossJoin(F.broadcast(bins))
        .join(cnt, ["w", "bin"], "left")
        .select(
            "w",
            "bin",
            F.coalesce(F.col("c"), F.lit(0)).alias("c"),
            "n",
        )
    )
    sm = grid.select(
        "w",
        "bin",
        ((F.col("c") + 1).cast("double") / (F.col("n") + 10).cast("double")).alias(
            "pr"
        ),
        "n",
    )
    w0 = cnt.agg(F.min("w").cast("long").alias("w0"))
    base = (
        sm.crossJoin(F.broadcast(w0))
        .filter(F.col("w") == F.col("w0"))
        .select("bin", F.col("pr").alias("p0"))
    )
    terms = sm.join(F.broadcast(base), "bin").select(
        "w",
        "n",
        F.floor(
            (F.col("pr") - F.col("p0"))
            * F.log(F.col("pr") / F.col("p0"))
            * F.lit(1_000_000_000)
            + F.lit(0.5)
        )
        .cast("long")
        .alias("t_e9"),
    )
    return (
        terms.groupBy("w")
        .agg(
            F.max("n").cast("long").alias("n_events"),
            F.sum("t_e9").cast("long").alias("psi_e9"),
        )
        .orderBy("w")
    )
