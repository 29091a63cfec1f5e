"""Data quality and warehouse ops: checks, profiling, privacy audits
(k-anonymity, l-diversity, t-closeness), SCD2/CDC, compaction and layout
planning, intervals, skew and histograms, incremental maintenance,
snapshot diff, retrieval shapes.
"""

from __future__ import annotations

import math as _math

from redshells_spark.queries._shared import *  # noqa: F401,F403

# ---------------------------------------------------------- data quality


@q(
    "dq_checks",
    """SELECT 'orphan_orders' AS check_name,
              (SELECT count(*) FROM orders o
               WHERE NOT EXISTS (SELECT 1 FROM customer c
                                 WHERE c.c_custkey = o.o_custkey)) AS violations
       UNION ALL
       SELECT 'orphan_lineitems',
              (SELECT count(*) FROM lineitem l
               WHERE NOT EXISTS (SELECT 1 FROM orders o
                                 WHERE o.o_orderkey = l.l_orderkey))
       UNION ALL
       SELECT 'dup_orderkeys',
              (SELECT count(*) FROM (SELECT o_orderkey FROM orders
                                     GROUP BY o_orderkey HAVING count(*) > 1))
       UNION ALL
       SELECT 'null_totalprice',
              (SELECT count(*) FROM orders WHERE o_totalprice IS NULL)
       UNION ALL
       SELECT 'nonpositive_price',
              (SELECT count(*) FROM orders WHERE o_totalprice <= 0)
       UNION ALL
       SELECT 'bad_discount',
              (SELECT count(*) FROM lineitem
               WHERE l_discount < 0 OR l_discount > 1)
       UNION ALL
       SELECT 'negative_quantity',
              (SELECT count(*) FROM lineitem WHERE l_quantity <= 0)""",
)
def _dq_checks(spark, sf_dir):
    """Data-quality audit suite: referential orphans (anti joins),
    key-uniqueness violations, null/range checks — one long-format
    (check_name, violations) frame. Each check is a single scan or
    anti-join; at 100 TB the range/null checks fuse into one pass per
    table and the orphan checks broadcast the dimension keys."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    c = _t(spark, sf_dir, "customer")

    def one(name: str, cnt_df) -> DataFrame:
        return cnt_df.select(
            F.lit(name).alias("check_name"), F.col("v").cast("long").alias("violations")
        )

    # fuse the per-table checks (the docstring's 100 TB contract, now
    # actually in the plan): dup/null/nonpositive ride ONE keyed orders
    # pass (the null/range sums are free map-side partials on the
    # groupBy dup detection needs anyway); both lineitem range checks
    # ride one scan. The 1-row fused stats are pinned — each feeds
    # several long-format rows.
    o_stats = (
        o.groupBy("o_orderkey")
        .agg(
            F.count(F.lit(1)).alias("c"),
            F.sum(F.when(F.col("o_totalprice").isNull(), 1).otherwise(0)).alias(
                "nl"
            ),
            F.sum(F.when(F.col("o_totalprice") <= 0, 1).otherwise(0)).alias("np"),
        )
        .agg(
            F.sum(F.when(F.col("c") > 1, 1).otherwise(0)).alias("dup"),
            F.sum("nl").alias("nulls"),
            F.sum("np").alias("nonpos"),
        )
        .localCheckpoint(eager=True)
    )
    li_stats = li.agg(
        F.sum(
            F.when((F.col("l_discount") < 0) | (F.col("l_discount") > 1), 1).otherwise(0)
        ).alias("bad_disc"),
        F.sum(F.when(F.col("l_quantity") <= 0, 1).otherwise(0)).alias("neg_qty"),
    ).localCheckpoint(eager=True)
    checks = [
        one("orphan_orders",
            o.join(c, o.o_custkey == c.c_custkey, "left_anti").agg(F.count(F.lit(1)).alias("v"))),
        one("orphan_lineitems",
            li.join(o, li.l_orderkey == o.o_orderkey, "left_anti").agg(F.count(F.lit(1)).alias("v"))),
        one("dup_orderkeys", o_stats.select(F.col("dup").alias("v"))),
        one("null_totalprice", o_stats.select(F.col("nulls").alias("v"))),
        one("nonpositive_price", o_stats.select(F.col("nonpos").alias("v"))),
        one("bad_discount", li_stats.select(F.col("bad_disc").alias("v"))),
        one("negative_quantity", li_stats.select(F.col("neg_qty").alias("v"))),
    ]
    out = checks[0]
    for ch in checks[1:]:
        out = out.unionByName(ch)
    return out


@q(
    "price_quantile_sketch",
    """WITH b AS (SELECT o_orderpriority,
                         length(format('{:b}', CAST(round(o_totalprice * 100) AS BIGINT))) AS bin
                  FROM orders WHERE CAST(round(o_totalprice * 100) AS BIGINT) > 0),
       c AS (SELECT o_orderpriority, bin, count(*) AS c FROM b GROUP BY 1, 2),
       cum AS (SELECT o_orderpriority, bin,
                      sum(c) OVER (PARTITION BY o_orderpriority ORDER BY bin ASC) AS cum,
                      sum(c) OVER (PARTITION BY o_orderpriority) AS n
               FROM c),
       x AS (SELECT cum.*, q FROM cum,
             (SELECT unnest([0.5, 0.9, 0.99]::DOUBLE[]) AS q)),
       hit AS (SELECT *, row_number() OVER (PARTITION BY o_orderpriority, q
                                            ORDER BY bin ASC) AS rn
               FROM x WHERE cum >= ceil(q * n))
       SELECT o_orderpriority, q, CAST(n AS BIGINT) AS n,
              (1::BIGINT << (bin - 1)) AS est_lower_bound
       FROM hit WHERE rn = 1""",
)
def _price_quantile_sketch(spark, sf_dir):
    """Mergeable log₂-histogram quantile sketch
    (operators/sketches.py:log_histogram_quantiles): grouped p50/p90/p99
    from a ~64-counter power-of-two synopsis — the scale path where an
    exact global sort is off the table. Binning via binary-string
    length (exact where floor(ln/ln2) misrounds at powers of two);
    answers are integer bin lower bounds — bit-reproducible, so this
    approximate aggregate gets an exact oracle MATCH (pairs with the
    exact `value_percentiles`)."""
    from redshells_spark.operators.sketches import log_histogram_quantiles

    o = _t(spark, sf_dir, "orders").select(
        "o_orderpriority", F.round(F.col("o_totalprice") * 100, 0).cast("long").alias("vc")
    )
    return log_histogram_quantiles(o, ["o_orderpriority"], "vc", [0.5, 0.9, 0.99])


@q(
    "rolling_distinct_users",
    f"""WITH e AS (SELECT DISTINCT epoch_us(ts) // 86400000000 AS bk,
                          {_duck_h60("user_id")} AS h
                   FROM events),
       kept AS (SELECT bk, h FROM (
                  SELECT bk, h, row_number() OVER (PARTITION BY bk ORDER BY h ASC) AS rn
                  FROM e) WHERE rn <= 64),
       f AS (SELECT bk + off AS target, h
             FROM kept, (SELECT unnest(generate_series(0, 6)) AS off)),
       p AS (SELECT DISTINCT bk AS target FROM kept),
       m AS (SELECT DISTINCT target, h FROM f JOIN p USING (target)),
       top AS (SELECT target, h FROM (
                 SELECT target, h, row_number() OVER (PARTITION BY target ORDER BY h ASC) AS rn
                 FROM m) WHERE rn <= 64),
       a AS (SELECT target, count(*) AS n_kept, max(h) AS hk FROM top GROUP BY 1)
       SELECT target AS bucket, n_kept::BIGINT AS n_kept,
              round(CASE WHEN n_kept < 64 THEN n_kept::DOUBLE
                    ELSE 63.0 * 1152921504606846976.0 / hk::DOUBLE END, 4)
                AS rolling_distinct_est
       FROM a""",
)
def _rolling_distinct_users(spark, sf_dir):
    """7-day rolling distinct users via KMV sketch merging
    (operators/sketches.py:kmv_rolling_distinct): per-day k-minimum
    hash sets built once, fanned to the ≤7 windows they serve (an
    explode, not a range join), deduped, re-ranked, estimated.
    Raw rows are scanned once; cross-window shuffles carry 8-byte
    hashes only. A COUNT(DISTINCT) OVER a sliding window has no
    native relational form — the mergeable sketch IS the standard
    scale answer, and the portable hashing makes it oracle-exact."""
    from redshells_spark.operators.sketches import kmv_rolling_distinct

    ev = _t(spark, sf_dir, "events")
    e = ev.select(event_us(ev, "ts").alias("__us"), "user_id").select(
        F.expr("`__us` div 86400000000").alias("bk"), "user_id"
    )
    return kmv_rolling_distinct(e, "bk", "user_id", window_buckets=7, k=64)


# --------------------------- incremental maintenance / diff / retrieval

_INCR_CUTOFF_DAY = 20  # day index within the 30-day event window


@q(
    "incremental_agg_update",
    """WITH e AS (SELECT user_id, epoch_us(ts) // 86400000000
                           - (SELECT min(epoch_us(ts) // 86400000000) FROM events) AS day,
                         CAST(round(value * 100) AS BIGINT) AS vc
                  FROM events)
       SELECT user_id, count(*) AS n_events,
              CAST(sum(vc) AS BIGINT) AS total_c
       FROM e GROUP BY user_id""",
)
def _incremental_agg_update(spark, sf_dir):
    """Incremental aggregate maintenance: the base aggregate (days
    < 20) is updated with a delta partial-aggregate (days ≥ 20) via a
    keyed merge — base rows untouched by the delta pass through
    unchanged; the oracle is the FULL recompute, so the hash MATCH is
    a proof that incremental == from-scratch. This is the maintenance
    loop every continuously-ingested 100 TB aggregate runs: only the
    delta is scanned and shuffled at update time, and sum/count
    merge associatively (avg/std derive from them downstream)."""
    ev = _t(spark, sf_dir, "events")
    e = ev.select(
        "user_id",
        event_us(ev, "ts").alias("__us"),
        F.round(F.col("value") * 100, 0).cast("long").alias("vc"),
    ).withColumn("day", F.expr("`__us` div 86400000000"))
    # scalar anchor stays lazy: broadcast the 1-row min instead of an
    # eager collect — the plan carries it as a BroadcastExchange
    day0 = e.agg(F.min("day").alias("__day0"))
    e = e.crossJoin(F.broadcast(day0)).withColumn(
        "day", F.col("day") - F.col("__day0")
    )

    def agg(df):
        return df.groupBy("user_id").agg(
            F.count(F.lit(1)).alias("n_events"), F.sum("vc").alias("total_c")
        )

    base = agg(e.filter(F.col("day") < _INCR_CUTOFF_DAY))
    delta = agg(e.filter(F.col("day") >= _INCR_CUTOFF_DAY))
    merged = (
        base.unionByName(delta)
        .groupBy("user_id")
        .agg(F.sum("n_events").cast("long").alias("n_events"), F.sum("total_c").alias("total_c"))
    )
    return merged


@q(
    "snapshot_diff",
    """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS us, event_id,
                         epoch_us(ts) // 86400000000
                           - (SELECT min(epoch_us(ts) // 86400000000) FROM events) AS day
                  FROM events),
       v1 AS (SELECT user_id, event_type AS state FROM (
                SELECT user_id, event_type,
                       row_number() OVER (PARTITION BY user_id
                                          ORDER BY us DESC, event_id DESC) AS rn
                FROM e WHERE day < 20) WHERE rn = 1),
       v2 AS (SELECT user_id, event_type AS state FROM (
                SELECT user_id, event_type,
                       row_number() OVER (PARTITION BY user_id
                                          ORDER BY us DESC, event_id DESC) AS rn
                FROM e) WHERE rn = 1)
       SELECT coalesce(v1.user_id, v2.user_id) AS user_id,
              v1.state AS old_state, v2.state AS new_state,
              CASE WHEN v1.user_id IS NULL THEN 'added'
                   WHEN v2.user_id IS NULL THEN 'removed'
                   WHEN v1.state <> v2.state THEN 'changed'
                   ELSE 'unchanged' END AS diff
       FROM v1 FULL OUTER JOIN v2 ON v1.user_id = v2.user_id""",
)
def _snapshot_diff(spark, sf_dir):
    """Snapshot diff: latest-state-per-key at two versions (CDC
    compaction twice — cf. `latest_by_key`), full-outer-joined and
    classified added/removed/changed/unchanged. The audit primitive
    for validating incremental pipelines against rebuilds. One
    shuffle per snapshot + one keyed join; no row-level history
    replay."""
    ev = _t(spark, sf_dir, "events")
    e = ev.select(
        "user_id", "event_type", event_us(ev, "ts").alias("us"), "event_id"
    ).withColumn("day", F.expr("us div 86400000000"))
    day0 = e.agg(F.min("day").alias("__day0"))
    e = e.crossJoin(F.broadcast(day0)).withColumn("day", F.col("day") - F.col("__day0"))

    def latest(df):
        w = Window.partitionBy("user_id").orderBy(F.col("us").desc(), F.col("event_id").desc())
        return (
            df.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("user_id", F.col("event_type").alias("state"))
        )

    v1 = latest(e.filter(F.col("day") < _INCR_CUTOFF_DAY)).alias("v1")
    v2 = latest(e).alias("v2")
    j = v1.join(v2, F.col("v1.user_id") == F.col("v2.user_id"), "full_outer")
    return j.select(
        F.coalesce(F.col("v1.user_id"), F.col("v2.user_id")).alias("user_id"),
        F.col("v1.state").alias("old_state"),
        F.col("v2.state").alias("new_state"),
        F.when(F.col("v1.user_id").isNull(), "added")
        .when(F.col("v2.user_id").isNull(), "removed")
        .when(F.col("v1.state") != F.col("v2.state"), "changed")
        .otherwise("unchanged")
        .alias("diff"),
    )


_BM25_K1 = 1.2
_BM25_B = 0.75


def _bm25_oracle_sql() -> str:
    terms = []
    for kw in KEYWORDS:
        terms.append(
            f"""coalesce((SELECT ln((nd.n - df.df + 0.5) / (df.df + 0.5) + 1.0)
                 * (t.tf * {_BM25_K1 + 1.0}) /
                   (t.tf + {_BM25_K1} * (1.0 - {_BM25_B} + {_BM25_B} * dl.dl / ad.avgdl))
               FROM tf t JOIN df ON df.token = t.token, nd, ad
               WHERE t.doc_id = d.doc_id AND t.token = '{kw}'), 0.0)"""
        )
    score = "\n             + ".join(terms)
    return f"""WITH {_TOK_SQL},
       dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY doc_id),
       nd AS (SELECT count(*) AS n FROM dl),
       ad AS (SELECT sum(dl)::DOUBLE / count(*) AS avgdl FROM dl),
       tf AS (SELECT doc_id, token, count(*)::BIGINT AS tf FROM tok
              WHERE token IN {KEYWORDS!r} GROUP BY doc_id, token),
       df AS (SELECT token, count(*) AS df FROM tf GROUP BY token)
       SELECT d.doc_id, dl.dl AS doc_len,
              round({score}, 4) AS bm25
       FROM documents d JOIN dl ON dl.doc_id = d.doc_id
       WHERE d.doc_id IN (SELECT DISTINCT doc_id FROM tf)"""


@q("bm25_keyword_search", _bm25_oracle_sql())
def _bm25_keyword_search(spark, sf_dir):
    """BM25 relevance scoring (Robertson–Spärck Jones) for a fixed
    keyword query over the corpus — the classic retrieval scorer the
    tfidf tier stops short of. Fully relational: tf/df/dl/avgdl from
    two aggregations; per-keyword score terms pivot into fixed columns
    so the final score is a FIXED-ORDER sum (a bare sum() over terms
    would fold doubles in engine-dependent order). Only docs matching
    ≥1 keyword are scored — the semi-join keeps the scan sparse."""
    toks = _tokens(spark, sf_dir).select("doc_id", F.explode("tokens").alias("token"))
    dl = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    nd_avg = dl.agg(
        F.count(F.lit(1)).alias("n"), (F.sum("dl").cast("double") / F.count(F.lit(1))).alias("avgdl")
    )
    tf = (
        toks.filter(F.col("token").isin(*KEYWORDS))
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )
    df_ = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    # pivot tf and df into per-keyword columns (explicit value list)
    tfp = tf.groupBy("doc_id").pivot("token", list(KEYWORDS)).agg(F.first("tf"))
    scored = (
        tfp.join(dl, "doc_id")
        .crossJoin(F.broadcast(nd_avg))
        .crossJoin(
            F.broadcast(
                df_.groupBy().pivot("token", list(KEYWORDS)).agg(F.first("df"))
            ).select(*[F.col(kw).alias(f"df_{kw}") for kw in KEYWORDS])
        )
    )
    norm = F.lit(1.0 - _BM25_B) + F.lit(_BM25_B) * F.col("dl") / F.col("avgdl")
    score = None
    for kw in KEYWORDS:
        idf = F.log(
            (F.col("n") - F.col(f"df_{kw}") + 0.5) / (F.col(f"df_{kw}") + 0.5) + 1.0
        )
        term = idf * (F.col(kw) * F.lit(_BM25_K1 + 1.0)) / (
            F.col(kw) + F.lit(_BM25_K1) * norm
        )
        term = F.coalesce(term, F.lit(0.0))
        score = term if score is None else score + term
    return scored.select("doc_id", F.col("dl").alias("doc_len"), _r4(score, "bm25"))


def _zorder_oracle_sql() -> str:
    from redshells_spark.operators.layout import interleave_sql

    inter = interleave_sql(["su", "st"], bits=16)
    return f"""WITH rng AS (SELECT min(user_id) AS mnu, max(user_id) AS mxu,
                      min(epoch_us(ts) // 1000000) AS mnt,
                      max(epoch_us(ts) // 1000000) AS mxt
               FROM events),
       e AS (SELECT event_id, user_id, epoch_us(ts) // 1000000 AS sec FROM events),
       s AS (SELECT event_id,
                    ((user_id - mnu) * 65535) // (mxu - mnu) AS su,
                    ((sec - mnt) * 65535) // (mxt - mnt) AS st
             FROM e, rng)
       SELECT event_id, {inter} AS zkey FROM s"""


@q("zorder_events", _zorder_oracle_sql())
def _zorder_events(spark, sf_dir):
    """Morton/Z-order layout key over (user_id, event-second)
    (operators/layout.py): the sort key `write_zordered` clusters files
    by, making parquet min/max stats selective on both dimensions. Pure
    int64 scale+interleave arithmetic — the oracle evaluates the same
    generated expression, so physical-layout decisions are part of the
    correctness contract."""
    from redshells_spark.operators.layout import with_zorder_key

    ev = _t(spark, sf_dir, "events")
    e = ev.select("event_id", "user_id", event_us(ev, "ts").alias("__us")).withColumn(
        "sec", F.expr("__us div 1000000")
    )
    keyed = with_zorder_key(e, ["user_id", "sec"], bits=16)
    return keyed.select("event_id", F.col("zkey").cast("long").alias("zkey"))


def _profile_oracle_sql() -> str:
    def num(c):
        return f"""SELECT '{c}' AS col_name, count(*)::BIGINT AS n_rows,
              sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_nulls,
              count(DISTINCT {c})::BIGINT AS n_distinct,
              min({c})::DOUBLE AS min_num, max({c})::DOUBLE AS max_num,
              round(avg({c}::DOUBLE), 4) AS avg_num,
              NULL::VARCHAR AS min_str, NULL::VARCHAR AS max_str
       FROM orders"""

    def st(c):
        return f"""SELECT '{c}' AS col_name, count(*)::BIGINT AS n_rows,
              sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_nulls,
              count(DISTINCT {c})::BIGINT AS n_distinct,
              NULL::DOUBLE AS min_num, NULL::DOUBLE AS max_num, NULL::DOUBLE AS avg_num,
              min({c}) AS min_str, max({c}) AS max_str
       FROM orders"""

    return " UNION ALL ".join(
        [num("o_custkey"), num("o_totalprice"), st("o_orderstatus"), st("o_orderpriority")]
    )


@q("profile_orders", _profile_oracle_sql())
def _profile_orders(spark, sf_dir):
    """One-pass column profiling (data/profile.py): null counts, exact
    distinct cardinalities, numeric ranges/means and string extremes in
    a single scan — the trust-a-new-drop primitive, oracle-checked per
    statistic. (dtype stays out of the contract: physical int32/int64
    encodings legitimately vary across testdata generations.)"""
    from redshells_spark.data.profile import profile_columns

    prof = profile_columns(
        _t(spark, sf_dir, "orders"),
        ["o_custkey", "o_totalprice", "o_orderstatus", "o_orderpriority"],
    )
    return prof.select(
        F.col("column").alias("col_name"),
        "n_rows",
        "n_nulls",
        "n_distinct",
        "min_num",
        "max_num",
        _r4(F.col("avg_num"), "avg_num"),
        "min_str",
        "max_str",
    )


@q(
    "scd2_user_event_type",
    """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS us, event_id FROM events),
       c AS (SELECT user_id, event_type, us, event_id,
                    CASE WHEN lag(event_type) OVER
                              (PARTITION BY user_id ORDER BY us ASC, event_id ASC)
                              IS DISTINCT FROM event_type
                         THEN 1 ELSE 0 END AS chg
             FROM e),
       i AS (SELECT user_id, event_type, us, event_id,
                    sum(chg) OVER (PARTITION BY user_id ORDER BY us ASC, event_id ASC
                                   ROWS UNBOUNDED PRECEDING) AS island
             FROM c),
       a AS (SELECT user_id, island, min(event_type) AS event_type,
                    min(us) AS valid_from_us, count(*)::BIGINT AS n_events
             FROM i GROUP BY user_id, island)
       SELECT user_id, event_type, valid_from_us,
              lead(valid_from_us) OVER (PARTITION BY user_id ORDER BY island ASC)
                  AS valid_to_us,
              n_events
       FROM a""",
)
def _scd2_user_event_type(spark, sf_dir):
    """SCD type-2 interval construction (operators/scd.py): collapse
    each user's event stream into half-open validity intervals per run
    of equal event_type — the gaps-and-islands shape, partitioned by
    the entity key so 100 TB shuffles once by user. event_id breaks
    timestamp ties, making the interval table deterministic."""
    from redshells_spark.operators.scd import scd2_intervals

    ev = _t(spark, sf_dir, "events")
    base = ev.select(
        "user_id", "event_type", event_us(ev, "ts").alias("us"), "event_id"
    )
    out = scd2_intervals(base, "user_id", "event_type", "us", tie_break="event_id")
    return out.select(
        "user_id",
        "event_type",
        F.col("valid_from").alias("valid_from_us"),
        F.col("valid_to").alias("valid_to_us"),
        "n_events",
    )


@q(
    "compaction_plan",
    """WITH f AS (SELECT printf('doc_%08d', doc_id) AS path, n_chars AS bytes
                  FROM documents),
       p AS (SELECT path, bytes,
                    coalesce(sum(bytes) OVER (ORDER BY path ASC
                             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                        AS prefix
             FROM f)
       SELECT CAST(prefix // 4000 AS BIGINT) AS bin, count(*)::BIGINT AS n_files,
              sum(bytes)::BIGINT AS total_bytes,
              min(path) AS first_path, max(path) AS last_path
       FROM p GROUP BY 1""",
)
def _compaction_plan(spark, sf_dir):
    """Small-file compaction planning (operators/layout.py): files in
    path order bin by exclusive-prefix-sum div target — a metadata-only
    global window (the manifest, not the data), after which each bin
    rewrites independently. Documents stand in as the file inventory
    (path=doc_id, bytes=n_chars, 4 KB target)."""
    from redshells_spark.operators.layout import plan_compaction

    files = _t(spark, sf_dir, "documents").select(
        F.format_string("doc_%08d", F.col("doc_id")).alias("path"),
        F.col("n_chars").alias("bytes"),
    )
    return plan_compaction(files, target_bytes=4000)


@q(
    "cdc_merge_snapshot",
    """WITH base AS (SELECT user_id, event_id, value FROM (
              SELECT user_id, event_id, value,
                     row_number() OVER (PARTITION BY user_id
                                        ORDER BY ts DESC, event_id DESC) AS rn
              FROM events WHERE event_id % 2 = 0) WHERE rn = 1),
       ch AS (SELECT user_id, event_id, value, epoch_us(ts) AS version,
                     CASE WHEN event_type = 'click' THEN 'D' ELSE 'U' END AS op
              FROM events WHERE event_id % 2 = 1),
       latest AS (SELECT user_id, event_id, value, op FROM (
              SELECT user_id, event_id, value, op,
                     row_number() OVER (PARTITION BY user_id
                                        ORDER BY version DESC, event_id DESC) AS rn
              FROM ch) WHERE rn = 1)
       SELECT user_id, event_id, round(value, 4) AS value
       FROM base WHERE user_id NOT IN (SELECT user_id FROM latest)
       UNION ALL
       SELECT user_id, event_id, round(value, 4) AS value
       FROM latest WHERE op <> 'D'""",
)
def _cdc_merge_snapshot(spark, sf_dir):
    """MERGE semantics (operators/cdc.py:apply_changes): even events
    form the base snapshot (latest per user), odd events a change
    stream where clicks delete the key and everything else upserts;
    latest version wins with an event-id tie-break. The base is only
    touched by one anti-join on the compacted delta's (broadcast) key
    set — the delta-vs-base asymmetry a 100 TB MERGE depends on."""
    from redshells_spark.operators.cdc import apply_changes

    ev = _t(spark, sf_dir, "events")
    us = event_us(ev, "ts")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").desc(), F.col("event_id").desc())
    base = (
        ev.filter(F.col("event_id") % 2 == 0)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_id", "value")
    )
    changes = ev.filter(F.col("event_id") % 2 == 1).select(
        "user_id",
        "event_id",
        "value",
        us.alias("version"),
        F.when(F.col("event_type") == "click", F.lit("D")).otherwise(F.lit("U")).alias("op"),
    )
    snap = apply_changes(
        base, changes, ["user_id"], "version", tie_break="event_id"
    )
    return snap.select("user_id", "event_id", _r4(F.col("value"), "value"))


@q(
    "max_concurrent_events",
    """WITH iv AS (SELECT event_type, epoch_us(ts) AS s,
                          epoch_us(ts) + 1800000000 AS e FROM events),
       pts AS (SELECT event_type, s AS t, 1 AS delta FROM iv
               UNION ALL
               SELECT event_type, e AS t, -1 AS delta FROM iv),
       r AS (SELECT event_type,
                    sum(delta) OVER (PARTITION BY event_type
                                     ORDER BY t ASC, delta ASC
                                     ROWS UNBOUNDED PRECEDING) AS open
             FROM pts)
       SELECT event_type, max(open)::BIGINT AS max_concurrent
       FROM r GROUP BY event_type""",
)
def _max_concurrent_events(spark, sf_dir):
    """Sweep-line peak concurrency (operators/intervals.py): each
    event opens a 30-minute [start, end) interval; per event_type the
    running ±1 sum's max is the peak number of simultaneously open
    intervals. Ends sort before starts at the same instant (half-open
    semantics); the sweep partitions by group so each key is an
    independent sort — no global order."""
    from redshells_spark.operators.intervals import max_concurrency

    ev = _t(spark, sf_dir, "events")
    us = event_us(ev, "ts")
    iv = ev.select(
        "event_type", us.alias("s"), (us + F.lit(1_800_000_000)).alias("e")
    )
    return max_concurrency(iv, "s", "e", ["event_type"])


@q(
    "interval_coverage_users",
    """WITH iv AS (SELECT user_id, epoch_us(ts) AS s,
                          epoch_us(ts) + 1800000000 AS e FROM events),
       f AS (SELECT user_id, s, e,
                    CASE WHEN max(e) OVER (PARTITION BY user_id ORDER BY s ASC, e ASC
                                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                              IS NULL
                           OR s > max(e) OVER (PARTITION BY user_id ORDER BY s ASC, e ASC
                                               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                         THEN 1 ELSE 0 END AS ni
             FROM iv),
       isl AS (SELECT user_id, s, e,
                      sum(ni) OVER (PARTITION BY user_id ORDER BY s ASC, e ASC
                                    ROWS UNBOUNDED PRECEDING) AS island
               FROM f),
       g AS (SELECT user_id, island, max(e) - min(s) AS len
             FROM isl GROUP BY user_id, island)
       SELECT user_id, sum(len)::BIGINT AS covered, count(*)::BIGINT AS n_islands
       FROM g GROUP BY user_id""",
)
def _interval_coverage_users(spark, sf_dir):
    """Merged interval coverage (operators/intervals.py): per user,
    total active time under 30-minute event intervals with overlaps
    merged — islands begin where a start exceeds the running max of
    prior ends (gaps-and-islands, keyed by user)."""
    from redshells_spark.operators.intervals import merged_coverage

    ev = _t(spark, sf_dir, "events")
    us = event_us(ev, "ts")
    iv = ev.select("user_id", us.alias("s"), (us + F.lit(1_800_000_000)).alias("e"))
    return merged_coverage(iv, "s", "e", ["user_id"])


@q(
    "equi_depth_histogram",
    """WITH b AS (SELECT event_type, value,
                    ntile(8) OVER (PARTITION BY event_type
                                   ORDER BY value ASC, event_id ASC) AS bucket
             FROM events)
       SELECT event_type, bucket, count(*) AS n,
              round(min(value), 4) AS lo, round(max(value), 4) AS hi
       FROM b GROUP BY event_type, bucket""",
)
def _equi_depth_histogram(spark, sf_dir):
    """Equi-depth (equal-frequency) histogram per group via ntile —
    the summary statistics engines keep for selectivity estimation.
    event_id breaks value ties so bucket boundaries are deterministic.
    Partitioned by event_type: per-group ntile windows, no global
    sort."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy(
        F.col("value").asc(), F.col("event_id").asc()
    )
    return (
        ev.withColumn("bucket", F.ntile(8).over(w))
        .groupBy("event_type", "bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            _r4(F.min("value"), "lo"),
            _r4(F.max("value"), "hi"),
        )
    )


@q(
    "key_skew_profile",
    """SELECT user_id, count(*) AS rows,
              round(count(*) / (SELECT count(*)::DOUBLE FROM events), 6) AS share
       FROM events GROUP BY user_id
       ORDER BY rows DESC, user_id ASC LIMIT 10""",
)
def _key_skew_profile(spark, sf_dir):
    """Skew diagnostic (operators/skew.py:key_skew_profile): the
    top-10 heaviest keys and their row share — the number that decides
    whether a join/aggregate needs salting (share ≫ 1/partitions).
    One aggregate + TakeOrderedAndProject; the kind of probe a planner
    runs before choosing the salted path."""
    from redshells_spark.operators.skew import key_skew_profile

    ev = _t(spark, sf_dir, "events")
    return key_skew_profile(ev, "user_id", top_n=10)


@q(
    "k_anonymity_audit",
    """WITH c AS (SELECT c_nationkey, c_mktsegment, count(*) AS n_rows,
                         count(DISTINCT c_acctbal) AS n_sensitive
                  FROM customer GROUP BY 1, 2)
       SELECT count(*) AS n_classes,
              sum(CASE WHEN n_rows < 50 THEN 1 ELSE 0 END)::BIGINT AS k_violating_classes,
              sum(CASE WHEN n_rows < 50 THEN n_rows ELSE 0 END)::BIGINT AS rows_at_risk,
              round(sum(CASE WHEN n_rows < 50 THEN n_rows ELSE 0 END)
                    / sum(n_rows)::DOUBLE, 6) AS risk_share,
              sum(CASE WHEN n_sensitive < 2 THEN 1 ELSE 0 END)::BIGINT
                  AS l_violating_classes
       FROM c""",
)
def _k_anonymity_audit(spark, sf_dir):
    """Release-audit governance op (operators/privacy.py): equivalence
    classes over the quasi-identifiers (nation, market segment) with
    account balance as the sensitive attribute — k=50 anonymity and
    l=2 diversity in ONE groupBy + summary aggregate, map-side
    combined, no driver state."""
    from redshells_spark.operators.privacy import k_anonymity_audit

    cust = _t(spark, sf_dir, "customer")
    return k_anonymity_audit(
        cust, ["c_nationkey", "c_mktsegment"], k=50, sensitive_col="c_acctbal"
    )


# ---------------------------------------------------- Benford audit


_BENFORD_P_E6 = {d: int(round(_math.log10(1 + 1 / d) * 1_000_000)) for d in range(1, 10)}
_BENFORD_P = {d: _math.log10(1 + 1 / d) for d in range(1, 10)}


def _benford_oracle() -> str:
    p_rows = ", ".join(f"({d}, {_BENFORD_P_E6[d]}, {_BENFORD_P[d]!r})" for d in range(1, 10))
    return f"""WITH u AS (
         SELECT CAST(floor(o_totalprice * 100 + CAST(0.5 AS DOUBLE)) AS BIGINT) AS cents
         FROM orders),
       d AS (
         SELECT CAST(substr(CAST(cents AS VARCHAR), 1, 1) AS BIGINT) AS digit
         FROM u WHERE cents > 0),
       obs AS (SELECT digit, CAST(count(*) AS BIGINT) AS n_obs FROM d GROUP BY 1),
       n AS (SELECT CAST(sum(n_obs) AS BIGINT) AS n_total FROM obs),
       pb(digit, p_e6, p) AS (VALUES {p_rows}),
       terms AS (
         SELECT pb.digit, coalesce(obs.n_obs, 0) AS n_obs,
                CAST(pb.p_e6 AS BIGINT) AS p_benford_e6,
                CAST(floor(
                  (coalesce(obs.n_obs, 0) - n.n_total * CAST(pb.p AS DOUBLE))
                  * (coalesce(obs.n_obs, 0) - n.n_total * CAST(pb.p AS DOUBLE))
                  / (n.n_total * CAST(pb.p AS DOUBLE)) * 1000000 + CAST(0.5 AS DOUBLE))
                  AS BIGINT) AS chi2_term_e6
         FROM pb LEFT JOIN obs USING (digit), n)
       SELECT CAST(digit AS BIGINT) AS digit,
              CAST(n_obs AS BIGINT) AS n_obs, p_benford_e6, chi2_term_e6
       FROM terms
       UNION ALL
       SELECT CAST(0 AS BIGINT), CAST(sum(n_obs) AS BIGINT),
              CAST(1000000 AS BIGINT), CAST(sum(chi2_term_e6) AS BIGINT)
       FROM terms"""


@q("benford_digit_audit", _benford_oracle())
def _benford_digit_audit(spark, sf_dir):
    """Benford's-law first-digit audit over order totals — the classic
    fabricated-data / unit-mixing detector (Benford 1938; Nigrini's
    forensic-accounting standard). First digits come from the STRING
    of the exact cent units (no float log10 on data); expected
    proportions log10(1+1/d) are plan-time literals shared by both
    engines; each chi-square term is one fixed IEEE expression
    truncated to e6 int64 so the digit=0 TOTAL row's chi2 sum is exact
    integer addition. One map-combined count by digit — nothing else
    touches the fact table."""
    o = _t(spark, sf_dir, "orders")
    cents = o.select(money_units(F.col("o_totalprice"), 100).alias("cents")).filter(
        F.col("cents") > 0
    )
    obs = (
        cents.select(
            F.substring(F.col("cents").cast("string"), 1, 1).cast("long").alias("digit")
        )
        .groupBy("digit")
        .agg(F.count(F.lit(1)).cast("long").alias("n_obs"))
    )
    pb = spark.createDataFrame(
        [(d, _BENFORD_P_E6[d], _BENFORD_P[d]) for d in range(1, 10)],
        "digit long, p_e6 long, p double",
    )
    n = obs.agg(F.sum("n_obs").cast("long").alias("n_total"))
    # nz, not F.col("n_obs"), in the chi2 term: inside this select the
    # raw column is still the LEFT-join output — NULL for a digit with
    # zero observations — and a NULL there would both blank the term
    # and silently drop that digit's expected-count penalty from the
    # TOTAL row. The oracle coalesces; so must we.
    nz = F.coalesce(F.col("n_obs"), F.lit(0)).cast("long")
    terms = (
        pb.join(obs, "digit", "left")
        .crossJoin(F.broadcast(n))
        .select(
            "digit",
            nz.alias("n_obs"),
            F.col("p_e6").cast("long").alias("p_benford_e6"),
            F.floor(
                (nz * F.lit(1.0) - F.col("n_total") * F.col("p"))
                * (nz * F.lit(1.0) - F.col("n_total") * F.col("p"))
                / (F.col("n_total") * F.col("p"))
                * F.lit(1000000)
                + F.lit(0.5)
            )
            .cast("long")
            .alias("chi2_term_e6"),
        )
    )
    total = terms.agg(
        F.lit(0).cast("long").alias("digit"),
        F.sum("n_obs").cast("long").alias("n_obs"),
        F.lit(1000000).cast("long").alias("p_benford_e6"),
        F.sum("chi2_term_e6").cast("long").alias("chi2_term_e6"),
    )
    return terms.unionByName(total)


# ------------------------------------------------- l-diversity audit


@q(
    "l_diversity_audit",
    """WITH b AS (SELECT c_nationkey, c_mktsegment,
                CASE WHEN c_acctbal < 0 THEN 'neg'
                     WHEN c_acctbal < 5000 THEN 'mid'
                     ELSE 'high' END AS sens
              FROM customer),
       cls AS (SELECT c_nationkey, c_mktsegment, sens,
                      CAST(count(*) AS BIGINT) AS n_s
               FROM b GROUP BY 1, 2, 3),
       tot AS (SELECT c_nationkey, c_mktsegment,
                      CAST(sum(n_s) AS BIGINT) AS k,
                      CAST(count(*) AS BIGINT) AS l_distinct
               FROM cls GROUP BY 1, 2),
       tm AS (SELECT c.c_nationkey, c.c_mktsegment,
                CAST(floor(-(CAST(c.n_s AS DOUBLE) / CAST(t.k AS DOUBLE))
                           * ln(CAST(c.n_s AS DOUBLE) / CAST(t.k AS DOUBLE))
                           * CAST(1000000000 AS DOUBLE)
                           + CAST(0.5 AS DOUBLE)) AS BIGINT) AS term_e9
              FROM cls c JOIN tot t USING (c_nationkey, c_mktsegment)),
       ent AS (SELECT c_nationkey, c_mktsegment,
                      CAST(sum(term_e9) AS BIGINT) AS ent_e9
               FROM tm GROUP BY 1, 2)
       SELECT CAST(t.c_nationkey AS BIGINT) AS nationkey, t.c_mktsegment AS segment,
              t.k, t.l_distinct,
              round(exp(CAST(e.ent_e9 AS DOUBLE)
                        / CAST(1000000000 AS DOUBLE)), 4) AS entropy_l,
              CAST(t.k >= 5 AS BIGINT) AS meets_k5,
              CAST(t.l_distinct >= 2 AS BIGINT) AS meets_l2
       FROM tot t JOIN ent e USING (c_nationkey, c_mktsegment)""",
)
def _l_diversity_audit(spark, sf_dir):
    """l-diversity audit (Machanavajjhala et al. 2007) layered on the
    k-anonymity quasi-identifier groups (nation x market segment):
    per group, the distinct count and the ENTROPY l-diversity of the
    sensitive attribute (account-balance band) — entropy_l = exp(H)
    where each class term -(p)ln(p) is a single double over exact
    int64 class counts, e9-quantized before the per-group sum so H is
    partition-order-free. Flags carry the k>=5 / l>=2 release gates.
    Extends k_anonymity_audit; same relations, one extra level table."""
    cust = _t(spark, sf_dir, "customer")
    b = cust.select(
        "c_nationkey",
        "c_mktsegment",
        F.when(F.col("c_acctbal") < 0, "neg")
        .when(F.col("c_acctbal") < 5000, "mid")
        .otherwise("high")
        .alias("sens"),
    )
    cls = b.groupBy("c_nationkey", "c_mktsegment", "sens").agg(
        F.count(F.lit(1)).cast("long").alias("n_s")
    )
    tot = cls.groupBy("c_nationkey", "c_mktsegment").agg(
        F.sum("n_s").cast("long").alias("k"),
        F.count(F.lit(1)).cast("long").alias("l_distinct"),
    )
    p = F.col("n_s").cast("double") / F.col("k").cast("double")
    tm = cls.join(tot, ["c_nationkey", "c_mktsegment"]).select(
        "c_nationkey",
        "c_mktsegment",
        F.floor((-p) * F.log(p) * F.lit(1.0e9) + F.lit(0.5))
        .cast("long")
        .alias("term_e9"),
    )
    ent = tm.groupBy("c_nationkey", "c_mktsegment").agg(
        F.sum("term_e9").cast("long").alias("ent_e9")
    )
    return (
        tot.join(ent, ["c_nationkey", "c_mktsegment"])
        .select(
            F.col("c_nationkey").cast("long").alias("nationkey"),
            F.col("c_mktsegment").alias("segment"),
            "k",
            "l_distinct",
            F.round(F.exp(F.col("ent_e9").cast("double") / F.lit(1.0e9)), 4).alias(
                "entropy_l"
            ),
            (F.col("k") >= 5).cast("long").alias("meets_k5"),
            (F.col("l_distinct") >= 2).cast("long").alias("meets_l2"),
        )
    )


# --------------------------------------------------------- t-closeness


@q(
    "t_closeness_audit",
    """WITH b AS (
         SELECT c_nationkey, c_mktsegment,
                CAST(floor(c_acctbal * 100 + CAST(0.5 AS DOUBLE)) AS BIGINT)
                  AS cents
         FROM customer),
       mm AS (SELECT CAST(min(cents) AS BIGINT) AS mn,
                     CAST(max(cents) AS BIGINT) AS mx FROM b),
       pt AS (SELECT c_nationkey, c_mktsegment,
                     CAST((b.cents - mm.mn) * 10 // (mm.mx - mm.mn + 1)
                          AS BIGINT) AS bucket
              FROM b CROSS JOIN mm),
       g AS (SELECT bucket, CAST(count(*) AS BIGINT) AS cg
             FROM pt GROUP BY 1),
       gc AS (SELECT bucket,
                     CAST(sum(cg) OVER (ORDER BY bucket ASC
                       ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cumg
              FROM g),
       n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM pt),
       cls AS (SELECT c_nationkey, c_mktsegment,
                      CAST(count(*) AS BIGINT) AS nc
               FROM pt GROUP BY 1, 2),
       cb AS (SELECT c_nationkey, c_mktsegment, bucket,
                     CAST(count(*) AS BIGINT) AS cc
              FROM pt GROUP BY 1, 2, 3),
       grid AS (SELECT cls.c_nationkey, cls.c_mktsegment, cls.nc,
                       g.bucket, CAST(coalesce(cb.cc, 0) AS BIGINT) AS cc
                FROM cls CROSS JOIN g
                LEFT JOIN cb ON cb.c_nationkey = cls.c_nationkey
                            AND cb.c_mktsegment = cls.c_mktsegment
                            AND cb.bucket = g.bucket),
       cum AS (SELECT c_nationkey, c_mktsegment, nc, bucket,
                      CAST(sum(cc) OVER (
                        PARTITION BY c_nationkey, c_mktsegment
                        ORDER BY bucket ASC ROWS UNBOUNDED PRECEDING)
                        AS BIGINT) AS cumc
               FROM grid),
       dm AS (SELECT c.c_nationkey, c.c_mktsegment, c.nc,
                     CAST(sum(abs(c.cumc * n.n - gc.cumg * c.nc)) AS BIGINT)
                       AS num
              FROM cum c JOIN gc USING (bucket) CROSS JOIN n
              GROUP BY 1, 2, 3)
       SELECT CAST(dm.c_nationkey AS BIGINT) AS nationkey,
              dm.c_mktsegment AS segment, dm.nc,
              CAST(dm.num * 1000000 // (dm.nc * n.n * 9) AS BIGINT) AS t_e6,
              CAST(CASE WHEN dm.num * 1000000 // (dm.nc * n.n * 9) > 200000
                        THEN 1 ELSE 0 END AS BIGINT) AS breach_02
       FROM dm CROSS JOIN n""",
)
def _t_closeness_audit(spark, sf_dir):
    """t-closeness privacy audit (Li et al. 2007) completing the
    k-anonymity / l-diversity release-gate family on the same
    quasi-identifier classes (nation x market segment): per class, the
    ordered earth-mover distance between the class's account-balance
    decile distribution and the global one, normalized by B-1=9. The
    EMD numerator sum|cumc*n - cumg*nc| is exact int64 over a complete
    class x 10-decile grid (class cumsums partitioned by class; the
    global decile cumsum is a 10-row level table); t is an exact e6
    integer division. Classes are domain-bounded (<=125), so the
    output and every window stay fixed-size at any corpus scale."""
    cust = _t(spark, sf_dir, "customer")
    b = cust.select(
        "c_nationkey",
        "c_mktsegment",
        F.floor(F.col("c_acctbal") * 100 + F.lit(0.5)).cast("long").alias("cents"),
    )
    mm = b.agg(
        F.min("cents").cast("long").alias("mn"),
        F.max("cents").cast("long").alias("mx"),
    )
    pt = b.crossJoin(F.broadcast(mm)).select(
        "c_nationkey",
        "c_mktsegment",
        F.expr("cast((cents - mn) * 10 div (mx - mn + 1) as long)").alias("bucket"),
    )
    # ONE fact aggregation: the class x bucket contingency is
    # domain-bounded (<=125 classes x 10 deciles) and the global decile
    # counts, the total, and the class sizes all derive from it —
    # unpinned, g/n/cls/cb each re-ran the customer scan + min-max
    # probe (12 scans at the r8 audit)
    cb = (
        pt.groupBy("c_nationkey", "c_mktsegment", "bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("cc"))
        .localCheckpoint(eager=True)
    )
    g = cb.groupBy("bucket").agg(F.sum("cc").cast("long").alias("cg"))
    wg = Window.orderBy(F.col("bucket").asc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    gc = g.select(
        "bucket", F.sum("cg").over(wg).cast("long").alias("cumg")
    )
    n = cb.agg(F.sum("cc").cast("long").alias("n"))
    cls = cb.groupBy("c_nationkey", "c_mktsegment").agg(
        F.sum("cc").cast("long").alias("nc")
    )
    grid = (
        cls.crossJoin(F.broadcast(g.select("bucket")))
        .join(cb, ["c_nationkey", "c_mktsegment", "bucket"], "left")
        .select(
            "c_nationkey",
            "c_mktsegment",
            "nc",
            "bucket",
            F.coalesce(F.col("cc"), F.lit(0)).cast("long").alias("cc"),
        )
    )
    wc = Window.partitionBy("c_nationkey", "c_mktsegment").orderBy(
        F.col("bucket").asc()
    ).rowsBetween(Window.unboundedPreceding, 0)
    cum = grid.select(
        "c_nationkey",
        "c_mktsegment",
        "nc",
        "bucket",
        F.sum("cc").over(wc).cast("long").alias("cumc"),
    )
    dm = (
        cum.join(F.broadcast(gc), "bucket")
        .crossJoin(F.broadcast(n))
        .groupBy("c_nationkey", "c_mktsegment", "nc")
        .agg(
            F.sum(
                F.abs(F.col("cumc") * F.col("n") - F.col("cumg") * F.col("nc"))
            )
            .cast("long")
            .alias("num")
        )
    )
    t_e6 = F.expr("cast(num * 1000000 div (nc * n * 9) as long)")
    return dm.crossJoin(F.broadcast(n)).select(
        F.col("c_nationkey").cast("long").alias("nationkey"),
        F.col("c_mktsegment").alias("segment"),
        "nc",
        t_e6.alias("t_e6"),
        (t_e6 > F.lit(200000)).cast("long").alias("breach_02"),
    )


# ---------------------------------------------- zone-map pruning


@q(
    "zonemap_prune_report",
    """WITH o AS (SELECT o_orderkey AS k,
                CAST(epoch_us(o_orderdate) // 86400000000 AS BIGINT) AS day
         FROM orders),
       bb AS (SELECT CAST(min(k) AS BIGINT) AS mnk, CAST(max(k) AS BIGINT) AS mxk,
                     CAST(min(day) AS BIGINT) AS mnd,
                     CAST(max(day) AS BIGINT) AS mxd
              FROM o),
       pt AS (SELECT 'key_clustered' AS layout,
                     CAST((o.k - bb.mnk) * 64 // (bb.mxk - bb.mnk + 1)
                          AS BIGINT) AS chunk, o.day
              FROM o CROSS JOIN bb
              UNION ALL
              SELECT 'date_clustered',
                     CAST((o.day - bb.mnd) * 64 // (bb.mxd - bb.mnd + 1)
                          AS BIGINT), o.day
              FROM o CROSS JOIN bb),
       ch AS (SELECT layout, chunk, CAST(min(day) AS BIGINT) AS mn_d,
                     CAST(max(day) AS BIGINT) AS mx_d
              FROM pt GROUP BY 1, 2),
       preds AS (SELECT r.m,
                        CAST(bb.mnd + (bb.mxd - bb.mnd + 1) * r.m // 12
                             AS BIGINT) AS lo,
                        CAST(bb.mnd + (bb.mxd - bb.mnd + 1) * (r.m + 1) // 12
                             - 1 AS BIGINT) AS hi
                 FROM range(0, 12) r(m) CROSS JOIN bb),
       scan AS (SELECT ch.layout, preds.m,
                       CAST(sum(CASE WHEN ch.mx_d < preds.lo
                                       OR ch.mn_d > preds.hi
                                     THEN 0 ELSE 1 END) AS BIGINT) AS scanned
                FROM ch CROSS JOIN preds GROUP BY 1, 2),
       nc AS (SELECT layout, CAST(count(*) AS BIGINT) AS n_chunks
              FROM ch GROUP BY 1)
       SELECT nc.layout, nc.n_chunks,
              CAST(sum(scan.scanned) AS BIGINT) AS chunks_scanned_12preds,
              CAST(sum(scan.scanned) * 1000000 // (12 * nc.n_chunks)
                   AS BIGINT) AS avg_scan_fraction_e6
       FROM scan JOIN nc USING (layout)
       GROUP BY 1, 2 ORDER BY nc.layout""",
)
def _zonemap_prune_report(spark, sf_dir):
    """Zone-map (min/max data-skipping) effectiveness report — the
    data-layout decision every lakehouse makes: split orders into 64
    fixed chunks under two layouts (key-clustered vs date-clustered),
    record each chunk's orderdate min/max zone map, and measure what
    fraction of chunks 12 equal-width date-range predicates must scan.
    Date-clustered layouts prune to ~1/12; key-clustered zone maps
    span everything and prune nothing — the quantitative argument for
    sort/z-order before write (compaction_plan / zorder_events'
    companion readout). All chunk ids, zone bounds, and fractions are
    exact integer arithmetic; relations are 64 chunks x 12 predicates."""
    o0 = _t(spark, sf_dir, "orders")
    o = o0.select(
        F.col("o_orderkey").alias("k"),
        event_us(o0, "o_orderdate").alias("us"),
    ).select("k", F.expr(f"cast(us div {_DAY_US} as long)").alias("day"))
    bb = o.agg(
        F.min("k").cast("long").alias("mnk"),
        F.max("k").cast("long").alias("mxk"),
        F.min("day").cast("long").alias("mnd"),
        F.max("day").cast("long").alias("mxd"),
    ).localCheckpoint(eager=True)  # 1 row; three consumers (both
    # layout projections + the predicate grid) re-ran the orders scan
    ob = o.crossJoin(F.broadcast(bb))
    # both layouts in ONE orders pass: each row emits its two
    # (layout, chunk) assignments via explode instead of a union of
    # two scans (values identical to the unionAll form)
    pt = ob.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("key_clustered").alias("layout"),
                    F.expr(
                        "cast((k - mnk) * 64 div (mxk - mnk + 1) as long)"
                    ).alias("chunk"),
                ),
                F.struct(
                    F.lit("date_clustered").alias("layout"),
                    F.expr(
                        "cast((day - mnd) * 64 div (mxd - mnd + 1) as long)"
                    ).alias("chunk"),
                ),
            )
        ).alias("s"),
        "day",
    ).select(F.col("s.layout").alias("layout"), F.col("s.chunk").alias("chunk"), "day")
    ch = (
        pt.groupBy("layout", "chunk")
        .agg(
            F.min("day").cast("long").alias("mn_d"),
            F.max("day").cast("long").alias("mx_d"),
        )
        # 2 x 64 zone-map rows; the predicate scan and the chunk count
        # both consume it
        .localCheckpoint(eager=True)
    )
    preds = (
        spark.range(12)
        .select(F.col("id").cast("long").alias("m"))
        .crossJoin(F.broadcast(bb))
        .select(
            "m",
            F.expr("cast(mnd + (mxd - mnd + 1) * m div 12 as long)").alias("lo"),
            F.expr(
                "cast(mnd + (mxd - mnd + 1) * (m + 1) div 12 - 1 as long)"
            ).alias("hi"),
        )
    )
    scan = (
        ch.crossJoin(F.broadcast(preds))
        .groupBy("layout", "m")
        .agg(
            F.sum(
                F.when(
                    (F.col("mx_d") < F.col("lo")) | (F.col("mn_d") > F.col("hi")),
                    F.lit(0),
                ).otherwise(F.lit(1))
            )
            .cast("long")
            .alias("scanned")
        )
    )
    nc = ch.groupBy("layout").agg(F.count(F.lit(1)).cast("long").alias("n_chunks"))
    return (
        scan.join(nc, "layout")
        .groupBy("layout", "n_chunks")
        .agg(F.sum("scanned").cast("long").alias("chunks_scanned_12preds"))
        .select(
            "layout",
            "n_chunks",
            "chunks_scanned_12preds",
            F.expr(
                "cast(chunks_scanned_12preds * 1000000 div (12 * n_chunks)"
                " as long)"
            ).alias("avg_scan_fraction_e6"),
        )
        .orderBy("layout")
    )
