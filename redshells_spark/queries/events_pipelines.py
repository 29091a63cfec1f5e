"""Events/SQL shapes and reference app pipelines (click train data,
similarity data, word-item retrieval).
"""

from redshells_spark.queries._shared import *  # noqa: F401,F403

# ------------------------------------------------------------ events / SQL

@q(
    "events_rollup",
    f"""SELECT user_id,
         CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n_click,
         CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS n_view,
         CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase,
         {_MONEY_SUM('value')} AS sum_value
       FROM events GROUP BY user_id""",
)
def _events_rollup(spark, sf_dir):
    # sum_value is an order-free exact cent sum (functions/exact.py) —
    # round(sum(double),4) can flip a boundary when partition order
    # changes (the market_share_asia scale-bug class)
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("user_id").agg(
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0)).alias("n_click"),
        F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0)).alias("n_view"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias("n_purchase"),
        exact_money_sum(F.col("value")).alias("sum_value"),
    )


@q(
    "events_json_extract",
    """SELECT event_type, round(avg(CAST(json_extract_string(props, '$.k') AS BIGINT)), 4) AS avg_k
       FROM events GROUP BY event_type""",
)
def _events_json_extract(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        _r4(F.avg(F.get_json_object("props", "$.k").cast("long")), "avg_k")
    )


@q(
    "windowed_event_counts",
    f"""SELECT CAST(floor(epoch(date_trunc('hour', ts))) AS BIGINT) AS window_start,
              event_type, count(*) AS n_events, {_MONEY_SUM('value')} AS sum_value
       FROM events GROUP BY 1, 2""",
)
def _windowed_event_counts(spark, sf_dir):
    # batch evaluation of the streaming operator (Structured Streaming
    # parity: same expression runs under readStream with a watermark)
    from redshells_spark.streaming.events import windowed_event_counts

    out = windowed_event_counts(_t(spark, sf_dir, "events"), "1 hour")
    return out.select(
        F.col("window_start").cast("long").alias("window_start"),
        "event_type",
        "n_events",
        "sum_value",
    )


@q(
    "sessionize",
    f"""WITH d AS (
         SELECT user_id, ts, value,
                CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts ASC) IS NULL
                       OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts ASC) >= INTERVAL 30 MINUTE
                     THEN 1 ELSE 0 END AS new_s
         FROM events),
       s AS (
         SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts ASC
                                    ROWS UNBOUNDED PRECEDING) AS sid
         FROM d)
       SELECT user_id,
              CAST(floor(epoch(min(ts))) AS BIGINT) AS session_start,
              count(*) AS n_events, {_MONEY_SUM('value')} AS sum_value
       FROM s GROUP BY user_id, sid""",
)
def _sessionize(spark, sf_dir):
    from redshells_spark.streaming.events import sessionize

    out = sessionize(_t(spark, sf_dir, "events"), gap="30 minutes")
    return out.select(
        "user_id",
        F.col("session_start").cast("long").alias("session_start"),
        "n_events",
        "sum_value",
    )


@q(
    "event_time_gaps",
    """WITH g AS (
         SELECT user_id,
                epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS gap_us
         FROM events)
       SELECT user_id, count(*) AS n_gaps,
              round(avg(gap_us / 1000000.0), 4) AS avg_gap_s,
              CAST(max(gap_us) AS BIGINT) AS max_gap_us
       FROM g WHERE gap_us IS NOT NULL GROUP BY user_id""",
)
def _event_time_gaps(spark, sf_dir):
    # window-function showcase: per-user inter-event gap stats via lag;
    # event_us dispatches on the actual ts dtype (long-nanos vs NTZ)
    ev = _t(spark, sf_dir, "events")
    ev = ev.withColumn("__us", event_us(ev, "ts"))
    w = Window.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    gaps = ev.withColumn("gap_us", F.col("__us") - F.lag("__us").over(w)).filter(
        F.col("gap_us").isNotNull()
    )
    return gaps.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_gaps"),
        _r4(F.avg(F.col("gap_us") / 1000000.0), "avg_gap_s"),
        F.max("gap_us").cast("long").alias("max_gap_us"),
    )


@q(
    "monthly_order_rollup",
    f"""SELECT CAST(floor(epoch(date_trunc('month', o_orderdate))) AS BIGINT) AS month_start,
              o_orderstatus, count(*) AS n_orders,
              {_MONEY_SUM('o_totalprice')} AS total,
              CAST((2 * sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) * 100 + count(*))
                       // (2 * count(*)) AS BIGINT) AS avg_price_e4
       FROM orders GROUP BY 1, 2""",
)
def _monthly_order_rollup(spark, sf_dir):
    # date/time functions (absent in reference — SURVEY §2.G — covered
    # by Spark builtins for the driver's timestamped tables). The mean
    # exports as the exact integer (2·100·Σcents + n) div 2n: averages
    # of 2-decimal prices land EXACTLY on .xxxx5 boundaries (e.g.
    # x.51/8), where Spark's BigDecimal HALF_UP and DuckDB's
    # multiply-then-round disagree — surfaced by the sf0.001 sweep.
    o = _t(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100, 0).cast("long")
    return (
        o.withColumn(
            "month_start",
            F.date_trunc("month", event_ts(o, "o_orderdate")).cast("long"),
        )
        .withColumn("__c", cents)
        .groupBy("month_start", "o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            exact_money_sum(F.col("o_totalprice")).alias("total"),
            F.expr("(2 * sum(__c) * 100 + count(*)) div (2 * count(*))").alias(
                "avg_price_e4"
            ),
        )
    )


# exact integer co-moments over cent units (see functions/exact.py):
# engine-internal corr/covar stream partials in engine order, so the
# rounded 4th decimal flipped on a half boundary (round-8 sample).
# n1/dx/dy/nd are scale-invariant co-moments; the covar ratios divide
# out exactly (cents² → e4 dollars²), the corr sqrt goes through the
# bit-stable split cast. Values equal the old round(corr/covar, 4)
# except at the half boundaries both engines previously disagreed on.
_CORR_MOMENTS = (
    "(n * sxy - sx * sy)",  # n1: n·Σxy − ΣxΣy (qty, price)
    "(n * sxx - sx * sx)",  # dx
    "(n * syy - sy * sy)",  # dy
    "(n * sdt - sd * st)",  # nd: (discount, tax)
)


def _correlation_stats_select(div_op: str) -> list[str]:
    n1, dx, dy, nd = _CORR_MOMENTS
    return [
        f"{corr_e4_sql(n1, dx, dy, div_op)} AS corr_qty_price",
        f"{covar_e4_sql(n1, '(n * n)', div_op)} AS covar_qty_price",
        f"{covar_e4_sql(nd, '(n * (n - 1))', div_op)} AS covar_disc_tax",
    ]


@q(
    "correlation_stats",
    f"""WITH u AS (
         SELECT CAST(floor(l_quantity * 100 + CAST(0.5 AS DOUBLE)) AS BIGINT) AS x,
                CAST(floor(l_extendedprice * 100 + CAST(0.5 AS DOUBLE)) AS BIGINT) AS y,
                CAST(floor(l_discount * 100 + CAST(0.5 AS DOUBLE)) AS BIGINT) AS d,
                CAST(floor(l_tax * 100 + CAST(0.5 AS DOUBLE)) AS BIGINT) AS t
         FROM lineitem),
       m AS (
         SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy, sum(x * y) AS sxy,
                sum(x * x) AS sxx, sum(y * y) AS syy,
                sum(d) AS sd, sum(t) AS st, sum(d * t) AS sdt
         FROM u)
       SELECT {", ".join(_correlation_stats_select("//"))}
       FROM m""",
)
def _correlation_stats(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    u = li.select(
        money_units(F.col("l_quantity")).alias("x"),
        money_units(F.col("l_extendedprice")).alias("y"),
        money_units(F.col("l_discount")).alias("d"),
        money_units(F.col("l_tax")).alias("t"),
    )
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731 — Σy² ≈ 6e19 > int64
    m = u.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(dec(F.col("x"))).alias("sx"),
        F.sum(dec(F.col("y"))).alias("sy"),
        F.sum(dec(F.col("x") * F.col("y"))).alias("sxy"),
        F.sum(dec(F.col("x") * F.col("x"))).alias("sxx"),
        F.sum(dec(F.col("y") * F.col("y"))).alias("syy"),
        F.sum(dec(F.col("d"))).alias("sd"),
        F.sum(dec(F.col("t"))).alias("st"),
        F.sum(dec(F.col("d") * F.col("t"))).alias("sdt"),
    )
    return m.selectExpr(*_correlation_stats_select("div"))


@q(
    "string_functions",
    """SELECT p_partkey, upper(p_brand) AS brand_upper,
              length(p_name) AS name_len,
              substr(p_type, 1, 5) AS type_prefix,
              levenshtein(p_brand, 'Brand#00') AS brand_dist,
              regexp_extract(p_type, '([A-Z]+)', 1) AS first_word
       FROM part""",
)
def _string_functions(spark, sf_dir):
    p = _t(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.upper("p_brand").alias("brand_upper"),
        F.length("p_name").cast("long").alias("name_len"),
        F.substring("p_type", 1, 5).alias("type_prefix"),
        F.levenshtein("p_brand", F.lit("Brand#00")).cast("long").alias("brand_dist"),
        F.regexp_extract("p_type", "([A-Z]+)", 1).alias("first_word"),
    )


@q(
    "quantity_histogram",
    """SELECT CAST(floor(l_quantity / 5.0) AS BIGINT) AS bucket,
              count(*) AS n, round(avg(l_extendedprice), 4) AS avg_price
       FROM lineitem GROUP BY 1""",
)
def _quantity_histogram(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.withColumn("bucket", F.floor(F.col("l_quantity") / 5.0).cast("long"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n"), _r4(F.avg("l_extendedprice"), "avg_price"))
    )


@q(
    "pricing_summary",  # TPC-H Q1-shaped flagship aggregate
    f"""SELECT l_returnflag, l_linestatus,
         round(sum(l_quantity), 4) AS sum_qty,
         {_MONEY_SUM('l_extendedprice')} AS sum_base_price,
         {_REV_SUM('l_extendedprice', 'l_discount')} AS sum_disc_price,
         {_AVG_E4('sum(CAST(l_quantity AS BIGINT))', 1)} AS avg_qty,
         {_AVG_E4("sum(CAST(floor(l_discount * 100 + CAST(0.5 AS DOUBLE)) AS BIGINT))", 100)} AS avg_disc,
         count(*) AS count_order
       FROM lineitem GROUP BY l_returnflag, l_linestatus""",
)
def _pricing_summary(spark, sf_dir):
    # money sums are exact integer cents / e-4 units (functions/
    # exact.py) and the averages exact integer half-up ratios — a
    # float sum + round() flips boundaries when partition order
    # changes at scale (the market_share_asia class); sum_qty stays a
    # plain double sum because integer-valued doubles add exactly.
    li = _t(spark, sf_dir, "lineitem").withColumn(
        "__dc", money_units(F.col("l_discount"))
    )
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        _r4(F.sum("l_quantity"), "sum_qty"),
        exact_money_sum(F.col("l_extendedprice")).alias("sum_base_price"),
        exact_revenue_sum(F.col("l_extendedprice"), F.col("l_discount")).alias("sum_disc_price"),
        F.expr(
            "(2 * sum(cast(l_quantity as bigint)) * 10000 + count(*)) div (2 * count(*))"
        ).alias("__aq"),
        F.expr("(2 * sum(__dc) * 100 + count(*)) div (2 * count(*))").alias("__ad"),
        F.count(F.lit(1)).alias("count_order"),
    ).select(
        "l_returnflag",
        "l_linestatus",
        "sum_qty",
        "sum_base_price",
        "sum_disc_price",
        (F.col("__aq").cast("double") / 10000).alias("avg_qty"),
        (F.col("__ad").cast("double") / 10000).alias("avg_disc"),
        "count_order",
    )


@q(
    "top_revenue_orders",  # TPC-H Q3-shaped join query
    f"""SELECT o.o_orderkey, c.c_mktsegment,
              {_REV_SUM('l.l_extendedprice', 'l.l_discount')} AS revenue
       FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
       JOIN lineitem l ON l.l_orderkey = o.o_orderkey
       WHERE c.c_mktsegment = 'BUILDING'
       GROUP BY o.o_orderkey, c.c_mktsegment
       ORDER BY revenue DESC, o.o_orderkey ASC LIMIT 10""",
)
def _top_revenue_orders(spark, sf_dir):
    c = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    return (
        F.broadcast(c)
        .join(o, c.c_custkey == o.o_custkey)
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_orderkey", "c_mktsegment")
        .agg(
            exact_revenue_sum(
                F.col("l_extendedprice"), F.col("l_discount")
            ).alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), F.col("o_orderkey").asc())
        .limit(10)
    )


@q(
    "word_item_retrieval",
    f"""WITH w2i AS (
         SELECT DISTINCT token AS word, doc_id AS item_id
         FROM (SELECT doc_id, unnest(list_filter(string_split(lower(text), ' '), t -> t <> '')) AS token
               FROM documents)
         WHERE token IN {str(KEYWORDS)}),
       ex AS (
         SELECT w.word, generate_subscripts(e.embedding, 1) AS dim,
                unnest(e.embedding::DOUBLE[]) AS x
         FROM w2i w JOIN embeddings e ON e.vec_id = w.item_id),
       s AS (SELECT word, dim, sum(x) AS s FROM ex GROUP BY word, dim),
       wemb AS (
         SELECT word, dim,
                s / greatest(sqrt(sum(s * s) OVER (PARTITION BY word)), 1e-12) AS e
         FROM s),
       scores AS (
         SELECT w.word, c.vec_id, sum(w.e * cx.x) AS score
         FROM wemb w
         CROSS JOIN embeddings c
         JOIN (SELECT vec_id, generate_subscripts(embedding, 1) AS dim,
                      unnest(embedding::DOUBLE[]) AS x FROM embeddings) cx
           ON cx.vec_id = c.vec_id AND cx.dim = w.dim
         GROUP BY w.word, c.vec_id),
       ranked AS (
         SELECT word, vec_id AS item_id, score,
                row_number() OVER (PARTITION BY word ORDER BY score DESC, vec_id ASC) AS rn
         FROM scores)
       SELECT word, item_id, round(score, 4) AS similarity
       FROM ranked WHERE rn <= 10""",
)
def _word_item_retrieval(spark, sf_dir):
    """Flagship end-to-end retrieval, fully oracle-verified:
    keyword→doc groups → word embedding = L2(Σ doc embeddings) →
    dot-product retrieval top-10 per word (the reference's
    word_item_similarity dataflow on the driver testdata)."""
    from redshells_spark.pipelines.word_item_similarity import calculate_word_embedding

    keywords = spark.createDataFrame([(k,) for k in KEYWORDS], "keyword string")
    w2i = keyword_match_join(_tokens(spark, sf_dir), keywords, "doc_id", "tokens").select(
        F.col("keyword").alias("word"), F.col("doc_id").alias("item_id")
    )
    emb = _t(spark, sf_dir, "embeddings")
    wemb = calculate_word_embedding(w2i, emb, item_column="item_id")
    a = wemb.select("word", F.col("embedding").alias("__we"))
    b = emb.select(F.col("vec_id").alias("item_id"), F.col("embedding").alias("__ce"))
    scored = b.crossJoin(F.broadcast(a)).select(
        "word", "item_id", dot_product("__we", "__ce").alias("score")
    )
    top = per_group_topk(scored, "word", "score", 10, tie_break=["item_id"])
    return top.select("word", "item_id", _r4(F.col("score"), "similarity"))


# --------------------------------------------- pair generation / pipelines

@q(
    "random_pair_within_group",
    """WITH w2i AS (
         SELECT DISTINCT token AS word, doc_id AS item_id
         FROM (SELECT doc_id, unnest(list_filter(string_split(lower(text), ' '), t -> t <> '')) AS token
               FROM documents)
         WHERE token IN ('spark', 'join', 'window')),
       a AS (SELECT word, item_id AS item_id_0,
                    row_number() OVER (PARTITION BY word ORDER BY item_id ASC) AS r
             FROM w2i),
       b AS (SELECT word, item_id AS item_id_1,
                    row_number() OVER (PARTITION BY word ORDER BY md5(CAST(item_id AS VARCHAR) || '42') ASC) AS r
             FROM w2i)
       SELECT a.word, a.item_id_0, b.item_id_1
       FROM a JOIN b ON a.word = b.word AND a.r = b.r
       WHERE a.item_id_0 <> b.item_id_1""",
)
def _random_pair_within_group(spark, sf_dir):
    # word→items from keyword matching; seeded md5 permutation pairing
    # is portable, so even the "random" pairing is oracle-checked
    from redshells_spark.pipelines.similarity_data import random_pair_within_group

    keywords = spark.createDataFrame([(k,) for k in ("spark", "join", "window")], "keyword string")
    w2i = keyword_match_join(_tokens(spark, sf_dir), keywords, "doc_id", "tokens").select(
        F.col("keyword").alias("word"), F.col("doc_id").alias("item_id")
    )
    return random_pair_within_group(w2i, seed=42)


@q(
    "cross_group_negative_pairs",
    """WITH w2i AS (
         SELECT DISTINCT token AS word, doc_id AS item_id
         FROM (SELECT doc_id, unnest(list_filter(string_split(lower(text), ' '), t -> t <> '')) AS token
               FROM documents)
         WHERE token IN ('spark', 'join', 'window')),
       items AS (
         SELECT item_id AS item_id_1,
                row_number() OVER (ORDER BY md5(CAST(item_id AS VARCHAR) || '42') ASC) - 1 AS gr
         FROM (SELECT DISTINCT item_id FROM w2i)),
       grp AS (
         SELECT word, item_id AS item_id_0,
                (row_number() OVER (PARTITION BY word ORDER BY item_id ASC) * 2654435761 + 42)
                  % (SELECT count(*) FROM items) AS gr
         FROM w2i),
       paired AS (
         SELECT g.word, g.item_id_0, i.item_id_1
         FROM grp g JOIN items i ON i.gr = g.gr)
       SELECT p.word, p.item_id_0, p.item_id_1
       FROM paired p
       ANTI JOIN w2i w ON w.word = p.word AND w.item_id = p.item_id_1""",
)
def _cross_group_negative_pairs(spark, sf_dir):
    # the "random outside-group item" pairing is md5/arithmetic-hash
    # driven → fully oracle-checkable (reference make_similarity_data
    # negatives, :57-66)
    from redshells_spark.pipelines.similarity_data import cross_group_negative_pairs

    keywords = spark.createDataFrame([(k,) for k in ("spark", "join", "window")], "keyword string")
    w2i = keyword_match_join(_tokens(spark, sf_dir), keywords, "doc_id", "tokens").select(
        F.col("keyword").alias("word"), F.col("doc_id").alias("item_id")
    )
    return cross_group_negative_pairs(w2i, seed=42)


@q(
    "make_click_train_data",
    """WITH pairs AS (
         SELECT DISTINCT l_suppkey AS user_id, l_partkey AS item_id FROM lineitem),
       nu AS (SELECT count(DISTINCT user_id) AS c FROM pairs),
       if1 AS (
         SELECT * FROM pairs WHERE item_id IN (
           SELECT item_id FROM pairs GROUP BY item_id
           HAVING count(*) >= 2 AND count(*) <= (SELECT c FROM nu))),
       uf AS (
         SELECT * FROM if1 WHERE user_id IN (
           SELECT user_id FROM if1 GROUP BY user_id HAVING count(*) >= 5)),
       users AS (
         SELECT user_id, row_number() OVER (ORDER BY user_id ASC) - 1 AS uidx
         FROM (SELECT DISTINCT user_id FROM uf)),
       items AS (
         SELECT item_id, row_number() OVER (ORDER BY item_id ASC) - 1 AS iidx
         FROM (SELECT DISTINCT item_id FROM uf)),
       ks AS (
         -- k = 0..3·n_pos−1 derived from the data itself — a literal
         -- series cap silently undersamples once 3·n_pos crosses it
         -- (the factor-10 differential caught exactly this here in r5,
         -- as it did for anti_join_negative_sampling in r4): 3 rows
         -- per filtered positive, ranked over uf ALONE
         SELECT 3 * p.rn + t.j AS k
         FROM (SELECT row_number() OVER (ORDER BY user_id ASC, item_id ASC) - 1
                 AS rn FROM uf) p,
              (VALUES (0), (1), (2)) t(j)),
       cand AS (
         SELECT DISTINCT
           (k * 2654435761 + 42) % 4294967296 % (SELECT count(*) FROM users) AS uidx,
           (k * 2246822519 + 42) % 4294967296 % (SELECT count(*) FROM items) AS iidx
         FROM ks),
       mapped AS (
         SELECT u.user_id, i.item_id
         FROM cand c JOIN users u ON u.uidx = c.uidx JOIN items i ON i.iidx = c.iidx),
       neg AS (
         SELECT m.user_id, m.item_id FROM mapped m
         ANTI JOIN uf p ON p.user_id = m.user_id AND p.item_id = m.item_id),
       capped AS (
         SELECT user_id, item_id FROM (
           SELECT user_id, item_id,
                  row_number() OVER (
                    ORDER BY md5(CAST(user_id AS VARCHAR) || '|' || CAST(item_id AS VARCHAR) || '42') ASC
                  ) AS rn
           FROM neg)
         WHERE rn <= (SELECT count(*) FROM uf))
       SELECT user_id, item_id, 1 AS click FROM uf
       UNION ALL
       SELECT user_id, item_id, 0 AS click FROM capped""",
)
def _make_click_train_data(spark, sf_dir):
    # the complete §2.I composite — dedup, count filters, labeling,
    # portable negative sampling, union — value-verified end to end
    from redshells_spark.pipelines.click_train_data import make_click_train_data

    li = _t(spark, sf_dir, "lineitem")
    clicks = li.select(
        F.col("l_suppkey").alias("user_id"), F.col("l_partkey").alias("item_id")
    )
    return make_click_train_data(
        clicks, service_column=None, min_user_count=5, min_item_count=2,
        max_item_frequency=1.0,
    )


@q(
    "make_similarity_data",
    """WITH w2i AS (
         SELECT DISTINCT token AS word, doc_id AS item_id
         FROM (SELECT doc_id, unnest(list_filter(string_split(lower(text), ' '), t -> t <> '')) AS token
               FROM documents)
         WHERE token IN ('spark', 'join', 'window')),
       a AS (SELECT word, item_id AS item_id_0,
                    row_number() OVER (PARTITION BY word ORDER BY item_id ASC) AS r
             FROM w2i),
       b AS (SELECT word, item_id AS item_id_1,
                    row_number() OVER (PARTITION BY word ORDER BY md5(CAST(item_id AS VARCHAR) || '42') ASC) AS r
             FROM w2i),
       pos AS (
         SELECT a.item_id_0, b.item_id_1, 1 AS similarity
         FROM a JOIN b ON a.word = b.word AND a.r = b.r
         WHERE a.item_id_0 <> b.item_id_1),
       items AS (
         SELECT item_id AS item_id_1,
                row_number() OVER (ORDER BY md5(CAST(item_id AS VARCHAR) || '42') ASC) - 1 AS gr
         FROM (SELECT DISTINCT item_id FROM w2i)),
       grp AS (
         SELECT word, item_id AS item_id_0,
                (row_number() OVER (PARTITION BY word ORDER BY item_id ASC) * 2654435761 + 42)
                  % (SELECT count(*) FROM items) AS gr
         FROM w2i),
       neg AS (
         SELECT p.item_id_0, p.item_id_1, 0 AS similarity
         FROM (SELECT g.word, g.item_id_0, i.item_id_1
               FROM grp g JOIN items i ON i.gr = g.gr) p
         ANTI JOIN w2i w ON w.word = p.word AND w.item_id = p.item_id_1)
       SELECT item_id_0, item_id_1, max(similarity) AS similarity
       FROM (SELECT * FROM pos UNION ALL SELECT * FROM neg)
       GROUP BY item_id_0, item_id_1""",
)
def _make_similarity_data(spark, sf_dir):
    # positives (seeded permutation pairing) + negatives (hash-mapped
    # outside-group items) + keep-positive pair dedup — all portable,
    # the full composite value-verified
    from redshells_spark.pipelines.similarity_data import make_similarity_data

    keywords = spark.createDataFrame([(k,) for k in ("spark", "join", "window")], "keyword string")
    w2i = keyword_match_join(_tokens(spark, sf_dir), keywords, "doc_id", "tokens").select(
        F.col("keyword").alias("word"), F.col("doc_id").alias("item_id")
    )
    return make_similarity_data(w2i)


@q(
    "word_item_similarity_two_stage",
    """WITH cent AS (
         SELECT CAST(label AS VARCHAR) AS word, dim, avg(x) AS m
         FROM (SELECT label, generate_subscripts(embedding, 1) AS dim,
                      unnest(embedding::DOUBLE[]) AS x FROM embeddings)
         GROUP BY label, dim),
       scores AS (
         SELECT c.word, e.vec_id AS item_id, sum(c.m * ex.x) AS score
         FROM cent c
         CROSS JOIN embeddings e
         JOIN (SELECT vec_id, generate_subscripts(embedding, 1) AS dim,
                      unnest(embedding::DOUBLE[]) AS x FROM embeddings) ex
           ON ex.vec_id = e.vec_id AND ex.dim = c.dim
         GROUP BY c.word, e.vec_id)
       SELECT word, item_id, round(score, 4) AS similarity FROM (
         SELECT word, item_id, score,
                row_number() OVER (PARTITION BY word ORDER BY score DESC, item_id ASC) AS rn
         FROM scores)
       WHERE rn <= 10""",
)
def _word_item_similarity_two_stage(spark, sf_dir):
    # two-stage retrieval (BLAS matmul prequery top-50 → rerank →
    # top-10); with identity rerank this equals direct top-10, so the
    # oracle is the direct computation — verifying the staged plan
    # loses nothing
    from redshells_spark.pipelines.word_item_similarity import (
        calculate_word_item_similarity,
    )

    emb = _t(spark, sf_dir, "embeddings")
    # label centroids as "word" embeddings
    words = (
        emb.select("label", F.posexplode("embedding").alias("dim", "x"))
        .groupBy("label", "dim")
        .agg(F.avg("x").alias("m"))
        .groupBy("label")
        .agg(F.array_sort(F.collect_list(F.struct("dim", "m"))).m.alias("embedding"))
        .select(F.col("label").cast("string").alias("word"), "embedding")
    )
    out = calculate_word_item_similarity(
        words, emb, prequery_return_size=50, return_size=10
    )
    return out.select("word", "item_id", _r4(F.col("similarity"), "similarity"))
