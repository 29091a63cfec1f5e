"""Product analytics (funnels, retention, sessions, cohorts, RFM,
growth accounting, attribution, pricing), correlated-subquery shapes,
sketch algebra, graph reachability, windows breadth, robust stats,
CDC.
"""

from __future__ import annotations

from redshells_spark.queries._shared import *  # noqa: F401,F403

# ------------------------------------------------- product analytics tier

_FUNNEL_STEPS = ("signup", "view", "click", "purchase")


@q(
    "funnel_conversion",
    """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
       s1 AS (SELECT user_id, min(us) AS t1 FROM e
              WHERE event_type = 'signup' GROUP BY user_id),
       s2 AS (SELECT e.user_id, min(us) AS t2 FROM e JOIN s1 USING (user_id)
              WHERE event_type = 'view' AND us > t1 GROUP BY e.user_id),
       s3 AS (SELECT e.user_id, min(us) AS t3 FROM e JOIN s2 USING (user_id)
              WHERE event_type = 'click' AND us > t2 GROUP BY e.user_id),
       s4 AS (SELECT e.user_id, min(us) AS t4 FROM e JOIN s3 USING (user_id)
              WHERE event_type = 'purchase' AND us > t3 GROUP BY e.user_id),
       c AS (SELECT (SELECT count(*) FROM s1) AS c1, (SELECT count(*) FROM s2) AS c2,
                    (SELECT count(*) FROM s3) AS c3, (SELECT count(*) FROM s4) AS c4)
       SELECT 1::BIGINT AS step_no, 'signup' AS step_name, c1 AS users,
              round(c1::DOUBLE / c1, 4) AS conv_from_first FROM c
       UNION ALL SELECT 2, 'view', c2, round(c2::DOUBLE / c1, 4) FROM c
       UNION ALL SELECT 3, 'click', c3, round(c3::DOUBLE / c1, 4) FROM c
       UNION ALL SELECT 4, 'purchase', c4, round(c4::DOUBLE / c1, 4) FROM c
       ORDER BY step_no""",
)
def _funnel_conversion(spark, sf_dir):
    """Ordered event funnel (operators/funnel.py): k−1 sequential
    filtered min-aggregations — each stage shuffles only that step's
    events and joins the shrinking reached-set (AQE broadcasts it).
    Greedy earliest-witness matching; no window over the full stream,
    no collect_list. Oracle unrolls the same stages as chained CTEs."""
    from redshells_spark.operators.funnel import funnel_conversion

    ev = _t(spark, sf_dir, "events")
    e = ev.select("user_id", "event_type", event_us(ev, "ts").alias("__us"))
    return funnel_conversion(e, list(_FUNNEL_STEPS))


@q(
    "retention_cohorts",
    """WITH e AS (SELECT DISTINCT user_id, epoch_us(ts) // 604800000000 AS week
                  FROM events),
       f AS (SELECT user_id, min(week) AS cohort_week FROM e GROUP BY user_id),
       a AS (SELECT e.user_id, f.cohort_week, e.week - f.cohort_week AS week_offset
             FROM e JOIN f USING (user_id)),
       c AS (SELECT cohort_week, week_offset, count(*) AS active_users
             FROM a GROUP BY 1, 2),
       s AS (SELECT cohort_week, count(*) AS cohort_size FROM f GROUP BY 1)
       SELECT c.cohort_week, c.week_offset, c.active_users, s.cohort_size,
              round(c.active_users::DOUBLE / s.cohort_size, 4) AS retention
       FROM c JOIN s USING (cohort_week)
       ORDER BY cohort_week, week_offset""",
)
def _retention_cohorts(spark, sf_dir):
    """Weekly retention triangle (operators/funnel.py): epoch-aligned
    integer week buckets (pure int64 `div` — cross-engine exact), two
    16-byte-row aggregations; cohort sizes join back broadcast-small."""
    from redshells_spark.operators.funnel import retention_cohorts

    ev = _t(spark, sf_dir, "events")
    e = ev.select("user_id", event_us(ev, "ts").alias("__us"))
    return retention_cohorts(e)


_EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


@q(
    "pivot_event_matrix",
    """SELECT epoch_us(ts) // 86400000000 AS day,
              count(*) FILTER (WHERE event_type = 'click') AS click,
              count(*) FILTER (WHERE event_type = 'error') AS error,
              count(*) FILTER (WHERE event_type = 'purchase') AS purchase,
              count(*) FILTER (WHERE event_type = 'signup') AS signup,
              count(*) FILTER (WHERE event_type = 'view') AS view
       FROM events GROUP BY day""",
)
def _pivot_event_matrix(spark, sf_dir):
    """PIVOT: day × event_type count matrix. Pivot values are passed
    explicitly — without the list Spark runs an eager collect-distinct
    job over the full table just to name the columns, and an
    unbounded value set would mint an unbounded schema. One shuffle,
    partial aggregation preserved (pivot compiles to the same
    hash-aggregate as the oracle's FILTER form)."""
    ev = _t(spark, sf_dir, "events")
    piv = (
        ev.select("event_type", event_us(ev, "ts").alias("__us"))
        .withColumn("day", F.expr("`__us` div 86400000000"))
        .groupBy("day")
        .pivot("event_type", list(_EVENT_TYPES))
        .agg(F.count(F.lit(1)))
    )
    return piv.na.fill(0, list(_EVENT_TYPES))


@q(
    "unpivot_event_matrix",
    """SELECT epoch_us(ts) // 86400000000 AS day, event_type, count(*) AS cnt
       FROM events GROUP BY day, event_type""",
)
def _unpivot_event_matrix(spark, sf_dir):
    """UNPIVOT (melt) round-trip: the pivoted matrix stacks back to
    long form via `unpivot`; zero-filled cells (combos absent from the
    data) are dropped so the round-trip equals the plain group-by
    oracle. Narrow op — no extra shuffle beyond the pivot's."""
    piv = _pivot_event_matrix(spark, sf_dir)
    return piv.unpivot("day", list(_EVENT_TYPES), "event_type", "cnt").filter(
        F.col("cnt") > 0
    )


@q(
    "customer_spend_quartiles",
    """WITH s AS (SELECT o_custkey,
                         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
                              AS BIGINT) AS spend_c
                  FROM orders GROUP BY o_custkey)
       SELECT o_custkey, spend_c,
              CAST(ntile(4) OVER w AS BIGINT) AS quartile,
              round(percent_rank() OVER w, 4) AS pct_rank,
              round(cume_dist() OVER w, 4) AS cum_dist
       FROM s
       WINDOW w AS (ORDER BY spend_c ASC, o_custkey ASC)""",
)
def _customer_spend_quartiles(spark, sf_dir):
    """Ranking-window breadth: ntile/percent_rank/cume_dist over
    per-customer revenue. Revenue sums as integer cents (order-free);
    the ordering (spend, custkey) is a TOTAL order, so all three
    window functions are pure functions of (rank i, n) and compute
    from data/sharding.distributed_rank (range shuffle +
    per-partition row_number + broadcast offset map — bit-identical
    ranks, NO single-reducer sort; per-customer relations reach 1e9+
    rows at 100 TB, where a global window is the anti-pattern this
    repo's plan audit flags): tie-free cume_dist = i/n, percent_rank
    = (i−1)/(n−1), and ntile(4) by its first-(n mod 4)-buckets-get-
    ceil(n/4) definition in integer arithmetic."""
    from redshells_spark.data.sharding import distributed_rank

    o = _t(spark, sf_dir, "orders")
    s = o.groupBy("o_custkey").agg(
        F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("long")).alias("spend_c")
    )
    nrow = s.agg(F.count(F.lit(1)).cast("long").alias("n"))
    rk = (
        distributed_rank(
            s, [F.col("spend_c").asc(), F.col("o_custkey").asc()], out_col="__i0"
        )
        .crossJoin(F.broadcast(nrow))
        .withColumn("i", (F.col("__i0") + 1).cast("long"))
    )
    # ntile(4): q = n div 4, r = n mod 4; buckets 1..r hold q+1 rows —
    # all integer (ceil(a/b) = (a+b−1) div b); greatest(q,1) keeps the
    # dead branch ANSI-safe when n < 4
    ntile4 = F.expr(
        "CASE WHEN i <= (n % 4) * ((n div 4) + 1)"
        " THEN (i + (n div 4)) div ((n div 4) + 1)"
        " ELSE (n % 4) + (i - (n % 4) * ((n div 4) + 1) + (n div 4) - 1)"
        "      div greatest(n div 4, 1) END"
    )
    return rk.select(
        "o_custkey",
        "spend_c",
        ntile4.cast("long").alias("quartile"),
        _r4(
            (F.col("i") - 1) / F.greatest(F.col("n") - 1, F.lit(1)), "pct_rank"
        ),
        _r4(F.col("i") / F.col("n"), "cum_dist"),
    )


@q(
    "event_value_outliers",
    """WITH e AS (SELECT event_id, event_type,
                         CAST(round(value * 100) AS BIGINT) AS vc
                  FROM events),
       st AS (SELECT event_type, count(*) AS n,
                     sum(CAST(vc AS DOUBLE)) AS s,
                     sum(CAST(vc AS DOUBLE) * CAST(vc AS DOUBLE)) AS ss
              FROM e GROUP BY event_type)
       SELECT event_id, e.event_type,
              round((vc - s / n) / sqrt(ss / n - (s / n) * (s / n)), 4) AS zscore
       FROM e JOIN st ON e.event_type = st.event_type
       WHERE abs((vc - s / n) / sqrt(ss / n - (s / n) * (s / n))) > 2.0""",
)
def _event_value_outliers(spark, sf_dir):
    """Z-score anomaly detection per event_type: group stats from
    integer-cents sums (sum/sumsq of exact ints folded as doubles in
    deterministic partial-agg order — both engines see identical
    inputs, and +-fold of these magnitudes is exact), stats broadcast
    back onto the stream (5-row build side), outliers filtered at
    |z| > 2. Identical IEEE expression on both engines.

    Sums fold as DOUBLE not int64: at sf1+ `sum(vc*vc)` overflows
    int64 (~4e18 at sf0.1) while doubles stay exact until 2^53."""
    ev = _t(spark, sf_dir, "events")
    e = ev.select(
        "event_id",
        "event_type",
        F.round(F.col("value") * 100, 0).cast("long").alias("vc"),
    )
    st = e.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("vc").cast("double")).alias("s"),
        F.sum(F.col("vc").cast("double") * F.col("vc").cast("double")).alias("ss"),
    )
    mean = F.col("s") / F.col("n")
    z = (F.col("vc") - mean) / F.sqrt(F.col("ss") / F.col("n") - mean * mean)
    return (
        e.join(F.broadcast(st), "event_type")
        .filter(F.abs(z) > 2.0)
        .select("event_id", "event_type", _r4(z, "zscore"))
    )


@q(
    "edit_distance_join",
    """WITH d AS (SELECT DISTINCT p_name FROM part)
       SELECT a.p_name AS s1, b.p_name AS s2,
              CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS dist
       FROM d a JOIN d b ON a.p_name < b.p_name
       WHERE levenshtein(a.p_name, b.p_name) <= 2""",
)
def _edit_distance_join(spark, sf_dir):
    """PassJoin edit-distance self-join (similarity/stringjoin.py) over
    the *distinct-string domain* — the scale-correct form: p_name has
    ~3% distinct values, so joining raw rows would square the
    duplicate groups; dedupe first, let consumers fan results back out
    by key. Candidates come from an equi-join on (L, seg_no, segment)
    keys (pigeonhole blocking), verified with one levenshtein per
    candidate. Oracle brute-forces the tiny distinct domain."""
    from redshells_spark.similarity.stringjoin import edit_distance_join

    names = _t(spark, sf_dir, "part").select("p_name").distinct()
    out = edit_distance_join(names, id_col="p_name", str_col="p_name", k=2)
    return out.select(F.col("id1").alias("s1"), F.col("id2").alias("s2"), "dist")


@q(
    "token_jaccard_join",
    f"""WITH {_TOK_SQL},
       t AS (SELECT DISTINCT doc_id, token FROM tok),
       sz AS (SELECT doc_id, count(*) AS n FROM t GROUP BY doc_id),
       i AS (SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS inter
             FROM t a JOIN t b ON a.token = b.token AND a.doc_id < b.doc_id
             GROUP BY 1, 2)
       SELECT id1, id2, inter, na.n AS n1, nb.n AS n2,
              round(inter::DOUBLE / (na.n + nb.n - inter), 4) AS jaccard
       FROM i JOIN sz na ON i.id1 = na.doc_id JOIN sz nb ON i.id2 = nb.doc_id
       WHERE inter::DOUBLE / (na.n + nb.n - inter) >= 0.8""",
)
def _token_jaccard_join(spark, sf_dir):
    """AllPairs/PPJoin prefix-filtered exact Jaccard self-join
    (similarity/stringjoin.py): candidates must share one of each
    set's rarest n−ceil(τn)+1 tokens (frequency-ascending canonical
    order), so the explode touches prefixes only; exact intersections
    are computed FROM the candidate pairs, never a full token⋈token
    join. Oracle brute-forces via the full token join (fine at
    sf0.01; the Spark side is the sub-quadratic plan)."""
    from redshells_spark.similarity.stringjoin import token_jaccard_join

    # the cached per-doc token arrays: at this corpus's small token
    # universe the rank-sorted index is built in-row from them (zero
    # doc-keyed shuffles)
    toks = _tokens(spark, sf_dir).select("doc_id", "tokens")
    return token_jaccard_join(toks, "doc_id", "tokens", threshold=0.8)


# -------------------------------------- correlated-subquery SQL shapes


@q(
    "q17_small_quantity_revenue",
    """WITH li AS (SELECT l_partkey, l_quantity,
                          CAST(round(l_extendedprice * 100) AS BIGINT) AS price_c
                   FROM lineitem),
       thresh AS (SELECT l_partkey, 0.2 * avg(l_quantity) AS q_thresh
                  FROM li GROUP BY l_partkey)
       SELECT round(CAST(sum(price_c) AS DOUBLE) / 100.0 / 7.0, 4) AS avg_yearly,
              count(*) AS n_lines
       FROM li JOIN part ON p_partkey = li.l_partkey
               JOIN thresh ON thresh.l_partkey = li.l_partkey
       WHERE p_brand = 'Brand#12' AND li.l_quantity < q_thresh""",
)
def _q17_small_quantity_revenue(spark, sf_dir):
    """TPC-H Q17 shape: revenue of below-20%-of-average-quantity
    lineitems for one brand — the classic *correlated scalar
    subquery*, decorrelated into one per-part aggregate joined back
    (exactly what Catalyst does to the subquery form; written
    explicitly so the plan is one shuffle + one broadcastable join,
    not a per-row subquery). Quantities are integer-valued doubles so
    avg() folds exactly in any order; revenue sums as integer cents."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey",
        "l_quantity",
        F.round(F.col("l_extendedprice") * 100, 0).cast("long").alias("price_c"),
    )
    thresh = li.groupBy("l_partkey").agg((F.lit(0.2) * F.avg("l_quantity")).alias("q_thresh"))
    part = _t(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#12")
    joined = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(thresh, "l_partkey")
        .filter(F.col("l_quantity") < F.col("q_thresh"))
    )
    return joined.agg(
        _r4(F.sum("price_c") / 100.0 / 7.0, "avg_yearly"),
        F.count(F.lit(1)).alias("n_lines"),
    )


@q(
    "q22_idle_customers",
    """WITH c AS (SELECT c_custkey, c_mktsegment,
                         CAST(round(c_acctbal * 100) AS BIGINT) AS bal_c
                  FROM customer)
       SELECT c_mktsegment, count(*) AS n_cust,
              round(CAST(sum(bal_c) AS DOUBLE) / 100.0, 4) AS total_bal
       FROM c
       WHERE bal_c > (SELECT avg(bal_c) FROM c WHERE bal_c > 0)
         AND NOT EXISTS (SELECT 1 FROM orders o
                         WHERE o.o_custkey = c.c_custkey
                           AND epoch_us(o.o_orderdate) >= 946684800000000)
       GROUP BY c_mktsegment""",
)
def _q22_idle_customers(spark, sf_dir):
    """TPC-H Q22 shape: above-average-balance customers with no order
    since 2000-01-01, per segment — a *scalar subquery* (global
    positive-balance average) plus a *NOT EXISTS anti join*, run
    through spark.sql so Catalyst performs the decorrelation itself:
    the scalar subquery evaluates once (ReusedSubquery); NOT EXISTS
    compiles to a left-anti hash join (plan-asserted in
    tests/test_subquery_shapes.py). Balances ride as integer cents —
    avg() of exact ints divides identically on both engines. The
    recency cutoff is pre-normalized to epoch micros in Python
    (dtype-dispatched) so the SQL is identical under either physical
    date encoding."""
    o = _t(spark, sf_dir, "orders")
    _t(spark, sf_dir, "customer").createOrReplaceTempView("__q22_customer")
    o.select(
        "o_custkey", event_us(o, "o_orderdate").alias("od_us")
    ).createOrReplaceTempView("__q22_orders")
    return spark.sql(
        """WITH c AS (SELECT c_custkey, c_mktsegment,
                             CAST(round(c_acctbal * 100) AS BIGINT) AS bal_c
                      FROM __q22_customer)
           SELECT c_mktsegment, count(*) AS n_cust,
                  round(CAST(sum(bal_c) AS DOUBLE) / 100.0, 4) AS total_bal
           FROM c
           WHERE bal_c > (SELECT avg(bal_c) FROM c WHERE bal_c > 0)
             AND NOT EXISTS (SELECT 1 FROM __q22_orders o
                             WHERE o.o_custkey = c.c_custkey
                               AND o.od_us >= 946684800000000)
           GROUP BY c_mktsegment"""
    )


@q(
    "q4_late_shipments_exists",
    """SELECT o_orderpriority, count(*) AS n_orders
       FROM orders o
       WHERE EXISTS (SELECT 1 FROM lineitem l
                     WHERE l.l_orderkey = o.o_orderkey
                       AND epoch_us(l.l_shipdate) >
                           epoch_us(o.o_orderdate) + 60 * 86400000000)
       GROUP BY o_orderpriority""",
)
def _q4_late_shipments_exists(spark, sf_dir):
    """TPC-H Q4 shape: orders with any lineitem shipping >60 days
    after the order date, counted per priority. EXISTS with a
    non-equi residual compiles to a left-semi hash join on the order
    key (the residual evaluates post-probe); time math is integer
    microseconds via the dtype-dispatched helpers."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    o2 = o.select("o_orderkey", "o_orderpriority", event_us(o, "o_orderdate").alias("o_us"))
    l2 = li.select("l_orderkey", event_us(li, "l_shipdate").alias("s_us"))
    sel = o2.join(
        l2,
        (o2.o_orderkey == l2.l_orderkey)
        & (l2.s_us > o2.o_us + F.lit(60 * 86_400_000_000)),
        "left_semi",
    )
    return sel.groupBy("o_orderpriority").agg(F.count(F.lit(1)).alias("n_orders"))


# ------------------------------------ sketch algebra / graph / series

_KMV_SA_K = 64


@q(
    "kmv_set_overlap",
    f"""WITH h AS (SELECT DISTINCT event_type, {_duck_h60("user_id")} AS h FROM events),
       kept AS (SELECT event_type, h FROM (
                  SELECT event_type, h,
                         row_number() OVER (PARTITION BY event_type ORDER BY h ASC) AS rn
                  FROM h) WHERE rn <= {_KMV_SA_K}),
       pr AS (SELECT a.event_type AS g1, b.event_type AS g2
              FROM (SELECT DISTINCT event_type FROM kept) a
              JOIN (SELECT DISTINCT event_type FROM kept) b ON a.event_type < b.event_type),
       m AS (SELECT g1, g2, h, max(in_a) AS in_a, max(in_b) AS in_b FROM (
               SELECT pr.g1, pr.g2, k.h, 1 AS in_a, 0 AS in_b
               FROM pr JOIN kept k ON k.event_type = pr.g1
               UNION ALL
               SELECT pr.g1, pr.g2, k.h, 0, 1
               FROM pr JOIN kept k ON k.event_type = pr.g2)
             GROUP BY g1, g2, h),
       top AS (SELECT * FROM (
                 SELECT m.*, row_number() OVER (PARTITION BY g1, g2 ORDER BY h ASC) AS rn
                 FROM m) WHERE rn <= {_KMV_SA_K}),
       a AS (SELECT g1, g2, count(*) AS n_kept, max(h) AS hk,
                    sum(in_a * in_b) AS inter_hashes
             FROM top GROUP BY g1, g2)
       SELECT g1, g2, n_kept::BIGINT AS n_kept, inter_hashes::BIGINT AS inter_hashes,
              round(CASE WHEN n_kept < {_KMV_SA_K} THEN n_kept::DOUBLE
                    ELSE {_KMV_SA_K - 1}.0 * 1152921504606846976.0 / hk::DOUBLE END, 4)
                AS union_est,
              round((inter_hashes::DOUBLE / n_kept) *
                    (CASE WHEN n_kept < {_KMV_SA_K} THEN n_kept::DOUBLE
                     ELSE {_KMV_SA_K - 1}.0 * 1152921504606846976.0 / hk::DOUBLE END), 4)
                AS inter_est,
              round(inter_hashes::DOUBLE / n_kept, 4) AS jaccard_est
       FROM a""",
)
def _kmv_set_overlap(spark, sf_dir):
    """KMV multiset algebra (operators/sketches.py:kmv_set_algebra,
    Beyer et al. SIGMOD'07): union/intersection/Jaccard estimates
    between every event-type pair's user sets, computed purely from
    merged k-minimum sketches — raw values are scanned once, all pair
    math runs on ≤ k·|groups| hashes. Portable md5 ranks + IEEE
    estimate arithmetic → the DuckDB oracle reproduces every estimate
    bit-for-bit (an approximate aggregate with an exact check)."""
    from redshells_spark.operators.sketches import kmv_set_algebra

    ev = _t(spark, sf_dir, "events")
    return kmv_set_algebra(ev, "event_type", "user_id", k=_KMV_SA_K)


@q(
    "k_hop_reachability",
    """WITH RECURSIVE e0 AS (SELECT DISTINCT 'c' || CAST(o_custkey AS VARCHAR) AS src,
                                    's' || CAST(l_suppkey AS VARCHAR) AS dst
                             FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
       e AS (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),
       walk(node, dist) AS (
         SELECT DISTINCT 's' || CAST(s_suppkey AS VARCHAR), 0
         FROM supplier JOIN nation ON s_nationkey = n_nationkey
         WHERE n_name = 'NATION_7'
         UNION
         SELECT e.dst, w.dist + 1 FROM walk w JOIN e ON w.node = e.src
         WHERE w.dist < 3)
       SELECT node, CAST(min(dist) AS BIGINT) AS dist FROM walk GROUP BY node""",
)
def _k_hop_reachability(spark, sf_dir):
    """Bounded BFS (operators/graph.py:k_hop_distances): min-hop
    distance from NATION_7 suppliers over the symmetrized co-purchase
    graph, 3 supersteps of frontier-join + min-fold (the relational
    Pregel shape, localCheckpoint-bounded lineage). Oracle is a
    recursive CTE with UNION (set) semantics so states dedupe instead
    of enumerating all ~57M length-3 walks."""
    from redshells_spark.operators.graph import k_hop_distances

    nat = _t(spark, sf_dir, "nation").filter(F.col("n_name") == "NATION_7")
    sources = (
        _t(spark, sf_dir, "supplier")
        .join(F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey"))
        .select(F.concat(F.lit("s"), F.col("s_suppkey").cast("string")).alias("node"))
    )
    return k_hop_distances(_copurchase_edges(spark, sf_dir), sources, k=3)


@q(
    "association_rules",
    """WITH items AS (SELECT DISTINCT l_orderkey AS b, p_brand AS i
                      FROM lineitem JOIN part ON p_partkey = l_partkey),
       nb AS (SELECT count(DISTINCT b) AS n FROM items),
       cnt AS (SELECT i, count(*) AS c FROM items GROUP BY i),
       p AS (SELECT a.i AS item1, b.i AS item2, count(*) AS pair_count
             FROM items a JOIN items b ON a.b = b.b AND a.i < b.i
             GROUP BY 1, 2
             HAVING count(*) >= 2)
       SELECT item1, item2, pair_count, c1.c AS count1, c2.c AS count2,
              round(pair_count::DOUBLE / nb.n, 4) AS support,
              round(pair_count::DOUBLE / c1.c, 4) AS confidence_1_to_2,
              round(pair_count::DOUBLE / c2.c, 4) AS confidence_2_to_1,
              round((pair_count * nb.n::DOUBLE) / (c1.c * c2.c), 4) AS lift
       FROM p JOIN cnt c1 ON c1.i = p.item1 JOIN cnt c2 ON c2.i = p.item2, nb""",
)
def _association_rules(spark, sf_dir):
    """Pairwise association rules (operators/assoc.py): brand
    co-occurrence within orders — support/confidence/lift from one
    within-basket self-join (fan-out bounded by basket size, never
    table size) + broadcast support joins. Exact-integer ratios →
    cross-engine-stable doubles."""
    from redshells_spark.operators.assoc import association_rules_pairs

    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    part = _t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    baskets = li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"]).select(
        "l_orderkey", "p_brand"
    )
    return association_rules_pairs(
        baskets, basket_col="l_orderkey", item_col="p_brand", min_pair_support=2
    )


_EWMA_ALPHA = 0.3
_EWMA_W = 8
_EWMA_COEFS = [_EWMA_ALPHA * (1.0 - _EWMA_ALPHA) ** j for j in range(_EWMA_W)]


def _ewma_oracle_sql() -> str:
    num = " + ".join(
        f"{c!r} * coalesce(lag(vc, {j}) OVER w, 0)" for j, c in enumerate(_EWMA_COEFS)
    )
    den = " + ".join(
        f"CASE WHEN lag(vc, {j}) OVER w IS NULL THEN 0.0 ELSE {c!r} END"
        for j, c in enumerate(_EWMA_COEFS)
    )
    return f"""WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS us,
                      CAST(round(value * 100) AS BIGINT) AS vc
               FROM events)
       SELECT event_id, user_id, round(({num}) / ({den}), 4) AS ewma_c
       FROM e
       WINDOW w AS (PARTITION BY user_id ORDER BY us ASC, event_id ASC)"""


@q("ewma_user_values", _ewma_oracle_sql())
def _ewma_user_values(spark, sf_dir):
    """Truncated-window EWMA (window width 8, α=0.3): the classic
    time-series smoother as a *fixed linear combination of lags* —
    pure window codegen, no recursion, no UDF. Truncation keeps the
    recurrence relational (the exact infinite-memory EWMA is a
    sequential scan); with (1−α)^8 ≈ 0.06 the truncation error is
    <6% of the steady-state weight mass, and the divisor re-normalizes
    over the lags actually present so series starts are unbiased.
    Coefficients are embedded as identical Python-rendered double
    literals on both engines; values ride as integer cents → every
    product and the final divide are reproducible IEEE arithmetic."""
    ev = _t(spark, sf_dir, "events")
    e = ev.select(
        "event_id",
        "user_id",
        event_us(ev, "ts").alias("__us"),
        F.round(F.col("value") * 100, 0).cast("long").alias("vc"),
    )
    w = Window.partitionBy("user_id").orderBy(F.col("__us").asc(), F.col("event_id").asc())
    lags = [F.col("vc") if j == 0 else F.lag("vc", j).over(w) for j in range(_EWMA_W)]
    num = None
    den = None
    for j, (c, lg) in enumerate(zip(_EWMA_COEFS, lags)):
        term = F.lit(c) * F.coalesce(lg.cast("double"), F.lit(0.0))
        dterm = F.when(lg.isNull(), F.lit(0.0)).otherwise(F.lit(c))
        num = term if num is None else num + term
        den = dterm if den is None else den + dterm
    return e.select("event_id", "user_id", _r4(num / den, "ewma_c"))


# ----------------------------------- windows breadth / robust stats / CDC


@q(
    "scd2_intervals",
    """WITH e AS (SELECT event_id, user_id, event_type, epoch_us(ts) AS us
                  FROM events WHERE event_type IN ('signup', 'purchase', 'error'))
       SELECT event_id, user_id, event_type,
              us AS valid_from_us,
              lead(us) OVER w AS valid_to_us,
              CASE WHEN lead(us) OVER w IS NULL THEN 1 ELSE 0 END AS is_current
       FROM e
       WINDOW w AS (PARTITION BY user_id ORDER BY us ASC, event_id ASC)""",
)
def _scd2_intervals(spark, sf_dir):
    """SCD Type-2 dimension build from a change stream: each change
    row gets a validity interval [valid_from, valid_to) via one lead()
    window — the standard CDC-to-dimension compaction (pairs with
    `latest_by_key`, which keeps only the open row). One shuffle on
    the business key; no self-join (the naive SCD2 build joins the
    stream to itself on adjacent change ranks)."""
    ev = _t(spark, sf_dir, "events")
    e = ev.filter(F.col("event_type").isin("signup", "purchase", "error")).select(
        "event_id", "user_id", "event_type", event_us(ev, "ts").alias("us")
    )
    w = Window.partitionBy("user_id").orderBy(F.col("us").asc(), F.col("event_id").asc())
    return e.select(
        "event_id",
        "user_id",
        "event_type",
        F.col("us").alias("valid_from_us"),
        F.lead("us").over(w).alias("valid_to_us"),
        F.when(F.lead("us").over(w).isNull(), 1).otherwise(0).alias("is_current"),
    )


@q(
    "grouped_mad",
    """WITH e AS (SELECT event_type, event_id,
                         CAST(round(value * 100) AS BIGINT) AS vc
                  FROM events),
       m AS (SELECT event_type, vc AS med FROM (
               SELECT event_type, vc, event_id,
                      row_number() OVER (PARTITION BY event_type
                                         ORDER BY vc ASC, event_id ASC) AS rn,
                      count(*) OVER (PARTITION BY event_type) AS n
               FROM e) WHERE rn = (n + 1) // 2),
       d AS (SELECT e.event_type, abs(vc - med) AS dev, event_id
             FROM e JOIN m ON e.event_type = m.event_type)
       SELECT event_type, med, mad FROM (
         SELECT d.event_type, m.med, dev AS mad,
                row_number() OVER (PARTITION BY d.event_type
                                   ORDER BY dev ASC, event_id ASC) AS rn,
                count(*) OVER (PARTITION BY d.event_type) AS n
         FROM d JOIN m ON d.event_type = m.event_type) WHERE rn = (n + 1) // 2""",
)
def _grouped_mad(spark, sf_dir):
    """Robust dispersion: median absolute deviation per group via two
    window rank-selections (lower median both times — everything stays
    exact int64 cents end-to-end, no percentile-interpolation semantics
    to reconcile). Group medians broadcast back (|groups| rows);
    identical shape to `grouped_median_price`, iterated."""
    ev = _t(spark, sf_dir, "events")
    e = ev.select(
        "event_type", "event_id", F.round(F.col("value") * 100, 0).cast("long").alias("vc")
    )

    def lower_median(df, val_col, out_col):
        w = Window.partitionBy("event_type").orderBy(
            F.col(val_col).asc(), F.col("event_id").asc()
        )
        wn = Window.partitionBy("event_type")
        return (
            df.withColumn("rn", F.row_number().over(w))
            .withColumn("n", F.count(F.lit(1)).over(wn))
            .filter(F.col("rn") == F.expr("(n + 1) div 2"))
            .select("event_type", F.col(val_col).alias(out_col))
        )

    med = lower_median(e, "vc", "med")
    dev = e.join(F.broadcast(med), "event_type").select(
        "event_type", "event_id", F.abs(F.col("vc") - F.col("med")).alias("dev")
    )
    mad = lower_median(dev, "dev", "mad")
    return med.join(mad, "event_type").select("event_type", "med", "mad")


@q(
    "first_last_events",
    """SELECT DISTINCT user_id,
              first_value(event_type) OVER w AS first_type,
              last_value(event_type) OVER w AS last_type,
              nth_value(event_type, 2) OVER w AS second_type,
              count(*) OVER (PARTITION BY user_id) AS n_events
       FROM (SELECT user_id, event_type, epoch_us(ts) AS us, event_id FROM events)
       WINDOW w AS (PARTITION BY user_id ORDER BY us ASC, event_id ASC
                    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)""",
)
def _first_last_events(spark, sf_dir):
    """first_value / last_value / nth_value over a full-partition
    frame (the UNBOUNDED FOLLOWING frame is what makes last/nth
    well-defined — the default frame stops at CURRENT ROW), collapsed
    to one row per user. Tie-broken ordering keeps both engines on the
    same witness rows."""
    ev = _t(spark, sf_dir, "events")
    e = ev.select("user_id", "event_type", event_us(ev, "ts").alias("us"), "event_id")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("us").asc(), F.col("event_id").asc())
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return e.select(
        "user_id",
        F.first("event_type").over(w).alias("first_type"),
        F.last("event_type").over(w).alias("last_type"),
        F.nth_value("event_type", 2).over(w).alias("second_type"),
        F.count(F.lit(1)).over(Window.partitionBy("user_id")).alias("n_events"),
    ).distinct()


@q(
    "session_paths",
    """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS us, event_id,
                         epoch_us(ts) // 86400000000 AS day
                  FROM events),
       p AS (SELECT user_id, day,
                    string_agg(event_type, '>' ORDER BY us ASC, event_id ASC) AS path
             FROM e GROUP BY user_id, day)
       SELECT path, count(*) AS n_sessions
       FROM p GROUP BY path HAVING count(*) >= 5""",
)
def _session_paths(spark, sf_dir):
    """Path analysis: per user-day ordered event-type sequences,
    aggregated to the common paths (≥5 occurrences). The ordered
    string_agg is the canonical cross-engine rendering of a sequence
    (array ordering + hashing differ between engines); at 100 TB the
    per-session path build is one groupBy whose values are tiny
    ordered strings, and the path popularity count shuffles only the
    distinct path strings."""
    ev = _t(spark, sf_dir, "events")
    # day bucket from the normalized microseconds (integer div)
    e = ev.select(
        "user_id", "event_type", event_us(ev, "ts").alias("us"), "event_id"
    ).withColumn("day", F.expr("us div 86400000000"))
    # one aggregation: collect (us, event_id, type) structs, sort —
    # struct ordering is lexicographic on fields, so this IS the
    # (us, event_id) order — then project the types out
    paths = e.groupBy("user_id", "day").agg(
        F.concat_ws(
            ">",
            F.transform(
                F.array_sort(F.collect_list(F.struct("us", "event_id", "event_type"))),
                lambda x: x["event_type"],
            ),
        ).alias("path")
    )
    return (
        paths.groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_sessions"))
        .filter(F.col("n_sessions") >= 5)
    )




@q(
    "ctr_wilson_bounds",
    """WITH s AS (
         SELECT event_type,
                CAST(count(*) AS BIGINT) AS n,
                CAST(sum(CASE WHEN value > 50 THEN 1 ELSE 0 END) AS BIGINT)
                  AS hits
         FROM events GROUP BY event_type),
       w AS (
         SELECT event_type, n, hits,
                CAST(hits AS DOUBLE) / n AS p,
                CAST(1.96 AS DOUBLE) AS z
         FROM s)
       SELECT event_type, n, hits, p AS rate,
              (p + z * z / (2 * n)
               - z * sqrt(p * (1 - p) / n + z * z / (4 * n * n)))
                / (1 + z * z / n) AS wilson_lo,
              (p + z * z / (2 * n)
               + z * sqrt(p * (1 - p) / n + z * z / (4 * n * n)))
                / (1 + z * z / n) AS wilson_hi
       FROM w""",
)
def _ctr_wilson_bounds(spark, sf_dir):
    """Wilson score interval for per-event-type hit rates (value > 50
    as the 'conversion') — the correct small-n confidence bound for
    any rate metric on a data card. IEEE sqrt is correctly rounded, so
    with identical operands the ENTIRE interval is cross-engine
    bit-exact: full-precision export, no rounding anywhere. One
    map-combined aggregate."""
    ev = _t(spark, sf_dir, "events")
    s = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum((F.col("value") > 50).cast("int")).cast("long").alias("hits"),
    )
    p = F.col("hits").cast("double") / F.col("n")
    z = F.lit(1.96)
    center = p + z * z / (2 * F.col("n"))
    margin = z * F.sqrt(
        p * (F.lit(1) - p) / F.col("n")
        + z * z / (4 * F.col("n") * F.col("n"))
    )
    denom = F.lit(1) + z * z / F.col("n")
    return s.select(
        "event_type",
        "n",
        "hits",
        p.alias("rate"),
        ((center - margin) / denom).alias("wilson_lo"),
        ((center + margin) / denom).alias("wilson_hi"),
    )


@q(
    "event_transition_matrix",
    """WITH seq AS (
         SELECT user_id, event_type,
                lag(event_type) OVER (
                  PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                ) AS prev_type
         FROM events),
       c AS (SELECT prev_type, event_type AS next_type,
                    CAST(count(*) AS BIGINT) AS n
             FROM seq WHERE prev_type IS NOT NULL GROUP BY 1, 2),
       t AS (SELECT prev_type, sum(n) AS n_from FROM c GROUP BY 1)
       SELECT c.prev_type, c.next_type, c.n,
              CAST(c.n AS DOUBLE) / t.n_from AS prob
       FROM c JOIN t USING (prev_type)""",
)
def _event_transition_matrix(spark, sf_dir):
    """First-order behavioral transition matrix: P(next event type |
    previous event type) over per-user event sequences — the Markov
    summary behind funnel/assist analyses. One window (keyed on
    user_id, (ts, event_id) tie-broken), two map-combined aggregates;
    the probability is an identical-operand IEEE division of exact
    longs — full-precision export."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        event_us(ev, "ts").asc(), F.col("event_id").asc()
    )
    seq = ev.select(
        "event_type", F.lag("event_type").over(w).alias("prev_type")
    ).filter(F.col("prev_type").isNotNull())
    c = seq.groupBy("prev_type", F.col("event_type").alias("next_type")).agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    t = c.groupBy("prev_type").agg(F.sum("n").alias("n_from"))
    return c.join(t, "prev_type").select(
        "prev_type",
        "next_type",
        "n",
        (F.col("n").cast("double") / F.col("n_from")).alias("prob"),
    )


# ------------------------------------------------------- cohort LTV


@q(
    "cohort_ltv_curve",
    """WITH e AS (
         SELECT user_id, epoch_us(ts) // 604800000000 AS week,
                CAST(floor(value * 100 + CAST(0.5 AS DOUBLE)) AS BIGINT) AS v
         FROM events),
       fw AS (SELECT user_id, min(week) AS cohort_week FROM e GROUP BY 1),
       cs AS (SELECT cohort_week, CAST(count(*) AS BIGINT) AS cohort_size
              FROM fw GROUP BY 1),
       act AS (
         SELECT f.cohort_week, e.week - f.cohort_week AS age_weeks,
                CAST(count(DISTINCT e.user_id) AS BIGINT) AS n_active,
                CAST(sum(e.v) AS BIGINT) AS revenue_e2
         FROM e JOIN fw f USING (user_id)
         GROUP BY 1, 2),
       cum AS (
         SELECT cohort_week, age_weeks, n_active, revenue_e2,
                CAST(sum(revenue_e2) OVER (PARTITION BY cohort_week
                  ORDER BY age_weeks ASC ROWS UNBOUNDED PRECEDING) AS BIGINT)
                  AS cum_revenue_e2
         FROM act)
       SELECT CAST(c.cohort_week AS BIGINT) AS cohort_week,
              CAST(c.age_weeks AS BIGINT) AS age_weeks,
              c.n_active, c.revenue_e2, c.cum_revenue_e2,
              CAST(c.cum_revenue_e2 // s.cohort_size AS BIGINT)
                  AS cum_per_user_e2
       FROM cum c JOIN cs s USING (cohort_week)""",
)
def _cohort_ltv_curve(spark, sf_dir):
    """Cohort lifetime-value triangle: users grouped by first-seen
    epoch week, revenue accumulated per cohort-age — THE
    product-analytics companion to retention_cohorts (which counts
    presence; this sums value). Everything exact int64: cent units,
    integer epoch weeks, window cumsum, per-user LTV as integer
    division by the cohort size. Two shuffles (first-week per user,
    cohort-age aggregate) — both map-combinable."""
    ev = _t(spark, sf_dir, "events")
    # integer `div`, never double `/`: double division of ~1e15 us
    # values can round across a week boundary (funnel.py precedent)
    e = ev.select(
        "user_id",
        event_us(ev).alias("__us"),
        money_units(F.col("value"), 100).alias("v"),
    ).select(
        "user_id",
        F.expr("cast(__us as bigint) div 604800000000").alias("week"),
        "v",
    )
    fw = e.groupBy("user_id").agg(F.min("week").alias("cohort_week"))
    cs = fw.groupBy("cohort_week").agg(
        F.count(F.lit(1)).cast("long").alias("cohort_size")
    )
    act = (
        e.join(fw, "user_id")
        .groupBy("cohort_week", (F.col("week") - F.col("cohort_week")).alias("age_weeks"))
        .agg(
            F.countDistinct("user_id").cast("long").alias("n_active"),
            F.sum("v").cast("long").alias("revenue_e2"),
        )
    )
    wc = Window.partitionBy("cohort_week").orderBy(F.col("age_weeks").asc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = act.withColumn(
        "cum_revenue_e2", F.sum("revenue_e2").over(wc).cast("long")
    )
    return cum.join(F.broadcast(cs), "cohort_week").select(
        F.col("cohort_week").cast("long").alias("cohort_week"),
        F.col("age_weeks").cast("long").alias("age_weeks"),
        "n_active",
        "revenue_e2",
        "cum_revenue_e2",
        F.expr("cast(cum_revenue_e2 div cohort_size as bigint)").alias(
            "cum_per_user_e2"
        ),
    )


# ------------------------------------------------- time-to-convert


@q(
    "time_to_convert_quantiles",
    """WITH v AS (SELECT user_id, min(epoch_us(ts)) AS first_view
              FROM events WHERE event_type = 'view' GROUP BY 1),
       p AS (SELECT user_id, min(epoch_us(ts)) AS first_purchase
             FROM events WHERE event_type = 'purchase' GROUP BY 1),
       d AS (SELECT v.user_id,
                    CAST(p.first_purchase - v.first_view AS BIGINT) AS lat_us
             FROM v JOIN p USING (user_id)
             WHERE p.first_purchase >= v.first_view),
       rk AS (SELECT lat_us,
                     row_number() OVER (ORDER BY lat_us ASC) AS i,
                     CAST(count(*) OVER () AS BIGINT) AS n
              FROM d)
       SELECT CAST(max(n) AS BIGINT) AS n_converted,
              CAST(min(lat_us) AS BIGINT) AS min_us,
              CAST(max(CASE WHEN (2 * i >= n + 1 AND 2 * (i - 1) < n + 1)
                            OR (i = n AND 2 * n < n + 1) THEN lat_us END) AS BIGINT)
                  AS p50_us,
              CAST(max(CASE WHEN (10 * i >= 9 * (n + 1) AND 10 * (i - 1) < 9 * (n + 1))
                            OR (i = n AND 10 * n < 9 * (n + 1)) THEN lat_us END) AS BIGINT)
                  AS p90_us,
              CAST(max(lat_us) AS BIGINT) AS max_us
       FROM rk""",
)
def _time_to_convert_quantiles(spark, sf_dir):
    """Conversion latency (first view → first purchase per user) as
    EXACT order statistics: p50/p90 are the ceil(q·(n+1))-th smallest
    microsecond values selected with pure integer rank inequalities —
    no interpolation, no float percentile. Two map-combined min
    aggregations over events, then ranks via data/sharding.py
    distributed_rank (range shuffle + per-partition row_number +
    broadcast offset map — bit-identical to the naive global window
    with NO single-reducer sort, so the plan holds at 10^9 converted
    users) and n from a broadcast 1-row count, not a global count
    window. The product-analytics latency report next to
    funnel_conversion."""
    ev = _t(spark, sf_dir, "events")
    us = event_us(ev).alias("us")
    v = (
        ev.filter(F.col("event_type") == "view")
        .select("user_id", us)
        .groupBy("user_id")
        .agg(F.min("us").alias("first_view"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .select("user_id", us)
        .groupBy("user_id")
        .agg(F.min("us").alias("first_purchase"))
    )
    d = (
        v.join(p, "user_id")
        .filter(F.col("first_purchase") >= F.col("first_view"))
        .select((F.col("first_purchase") - F.col("first_view")).cast("long").alias("lat_us"))
    )
    from redshells_spark.data.sharding import distributed_rank

    nrow = d.agg(F.count(F.lit(1)).cast("long").alias("n"))
    rk = (
        distributed_rank(d, [F.col("lat_us").asc()], out_col="__i0")
        .crossJoin(F.broadcast(nrow))
        .select("lat_us", (F.col("__i0") + 1).cast("long").alias("i"), "n")
    )
    # min(n, ceil(num/den·(n+1)))-th order statistic: the clamp keeps
    # small samples (ceil(q(n+1)) > n) on the last value instead of NULL
    pick = lambda num, den: F.max(  # noqa: E731
        F.when(
            (
                (F.lit(den) * F.col("i") >= F.lit(num) * (F.col("n") + 1))
                & (F.lit(den) * (F.col("i") - 1) < F.lit(num) * (F.col("n") + 1))
            )
            | (
                (F.col("i") == F.col("n"))
                & (F.lit(den) * F.col("n") < F.lit(num) * (F.col("n") + 1))
            ),
            F.col("lat_us"),
        )
    ).cast("long")
    return rk.agg(
        F.max("n").cast("long").alias("n_converted"),
        F.min("lat_us").cast("long").alias("min_us"),
        pick(1, 2).alias("p50_us"),
        pick(9, 10).alias("p90_us"),
        F.max("lat_us").cast("long").alias("max_us"),
    )


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


_CENTS = "CAST(floor(o_totalprice * 100 + CAST(0.5 AS DOUBLE)) AS BIGINT)"


# ------------------------------------------------- Pareto frontier


@q(
    "pareto_frontier_spend",
    f"""WITH c AS (SELECT o_custkey,
                CAST(sum({_CENTS}) AS BIGINT) AS spend_e2,
                CAST(count(*) AS BIGINT) AS n_orders
              FROM orders GROUP BY 1),
       lvl AS (SELECT n_orders, CAST(max(spend_e2) AS BIGINT) AS ms
               FROM c GROUP BY 1),
       l2 AS (SELECT n_orders, ms,
                     max(ms) OVER (ORDER BY n_orders DESC
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                       AS m_above
              FROM lvl)
       SELECT c.o_custkey AS custkey, c.spend_e2, c.n_orders
       FROM c JOIN l2 USING (n_orders)
       WHERE c.spend_e2 = l2.ms
         AND (l2.m_above IS NULL OR c.spend_e2 > l2.m_above)""",
)
def _pareto_frontier_spend(spark, sf_dir):
    """Exact 2-D Pareto frontier (skyline, Borzsony et al. 2001) of
    customers on (total spend, order count): a customer survives iff
    no other weakly dominates it on both axes with one strict. The
    trick that makes this scale-free: dominance only needs the
    ORDER-COUNT LEVEL TABLE (max spend per distinct order count — a
    domain bounded by per-customer order multiplicity, ~tens of
    values, never customer count). A point survives iff its spend
    equals its level's max AND beats the suffix-max of all strictly
    higher levels — one tiny window + one broadcast join back, no
    fact-scale sort anywhere."""
    o = _t(spark, sf_dir, "orders")
    c = o.groupBy("o_custkey").agg(
        F.sum(money_units(F.col("o_totalprice"), 100)).cast("long").alias("spend_e2"),
        F.count(F.lit(1)).cast("long").alias("n_orders"),
    )
    lvl = c.groupBy("n_orders").agg(F.max("spend_e2").cast("long").alias("ms"))
    w = Window.orderBy(F.col("n_orders").desc()).rowsBetween(
        Window.unboundedPreceding, -1
    )
    l2 = lvl.withColumn("m_above", F.max("ms").over(w))
    return (
        c.join(F.broadcast(l2), "n_orders")
        .filter(
            (F.col("spend_e2") == F.col("ms"))
            & (F.col("m_above").isNull() | (F.col("spend_e2") > F.col("m_above")))
        )
        .select(F.col("o_custkey").alias("custkey"), "spend_e2", "n_orders")
    )


# ------------------------------------------------- event-order motifs


@q(
    "frequent_event_sequences",
    """WITH f AS (SELECT user_id, event_type, min(epoch_us(ts)) AS fts
              FROM events GROUP BY 1, 2),
       s AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_users
             FROM f GROUP BY 1),
       p AS (SELECT a.event_type AS lhs, b.event_type AS rhs,
                    CAST(count(*) AS BIGINT) AS support
             FROM f a JOIN f b
               ON a.user_id = b.user_id AND a.fts < b.fts
             GROUP BY 1, 2)
       SELECT p.lhs, p.rhs, p.support, s.n_users AS n_lhs,
              round(CAST(p.support AS DOUBLE) / CAST(s.n_users AS DOUBLE), 6)
                AS confidence
       FROM p JOIN s ON s.event_type = p.lhs
       WHERE p.support >= 5""",
)
def _frequent_event_sequences(spark, sf_dir):
    """Sequential-pattern support (the length-2 core of PrefixSpan,
    Pei et al. 2001): for each ordered pair of event types, the number
    of users whose FIRST occurrence of the lhs type precedes their
    first occurrence of the rhs type, with confidence = support /
    users-having-lhs. One per-(user, type) min aggregation, then a
    user-co-partitioned self-join over the <=|types| rows per user —
    never events x events. The behavioral-ordering companion to
    association_rules (co-occurrence) and event_transition_matrix
    (adjacent steps)."""
    ev = _t(spark, sf_dir, "events")
    f = (
        ev.select("user_id", "event_type", event_us(ev).alias("us"))
        .groupBy("user_id", "event_type")
        .agg(F.min("us").alias("fts"))
    )
    s = f.groupBy("event_type").agg(F.count(F.lit(1)).cast("long").alias("n_users"))
    a = f.select("user_id", F.col("event_type").alias("lhs"), F.col("fts").alias("fa"))
    b = f.select("user_id", F.col("event_type").alias("rhs"), F.col("fts").alias("fb"))
    p = (
        a.join(b, "user_id")
        .filter(F.col("fa") < F.col("fb"))
        .groupBy("lhs", "rhs")
        .agg(F.count(F.lit(1)).cast("long").alias("support"))
        .filter(F.col("support") >= 5)
    )
    return p.join(
        F.broadcast(s.select(F.col("event_type").alias("lhs"), "n_users")), "lhs"
    ).select(
        "lhs",
        "rhs",
        "support",
        F.col("n_users").alias("n_lhs"),
        F.round(
            F.col("support").cast("double") / F.col("n_users").cast("double"), 6
        ).alias("confidence"),
    )


# ------------------------------------------------- RFM segmentation


@q(
    "rfm_segmentation",
    f"""WITH mx AS (SELECT max(epoch_us(o_orderdate)) AS mxd FROM orders),
       c AS (SELECT o_custkey,
                CAST(((SELECT mxd FROM mx) - max(epoch_us(o_orderdate)))
                     // {_DAY_US} AS BIGINT) AS recency_days,
                CAST(count(*) AS BIGINT) AS frequency,
                CAST(sum({_CENTS}) AS BIGINT) AS monetary_e2
             FROM orders GROUP BY 1),
       n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM c),
       rr AS (SELECT o_custkey, frequency, monetary_e2,
                CAST(row_number() OVER (ORDER BY recency_days ASC, o_custkey ASC)
                  AS BIGINT) AS ir,
                CAST(row_number() OVER (ORDER BY frequency ASC, o_custkey ASC)
                  AS BIGINT) AS if_,
                CAST(row_number() OVER (ORDER BY monetary_e2 ASC, o_custkey ASC)
                  AS BIGINT) AS im
              FROM c),
       sc AS (SELECT CAST(1 + 5 * (ir - 1) // n.n AS BIGINT) AS r_score,
                     CAST(1 + 5 * (if_ - 1) // n.n AS BIGINT) AS f_score,
                     CAST(1 + 5 * (im - 1) // n.n AS BIGINT) AS m_score,
                     monetary_e2
              FROM rr CROSS JOIN n)
       SELECT r_score, f_score, m_score,
              CAST(count(*) AS BIGINT) AS n_customers,
              CAST(sum(monetary_e2) AS BIGINT) AS total_spend_e2
       FROM sc GROUP BY 1, 2, 3""",
)
def _rfm_segmentation(spark, sf_dir):
    """RFM segmentation (Hughes 1994): recency (days since last
    order, scored so FRESH customers rank low→score 1 ordering kept
    symmetric with F/M for cross-engine simplicity), frequency and
    monetary quintiles — score = 1 + 5*(rank-1) div n with ranks from
    data/sharding.distributed_rank (range shuffle + offset map, NO
    single-reducer sort at 10^9 customers; custkey tie-break makes the
    rank total). Output is the segment-level cell table (<=125 rows)
    with customer counts and exact cent totals — the classic CRM
    targeting cube."""
    from redshells_spark.data.sharding import distributed_rank

    o = _t(spark, sf_dir, "orders")
    od_us = event_us(o, "o_orderdate").alias("od")
    base = o.select("o_custkey", od_us, money_units(F.col("o_totalprice"), 100).alias("ce"))
    mx = base.agg(F.max("od").alias("mxd"))
    c = (
        base.groupBy("o_custkey")
        .agg(
            F.max("od").alias("last_od"),
            F.count(F.lit(1)).cast("long").alias("frequency"),
            F.sum("ce").cast("long").alias("monetary_e2"),
        )
        .crossJoin(F.broadcast(mx))
        .select(
            "o_custkey",
            F.expr(f"(mxd - last_od) div {_DAY_US}").cast("long").alias("recency_days"),
            "frequency",
            "monetary_e2",
        )
    )
    n = c.agg(F.count(F.lit(1)).cast("long").alias("n"))
    r1 = distributed_rank(c, [F.col("recency_days").asc(), F.col("o_custkey").asc()], out_col="ir0")
    r2 = distributed_rank(
        r1, [F.col("frequency").asc(), F.col("o_custkey").asc()], out_col="if0"
    )
    r3 = distributed_rank(
        r2, [F.col("monetary_e2").asc(), F.col("o_custkey").asc()], out_col="im0"
    )
    sc = r3.crossJoin(F.broadcast(n)).select(
        F.expr("cast(1 + 5 * ir0 div n as long)").alias("r_score"),
        F.expr("cast(1 + 5 * if0 div n as long)").alias("f_score"),
        F.expr("cast(1 + 5 * im0 div n as long)").alias("m_score"),
        "monetary_e2",
    )
    return sc.groupBy("r_score", "f_score", "m_score").agg(
        F.count(F.lit(1)).cast("long").alias("n_customers"),
        F.sum("monetary_e2").cast("long").alias("total_spend_e2"),
    )


# ------------------------------------------------- growth accounting


@q(
    "growth_accounting_weekly",
    f"""WITH a AS (SELECT DISTINCT user_id,
                          epoch_us(ts) // {_WEEK_US} AS week
              FROM events),
       f AS (SELECT user_id, min(week) AS first_week FROM a GROUP BY 1),
       wk AS (SELECT DISTINCT week FROM a),
       stats AS (SELECT w.week,
            CAST(count(cur.user_id) AS BIGINT) AS n_active,
            CAST(sum(CASE WHEN f.first_week = w.week THEN 1 ELSE 0 END)
              AS BIGINT) AS n_new,
            CAST(sum(CASE WHEN prev.user_id IS NOT NULL THEN 1 ELSE 0 END)
              AS BIGINT) AS n_retained,
            CAST(sum(CASE WHEN prev.user_id IS NULL
                           AND f.first_week < w.week THEN 1 ELSE 0 END)
              AS BIGINT) AS n_resurrected
           FROM wk w
           JOIN a cur ON cur.week = w.week
           JOIN f ON f.user_id = cur.user_id
           LEFT JOIN a prev ON prev.user_id = cur.user_id
                            AND prev.week = w.week - 1
           GROUP BY 1),
       ch AS (SELECT w.week, CAST(count(*) AS BIGINT) AS n_churned
              FROM wk w
              JOIN a prev ON prev.week = w.week - 1
              LEFT JOIN a cur ON cur.user_id = prev.user_id
                              AND cur.week = w.week
              WHERE cur.user_id IS NULL
              GROUP BY 1)
       SELECT CAST(s.week AS BIGINT) AS week, s.n_active, s.n_new,
              s.n_retained, s.n_resurrected,
              CAST(coalesce(c.n_churned, 0) AS BIGINT) AS n_churned,
              CASE WHEN coalesce(c.n_churned, 0) > 0 THEN
                round(CAST(s.n_new + s.n_resurrected AS DOUBLE)
                      / CAST(c.n_churned AS DOUBLE), 4)
              END AS quick_ratio
       FROM stats s LEFT JOIN ch c ON c.week = s.week""",
)
def _growth_accounting_weekly(spark, sf_dir):
    """Weekly growth accounting (the Social Capital MAU decomposition):
    active(w) = new(w) + retained(w) + resurrected(w), with churned(w)
    = active(w-1) - retained(w) and the quick ratio (new+resurrected)/
    churned. ONE user-keyed fact shuffle (map-side-dedup'd
    collect_set of weeks) plus one explode and one week-bounded
    aggregate — new/retained/resurrected/churned are all array tests
    against the user's own week set, so there is no self-join, no
    window, and no second fact pass; a user's week count is bounded by
    the calendar, so the set rows stay small at 10^9 users. The
    product-growth companion to retention_cohorts."""
    ev = _t(spark, sf_dir, "events")
    # ONE fact-scale shuffle: the per-user week SET (map-side-dedup'd
    # collect_set) carries everything the former distinct + min-week
    # agg + two user-keyed self-joins derived — new/retained/
    # resurrected are array tests against the user's own week set, and
    # each (user, week) row also emits its churn contribution at
    # week+1 when the user is absent then. Weeks nobody was active in
    # never occur (every event has a user), and churn emissions landing
    # past a user's horizon drop in the final left join exactly as the
    # self-join formulation dropped them.
    pu = (
        ev.select("user_id", event_us(ev).alias("us"))
        .select("user_id", F.expr(f"us div {_WEEK_US}").cast("long").alias("week"))
        .groupBy("user_id")
        .agg(F.collect_set("week").alias("ws"))
        .select("ws", F.array_min("ws").alias("fw"))
    )
    act = F.struct(
        F.col("w").alias("week"),
        F.lit(1).alias("is_active"),
        (F.col("fw") == F.col("w")).cast("int").alias("is_new"),
        F.array_contains("ws", F.col("w") - 1).cast("int").alias("is_ret"),
        (
            ~F.array_contains("ws", F.col("w") - 1)
            & (F.col("fw") < F.col("w"))
        )
        .cast("int")
        .alias("is_res"),
        F.lit(0).alias("is_churn"),
    )
    churn = F.struct(
        (F.col("w") + 1).alias("week"),
        F.lit(0).alias("is_active"),
        F.lit(0).alias("is_new"),
        F.lit(0).alias("is_ret"),
        F.lit(0).alias("is_res"),
        F.lit(1).alias("is_churn"),
    )
    contrib = (
        pu.select(F.explode("ws").alias("w"), "ws", "fw")
        .select(
            F.explode(
                F.when(
                    ~F.array_contains("ws", F.col("w") + 1),
                    F.array(act, churn),
                ).otherwise(F.array(act))
            ).alias("c")
        )
        .select("c.*")
    )
    byweek = contrib.groupBy("week").agg(
        F.sum("is_active").cast("long").alias("n_active"),
        F.sum("is_new").cast("long").alias("n_new"),
        F.sum("is_ret").cast("long").alias("n_retained"),
        F.sum("is_res").cast("long").alias("n_resurrected"),
        F.sum("is_churn").cast("long").alias("n_churned"),
    )
    # weeks with only churn emissions (nobody active) are exactly the
    # rows the former stats-side inner join dropped; active weeks with
    # no churn already hold the exact 0 the former coalesce produced —
    # so the stats⋈ch join collapses into one filter
    out = byweek.filter(F.col("n_active") > 0).select(
        F.col("week").cast("long"),
        "n_active",
        "n_new",
        "n_retained",
        "n_resurrected",
        F.col("n_churned").cast("long").alias("n_churned"),
        F.when(
            F.col("n_churned") > 0,
            F.round(
                (F.col("n_new") + F.col("n_resurrected")).cast("double")
                / F.col("n_churned").cast("double"),
                4,
            ),
        ).alias("quick_ratio"),
    )
    return out


# ------------------------------------------------- DAU/MAU stickiness


@q(
    "dau_mau_stickiness",
    f"""WITH d AS (SELECT DISTINCT user_id,
                          epoch_us(ts) // {_DAY_US} AS day,
                          epoch_us(ts) // {28 * _DAY_US} AS period
              FROM events),
       dau AS (SELECT period, day, CAST(count(*) AS BIGINT) AS dau
               FROM d GROUP BY 1, 2),
       agg AS (SELECT period, CAST(sum(dau) AS BIGINT) AS sum_dau,
                      CAST(count(*) AS BIGINT) AS n_days
               FROM dau GROUP BY 1),
       mau AS (SELECT period, CAST(count(DISTINCT user_id) AS BIGINT) AS mau
               FROM d GROUP BY 1)
       SELECT CAST(a.period AS BIGINT) AS period, a.n_days, a.sum_dau, m.mau,
              CAST(a.sum_dau * 1000000 // (a.n_days * m.mau) AS BIGINT)
                AS stickiness_e6
       FROM agg a JOIN mau m USING (period)""",
)
def _dau_mau_stickiness(spark, sf_dir):
    """DAU/MAU stickiness per 28-day period: mean daily actives over
    period actives, the engagement-frequency readout product teams
    track beside growth accounting. Integer end to end — the ratio is
    e6-quantized with int64 division (sum_dau*1e6 div (days*mau)), so
    no float exists anywhere. Two distinct-aggregations over the
    (user, day) activity relation; 28-day periods keep the bucketing
    pure integer arithmetic (calendar months would drag timezone
    semantics into the contract)."""
    ev = _t(spark, sf_dir, "events")
    d = (
        ev.select("user_id", event_us(ev).alias("us"))
        .select(
            "user_id",
            F.expr(f"us div {_DAY_US}").cast("long").alias("day"),
            F.expr(f"us div {28 * _DAY_US}").cast("long").alias("period"),
        )
        .distinct()
    )
    # one aggregation pass over the distinct activity relation: d is
    # distinct (user, day) rows, so count(*) IS sum-of-daily-DAU, and
    # a day belongs to exactly one period (period = day div 28) so the
    # distinct-day count equals the dau-branch's group count — no
    # dau/mau self-join, one events scan instead of two
    agg = d.groupBy("period").agg(
        F.count(F.lit(1)).cast("long").alias("sum_dau"),
        F.countDistinct("day").cast("long").alias("n_days"),
        F.countDistinct("user_id").cast("long").alias("mau"),
    )
    return agg.select(
        F.col("period").cast("long"),
        "n_days",
        "sum_dau",
        "mau",
        F.expr("sum_dau * 1000000 div (n_days * mau)")
        .cast("long")
        .alias("stickiness_e6"),
    )


# --------------------------------------------- price elasticity


@q(
    "price_elasticity_by_flag",
    """WITH b AS (SELECT l_returnflag,
                CAST(floor(ln(CAST(l_extendedprice AS DOUBLE)) * 10000
                           + CAST(0.5 AS DOUBLE)) AS BIGINT) AS lx,
                CAST(floor(ln(CAST(l_quantity AS DOUBLE)) * 10000
                           + CAST(0.5 AS DOUBLE)) AS BIGINT) AS ly
              FROM lineitem WHERE l_quantity > 0 AND l_extendedprice > 0),
       s AS (SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
                    CAST(sum(lx) AS BIGINT) AS sx, CAST(sum(ly) AS BIGINT) AS sy,
                    CAST(sum(lx * lx) AS BIGINT) AS sxx,
                    CAST(sum(lx * ly) AS BIGINT) AS sxy,
                    CAST(sum(ly * ly) AS BIGINT) AS syy
             FROM b GROUP BY 1)
       SELECT l_returnflag, n,
              round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                    / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                       - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6)
                AS elasticity,
              round((CAST(sy AS DOUBLE)
                     - (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                        - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                       / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                          - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                       * CAST(sx AS DOUBLE))
                    / CAST(n AS DOUBLE) / CAST(10000 AS DOUBLE), 6)
                AS intercept_ln,
              round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                     - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                    * (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                       - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                    / ((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                       * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                          - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6) AS r2
       FROM s ORDER BY l_returnflag""",
)
def _price_elasticity_by_flag(spark, sf_dir):
    """Log-log price elasticity of demand per return flag: OLS slope
    of ln(quantity) on ln(extendedprice) — the econometric readout for
    pricing teams, the grouped-OLS family's log-domain member. Per-row
    logs are e4-quantized (int64 moment sums stay within range at
    factor-100: |lx|<=1.2e5 so sum(lx*ly) <= ~1e10 per row — 6e9 rows
    headroom); slope/intercept/r2 use DOUBLE-cast moment
    products (n*sxy at 10^9-row groups exceeds int64 — the factor-10
    differential caught the int form overflowing; the int64 SUMS stay
    exact, only the final one-shot products are double)."""
    li = _t(spark, sf_dir, "lineitem")
    b = li.filter((F.col("l_quantity") > 0) & (F.col("l_extendedprice") > 0)).select(
        "l_returnflag",
        F.floor(F.log(F.col("l_extendedprice").cast("double")) * F.lit(10000.0) + F.lit(0.5))
        .cast("long")
        .alias("lx"),
        F.floor(F.log(F.col("l_quantity").cast("double")) * F.lit(10000.0) + F.lit(0.5))
        .cast("long")
        .alias("ly"),
    )
    s = b.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("lx").cast("long").alias("sx"),
        F.sum("ly").cast("long").alias("sy"),
        F.sum(F.col("lx") * F.col("lx")).cast("long").alias("sxx"),
        F.sum(F.col("lx") * F.col("ly")).cast("long").alias("sxy"),
        F.sum(F.col("ly") * F.col("ly")).cast("long").alias("syy"),
    )
    nd = F.col("n").cast("double")
    num = nd * F.col("sxy").cast("double") - F.col("sx").cast("double") * F.col("sy").cast("double")
    den = nd * F.col("sxx").cast("double") - F.col("sx").cast("double") * F.col("sx").cast("double")
    deny = nd * F.col("syy").cast("double") - F.col("sy").cast("double") * F.col("sy").cast("double")
    return s.select(
        "l_returnflag",
        "n",
        F.round(num / den, 6).alias("elasticity"),
        F.round(
            (F.col("sy").cast("double") - num / den * F.col("sx").cast("double"))
            / F.col("n").cast("double")
            / F.lit(10000.0),
            6,
        ).alias("intercept_ln"),
        F.round(num * num / (den * deny), 6).alias("r2"),
    ).orderBy("l_returnflag")


# --------------------------------------- Markov removal attribution

_MARKOV_CHANNELS = ["signup", "view", "click", "error"]


def _markov_oracle_sql(horizon: int = 16) -> str:
    chs = _MARKOV_CHANNELS
    base = """ev0 AS (SELECT user_id AS u, event_type AS t,
                      epoch_us(ts) AS us, event_id AS eid FROM events),
       fp AS (SELECT u, min(ROW(us, eid)) AS f FROM ev0
              WHERE t = 'purchase' GROUP BY 1),
       pre AS MATERIALIZED (SELECT e.u, e.t, e.us, e.eid, fp.u IS NOT NULL AS conv
               FROM ev0 e LEFT JOIN fp ON fp.u = e.u
               WHERE e.t <> 'purchase'
                 AND (fp.u IS NULL OR ROW(e.us, e.eid) < fp.f)),
       ordered AS (SELECT u, t, conv,
                lag(t) OVER (PARTITION BY u ORDER BY us ASC, eid ASC) AS prev,
                row_number() OVER (PARTITION BY u ORDER BY us DESC, eid DESC)
                  AS rdesc
               FROM pre),
       tmid AS (SELECT coalesce(prev, 'start') AS src, t AS dst FROM ordered),
       tend AS (SELECT t AS src, CASE WHEN conv THEN 'conv' ELSE 'null' END AS dst
                FROM ordered WHERE rdesc = 1),
       tempty AS (SELECT 'start' AS src, 'conv' AS dst
                  FROM fp LEFT JOIN (SELECT DISTINCT u FROM pre) p ON p.u = fp.u
                  WHERE p.u IS NULL),
       cnt AS MATERIALIZED (SELECT src, dst, CAST(count(*) AS BIGINT) AS c
               FROM (SELECT * FROM tmid UNION ALL SELECT * FROM tend
                     UNION ALL SELECT * FROM tempty) GROUP BY 1, 2)"""
    parts = [base]
    for v in ["base"] + chs:
        if v == "base":
            cv = "cnt_base AS (SELECT src, dst, c FROM cnt)"
        else:
            cv = (
                f"cnt_{v} AS (SELECT src, CASE WHEN dst = '{v}' THEN 'null' "
                f"ELSE dst END AS dst, CAST(sum(c) AS BIGINT) AS c "
                f"FROM cnt WHERE src <> '{v}' GROUP BY 1, 2)"
            )
        tv = (
            f"tot_{v} AS (SELECT src, CAST(sum(c) AS BIGINT) AS tt "
            f"FROM cnt_{v} GROUP BY 1),\n       "
            f"tr_{v} AS MATERIALIZED (SELECT c.src, c.dst, "
            f"round(CAST(c.c AS DOUBLE) / CAST(t.tt AS DOUBLE), 10) AS p "
            f"FROM cnt_{v} c JOIN tot_{v} t USING (src)),\n       "
            f"v0_{v} AS (SELECT DISTINCT src AS node, CAST(0 AS DOUBLE) AS value "
            f"FROM tr_{v} UNION ALL SELECT 'conv', CAST(1 AS DOUBLE) "
            f"UNION ALL SELECT 'null', CAST(0 AS DOUBLE))"
        )
        steps = []
        prev = f"v0_{v}"
        for i in range(1, horizon + 1):
            steps.append(
                f"v{i}_{v} AS (SELECT t.src AS node, "
                f"round(sum(t.p * vv.value), 10) AS value "
                f"FROM tr_{v} t JOIN {prev} vv ON vv.node = t.dst GROUP BY 1 "
                f"UNION ALL SELECT 'conv', CAST(1 AS DOUBLE) "
                f"UNION ALL SELECT 'null', CAST(0 AS DOUBLE))"
            )
            prev = f"v{i}_{v}"
        pc = f"pc_{v} AS MATERIALIZED (SELECT value AS pc FROM {prev} WHERE node = 'start')"
        parts.append(",\n       ".join([cv, tv] + steps + [pc]))
    eff = {
        ch: (
            f"greatest(round(CAST(1 AS DOUBLE) - (SELECT pc FROM pc_{ch}) "
            f"/ (SELECT pc FROM pc_base), 6), CAST(0 AS DOUBLE))"
        )
        for ch in chs
    }
    total = " + ".join(eff[ch] for ch in chs)
    rows = "\nUNION ALL\n".join(
        f"""SELECT '{ch}' AS channel, (SELECT pc FROM pc_base) AS pc_base,
              (SELECT pc FROM pc_{ch}) AS pc_removed,
              {eff[ch]} AS removal_effect,
              CASE WHEN {total} > 0
                   THEN round({eff[ch]} / ({total}), 6) END AS attribution_share"""
        for ch in chs
    )
    return "WITH " + ",\n       ".join(parts) + "\n       " + rows


@q("markov_attribution", _markov_oracle_sql(16))
def _markov_attribution(spark, sf_dir):
    """Markov-chain multi-touch attribution by removal effect (Anderl
    et al. 2014): user journeys (events strictly before the first
    purchase, (time, event_id)-ordered) become a first-order chain over
    start/channels/conv/null; each channel's credit is the relative
    drop in the BOUNDED-HORIZON conversion probability (16 value-
    iteration steps, each rounded to 10 decimals — the pagerank
    cross-engine idiom) when the channel is cut from the graph. The
    chain solves run on the (channels+2)^2-bounded transition level
    table; journey derivation is one user-partitioned window. The
    data-driven counterpart of attribution_revenue's positional rules.
    operators/markov.py."""
    from redshells_spark.operators.markov import (
        journey_transition_counts,
        removal_effect_attribution,
    )

    ev = _t(spark, sf_dir, "events")
    ev2 = ev.select(
        "user_id", "event_type", "event_id", event_us(ev).alias("us")
    )
    cnt = journey_transition_counts(ev2)
    return removal_effect_attribution(spark, cnt, _MARKOV_CHANNELS, horizon=16)


# --------------------------------------------- mix/rate decomposition


@q(
    "mix_rate_decomposition",
    f"""WITH o AS (SELECT o_custkey,
                CAST(floor(o_totalprice * 100 + CAST(0.5 AS DOUBLE))
                     AS BIGINT) AS cents,
                epoch_us(o_orderdate) // {_DAY_US} AS day
         FROM orders),
       lv AS (SELECT day, CAST(count(*) AS BIGINT) AS cnt FROM o GROUP BY 1),
       nn AS (SELECT CAST(sum(cnt) AS BIGINT) AS n FROM lv),
       med AS (SELECT CAST(min(day) AS BIGINT) AS med
               FROM (SELECT day, CAST(sum(cnt) OVER (ORDER BY day ASC
                       ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum FROM lv) c
               CROSS JOIN nn WHERE c.cum * 2 >= nn.n),
       j AS (SELECT c.c_mktsegment AS segment,
                    CASE WHEN o.day <= med.med THEN 0 ELSE 1 END AS period,
                    o.cents
             FROM o JOIN customer c ON o.o_custkey = c.c_custkey
             CROSS JOIN med),
       per AS (SELECT segment, period, CAST(count(*) AS BIGINT) AS n_g,
                      CAST(sum(cents) AS BIGINT) AS s_g
               FROM j GROUP BY 1, 2),
       tot AS (SELECT period, CAST(sum(n_g) AS BIGINT) AS n_p
               FROM per GROUP BY 1),
       wide AS (SELECT p0.segment,
                       p0.n_g AS n0, p0.s_g AS s0, t0.n_p AS np0,
                       p1.n_g AS n1, p1.s_g AS s1, t1.n_p AS np1
                FROM per p0
                JOIN per p1 ON p1.segment = p0.segment AND p1.period = 1
                JOIN tot t0 ON t0.period = 0
                JOIN tot t1 ON t1.period = 1
                WHERE p0.period = 0)
       SELECT segment,
              CAST(n0 * 1000000 // np0 AS BIGINT) AS w0_e6,
              CAST(n1 * 1000000 // np1 AS BIGINT) AS w1_e6,
              round(CAST(s0 AS DOUBLE) / CAST(n0 AS DOUBLE) / 100, 4) AS r0,
              round(CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE) / 100, 4) AS r1,
              round((CAST(n1 AS DOUBLE) / CAST(np1 AS DOUBLE)
                     - CAST(n0 AS DOUBLE) / CAST(np0 AS DOUBLE))
                    * (CAST(s0 AS DOUBLE) / CAST(n0 AS DOUBLE)) / 100, 4)
                AS mix_effect,
              round((CAST(n0 AS DOUBLE) / CAST(np0 AS DOUBLE))
                    * (CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)
                       - CAST(s0 AS DOUBLE) / CAST(n0 AS DOUBLE)) / 100, 4)
                AS rate_effect,
              round((CAST(n1 AS DOUBLE) / CAST(np1 AS DOUBLE)
                     - CAST(n0 AS DOUBLE) / CAST(np0 AS DOUBLE))
                    * (CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE)
                       - CAST(s0 AS DOUBLE) / CAST(n0 AS DOUBLE)) / 100, 4)
                AS interaction
       FROM wide ORDER BY segment""",
)
def _mix_rate_decomposition(spark, sf_dir):
    """Mix/rate (shift-share, Oaxaca-style) decomposition of the
    change in average order value between the first and second half of
    the order history, by market segment: delta = sum (w1-w0)*r0
    [composition shifted] + sum w0*(r1-r0) [behavior changed] + the
    interaction — the decomposition every "why did the average move"
    question needs. The period split is the exact median order day
    (level cumweight); weights are exact e6 integer shares; every
    effect is one fixed IEEE tree over exact int64 (count, cents-sum)
    moments. The three effect columns sum to the total change exactly
    (pinned in tests)."""
    o0 = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    o = o0.select(
        "o_custkey",
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long").alias("cents"),
        F.expr(f"cast(unix_micros(cast(o_orderdate as timestamp)) div {_DAY_US} as long)").alias(
            "day"
        ),
    )
    lv = (
        o.groupBy("day")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        # day-level bounded; the total and the cumulative-weight
        # median scan both consume it
        .localCheckpoint(eager=True)
    )
    nn = lv.agg(F.sum("cnt").cast("long").alias("n"))
    w = Window.orderBy(F.col("day").asc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    cw = lv.select("day", F.sum("cnt").over(w).cast("long").alias("cum"))
    med = (
        cw.crossJoin(F.broadcast(nn))
        .filter(F.col("cum") * 2 >= F.col("n"))
        .agg(F.min("day").cast("long").alias("med"))
    )
    j = (
        o.join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .crossJoin(F.broadcast(med))
        .select(
            F.col("c_mktsegment").alias("segment"),
            F.when(F.col("day") <= F.col("med"), 0).otherwise(1).alias("period"),
            "cents",
        )
    )
    per = (
        j.groupBy("segment", "period")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_g"),
            F.sum("cents").cast("long").alias("s_g"),
        )
        # segment x period bounded; tot/p0/p1 each re-ran the orders
        # scan + dim join without the pin (16 scans at the r8 audit)
        .localCheckpoint(eager=True)
    )
    tot = per.groupBy("period").agg(F.sum("n_g").cast("long").alias("n_p"))
    p0 = per.filter(F.col("period") == 0).select(
        "segment", F.col("n_g").alias("n0"), F.col("s_g").alias("s0")
    )
    p1 = per.filter(F.col("period") == 1).select(
        "segment", F.col("n_g").alias("n1"), F.col("s_g").alias("s1")
    )
    t0 = tot.filter(F.col("period") == 0).select(F.col("n_p").alias("np0"))
    t1 = tot.filter(F.col("period") == 1).select(F.col("n_p").alias("np1"))
    wide = (
        p0.join(p1, "segment")
        .crossJoin(F.broadcast(t0))
        .crossJoin(F.broadcast(t1))
    )
    w0 = F.col("n0").cast("double") / F.col("np0").cast("double")
    w1 = F.col("n1").cast("double") / F.col("np1").cast("double")
    r0 = F.col("s0").cast("double") / F.col("n0").cast("double")
    r1 = F.col("s1").cast("double") / F.col("n1").cast("double")
    return wide.select(
        "segment",
        F.expr("cast(n0 * 1000000 div np0 as long)").alias("w0_e6"),
        F.expr("cast(n1 * 1000000 div np1 as long)").alias("w1_e6"),
        F.round(r0 / 100, 4).alias("r0"),
        F.round(r1 / 100, 4).alias("r1"),
        F.round((w1 - w0) * r0 / 100, 4).alias("mix_effect"),
        F.round(w0 * (r1 - r0) / 100, 4).alias("rate_effect"),
        F.round((w1 - w0) * (r1 - r0) / 100, 4).alias("interaction"),
    ).orderBy("segment")


# ------------------------------------------------ price indices


@q(
    "price_indices_periods",
    f"""WITH li AS (SELECT l.l_partkey AS part,
                CASE WHEN epoch_us(o.o_orderdate) // {_DAY_US} <=
                  (SELECT CAST(min(day) AS BIGINT) FROM (
                     SELECT day, CAST(sum(cnt) OVER (ORDER BY day ASC
                       ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
                            CAST((SELECT count(*) FROM orders) AS BIGINT) AS n
                     FROM (SELECT epoch_us(o_orderdate) // {_DAY_US} AS day,
                                  CAST(count(*) AS BIGINT) AS cnt
                           FROM orders GROUP BY 1)) c WHERE c.cum * 2 >= c.n)
                THEN 0 ELSE 1 END AS period,
                CAST(l_quantity AS BIGINT) AS q,
                CAST(floor(l.l_extendedprice * 100 + CAST(0.5 AS DOUBLE))
                     AS BIGINT) AS rev
         FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
       pp AS (SELECT part, period, CAST(sum(q) AS BIGINT) AS q,
                     CAST(sum(rev) AS BIGINT) AS rev
              FROM li GROUP BY 1, 2),
       bp AS (SELECT p0.part, p0.q AS q0, p0.rev AS rev0,
                       p1.q AS q1, p1.rev AS rev1
                FROM pp p0 JOIN pp p1 ON p1.part = p0.part AND p1.period = 1
                WHERE p0.period = 0),
       s AS (SELECT CAST(count(*) AS BIGINT) AS n_parts,
                    CAST(sum(rev0) AS BIGINT) AS sum_p0q0,
                    CAST(sum(rev1) AS BIGINT) AS sum_p1q1,
                    CAST(sum(CAST(floor(CAST(rev1 AS DOUBLE)
                                        / CAST(q1 AS DOUBLE)
                                        * CAST(q0 AS DOUBLE)
                                        + CAST(0.5 AS DOUBLE)) AS BIGINT))
                         AS BIGINT) AS sum_p1q0,
                    CAST(sum(CAST(floor(CAST(rev0 AS DOUBLE)
                                        / CAST(q0 AS DOUBLE)
                                        * CAST(q1 AS DOUBLE)
                                        + CAST(0.5 AS DOUBLE)) AS BIGINT))
                         AS BIGINT) AS sum_p0q1
             FROM bp)
       SELECT n_parts,
              round(CAST(sum_p1q0 AS DOUBLE) / CAST(sum_p0q0 AS DOUBLE), 6)
                AS laspeyres,
              round(CAST(sum_p1q1 AS DOUBLE) / CAST(sum_p0q1 AS DOUBLE), 6)
                AS paasche,
              round(sqrt((CAST(sum_p1q0 AS DOUBLE) / CAST(sum_p0q0 AS DOUBLE))
                         * (CAST(sum_p1q1 AS DOUBLE)
                            / CAST(sum_p0q1 AS DOUBLE))), 6) AS fisher
       FROM s""",
)
def _price_indices_periods(spark, sf_dir):
    """Laspeyres, Paasche, and Fisher price indices between the first
    and second half of the order history over parts sold in BOTH
    periods — the canonical basket-weighted price-change measures
    (Laspeyres weights by old quantities, Paasche by new, Fisher is
    their geometric mean and the one national statistics ship).
    Per-part unit values rev/qty enter the cross terms as cent-rounded
    integers (floor +0.5 per part, then exact int64 sums), while the
    like-period terms sum(p0q0)/sum(p1q1) ARE the exact revenue cents.
    The period split reuses the exact median order day."""
    o0 = _t(spark, sf_dir, "orders")
    li0 = _t(spark, sf_dir, "lineitem")
    o = o0.select(
        "o_orderkey",
        F.expr(
            f"cast(unix_micros(cast(o_orderdate as timestamp)) div {_DAY_US} as long)"
        ).alias("day"),
    )
    lv = (
        o.groupBy("day")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        # day-level bounded; the total and the cumulative-weight
        # median scan both consume it
        .localCheckpoint(eager=True)
    )
    nn = lv.agg(F.sum("cnt").cast("long").alias("n"))
    w = Window.orderBy(F.col("day").asc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    cw = lv.select("day", F.sum("cnt").over(w).cast("long").alias("cum"))
    med = (
        cw.crossJoin(F.broadcast(nn))
        .filter(F.col("cum") * 2 >= F.col("n"))
        .agg(F.min("day").cast("long").alias("med"))
    )
    li = (
        li0.join(o, li0["l_orderkey"] == o["o_orderkey"])
        .crossJoin(F.broadcast(med))
        .select(
            F.col("l_partkey").alias("part"),
            F.when(F.col("day") <= F.col("med"), 0).otherwise(1).alias("period"),
            F.col("l_quantity").cast("long").alias("q"),
            F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5))
            .cast("long")
            .alias("rev"),
        )
    )
    pp = (
        li.groupBy("part", "period")
        .agg(
            F.sum("q").cast("long").alias("q"),
            F.sum("rev").cast("long").alias("rev"),
        )
        # 2 longs per (part, period); both period slices consume it -
        # unpinned, the lineitem x orders join ran twice
        .localCheckpoint(eager=True)
    )
    p0 = pp.filter(F.col("period") == 0).select(
        "part", F.col("q").alias("q0"), F.col("rev").alias("rev0")
    )
    p1 = pp.filter(F.col("period") == 1).select(
        "part", F.col("q").alias("q1"), F.col("rev").alias("rev1")
    )
    both = p0.join(p1, "part")
    s = both.agg(
        F.count(F.lit(1)).cast("long").alias("n_parts"),
        F.sum("rev0").cast("long").alias("sum_p0q0"),
        F.sum("rev1").cast("long").alias("sum_p1q1"),
        F.sum(
            F.floor(
                F.col("rev1").cast("double")
                / F.col("q1").cast("double")
                * F.col("q0").cast("double")
                + F.lit(0.5)
            ).cast("long")
        )
        .cast("long")
        .alias("sum_p1q0"),
        F.sum(
            F.floor(
                F.col("rev0").cast("double")
                / F.col("q0").cast("double")
                * F.col("q1").cast("double")
                + F.lit(0.5)
            ).cast("long")
        )
        .cast("long")
        .alias("sum_p0q1"),
    )
    lasp = F.col("sum_p1q0").cast("double") / F.col("sum_p0q0").cast("double")
    paas = F.col("sum_p1q1").cast("double") / F.col("sum_p0q1").cast("double")
    return s.select(
        "n_parts",
        F.round(lasp, 6).alias("laspeyres"),
        F.round(paas, 6).alias("paasche"),
        F.round(F.sqrt(lasp * paas), 6).alias("fisher"),
    )


# -------------------------------------------- retention decay fit


@q(
    "retention_decay_fit",
    f"""WITH e AS (SELECT user_id, epoch_us(ts) // {_WEEK_US} AS w
               FROM events),
       uw AS (SELECT DISTINCT user_id, w FROM e),
       coh AS (SELECT user_id, CAST(min(w) AS BIGINT) AS c FROM uw GROUP BY 1),
       maxw AS (SELECT CAST(max(w) AS BIGINT) AS mw FROM uw),
       act AS (SELECT u.w - c.c AS age, CAST(count(*) AS BIGINT) AS active
               FROM uw u JOIN coh c USING (user_id)
               WHERE u.w - c.c >= 1
               GROUP BY 1),
       elig AS (SELECT a.age, CAST(count(*) AS BIGINT) AS eligible
                FROM coh c CROSS JOIN maxw
                JOIN (SELECT DISTINCT u.w - c2.c AS age
                      FROM uw u JOIN coh c2 USING (user_id)
                      WHERE u.w - c2.c >= 1) a
                  ON c.c + a.age <= maxw.mw
                GROUP BY 1),
       r AS (SELECT a.age,
                    CAST(a.active * 1000000 // e.eligible AS BIGINT) AS rate_e6
             FROM act a JOIN elig e USING (age)
             WHERE a.active > 0),
       lp AS (SELECT age,
                     CAST(floor(ln(CAST(rate_e6 AS DOUBLE)
                                   / CAST(1000000 AS DOUBLE))
                                * 1000000000 + CAST(0.5 AS DOUBLE)) AS BIGINT)
                       AS lr_e9
              FROM r),
       m AS (SELECT CAST(count(*) AS BIGINT) AS n,
                    CAST(sum(age) AS BIGINT) AS sx,
                    CAST(sum(lr_e9) AS BIGINT) AS sy,
                    CAST(sum(age * lr_e9) AS BIGINT) AS sxy,
                    CAST(sum(age * age) AS BIGINT) AS sxx
             FROM lp),
       fit AS (SELECT n,
                      CAST(n * sxy - sx * sy AS DOUBLE)
                        / CAST(n * sxx - sx * sx AS DOUBLE)
                        / CAST(1000000000 AS DOUBLE) AS slope,
                      (CAST(sy AS DOUBLE) / CAST(1000000000 AS DOUBLE)
                       - (CAST(n * sxy - sx * sy AS DOUBLE)
                          / CAST(n * sxx - sx * sx AS DOUBLE)
                          / CAST(1000000000 AS DOUBLE))
                         * CAST(sx AS DOUBLE))
                        / CAST(n AS DOUBLE) AS intercept
               FROM m WHERE n >= 2 AND n * sxx - sx * sx <> 0)
       SELECT n AS n_points, round(slope, 6) AS slope,
              round(intercept, 6) AS intercept,
              round(CASE WHEN slope < 0
                    THEN CAST(-0.6931471805599453 AS DOUBLE) / slope
                    ELSE CAST(0 AS DOUBLE) END, 6) AS half_life_weeks
       FROM fit""",
)
def _retention_decay_fit(spark, sf_dir):
    """Exponential retention-decay fit over pooled cohort ages: the
    log-linear OLS ln(retention(age)) ~ age whose slope gives the
    retention half-life — the MODEL on top of retention_cohorts'
    table (a growth team quotes "half-life 3 weeks", not a matrix).
    Pooled age-level rates are exact e6 integer ratios
    (active-at-age over cohort-eligible-at-age); their logs are
    e9-quantized per level before the exact int64 OLS moments (the
    zipf idiom); slope/intercept/half-life (−ln2/slope, ln2 as a
    shared literal) are one fixed IEEE tree. Degenerate (<2 ages)
    corpora emit no row on either side."""
    ev = _t(spark, sf_dir, "events")
    uw = (
        ev.withColumn("us", event_us(ev, "ts"))
        .select(
            "user_id", F.expr(f"us div {_WEEK_US}").cast("long").alias("w")
        )
        .distinct()
        # (user, week) distinct rows feed the cohort map, the max-week
        # probe and the age join — pin or the events scan+dedup re-runs
        # per consumer (6 scans at the r8 audit)
        .localCheckpoint(eager=True)
    )
    coh = uw.groupBy("user_id").agg(
        F.min("w").cast("long").alias("c")
    ).localCheckpoint(eager=True)  # per-user; the age join and the
    # eligibility grid both consume it
    maxw = uw.agg(F.max("w").cast("long").alias("mw"))
    act = (
        uw.join(coh, "user_id")
        .select((F.col("w") - F.col("c")).cast("long").alias("age"))
        .filter(F.col("age") >= 1)
        .groupBy("age")
        .agg(F.count(F.lit(1)).cast("long").alias("active"))
        .localCheckpoint(eager=True)  # age-level bounded; feeds the
        # age domain and the rate join
    )
    ages = act.select("age").distinct()
    elig = (
        coh.crossJoin(F.broadcast(maxw))
        .crossJoin(F.broadcast(ages))
        .filter(F.col("c") + F.col("age") <= F.col("mw"))
        .groupBy("age")
        .agg(F.count(F.lit(1)).cast("long").alias("eligible"))
    )
    r = (
        act.join(elig, "age")
        .filter(F.col("active") > 0)
        .select(
            "age",
            F.expr("cast(active * 1000000 div eligible as long)").alias(
                "rate_e6"
            ),
        )
    )
    lp = r.select(
        "age",
        F.floor(
            F.log(F.col("rate_e6").cast("double") / F.lit(1_000_000.0))
            * F.lit(1_000_000_000)
            + F.lit(0.5)
        )
        .cast("long")
        .alias("lr_e9"),
    )
    m = lp.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("age").cast("long").alias("sx"),
        F.sum("lr_e9").cast("long").alias("sy"),
        F.sum(F.col("age") * F.col("lr_e9")).cast("long").alias("sxy"),
        F.sum(F.col("age") * F.col("age")).cast("long").alias("sxx"),
    )
    slope = (
        (
            F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
        ).cast("double")
        / (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
        / F.lit(1_000_000_000.0)
    )
    intercept = (
        F.col("sy").cast("double") / F.lit(1_000_000_000.0)
        - slope * F.col("sx").cast("double")
    ) / F.col("n").cast("double")
    return (
        m.filter(
            (F.col("n") >= 2)
            & (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx") != 0)
        )
        .select(
            F.col("n").alias("n_points"),
            F.round(slope, 6).alias("slope"),
            F.round(intercept, 6).alias("intercept"),
            F.round(
                F.when(
                    slope < 0, F.lit(-0.6931471805599453) / slope
                ).otherwise(F.lit(0.0)),
                6,
            ).alias("half_life_weeks"),
        )
    )


# ------------------------------------------- price dispersion


@q(
    "price_dispersion_by_brand",
    """WITH up AS (
         SELECT l_partkey AS partkey,
                CAST(floor(l_extendedprice * 100 + CAST(0.5 AS DOUBLE))
                     AS BIGINT)
                  // CAST(l_quantity AS BIGINT) AS unit_c
         FROM lineitem WHERE l_quantity > 0),
       pm AS (SELECT partkey, CAST(count(*) AS BIGINT) AS n,
                     CAST(sum(unit_c) AS BIGINT) AS s1,
                     CAST(sum(unit_c * unit_c) AS BIGINT) AS s2
              FROM up GROUP BY 1 HAVING count(*) >= 2),
       cv AS (SELECT partkey,
                     CAST(floor(sqrt(greatest(CAST(s2 AS DOUBLE)
                                / CAST(n AS DOUBLE)
                                - (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                                  * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)),
                                CAST(0 AS DOUBLE)))
                          / (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                          * 1000000 + CAST(0.5 AS DOUBLE)) AS BIGINT) AS cv_e6
              FROM pm WHERE s1 > 0)
       SELECT p.p_brand AS brand,
              CAST(count(*) AS BIGINT) AS n_parts,
              CAST(sum(c.cv_e6) // count(*) AS BIGINT) AS avg_cv_e6,
              CAST(max(c.cv_e6) AS BIGINT) AS max_cv_e6
       FROM cv c JOIN part p ON p.p_partkey = c.partkey
       GROUP BY 1 ORDER BY 1""",
)
def _price_dispersion_by_brand(spark, sf_dir):
    """Price dispersion of per-unit sale prices WITHIN each part,
    summarized by brand — the "law of one price" audit (high CV =
    the same part trades at very different unit prices; the pricing
    team's inconsistency report beside price_elasticity's demand
    view). Unit price is the integer-floored cent ratio
    cents div quantity (both engines floor); per-part moments are
    exact int64; each part's CV = σ/μ is one fixed IEEE tree
    half-up-rounded to e6 BEFORE the brand average, so the brand
    rollup is pure integer division. Single-sale parts drop (no
    dispersion is defined), identically on both sides."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_extendedprice", "l_quantity"
    )
    up = li.filter(F.col("l_quantity") > 0).select(
        F.col("l_partkey").alias("partkey"),
        F.expr(
            "cast(floor(l_extendedprice * 100 + cast(0.5 as double)) as bigint)"
            " div cast(l_quantity as bigint)"
        ).alias("unit_c"),
    )
    pm = (
        up.groupBy("partkey")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("unit_c").cast("long").alias("s1"),
            F.sum(F.col("unit_c") * F.col("unit_c")).cast("long").alias("s2"),
        )
        .filter(F.col("n") >= 2)
    )
    nd = F.col("n").cast("double")
    mean = F.col("s1").cast("double") / nd
    var = F.greatest(
        F.col("s2").cast("double") / nd - mean * mean, F.lit(0.0)
    )
    cv = pm.filter(F.col("s1") > 0).select(
        "partkey",
        F.floor(F.sqrt(var) / mean * F.lit(1_000_000) + F.lit(0.5))
        .cast("long")
        .alias("cv_e6"),
    )
    part = _t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    return (
        cv.join(part, cv["partkey"] == part["p_partkey"])
        .groupBy(F.col("p_brand").alias("brand"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_parts"),
            F.expr("cast(sum(cv_e6) div count(1) as long)").alias(
                "avg_cv_e6"
            ),
            F.max("cv_e6").cast("long").alias("max_cv_e6"),
        )
        .orderBy("brand")
    )


# ------------------------------------- interarrival burstiness


@q(
    "order_interarrival_burstiness",
    f"""WITH o AS (SELECT o_custkey AS custkey,
                        epoch_us(o_orderdate) // {_DAY_US} AS d
               FROM orders),
       od AS (SELECT DISTINCT custkey, d FROM o),
       gaps AS (SELECT custkey,
                       CAST(d - lag(d) OVER (PARTITION BY custkey
                          ORDER BY d ASC) AS BIGINT) AS g
                FROM od QUALIFY g IS NOT NULL),
       cm AS (SELECT custkey, CAST(count(*) AS BIGINT) AS n,
                     CAST(sum(g) AS BIGINT) AS s1,
                     CAST(sum(g * g) AS BIGINT) AS s2
              FROM gaps GROUP BY 1 HAVING count(*) >= 2),
       cv2 AS (SELECT custkey,
                      CAST(floor((CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE)
                                 - (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                                   * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)))
                                 / ((CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                                    * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)))
                                 * 1000000 + CAST(0.5 AS DOUBLE)) AS BIGINT)
                        AS cv2_e6
               FROM cm WHERE s1 > 0),
       seg AS (SELECT c_custkey, c_mktsegment FROM customer)
       SELECT s.c_mktsegment AS segment,
              CAST(count(*) AS BIGINT) AS n_customers,
              CAST(sum(v.cv2_e6) // count(*) AS BIGINT) AS avg_cv2_e6,
              CAST(sum(CASE WHEN v.cv2_e6 > 1000000 THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_bursty
       FROM cv2 v JOIN seg s ON s.c_custkey = v.custkey
       GROUP BY 1 ORDER BY 1""",
)
def _order_interarrival_burstiness(spark, sf_dir):
    """Order-interarrival burstiness by market segment: the squared
    coefficient of variation CV² of each customer's order-date gaps —
    the arrival-process classifier (CV² ≈ 1 Poisson, > 1 bursty,
    < 1 regular) and the temporal companion of
    negbin_overdispersion_fit's count view. Distinct order DAYS per
    customer feed lag-gaps (per-customer window, never global);
    per-customer moments are exact int64; CV² is one fixed IEEE tree
    half-up e6-rounded BEFORE the segment average so the rollup is
    pure integer division. Customers with < 2 gaps drop on both
    sides; n_bursty counts CV² > 1."""
    o = _t(spark, sf_dir, "orders").select("o_custkey", "o_orderdate")
    o = o.withColumn("od_us", event_us(o, "o_orderdate"))
    od = o.select(
        F.col("o_custkey").alias("custkey"),
        F.expr(f"od_us div {_DAY_US}").cast("long").alias("d"),
    ).distinct()
    wc = Window.partitionBy("custkey").orderBy(F.col("d").asc())
    gaps = od.select(
        "custkey", (F.col("d") - F.lag("d").over(wc)).cast("long").alias("g")
    ).filter(F.col("g").isNotNull())
    cm = (
        gaps.groupBy("custkey")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("g").cast("long").alias("s1"),
            F.sum(F.col("g") * F.col("g")).cast("long").alias("s2"),
        )
        .filter(F.col("n") >= 2)
    )
    nd = F.col("n").cast("double")
    mean = F.col("s1").cast("double") / nd
    var = F.col("s2").cast("double") / nd - mean * mean
    cv2 = cm.filter(F.col("s1") > 0).select(
        "custkey",
        F.floor(var / (mean * mean) * F.lit(1_000_000) + F.lit(0.5))
        .cast("long")
        .alias("cv2_e6"),
    )
    seg = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    return (
        cv2.join(seg, cv2["custkey"] == seg["c_custkey"])
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_customers"),
            F.expr("cast(sum(cv2_e6) div count(1) as long)").alias(
                "avg_cv2_e6"
            ),
            F.sum((F.col("cv2_e6") > 1_000_000).cast("long"))
            .cast("long")
            .alias("n_bursty"),
        )
        .orderBy("segment")
    )
