"""TPC-H shape completion (Q2-Q22 analogues).
"""

from redshells_spark.queries._shared import *  # noqa: F401,F403

# ------------------------------------------------ TPC-H shape completion
#
# The reference has no SQL benchmark suite; these rows complete the
# classic TPC-H query shapes (beyond the Q1/Q3/Q4/Q8/Q17/Q22 rows
# above) adapted to the driver's schema (no partsupp/comment/shipmode
# columns — partsupp-derived shapes are re-expressed over distinct
# lineitem (partkey, suppkey) pairs, which preserves the join/subquery
# structure that makes each query interesting). Money rides as exact
# integer ten-thousandths (price 2dp × (1−discount) 2dp = 4dp exact),
# so every sum is order-independent and cross-engine identical.

_REV_C_SQL = "CAST(round(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT)"


def _rev_c():
    return F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000, 0
    ).cast("long")


# UTC epoch-microsecond literals (pre-normalized in Python so the same
# integers appear in both engines regardless of the column's physical
# date encoding).
_US_1995 = 788_918_400 * 1_000_000
_US_1996 = 820_454_400 * 1_000_000
_US_1996_Q2 = 828_316_800 * 1_000_000  # 1996-04-01
_US_1996_H2 = 836_179_200 * 1_000_000  # 1996-07-01
_US_1997 = 852_076_800 * 1_000_000
_US_1998 = 883_612_800 * 1_000_000


@q(
    "q6_revenue_forecast",
    f"""SELECT round(CAST(sum(CAST(round(l_extendedprice * l_discount * 10000)
                                 AS BIGINT)) AS DOUBLE) / 10000.0, 4) AS revenue,
              count(*) AS n_lines
       FROM lineitem
       WHERE epoch_us(l_shipdate) >= {_US_1996} AND epoch_us(l_shipdate) < {_US_1997}
         AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""",
)
def _q6_revenue_forecast(spark, sf_dir):
    """TPC-H Q6: pure filter + scalar aggregate — the query whose whole
    cost is the scan, so the plan must show the three predicates in
    PushedFilters and a two-column ReadSchema. At 100 TB this is the
    canonical partition-pruning query (shipdate-partitioned layout)."""
    li = _t(spark, sf_dir, "lineitem")
    kept = li.filter(
        event_range_filter(li, "l_shipdate", _US_1996, _US_1997)
        & F.col("l_discount").between(0.05, 0.07)
        & (F.col("l_quantity") < 24)
    )
    disc_c = F.round(F.col("l_extendedprice") * F.col("l_discount") * 10000, 0).cast("long")
    return kept.agg(
        _r4(F.sum(disc_c) / 10000.0, "revenue"), F.count(F.lit(1)).alias("n_lines")
    )


@q(
    "q5_regional_revenue",
    f"""SELECT n_name,
              round(CAST(sum({_REV_C_SQL}) AS DOUBLE) / 10000.0, 4) AS revenue,
              count(*) AS n_lines
       FROM customer
         JOIN orders   ON c_custkey = o_custkey
         JOIN lineitem ON l_orderkey = o_orderkey
         JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
         JOIN nation   ON s_nationkey = n_nationkey
         JOIN region   ON n_regionkey = r_regionkey
       WHERE r_name = 'ASIA'
         AND epoch_us(o_orderdate) >= {_US_1996} AND epoch_us(o_orderdate) < {_US_1997}
       GROUP BY n_name""",
)
def _q5_regional_revenue(spark, sf_dir):
    """TPC-H Q5: local-supplier volume — the customer and the supplier
    must sit in the SAME nation (the extra equi-condition on the
    supplier join), region-filtered. Spark-first: region⋈nation folds
    to a broadcast key list; supplier and customer join broadcast at
    test scale and flip to shuffle joins under AQE at 100 TB; the date
    filter pushes to the orders scan."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    o2 = o.filter(event_range_filter(o, "o_orderdate", _US_1996, _US_1997)).select(
        "o_orderkey", "o_custkey"
    )
    nr = n.join(
        F.broadcast(r.select("r_regionkey")), n.n_regionkey == F.col("r_regionkey")
    ).select("n_nationkey", "n_name")
    rev = (
        li.select("l_orderkey", "l_suppkey", _rev_c().alias("rev_c"))
        .join(o2, F.col("l_orderkey") == o2.o_orderkey)
        .join(F.broadcast(c.select("c_custkey", "c_nationkey")), F.col("o_custkey") == F.col("c_custkey"))
        .join(
            F.broadcast(s.select("s_suppkey", "s_nationkey")),
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(F.broadcast(nr), F.col("s_nationkey") == F.col("n_nationkey"))
    )
    return rev.groupBy("n_name").agg(
        _r4(F.sum("rev_c") / 10000.0, "revenue"), F.count(F.lit(1)).alias("n_lines")
    )


@q(
    "q7_nation_trade_flows",
    f"""SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
              year(l_shipdate) AS l_year,
              round(CAST(sum({_REV_C_SQL}) AS DOUBLE) / 10000.0, 4) AS revenue,
              count(*) AS n_lines
       FROM lineitem
         JOIN supplier ON l_suppkey = s_suppkey
         JOIN nation n1 ON s_nationkey = n1.n_nationkey
         JOIN orders   ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN nation n2 ON c_nationkey = n2.n_nationkey
       WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
           OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
         AND epoch_us(l_shipdate) >= {_US_1996} AND epoch_us(l_shipdate) < {_US_1998}
       GROUP BY n1.n_name, n2.n_name, year(l_shipdate)""",
)
def _q7_nation_trade_flows(spark, sf_dir):
    """TPC-H Q7: bilateral trade volume between two nations by ship
    year — the disjunctive cross-nation predicate can't be pushed into
    either dimension alone, but each nation list IS broadcastable, so
    the fact table still sees only BroadcastHashJoins + one final
    aggregate shuffle."""
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    pair = n.filter(F.col("n_name").isin("NATION_1", "NATION_2"))
    n1 = pair.select(F.col("n_nationkey").alias("nk1"), F.col("n_name").alias("supp_nation"))
    n2 = pair.select(F.col("n_nationkey").alias("nk2"), F.col("n_name").alias("cust_nation"))
    li2 = li.filter(event_range_filter(li, "l_shipdate", _US_1996, _US_1998)).select(
        "l_orderkey",
        "l_suppkey",
        F.year(event_ts(li, "l_shipdate")).cast("long").alias("l_year"),
        _rev_c().alias("rev_c"),
    )
    rev = (
        li2.join(F.broadcast(s.select("s_suppkey", "s_nationkey")), li2.l_suppkey == F.col("s_suppkey"))
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("nk1"))
        .join(o.select("o_orderkey", "o_custkey"), li2.l_orderkey == F.col("o_orderkey"))
        .join(F.broadcast(c.select("c_custkey", "c_nationkey")), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("nk2"))
        .filter(F.col("supp_nation") != F.col("cust_nation"))
    )
    return rev.groupBy("supp_nation", "cust_nation", "l_year").agg(
        _r4(F.sum("rev_c") / 10000.0, "revenue"), F.count(F.lit(1)).alias("n_lines")
    )


@q(
    "q9_product_profit",
    """SELECT n_name, year(o_orderdate) AS o_year,
              round(CAST(sum(CAST(round((l_extendedprice * (1 - l_discount)
                                         - p_retailprice * l_quantity * 0.1) * 10000)
                                  AS BIGINT)) AS DOUBLE) / 10000.0, 4) AS profit,
              count(*) AS n_lines
       FROM lineitem
         JOIN part     ON l_partkey = p_partkey
         JOIN supplier ON l_suppkey = s_suppkey
         JOIN nation   ON s_nationkey = n_nationkey
         JOIN orders   ON l_orderkey = o_orderkey
       WHERE p_name LIKE '%widget%'
       GROUP BY n_name, year(o_orderdate)""",
)
def _q9_product_profit(spark, sf_dir):
    """TPC-H Q9 shape: profit by supplier nation and order year for a
    part-name class (supply cost re-expressed as 10% of retail price —
    the schema has no partsupp). The LIKE filter prunes part BEFORE
    broadcast; profit is computed per line and rounded to exact
    ten-thousandths pre-sum."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").filter(F.col("p_name").like("%widget%"))
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    o = _t(spark, sf_dir, "orders")
    profit_c = F.round(
        (
            F.col("l_extendedprice") * (1 - F.col("l_discount"))
            - F.col("p_retailprice") * F.col("l_quantity") * 0.1
        )
        * 10000,
        0,
    ).cast("long")
    rev = (
        li.join(F.broadcast(p.select("p_partkey", "p_retailprice")), li.l_partkey == F.col("p_partkey"))
        .join(F.broadcast(s.select("s_suppkey", "s_nationkey")), li.l_suppkey == F.col("s_suppkey"))
        .join(F.broadcast(n.select("n_nationkey", "n_name")), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(o.select("o_orderkey", "o_orderdate"), li.l_orderkey == F.col("o_orderkey"))
    )
    rev = rev.select(
        "n_name",
        F.year(event_ts(rev, "o_orderdate")).cast("long").alias("o_year"),
        profit_c.alias("profit_c"),
    )
    return rev.groupBy("n_name", "o_year").agg(
        _r4(F.sum("profit_c") / 10000.0, "profit"), F.count(F.lit(1)).alias("n_lines")
    )


@q(
    "q10_returned_item_report",
    f"""SELECT c_custkey, c_name, n_name, round(c_acctbal, 2) AS c_acctbal,
              round(CAST(sum({_REV_C_SQL}) AS DOUBLE) / 10000.0, 4) AS revenue
       FROM customer
         JOIN orders   ON c_custkey = o_custkey
         JOIN lineitem ON l_orderkey = o_orderkey
         JOIN nation   ON c_nationkey = n_nationkey
       WHERE l_returnflag = 'R'
         AND epoch_us(o_orderdate) >= {_US_1996} AND epoch_us(o_orderdate) < {_US_1996_H2}
       GROUP BY c_custkey, c_name, n_name, c_acctbal
       ORDER BY sum({_REV_C_SQL}) DESC, c_custkey ASC
       LIMIT 20""",
)
def _q10_returned_item_report(spark, sf_dir):
    """TPC-H Q10: top-20 customers by returned-line revenue in a half
    year. orderBy+limit compiles to TakeOrderedAndProject (per-partition
    top-20 + driver merge — no global sort); exact integer cents make
    the DESC order deterministic, custkey breaks ties."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    n = _t(spark, sf_dir, "nation")
    o2 = o.filter(event_range_filter(o, "o_orderdate", _US_1996, _US_1996_H2)).select(
        "o_orderkey", "o_custkey"
    )
    li2 = li.filter(F.col("l_returnflag") == "R").select("l_orderkey", _rev_c().alias("rev_c"))
    agg = (
        li2.join(o2, li2.l_orderkey == o2.o_orderkey)
        .join(
            F.broadcast(c.select("c_custkey", "c_name", "c_nationkey", "c_acctbal")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(F.broadcast(n.select("n_nationkey", "n_name")), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "n_name", "c_acctbal")
        .agg(F.sum("rev_c").alias("rev_c_sum"))
    )
    return (
        agg.orderBy(F.col("rev_c_sum").desc(), F.col("c_custkey").asc())
        .limit(20)
        .select(
            "c_custkey",
            "c_name",
            "n_name",
            F.round("c_acctbal", 2).alias("c_acctbal"),
            _r4(F.col("rev_c_sum") / 10000.0, "revenue"),
        )
    )


@q(
    "q11_high_value_parts",
    f"""WITH pv AS (SELECT l_partkey, sum({_REV_C_SQL}) AS val_c
                   FROM lineitem GROUP BY l_partkey)
       SELECT l_partkey, round(CAST(val_c AS DOUBLE) / 10000.0, 4) AS part_value
       FROM pv
       WHERE val_c > 0.0007 * (SELECT sum(val_c) FROM pv)""",
)
def _q11_high_value_parts(spark, sf_dir):
    """TPC-H Q11 shape: parts whose revenue exceeds a fraction of the
    GLOBAL total — a scalar subquery in the HAVING position. Run via
    spark.sql so Catalyst plans the scalar subquery once (ReusedExchange
    over the same per-part aggregate); exact integer sums make the
    threshold comparison engine-identical."""
    li = _t(spark, sf_dir, "lineitem")
    li.select("l_partkey", _rev_c().alias("rev_c")).createOrReplaceTempView("__q11_li")
    return spark.sql(
        """WITH pv AS (SELECT l_partkey, sum(rev_c) AS val_c
                       FROM __q11_li GROUP BY l_partkey)
           SELECT l_partkey, round(CAST(val_c AS DOUBLE) / 10000.0, 4) AS part_value
           FROM pv
           WHERE val_c > 0.0007 * (SELECT sum(val_c) FROM pv)"""
    )


@q(
    "q12_late_priority_lines",
    """SELECT l_linestatus,
              CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                            THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
              CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                            THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
       FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       WHERE epoch_us(l_shipdate) > epoch_us(o_orderdate) + 30 * 86400000000
       GROUP BY l_linestatus""",
)
def _q12_late_priority_lines(spark, sf_dir):
    """TPC-H Q12 shape: late shipments (>30 days after order) counted
    by line status, split urgent-vs-not with conditional sums — one
    join, one aggregate; the lateness predicate is a non-equi residual
    evaluated post-probe on the hash join."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    l2 = li.select("l_orderkey", "l_linestatus", event_us(li, "l_shipdate").alias("s_us"))
    o2 = o.select("o_orderkey", "o_orderpriority", event_us(o, "o_orderdate").alias("o_us"))
    hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        l2.join(o2, (l2.l_orderkey == o2.o_orderkey) & (l2.s_us > o2.o_us + F.lit(30 * 86_400_000_000)))
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(hi, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~hi, 1).otherwise(0)).alias("low_line_count"),
        )
    )


@q(
    "q13_order_count_distribution",
    """WITH co AS (SELECT c_custkey, count(o_orderkey) AS c_count
                  FROM customer LEFT JOIN orders
                    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
                  GROUP BY c_custkey)
       SELECT c_count, count(*) AS custdist FROM co GROUP BY c_count""",
)
def _q13_order_count_distribution(spark, sf_dir):
    """TPC-H Q13: customer order-count histogram — LEFT OUTER join
    (customers with zero orders must survive as c_count=0) with the
    priority filter INSIDE the join condition (filtering before the
    join would silently drop the zero bucket), then a double
    aggregate."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    o2 = o.filter(F.col("o_orderpriority") != "1-URGENT").select("o_orderkey", "o_custkey")
    co = (
        c.select("c_custkey")
        .join(o2, c.c_custkey == o2.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return co.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


@q(
    "q14_promo_revenue_share",
    f"""SELECT round(100.0 * CAST(sum(CASE WHEN p_type = 'PROMO'
                                          THEN {_REV_C_SQL} ELSE 0 END) AS DOUBLE)
                    / CAST(sum({_REV_C_SQL}) AS DOUBLE), 4) AS promo_share,
              round(CAST(sum({_REV_C_SQL}) AS DOUBLE) / 10000.0, 4) AS total_revenue,
              count(*) AS n_lines
       FROM lineitem JOIN part ON l_partkey = p_partkey
       WHERE epoch_us(l_shipdate) >= {_US_1996_Q2} AND epoch_us(l_shipdate) < {_US_1996_H2}""",
)
def _q14_promo_revenue_share(spark, sf_dir):
    """TPC-H Q14: promo revenue percentage in a quarter — conditional
    aggregate over one broadcast join; both the numerator and the
    denominator are exact integer sums, so the single float division
    is the only inexact op and is bit-identical across engines."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    li2 = li.filter(event_range_filter(li, "l_shipdate", _US_1996_Q2, _US_1996_H2)).select(
        "l_partkey", _rev_c().alias("rev_c")
    )
    j = li2.join(F.broadcast(p.select("p_partkey", "p_type")), li2.l_partkey == F.col("p_partkey"))
    promo_c = F.sum(F.when(F.col("p_type") == "PROMO", F.col("rev_c")).otherwise(F.lit(0)))
    total_c = F.sum("rev_c")
    return j.agg(
        _r4(100.0 * promo_c.cast("double") / total_c.cast("double"), "promo_share"),
        _r4(total_c / 10000.0, "total_revenue"),
        F.count(F.lit(1)).alias("n_lines"),
    )


@q(
    "q15_top_supplier",
    f"""WITH rev AS (SELECT l_suppkey, sum({_REV_C_SQL}) AS rev_c
                    FROM lineitem
                    WHERE epoch_us(l_shipdate) >= {_US_1996}
                      AND epoch_us(l_shipdate) < {_US_1996_Q2}
                    GROUP BY l_suppkey)
       SELECT s_suppkey, s_name,
              round(CAST(rev_c AS DOUBLE) / 10000.0, 4) AS total_revenue
       FROM rev JOIN supplier ON s_suppkey = l_suppkey
       WHERE rev_c = (SELECT max(rev_c) FROM rev)""",
)
def _q15_top_supplier(spark, sf_dir):
    """TPC-H Q15: supplier(s) with the maximum quarterly revenue — the
    classic view + scalar-max equality. spark.sql plans the scalar
    subquery against the SAME aggregate (ReusedExchange); exact integer
    revenue makes the equality safe (float max-equality is not)."""
    li = _t(spark, sf_dir, "lineitem")
    li.filter(event_range_filter(li, "l_shipdate", _US_1996, _US_1996_Q2)).select(
        "l_suppkey", _rev_c().alias("rev_c")
    ).createOrReplaceTempView("__q15_li")
    _t(spark, sf_dir, "supplier").createOrReplaceTempView("__q15_supplier")
    return spark.sql(
        """WITH rev AS (SELECT l_suppkey, sum(rev_c) AS rev_c
                        FROM __q15_li GROUP BY l_suppkey)
           SELECT s_suppkey, s_name,
                  round(CAST(rev_c AS DOUBLE) / 10000.0, 4) AS total_revenue
           FROM rev JOIN __q15_supplier ON s_suppkey = l_suppkey
           WHERE rev_c = (SELECT max(rev_c) FROM rev)"""
    )


@q(
    "q16_supplier_part_variety",
    """SELECT p_brand, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
       FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) ps
         JOIN part ON p_partkey = l_partkey
       WHERE p_brand <> 'Brand#1' AND p_size IN (1, 5, 10, 15, 20, 25)
         AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
       GROUP BY p_brand, p_size""",
)
def _q16_supplier_part_variety(spark, sf_dir):
    """TPC-H Q16 shape: distinct supplier count per (brand, size) over
    the part-supplier relationship (distinct lineitem pairs — the
    schema has no partsupp), excluding flagged suppliers via NOT IN →
    broadcast left-anti join. The distinct-pairs projection shrinks the
    fact 6× before any join."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1") & F.col("p_size").isin(1, 5, 10, 15, 20, 25)
    )
    bad = _t(spark, sf_dir, "supplier").filter(F.col("s_acctbal") < 0).select("s_suppkey")
    ps = li.select("l_partkey", "l_suppkey").distinct()
    kept = (
        ps.join(F.broadcast(bad), ps.l_suppkey == bad.s_suppkey, "left_anti")
        .join(F.broadcast(p.select("p_partkey", "p_brand", "p_size")), F.col("l_partkey") == F.col("p_partkey"))
    )
    return kept.groupBy("p_brand", "p_size").agg(
        F.countDistinct("l_suppkey").alias("supplier_cnt")
    )


@q(
    "q18_large_volume_customers",
    """WITH big AS (SELECT l_orderkey, sum(l_quantity) AS sum_qty
                   FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 250)
       SELECT c_custkey, c_name, o_orderkey,
              round(o_totalprice, 2) AS o_totalprice, sum_qty
       FROM big
         JOIN orders   ON o_orderkey = l_orderkey
         JOIN customer ON c_custkey = o_custkey""",
)
def _q18_large_volume_customers(spark, sf_dir):
    """TPC-H Q18: orders whose total quantity exceeds a threshold,
    joined back to customer — GROUP BY + HAVING feeding a join. The
    aggregate runs FIRST (shrinks the fact to the qualifying orders),
    so the two joins move only survivor rows; quantities are
    integer-valued doubles, so HAVING is exact."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("sum_qty"))
        .filter(F.col("sum_qty") > 250)
    )
    return (
        big.join(o.select("o_orderkey", "o_custkey", "o_totalprice"), big.l_orderkey == F.col("o_orderkey"))
        .join(F.broadcast(c.select("c_custkey", "c_name")), F.col("o_custkey") == F.col("c_custkey"))
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            F.round("o_totalprice", 2).alias("o_totalprice"),
            "sum_qty",
        )
    )


@q(
    "q19_disjunctive_revenue",
    f"""SELECT round(CAST(sum({_REV_C_SQL}) AS DOUBLE) / 10000.0, 4) AS revenue,
              count(*) AS n_lines
       FROM lineitem JOIN part ON p_partkey = l_partkey
       WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
              AND l_quantity BETWEEN 1 AND 11)
          OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 25
              AND l_quantity BETWEEN 10 AND 20)
          OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 35
              AND l_quantity BETWEEN 20 AND 30)""",
)
def _q19_disjunctive_revenue(spark, sf_dir):
    """TPC-H Q19: OR-of-ANDs spanning both join sides. Catalyst
    extracts the common join key and pushes the part-only disjuncts
    (brand/size) into the broadcast side's scan; the mixed residual
    evaluates post-join. One join, one scalar aggregate."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    j = li.select("l_partkey", "l_quantity", _rev_c().alias("rev_c")).join(
        F.broadcast(p.select("p_partkey", "p_brand", "p_size")),
        F.col("l_partkey") == F.col("p_partkey"),
    )
    cond = (
        ((F.col("p_brand") == "Brand#1") & F.col("p_size").between(1, 15) & F.col("l_quantity").between(1, 11))
        | ((F.col("p_brand") == "Brand#2") & F.col("p_size").between(1, 25) & F.col("l_quantity").between(10, 20))
        | ((F.col("p_brand") == "Brand#3") & F.col("p_size").between(1, 35) & F.col("l_quantity").between(20, 30))
    )
    return j.filter(cond).agg(
        _r4(F.sum("rev_c") / 10000.0, "revenue"), F.count(F.lit(1)).alias("n_lines")
    )


@q(
    "q20_overstocked_suppliers",
    """WITH sp AS (SELECT l_suppkey, l_partkey, sum(l_quantity) AS qty
                  FROM lineitem JOIN part ON p_partkey = l_partkey
                  WHERE p_name LIKE '%bolt%'
                  GROUP BY l_suppkey, l_partkey),
       pa AS (SELECT l_partkey, avg(qty) AS avg_qty FROM sp GROUP BY l_partkey)
       SELECT s_suppkey, s_name, n_name, count(*) AS n_overstocked
       FROM sp
         JOIN pa ON sp.l_partkey = pa.l_partkey
         JOIN supplier ON s_suppkey = sp.l_suppkey
         JOIN nation   ON s_nationkey = n_nationkey
       WHERE sp.qty > 1.5 * pa.avg_qty
       GROUP BY s_suppkey, s_name, n_name""",
)
def _q20_overstocked_suppliers(spark, sf_dir):
    """TPC-H Q20 shape: suppliers holding disproportionate stock of a
    part class — a correlated quantity comparison decorrelated into a
    per-part average joined back (the partsupp availqty is re-expressed
    as shipped quantity). Two aggregates + three joins, every dimension
    broadcast. avg() of integer-valued doubles divides identically on
    both engines."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").filter(F.col("p_name").like("%bolt%"))
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    sp = (
        li.join(F.broadcast(p.select("p_partkey")), li.l_partkey == F.col("p_partkey"))
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum("l_quantity").alias("qty"))
        # (supplier, part)-bounded; the per-part average and the
        # overstock filter both consume it
        .localCheckpoint(eager=True)
    )
    pa = sp.groupBy("l_partkey").agg(F.avg("qty").alias("avg_qty")).withColumnRenamed("l_partkey", "pa_partkey")
    over = sp.join(F.broadcast(pa), sp.l_partkey == F.col("pa_partkey")).filter(
        F.col("qty") > 1.5 * F.col("avg_qty")
    )
    return (
        over.join(F.broadcast(s.select("s_suppkey", "s_name", "s_nationkey")), over.l_suppkey == F.col("s_suppkey"))
        .join(F.broadcast(n.select("n_nationkey", "n_name")), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("s_suppkey", "s_name", "n_name")
        .agg(F.count(F.lit(1)).alias("n_overstocked"))
    )


@q(
    "q21_late_sole_suppliers",
    """WITH pairs AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem),
       late AS (SELECT DISTINCT l_orderkey, l_suppkey
                FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
                WHERE epoch_us(l_shipdate) > epoch_us(o_orderdate) + 45 * 86400000000)
       SELECT s_suppkey, s_name, count(*) AS numwait
       FROM late l1
         JOIN supplier ON s_suppkey = l1.l_suppkey
       WHERE EXISTS (SELECT 1 FROM pairs p
                     WHERE p.l_orderkey = l1.l_orderkey
                       AND p.l_suppkey <> l1.l_suppkey)
         AND NOT EXISTS (SELECT 1 FROM late l2
                         WHERE l2.l_orderkey = l1.l_orderkey
                           AND l2.l_suppkey <> l1.l_suppkey)
       GROUP BY s_suppkey, s_name""",
)
def _q21_late_sole_suppliers(spark, sf_dir):
    """TPC-H Q21: suppliers who were the SOLE late supplier on
    multi-supplier orders — the hardest subquery shape in the suite
    (EXISTS + NOT EXISTS, both correlated with an inequality on the
    correlation column). Expressed as a left-semi then a left-anti
    self-join on the deduped (order, supplier) pair relation; lateness
    is integer-microsecond math via the dtype-dispatched helpers."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    s = _t(spark, sf_dir, "supplier")
    l2o = li.select("l_orderkey", "l_suppkey", event_us(li, "l_shipdate").alias("s_us"))
    o2 = o.select("o_orderkey", event_us(o, "o_orderdate").alias("o_us"))
    pairs = li.select("l_orderkey", "l_suppkey").distinct()
    late = (
        l2o.join(o2, (l2o.l_orderkey == o2.o_orderkey) & (l2o.s_us > o2.o_us + F.lit(45 * 86_400_000_000)))
        .select("l_orderkey", "l_suppkey")
        .distinct()
        # narrow deduped pairs feeding THREE consumers (the candidate
        # base, nothing-else-late anti side) — pin or the lineitem x
        # orders join re-runs per consumer
        .localCheckpoint(eager=True)
    )
    p2 = pairs.select(F.col("l_orderkey").alias("p_ok"), F.col("l_suppkey").alias("p_sk"))
    l3 = late.select(F.col("l_orderkey").alias("a_ok"), F.col("l_suppkey").alias("a_sk"))
    cand = late.join(
        p2, (late.l_orderkey == p2.p_ok) & (late.l_suppkey != p2.p_sk), "left_semi"
    )
    sole = cand.join(
        l3, (cand.l_orderkey == l3.a_ok) & (cand.l_suppkey != l3.a_sk), "left_anti"
    )
    return (
        sole.join(F.broadcast(s.select("s_suppkey", "s_name")), sole.l_suppkey == F.col("s_suppkey"))
        .groupBy("s_suppkey", "s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )


@q(
    "q2_min_balance_supplier",
    """WITH ps AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
       ranked AS (SELECT p_partkey, p_name, s_name,
                         CAST(round(s_acctbal * 100) AS BIGINT) AS bal_c,
                         row_number() OVER (PARTITION BY p_partkey
                                            ORDER BY s_acctbal ASC, s_suppkey ASC) AS rn
                  FROM ps
                    JOIN part     ON p_partkey = l_partkey
                    JOIN supplier ON s_suppkey = l_suppkey
                  WHERE p_size = 10 AND p_type = 'STANDARD')
       SELECT p_partkey, p_name, s_name,
              round(CAST(bal_c AS DOUBLE) / 100.0, 2) AS s_acctbal
       FROM ranked WHERE rn = 1""",
)
def _q2_min_balance_supplier(spark, sf_dir):
    """TPC-H Q2 shape: for each qualifying part, the supplier with the
    minimum account balance among suppliers that actually shipped it —
    the correlated-min subquery, decorrelated into a per-part
    row_number window (WindowGroupLimit prunes everything past rank 1
    map-side). Balance rides as integer cents; suppkey breaks ties."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").filter((F.col("p_size") == 10) & (F.col("p_type") == "STANDARD"))
    s = _t(spark, sf_dir, "supplier")
    ps = li.select("l_partkey", "l_suppkey").distinct()
    j = ps.join(F.broadcast(p.select("p_partkey", "p_name")), ps.l_partkey == F.col("p_partkey")).join(
        F.broadcast(s.select("s_suppkey", "s_name", "s_acctbal")), ps.l_suppkey == F.col("s_suppkey")
    )
    w = Window.partitionBy("p_partkey").orderBy(F.col("s_acctbal").asc(), F.col("s_suppkey").asc())
    return (
        j.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "p_partkey",
            "p_name",
            "s_name",
            F.round(F.round(F.col("s_acctbal") * 100, 0).cast("long") / 100.0, 2).alias("s_acctbal"),
        )
    )


@q(
    "click_attribution",
    """WITH c AS (SELECT user_id, event_id AS click_event_id, epoch_us(ts) AS click_us
                  FROM events WHERE event_type = 'click'),
       v AS (SELECT user_id AS vu, event_id AS conv_event_id, epoch_us(ts) AS conv_us
             FROM events WHERE event_type = 'purchase'),
       p AS (SELECT vu AS user_id, conv_event_id, conv_us, click_event_id, click_us
             FROM v JOIN c ON c.user_id = vu
              AND click_us <= conv_us AND click_us > conv_us - 3600000000),
       r AS (SELECT *,
                    row_number() OVER (PARTITION BY conv_event_id
                                       ORDER BY click_us DESC, click_event_id DESC) AS rn,
                    count(*) OVER (PARTITION BY conv_event_id) AS n_clicks
             FROM p)
       SELECT user_id, conv_event_id, conv_us, click_event_id, click_us, n_clicks
       FROM r WHERE rn = 1""",
)
def _click_attribution(spark, sf_dir):
    """Last-touch conversion attribution
    (streaming/joins.py:last_touch_attribution): each purchase joined
    to the latest same-user click within the preceding hour. The pair
    join is the stream-stream shape (watermarked, state bounded by the
    range condition when run on streams); this batch run IS the same
    expression tree, which is what makes it oracle-checkable. Times
    surface as epoch micros for cross-engine hashing."""
    from redshells_spark.streaming.joins import last_touch_attribution

    ev = _t(spark, sf_dir, "events")
    att = last_touch_attribution(
        ev.filter(F.col("event_type") == "click"),
        ev.filter(F.col("event_type") == "purchase"),
        attribution_window="1 hour",
    )
    return att.select(
        "user_id",
        "conv_event_id",
        F.unix_micros("conv_time").alias("conv_us"),
        "click_event_id",
        F.unix_micros("click_time").alias("click_us"),
        "n_clicks",
    )


@q(
    "market_share_asia",
    """WITH rev AS (
         SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
                n2.n_name AS supp_nation,
                CAST(floor(l_extendedprice * 100 + CAST(0.5 AS DOUBLE)) AS BIGINT)
                  * (100 - CAST(floor(l_discount * 100 + CAST(0.5 AS DOUBLE)) AS BIGINT))
                  AS vol_e4
         FROM lineitem
         JOIN orders   ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN nation n1 ON c_nationkey = n1.n_nationkey
         JOIN region   ON n1.n_regionkey = r_regionkey AND r_name = 'ASIA'
         JOIN supplier ON l_suppkey = s_suppkey
         JOIN nation n2 ON s_nationkey = n2.n_nationkey
         JOIN part     ON l_partkey = p_partkey AND p_size <= 10)
       SELECT o_year, supp_nation,
              CAST(CAST((sum(vol_e4) + 50) // 100 AS BIGINT) AS DOUBLE) / 100
                AS nation_volume,
              count(*) AS n_lines
       FROM rev GROUP BY o_year, supp_nation""",
)
def _market_share_asia(spark, sf_dir):
    """TPC-H Q8-shaped market share: 7-table star join (fact +
    customer-side nation/region, supplier-side nation, part filter).
    Spark-first: every dimension is explicitly broadcast, so the plan
    is a chain of BroadcastHashJoins over ONE fact scan — zero fact
    shuffles until the final aggregate; Catalyst reorders/prunes the
    rest. Revenue carries EXACT integer e4 units (2-decimal price ×
    2-decimal discount) summed as longs — the factor-10 probe caught
    the float-sum version crossing cent-rounding boundaries at 10×
    term counts; integer cents are order-free at any scale."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    s = _t(spark, sf_dir, "supplier")
    p = _t(spark, sf_dir, "part").filter(F.col("p_size") <= 10)
    n1 = n.select(F.col("n_nationkey").alias("c_nk"), F.col("n_regionkey").alias("c_rk"))
    n2 = n.select(F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation"))
    rev = (
        li.join(F.broadcast(p.select("p_partkey")), li["l_partkey"] == F.col("p_partkey"))
        .join(o.select("o_orderkey", "o_custkey", "o_orderdate"), li["l_orderkey"] == F.col("o_orderkey"))
        .join(F.broadcast(c.select("c_custkey", "c_nationkey")), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n1), F.col("c_nationkey") == F.col("c_nk"))
        .join(F.broadcast(r.select("r_regionkey")), F.col("c_rk") == F.col("r_regionkey"))
        .join(F.broadcast(s.select("s_suppkey", "s_nationkey")), li["l_suppkey"] == F.col("s_suppkey"))
        .join(F.broadcast(n2), F.col("s_nationkey") == F.col("s_nk"))
        .select(
            F.year("o_orderdate").cast("long").alias("o_year"),
            "supp_nation",
            (
                F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast("long")
                * (
                    F.lit(100)
                    - F.floor(F.col("l_discount") * 100 + F.lit(0.5)).cast("long")
                )
            ).alias("vol_e4"),
        )
    )
    return (
        rev.groupBy("o_year", "supp_nation")
        .agg(F.sum("vol_e4").alias("__s"), F.count(F.lit(1)).alias("n_lines"))
        .select(
            "o_year",
            "supp_nation",
            (F.expr("(__s + 50) div 100").cast("double") / 100).alias(
                "nation_volume"
            ),
            "n_lines",
        )
    )
