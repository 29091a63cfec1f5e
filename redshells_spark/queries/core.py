"""Relational core: frame ops, one-hot, sampling, set ops, joins,
grouped aggregates and cubes over the TPC-H and events tables.
"""

from __future__ import annotations

from redshells_spark.queries._shared import *  # noqa: F401,F403

@q(
    "filter_by_column",
    """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
       FROM lineitem WHERE l_quantity >= 25""",
)
def _filter_by_column(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_quantity") >= 25)
    return filter_by_column(li, ["l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice"])


@q(
    "extract_column_as_dict",
    """SELECT l_orderkey, l_partkey FROM (
         SELECT l_orderkey, l_partkey,
                row_number() OVER (PARTITION BY l_orderkey
                                   ORDER BY l_linenumber ASC, l_partkey ASC) AS rn
         FROM lineitem) WHERE rn = 1""",
)
def _extract_column_as_dict(spark, sf_dir):
    # l_linenumber repeats within an order in this testdata → add the
    # value column as the final tie-break for determinism
    return extract_column_as_dict(
        _t(spark, sf_dir, "lineitem"),
        "l_orderkey",
        "l_partkey",
        order_by=["l_linenumber", "l_partkey"],
    )


@q(
    "group_by_column_as_dict",
    """SELECT o_custkey, string_agg(CAST(o_orderkey AS VARCHAR), ',' ORDER BY o_orderkey ASC) AS order_keys
       FROM orders GROUP BY o_custkey""",
)
def _group_by_column_as_dict(spark, sf_dir):
    # canonical string rendering: array hashing differs across engines
    return (
        _t(spark, sf_dir, "orders")
        .dropna(subset=["o_custkey", "o_orderkey"])
        .groupBy("o_custkey")
        .agg(
            F.concat_ws(
                ",",
                F.transform(
                    F.array_sort(F.collect_list("o_orderkey")), lambda x: x.cast("string")
                ),
            ).alias("order_keys")
        )
    )


@q(
    "group_count_filter",
    """SELECT event_id, user_id, event_type FROM events
       WHERE user_id IN (SELECT user_id FROM events GROUP BY user_id
                         HAVING count(*) BETWEEN 60 AND 70)""",
)
def _group_count_filter(spark, sf_dir):
    ev = group_count_filter(_t(spark, sf_dir, "events"), "user_id", 60, 70)
    return ev.select("event_id", "user_id", "event_type")


@q(
    "distinct_count",
    "SELECT count(DISTINCT user_id) AS user_id_distinct_count FROM events",
)
def _distinct_count(spark, sf_dir):
    return distinct_count(_t(spark, sf_dir, "events"), "user_id")


# exact cent-unit moments (functions/exact.py): engine-internal
# avg/stddev stream float partials in engine+partition order, the
# correlation_stats boundary class — min/max divide the exact cent back
# out, avg rounds the exact integer ratio, stddev goes through the
# bit-stable split cast (same values as round(..., 4) off-boundary)
def _min_max_avg_std_select(div_op: str) -> list[str]:
    return [
        "CAST(mn AS DOUBLE) / CAST(100 AS DOUBLE) AS min",
        "CAST(mx AS DOUBLE) / CAST(100 AS DOUBLE) AS max",
        f"{covar_e4_sql('(100 * sc)', 'n', div_op)} AS avg",
        f"{stddev_e4_sql('(n * scc - sc * sc)', 'n', 100, div_op)} AS std",
    ]


@q(
    "min_max_avg_std",
    f"""WITH u AS (SELECT CAST(floor(value * 100 + CAST(0.5 AS DOUBLE)) AS BIGINT) AS c
                  FROM events),
       m AS (SELECT count(*) AS n, min(c) AS mn, max(c) AS mx,
                    sum(c) AS sc, sum(c * c) AS scc
             FROM u)
       SELECT {", ".join(_min_max_avg_std_select("//"))} FROM m""",
)
def _min_max_avg_std(spark, sf_dir):
    u = _t(spark, sf_dir, "events").select(money_units(F.col("value")).alias("c"))
    dec = lambda c: c.cast("decimal(38,0)")  # noqa: E731 — Σc² can pass int64
    m = u.agg(
        F.count(F.lit(1)).alias("n"),
        F.min("c").alias("mn"),
        F.max("c").alias("mx"),
        F.sum(dec(F.col("c"))).alias("sc"),
        F.sum(dec(F.col("c") * F.col("c"))).alias("scc"),
    )
    return m.selectExpr(*_min_max_avg_std_select("div"))


@q(
    "topk_threshold",
    """SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem
       WHERE l_extendedprice > 1000.0
       ORDER BY l_extendedprice DESC, l_orderkey ASC, l_linenumber ASC LIMIT 100""",
)
def _topk_threshold(spark, sf_dir):
    return topk_threshold_similarity(
        _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_linenumber", "l_extendedprice"),
        "l_extendedprice",
        threshold=1000.0,
        size=100,
        tie_break=["l_orderkey", "l_linenumber"],
    )


@q(
    "per_group_topk",
    """SELECT l_orderkey, l_linenumber, l_extendedprice, CAST(rn AS BIGINT) AS rank FROM (
         SELECT l_orderkey, l_linenumber, l_extendedprice,
                row_number() OVER (PARTITION BY l_orderkey
                                   ORDER BY l_extendedprice DESC, l_linenumber ASC) AS rn
         FROM lineitem) WHERE rn <= 3""",
)
def _per_group_topk(spark, sf_dir):
    out = per_group_topk(
        _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_linenumber", "l_extendedprice"),
        "l_orderkey",
        "l_extendedprice",
        3,
        tie_break=["l_linenumber"],
        rank_column="rank",
    )
    return out.withColumn("rank", F.col("rank").cast("long"))


@q(
    "sample_data",
    """SELECT o_orderkey, o_custkey FROM orders
       ORDER BY md5(CAST(o_orderkey AS VARCHAR) || '42') ASC LIMIT 200""",
)
def _sample_data(spark, sf_dir):
    return sample_data(
        _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey"),
        200,
        seed=42,
        key_column="o_orderkey",
    )


@q(
    "convert_to_one_hot",
    """SELECT o_orderkey,
         CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS "o_orderpriority_1-URGENT",
         CASE WHEN o_orderpriority = '2-HIGH' THEN 1 ELSE 0 END AS "o_orderpriority_2-HIGH",
         CASE WHEN o_orderpriority = '3-MEDIUM' THEN 1 ELSE 0 END AS "o_orderpriority_3-MEDIUM",
         CASE WHEN o_orderpriority = '4-NOT SPECIFIED' THEN 1 ELSE 0 END AS "o_orderpriority_4-NOT SPECIFIED",
         CASE WHEN o_orderpriority = '5-LOW' THEN 1 ELSE 0 END AS "o_orderpriority_5-LOW"
       FROM orders""",
)
def _convert_to_one_hot(spark, sf_dir):
    return convert_to_one_hot(
        _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority"),
        ["o_orderpriority"],
    )


@q(
    "value_counts_id_map",
    """SELECT event_type, count(*) AS count,
              CAST(row_number() OVER (ORDER BY event_type ASC) AS BIGINT) AS idx
       FROM events GROUP BY event_type""",
)
def _value_counts_id_map(spark, sf_dir):
    out = value_counts_id_map(_t(spark, sf_dir, "events"), "event_type")
    return out.withColumn("idx", F.col("index").cast("long")).drop("index")


@q(
    "union_concat",
    """SELECT event_id, user_id, 1 AS label FROM events WHERE event_type = 'click'
       UNION ALL
       SELECT event_id, user_id, 0 AS label FROM events WHERE event_type = 'view'""",
)
def _union_concat(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", F.lit(1).alias("label")
    )
    views = ev.filter(F.col("event_type") == "view").select(
        "event_id", "user_id", F.lit(0).alias("label")
    )
    return union_concat(clicks, views)


@q(
    "semi_join_isin",
    """SELECT l_orderkey, l_partkey, l_quantity FROM lineitem
       WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_size > 40)""",
)
def _semi_join_isin(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey", "l_quantity")
    parts = _t(spark, sf_dir, "part").filter(F.col("p_size") > 40)
    return semi_join_isin(li, parts, on="l_partkey", valid_key="p_partkey")


@q(
    "rename_column",
    """SELECT n_nationkey AS nation_id, n_name AS nation_name, n_regionkey AS region_id
       FROM nation""",
)
def _rename_column(spark, sf_dir):
    return rename_column(
        _t(spark, sf_dir, "nation"),
        {"n_nationkey": "nation_id", "n_name": "nation_name", "n_regionkey": "region_id"},
    )


@q(
    "anti_join_negative_sampling",
    """WITH pos AS (
         SELECT DISTINCT l_suppkey AS user_id, l_partkey AS item_id FROM lineitem),
       users AS (
         SELECT user_id, row_number() OVER (ORDER BY user_id ASC) - 1 AS uidx
         FROM (SELECT DISTINCT user_id FROM pos)),
       items AS (
         SELECT item_id, row_number() OVER (ORDER BY item_id ASC) - 1 AS iidx
         FROM (SELECT DISTINCT item_id FROM pos)),
       ks AS (
         -- k = 0..3·n_pos−1 derived from the data itself (DuckDB's
         -- range() cannot take a subquery bound): 3 rows per positive,
         -- ranked over pos ALONE before the fan-out
         SELECT 3 * p.rn + t.j AS k
         FROM (SELECT row_number() OVER (ORDER BY user_id ASC, item_id ASC) - 1
                 AS rn FROM pos) p,
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
         ANTI JOIN pos p ON p.user_id = m.user_id AND p.item_id = m.item_id)
       SELECT user_id, item_id FROM (
         SELECT user_id, item_id,
                row_number() OVER (
                  ORDER BY md5(CAST(user_id AS VARCHAR) || '|' || CAST(item_id AS VARCHAR) || '42') ASC
                ) AS rn
         FROM neg)
       WHERE rn <= (SELECT count(*) FROM pos)""",
)
def _negative_sampling(spark, sf_dir):
    # fully portable sampling (multiplicative hashes + md5 cap order) —
    # even the "random" negative sampler is oracle-verified
    li = _t(spark, sf_dir, "lineitem")
    positives = li.select(
        F.col("l_suppkey").alias("user_id"), F.col("l_partkey").alias("item_id")
    )
    return anti_join_negative_sampling(positives, "user_id", "item_id")


@q(
    "extract_column",
    "SELECT n_name FROM nation",
)
def _extract_column(spark, sf_dir):
    from redshells_spark.data.frame_ops import extract_column

    return extract_column(_t(spark, sf_dir, "nation"), "n_name")


@q(
    "convert_type_to_category",
    """SELECT o_orderkey, o_orderpriority, CAST(code AS INTEGER) AS o_orderpriority__code
       FROM orders JOIN (
         SELECT o_orderpriority AS v,
                row_number() OVER (ORDER BY count(*) DESC, o_orderpriority ASC) - 1 AS code
         FROM orders GROUP BY o_orderpriority
       ) m ON orders.o_orderpriority = m.v""",
)
def _convert_type_to_category(spark, sf_dir):
    from redshells_spark.data.frame_ops import convert_type_to_category

    out = convert_type_to_category(
        _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority"),
        ["o_orderpriority"],
    )
    return out.select("o_orderkey", "o_orderpriority", "o_orderpriority__code")


@q(
    "drop_duplicates_subset",
    "SELECT DISTINCT l_orderkey, l_returnflag FROM lineitem",
)
def _drop_duplicates_subset(spark, sf_dir):
    return (
        _t(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_returnflag")
        .dropDuplicates(["l_orderkey", "l_returnflag"])
    )


@q(
    "split_train_test_data",
    """SELECT o_orderkey,
              CASE WHEN (o_orderkey * 2654435761 + 42) % 4294967296 % 100 < 25
                   THEN 'test' ELSE 'train' END AS part
       FROM orders""",
)
def _split_train_test(spark, sf_dir):
    # portable hash split (oracle-checked); split_train_test_data keeps
    # Spark randomSplit Bernoulli semantics for ML pipelines
    from redshells_spark.data.frame_ops import hash_split

    train, test = hash_split(
        _t(spark, sf_dir, "orders"), "o_orderkey", test_size_rate=0.25, seed=42
    )
    return train.select("o_orderkey").withColumn("part", F.lit("train")).unionByName(
        test.select("o_orderkey").withColumn("part", F.lit("test"))
    )


@q(
    "scalar_functions",
    """SELECT l_orderkey, l_linenumber,
         least(greatest(l_quantity, 10.0), 40.0) AS clipped,
         round(ln(l_quantity - (SELECT min(l_quantity) FROM lineitem) + 2.0), 4) AS log_shifted,
         'l_returnflag_' || l_returnflag AS cat_key
       FROM lineitem""",
)
def _scalar_functions(spark, sf_dir):
    from redshells_spark.functions.scalar import clip, log_transform, string_format_category

    li = _t(spark, sf_dir, "lineitem")
    qmin = li.agg(F.min("l_quantity")).head()[0]
    return li.select(
        "l_orderkey",
        "l_linenumber",
        clip("l_quantity", 10.0, 40.0).alias("clipped"),
        _r4(log_transform("l_quantity", qmin), "log_shifted"),
        string_format_category("l_returnflag").alias("cat_key"),
    )


@q(
    "vector_functions",
    """SELECT vec_id, CAST(dim - 1 AS BIGINT) AS dim,
              round(x / greatest(nrm, 1e-12), 4) AS unit, round(x * x, 4) AS sq
       FROM (
         SELECT vec_id, unnest(embedding::DOUBLE[]) AS x,
                generate_subscripts(embedding, 1) AS dim,
                sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
         FROM embeddings WHERE vec_id < 50)""",
)
def _vector_functions(spark, sf_dir):
    from redshells_spark.functions.vector import elementwise_product, l2_normalize

    emb = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 50)
    enriched = emb.select(
        "vec_id",
        F.posexplode(
            F.arrays_zip(
                l2_normalize("embedding").alias("unit"),
                elementwise_product("embedding", "embedding").alias("sq"),
            )
        ).alias("dim", "z"),
    )
    return enriched.select(
        "vec_id",
        F.col("dim").cast("long").alias("dim"),
        _r4(F.col("z.unit"), "unit"),
        _r4(F.col("z.sq"), "sq"),
    )


@q(
    "set_operations",
    f"""SELECT doc_id,
         coalesce(array_to_string(list_sort(list_intersect(toks, {list(KEYWORDS)!r})), ','), '') AS kw_present,
         coalesce(array_to_string(list_sort(list_filter({list(KEYWORDS)!r}, k -> NOT list_contains(toks, k))), ','), '') AS kw_absent
       FROM (SELECT doc_id, list_distinct(list_filter(string_split(lower(text), ' '), t -> t <> '')) AS toks
             FROM documents)""",
)
def _set_operations(spark, sf_dir):
    from redshells_spark.operators.setops import set_difference_items, set_intersection_tokens

    kw = F.array(*[F.lit(k) for k in KEYWORDS])
    toks = _tokens(spark, sf_dir)
    return toks.select(
        "doc_id",
        F.array_join(F.array_sort(set_intersection_tokens("tokens", kw)), ",").alias("kw_present"),
        F.array_join(F.array_sort(set_difference_items(kw, F.array_distinct("tokens"))), ",").alias("kw_absent"),
    )


@q(
    "cartesian_product_scoring",
    """SELECT c.c_custkey, p.p_partkey, round(c.c_acctbal * p.p_retailprice, 4) AS score
       FROM (SELECT * FROM customer WHERE c_custkey <= 20) c
       CROSS JOIN (SELECT * FROM part WHERE p_partkey <= 20) p""",
)
def _cartesian_product_scoring(spark, sf_dir):
    from redshells_spark.operators.joins import cartesian_product_scoring

    c = _t(spark, sf_dir, "customer").filter(F.col("c_custkey") <= 20)
    p = _t(spark, sf_dir, "part").filter(F.col("p_partkey") <= 20)
    return cartesian_product_scoring(
        c.select("c_custkey", "c_acctbal"),
        p.select("p_partkey", "p_retailprice"),
        lambda pairs: pairs.select(
            "c_custkey", "p_partkey",
            _r4(F.col("c_acctbal") * F.col("p_retailprice"), "score"),
        ),
    )


@q(
    "feature_importance_dims",
    """SELECT CAST(dim - 1 AS BIGINT) AS dim FROM (
         SELECT generate_subscripts(embedding, 1) AS dim, unnest(embedding::DOUBLE[]) AS x
         FROM embeddings)
       GROUP BY dim ORDER BY sum(x * x) DESC, dim ASC LIMIT 8""",
)
def _feature_importance_dims(spark, sf_dir):
    from redshells_spark.operators.aggregates import feature_importance_sumsq

    dims = feature_importance_sumsq(_t(spark, sf_dir, "embeddings"), "embedding", 8)
    return spark.createDataFrame([(int(d),) for d in dims], "dim long")


@q(
    "word_embedding_sum",
    """WITH ex AS (
         SELECT label, generate_subscripts(embedding, 1) AS dim,
                unnest(embedding::DOUBLE[]) AS x
         FROM embeddings),
       s AS (SELECT label, dim, sum(x) AS s FROM ex GROUP BY label, dim)
       SELECT label, CAST(dim - 1 AS BIGINT) AS dim,
              round(s / greatest(sqrt(sum(s * s) OVER (PARTITION BY label)), 1e-12), 4) AS e
       FROM s""",
)
def _word_embedding_sum(spark, sf_dir):
    # L2-normalized per-key embedding sum (calculate_word_embedding
    # semantics) — exploded representation for cross-engine hashing
    emb = _t(spark, sf_dir, "embeddings")
    summed = (
        emb.select("label", F.posexplode("embedding").alias("dim", "x"))
        .groupBy("label", "dim")
        .agg(F.sum(F.col("x").cast("double")).alias("s"))
    )
    w = Window.partitionBy("label")
    nrm = F.sqrt(F.sum(F.col("s") * F.col("s")).over(w))
    return summed.select(
        "label",
        F.col("dim").cast("long").alias("dim"),
        _r4(F.col("s") / F.greatest(nrm, F.lit(1e-12)), "e"),
    )


@q(
    "weighted_sample_orders",
    f"""WITH p AS (SELECT o_orderpriority, o_orderkey,
                  CAST(round(o_totalprice * 100) AS BIGINT) AS w_cents,
                  {_duck_h60("'0|' || o_orderkey")} AS u
           FROM orders),
       r AS (SELECT *, row_number() OVER (PARTITION BY o_orderpriority
                                          ORDER BY u / w_cents ASC, o_orderkey ASC) AS rn
             FROM p)
       SELECT o_orderpriority, o_orderkey, w_cents FROM r WHERE rn <= 20""",
)
def _weighted_sample_orders(spark, sf_dir):
    """Priority sampling (data/sampling.py:weighted_sample_priority):
    20 orders per priority class, inclusion ≈ proportional to price,
    without replacement. The priority u/w is one int64→double divide —
    IEEE-identical in DuckDB — so even the *random* sample is
    oracle-exact."""
    from redshells_spark.data.sampling import weighted_sample_priority

    o = _t(spark, sf_dir, "orders").withColumn(
        "w_cents", F.round(F.col("o_totalprice") * 100, 0).cast("long")
    )
    out = weighted_sample_priority(
        o, "o_orderpriority", "o_orderkey", "w_cents", k=20, seed=0
    )
    return out.select("o_orderpriority", "o_orderkey", "w_cents")


@q(
    "grouped_median_price",
    """WITH r AS (SELECT o_orderpriority, o_totalprice,
                  row_number() OVER (PARTITION BY o_orderpriority
                                     ORDER BY o_totalprice ASC, o_orderkey ASC) AS rn,
                  count(*) OVER (PARTITION BY o_orderpriority) AS n
           FROM orders)
       SELECT o_orderpriority, n::BIGINT AS n,
              round(o_totalprice, 4) AS median_price
       FROM r WHERE rn = (n + 1) // 2""",
)
def _grouped_median_price(spark, sf_dir):
    """Exact per-group lower median via window selection (no
    percentile-function semantics to reconcile across engines: the
    median is literally the row at rank (n+1)/2 under a total order)."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").asc(), F.col("o_orderkey").asc()
    )
    wn = Window.partitionBy("o_orderpriority")
    return (
        o.withColumn("rn", F.row_number().over(w))
        .withColumn("n", F.count(F.lit(1)).over(wn))
        .filter(F.col("rn") == F.expr("(n + 1) div 2"))
        .select(
            "o_orderpriority",
            F.col("n").cast("long").alias("n"),
            _r4(F.col("o_totalprice"), "median_price"),
        )
    )


@q(
    "latest_by_key",
    """SELECT user_id, event_id, round(value, 4) AS value FROM (
         SELECT user_id, event_id, value,
                row_number() OVER (PARTITION BY user_id
                                   ORDER BY ts DESC, event_id DESC) AS rn
         FROM events) WHERE rn = 1""",
)
def _latest_by_key(spark, sf_dir):
    """CDC compaction primitive: latest row per key by version order
    (here event time, id tie-break) — the keep-last window every
    upsert/merge pipeline runs before publishing a snapshot.
    WindowGroupLimit prunes non-latest rows map-side."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_id", _r4(F.col("value"), "value"))
    )


@q(
    "salted_join_revenue",
    f"""SELECT o_orderpriority, {_MONEY_SUM('l_extendedprice')} AS revenue,
              count(*) AS n_lines
       FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       GROUP BY o_orderpriority""",
)
def _salted_join_revenue(spark, sf_dir):
    """Skew-resistant fact join (operators/skew.py:salted_join): the
    big side takes a deterministic salt, the small side replicates
    ×num_salts, and the join key becomes (key, salt) — a hot orderkey
    spreads over num_salts reducers instead of stalling one. Result is
    identical to the plain join (each fact row matches exactly one
    replica), which is exactly what the oracle checks."""
    from redshells_spark.operators.skew import salted_join

    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_extendedprice")
    o = _t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_orderpriority"
    )
    joined = salted_join(li, o, on=["l_orderkey"], num_salts=8)
    return joined.groupBy("o_orderpriority").agg(
        exact_money_sum(F.col("l_extendedprice")).alias("revenue"),
        F.count(F.lit(1)).alias("n_lines"),
    )


@q(
    "events_cube",
    """SELECT coalesce(event_type, 'ALL') AS etype,
              coalesce(CAST(user_id % 10 AS VARCHAR), 'ALL') AS user_bucket,
              count(*) AS n
       FROM events GROUP BY CUBE (event_type, CAST(user_id % 10 AS VARCHAR))""",
)
def _events_cube(spark, sf_dir):
    ev = _t(spark, sf_dir, "events").withColumn(
        "user_bucket", (F.col("user_id") % 10).cast("string")
    )
    return (
        ev.cube("event_type", "user_bucket")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.coalesce("event_type", F.lit("ALL")).alias("etype"),
            F.coalesce("user_bucket", F.lit("ALL")).alias("user_bucket"),
            "n",
        )
    )


# ------------------------------------------ exact stratified sampling


@q(
    "stratified_sample_exact",
    """WITH pop AS (SELECT c_mktsegment AS seg, CAST(count(*) AS BIGINT) AS n_pop
               FROM customer GROUP BY 1),
       tot AS (SELECT CAST(sum(n_pop) AS BIGINT) AS n FROM pop),
       quo AS (SELECT seg, n_pop,
                      CAST((500 * n_pop) // tot.n AS BIGINT) AS base,
                      CAST((500 * n_pop) % tot.n AS BIGINT) AS rem
               FROM pop CROSS JOIN tot),
       sumb AS (SELECT CAST(sum(base) AS BIGINT) AS sb FROM quo),
       alloc AS (SELECT seg, n_pop,
                        base + CASE WHEN row_number() OVER (
                                 ORDER BY rem DESC, seg ASC)
                               <= 500 - sumb.sb THEN 1 ELSE 0 END AS alloc
                 FROM quo CROSS JOIN sumb),
       rk AS (SELECT c_mktsegment AS seg, c_custkey AS k,
                     row_number() OVER (PARTITION BY c_mktsegment
                       ORDER BY md5(CAST(c_custkey AS VARCHAR) || '7') ASC,
                                c_custkey ASC) AS rn
              FROM customer),
       samp AS (SELECT r.seg, r.k
                FROM rk r JOIN alloc a ON a.seg = r.seg AND r.rn <= a.alloc)
       SELECT a.seg AS segment, a.n_pop, CAST(a.alloc AS BIGINT) AS alloc,
              CAST(coalesce(s.ck, 0) AS BIGINT) AS key_checksum
       FROM alloc a LEFT JOIN (SELECT seg, CAST(sum(k) AS BIGINT) AS ck
                               FROM samp GROUP BY 1) s ON s.seg = a.seg
       ORDER BY a.seg""",
)
def _stratified_sample_exact(spark, sf_dir):
    """Deterministic proportional stratified sampling, EXECUTED (the
    companion to neyman_allocation's planning table): total n=500
    split across market segments by largest-remainder quotas (the
    token_budget_allocation idiom — exact integer base + remainder
    ranking, sums to n by construction), then each stratum's sample is
    its first alloc keys in portable md5 order (reproducible across
    engines and cluster sizes — the seeded-permutation idiom of
    make_similarity_data). Output is the per-stratum audit: population,
    allocation, and the sampled-key checksum that certifies BOTH
    engines picked the identical rows. Scale: one window per stratum
    over the customer relation; at 100x the sample stays n=500 and
    only the rank window grows — partitioned by segment, never
    global."""
    c = _t(spark, sf_dir, "customer")
    # segment-bounded; the total probe and the quota projection both
    # consume it (9 customer scans at the r8 audit without the pins)
    pop = (
        c.groupBy(F.col("c_mktsegment").alias("seg"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_pop"))
        .localCheckpoint(eager=True)
    )
    tot = pop.agg(F.sum("n_pop").cast("long").alias("n"))
    quo = pop.crossJoin(F.broadcast(tot)).select(
        "seg",
        "n_pop",
        F.expr("cast((500 * n_pop) div n as bigint)").alias("base"),
        F.expr("cast((500 * n_pop) % n as bigint)").alias("rem"),
    )
    sumb = quo.agg(F.sum("base").cast("long").alias("sb"))
    wr = Window.orderBy(F.col("rem").desc(), F.col("seg").asc())
    alloc = (
        quo.crossJoin(F.broadcast(sumb))
        .select(
            "seg",
            "n_pop",
            (
                F.col("base")
                + F.when(F.row_number().over(wr) <= 500 - F.col("sb"), 1).otherwise(0)
            ).alias("alloc"),
        )
        # |segments| rows feeding the sample join and the final audit
        .localCheckpoint(eager=True)
    )
    wk = Window.partitionBy("seg").orderBy(
        F.md5(F.concat(F.col("k").cast("string"), F.lit("7"))).asc(),
        F.col("k").asc(),
    )
    rk = c.select(
        F.col("c_mktsegment").alias("seg"), F.col("c_custkey").alias("k")
    ).select("seg", "k", F.row_number().over(wk).alias("rn"))
    samp = rk.join(F.broadcast(alloc.select("seg", "alloc")), "seg").filter(
        F.col("rn") <= F.col("alloc")
    )
    ck = samp.groupBy("seg").agg(F.sum("k").cast("long").alias("ck"))
    return (
        alloc.join(ck, "seg", "left")
        .select(
            F.col("seg").alias("segment"),
            "n_pop",
            F.col("alloc").cast("long").alias("alloc"),
            F.coalesce(F.col("ck"), F.lit(0)).cast("long").alias("key_checksum"),
        )
        .orderBy("segment")
    )
