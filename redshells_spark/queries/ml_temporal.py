"""ML model queries (rows-only MLlib fits and exact deterministic
reductions: k-means, stumps, encodings, folds, data valuation) and
temporal joins (as-of, range, feature staleness).
"""

from __future__ import annotations

from redshells_spark.queries._shared import *  # noqa: F401,F403

# ----------------------------------------------------- ML (rows-only)

@q("word2vec_vectors")
def _word2vec_vectors(spark, sf_dir):
    from redshells_spark.ml.word2vec import train_word2vec, word_vectors

    model = train_word2vec(
        _tokens(spark, sf_dir), vector_size=16, min_count=2, seed=42
    )
    return word_vectors(model)


@q("doc2vec_vectors")  # SGD fit → rows-only check
def _doc2vec_vectors(spark, sf_dir):
    """PV-DBOW doc vectors (reference train/train_doc2vec.py:11-30);
    driver fit on a capped corpus, distributed inference."""
    from redshells_spark.ml.doc2vec import Doc2Vec

    toks = _tokens(spark, sf_dir).limit(300)
    model = Doc2Vec.fit(
        toks, vector_size=16, min_count=2, epochs=5, seed=42
    )
    out = model.infer_vector(toks.limit(50))
    return out.select(
        "doc_id",
        F.round(F.aggregate("vector", F.lit(0.0), lambda a, x: a + F.abs(x)), 4).alias("l1_norm"),
    ).orderBy("doc_id")


@q("fasttext_oov_vectors")  # w2v fit RNG → rows-only check
def _fasttext_oov_vectors(spark, sf_dir):
    """FastText subword composition: OOV words still get vectors
    (reference train/train_fasttext.py:14-38 — the capability Word2Vec
    alone lacks). Known + OOV words inferred together; the oov flag
    distinguishes trained vs composed vectors."""
    from redshells_spark.ml.fasttext import FastTextVectors

    ft = FastTextVectors.fit(
        _tokens(spark, sf_dir), vector_size=16, min_count=2,
        bucket=100_000, seed=42,
    )
    words = spark.createDataFrame(
        [("spark",), ("window",), ("sparkly",), ("windowing",), ("quuxzilch",)],
        ["word"],
    )
    out = ft.infer_vectors(words)
    return out.select(
        "word",
        "oov",
        F.round(F.coalesce(F.aggregate("vector", F.lit(0.0), lambda a, x: a + F.abs(x)), F.lit(-1.0)), 4).alias("l1_norm"),
    ).orderBy("word")


@q("scdv_doc_vectors")
def _scdv_doc_vectors(spark, sf_dir):
    from redshells_spark.ml.scdv import SCDV

    docs = _tokens(spark, sf_dir)
    model = SCDV.fit(
        docs, cluster_size=4, embedding_size=8,
        word2vec_kwargs={"min_count": 2, "seed": 42}, seed=42,
    )
    return model.infer_vector(docs)


@q("als_item_factors")
def _als_item_factors(spark, sf_dir):
    from redshells_spark.ml.matrix_factorization import item_factors, train_matrix_factorization

    li = _t(spark, sf_dir, "lineitem")
    ratings = li.select(
        F.col("l_suppkey").cast("int").alias("user_id"),
        F.col("l_partkey").cast("int").alias("item_id"),
        (F.col("l_quantity") / 10.0).alias("rating"),
    )
    mf = train_matrix_factorization(ratings, n_latent_factors=8, max_iter=5, reg_param=0.1)
    return item_factors(mf, normalize=True)


@q("mf_item_similarity")  # ALS fit RNG → rows-only check
def _mf_item_similarity(spark, sf_dir):
    """Item-item similarity from ALS factors (reference
    calculate_similarity_with_matrix_factorization.py:21-66), tiered
    exact-BLAS here (catalog below max_exact_items); the LSH-bucketed
    big-catalog path is exercised in tests/test_scale_guards.py."""
    from redshells_spark.ml.matrix_factorization import (
        mf_item_similarity,
        train_matrix_factorization,
    )

    li = _t(spark, sf_dir, "lineitem")
    ratings = li.select(
        F.col("l_suppkey").cast("int").alias("user_id"),
        F.col("l_partkey").cast("int").alias("item_id"),
        (F.col("l_quantity") / 10.0).alias("rating"),
    )
    mf = train_matrix_factorization(ratings, n_latent_factors=8, max_iter=5, reg_param=0.1)
    out = mf_item_similarity(mf, threshold=0.95)
    return out.select("id0", "id1", _r4(F.col("similarity"), "similarity"))


@q("lda_doc_topics")
def _lda_doc_topics(spark, sf_dir):
    from redshells_spark.ml.lda import train_lda

    docs = _tokens(spark, sf_dir)
    res = train_lda(docs, n_topics=4, max_iter=5, min_df=2, max_df=0.95)
    return res.document_topics(docs).select("doc_id", "topic_distribution")


@q(
    "dimension_reduction",
    """WITH imp AS (
         SELECT dim, sum(x * x) AS s FROM (
           SELECT generate_subscripts(embedding, 1) AS dim,
                  unnest(embedding::DOUBLE[]) AS x
           FROM embeddings) GROUP BY dim),
       sel AS (
         SELECT dim, CAST(row_number() OVER (ORDER BY dim ASC) - 1 AS BIGINT) AS pos
         FROM (SELECT dim FROM imp ORDER BY s DESC, dim ASC LIMIT 16)),
       ex AS (
         SELECT vec_id, generate_subscripts(embedding, 1) AS dim,
                unnest(embedding::DOUBLE[]) AS x
         FROM embeddings),
       g AS (SELECT e.vec_id, s.pos, e.x FROM ex e JOIN sel s ON e.dim = s.dim),
       v AS (SELECT vec_id, list(x ORDER BY pos ASC) AS xs FROM g GROUP BY vec_id),
       n AS (SELECT vec_id, xs,
                    sqrt(list_reduce(list_transform(xs, t -> t * t),
                                     (a, b) -> a + b)) AS nrm
             FROM v)
       SELECT vec_id, CAST(p - 1 AS BIGINT) AS pos,
              round(xs[p] / greatest(nrm, 1e-12), 4) AS e
       FROM (SELECT vec_id, xs, nrm, unnest(range(1, len(xs) + 1)) AS p FROM n)""",
)
def _dimension_reduction(spark, sf_dir):
    """Deterministic dimension reduction (ml/dimension_reduction.py,
    reference dimension_reduction_model.py): keep the top-16 dims by
    Σx² importance, slice, L2-normalize. Fit and transform are pure
    arithmetic over fixed orders — importance argsort, index-ordered
    gather, left-fold norm — so the whole estimator-transform, exported
    as exploded (vec_id, pos, e) rows, hash-MATCHes a DuckDB replay
    (list_reduce folds in the same index order as F.aggregate)."""
    from redshells_spark.ml.dimension_reduction import DimensionReductionModel

    emb = _t(spark, sf_dir, "embeddings")
    model = DimensionReductionModel.fit(emb, top_n=16, normalize=True)
    out = model.transform(emb)
    return out.select(
        "vec_id", F.posexplode("embedding").alias("pos", "x")
    ).select(
        "vec_id",
        F.col("pos").cast("long").alias("pos"),
        _r4(F.col("x"), "e"),
    )


@q(
    "value_percentiles",
    """SELECT event_type,
         round(quantile_cont(value, 0.25), 4) AS p25,
         round(quantile_cont(value, 0.5), 4) AS p50,
         round(quantile_cont(value, 0.95), 4) AS p95
       FROM events GROUP BY event_type""",
)
def _value_percentiles(spark, sf_dir):
    # beyond-reference OLAP: exact interpolated percentiles (Spark
    # `percentile` == DuckDB `quantile_cont` semantics)
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        _r4(F.expr("percentile(value, 0.25)"), "p25"),
        _r4(F.expr("percentile(value, 0.5)"), "p50"),
        _r4(F.expr("percentile(value, 0.95)"), "p95"),
    )


@q(
    "orders_rollup",
    f"""SELECT coalesce(o_orderstatus, 'ALL') AS status,
              coalesce(o_orderpriority, 'ALL') AS priority,
              count(*) AS n, {_MONEY_SUM('o_totalprice')} AS total
       FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)""",
)
def _orders_rollup(spark, sf_dir):
    # Catalyst rollup (SURVEY §2.C: free in Spark, absent in reference)
    o = _t(spark, sf_dir, "orders")
    return (
        o.rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            exact_money_sum(F.col("o_totalprice")).alias("total"),
        )
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
            "n",
            "total",
        )
    )


@q(
    "salted_aggregate",
    f"""SELECT event_type, count(*) AS n, {_MONEY_SUM('value')} AS sum_value
       FROM events GROUP BY event_type""",
)
def _salted_aggregate(spark, sf_dir):
    # two-phase salted aggregation produces identical results to the
    # plain groupBy — oracle proves it; the salt spreads hot keys.
    # The summed column is exact integer cents so the two-phase
    # partial-sum order can never shift a rounding boundary.
    from redshells_spark.operators.skew import salted_aggregate

    ev = _t(spark, sf_dir, "events").withColumn(
        "__vc", money_units(F.col("value"))
    )
    out = salted_aggregate(
        ev,
        ["event_type"],
        {"n": "count", "sum_c": "sum:__vc"},
        num_salts=8,
    )
    return out.select(
        "event_type",
        "n",
        (F.col("sum_c").cast("double") / 100).alias("sum_value"),
    )


@q(
    "approx_distinct_users",
    f"""WITH h AS (SELECT DISTINCT {_duck_h60("user_id")} AS h FROM events),
       kept AS (SELECT h FROM h ORDER BY h ASC LIMIT 256),
       a AS (SELECT count(*)::BIGINT AS n_hashes, max(h) AS hk FROM kept),
       x AS (SELECT count(DISTINCT user_id)::BIGINT AS n_exact FROM events)
       SELECT a.n_hashes, x.n_exact,
              round(CASE WHEN a.n_hashes < 256 THEN a.n_hashes::DOUBLE
                    ELSE 255.0 * 1152921504606846976.0 / hk::DOUBLE END, 4)
                  AS approx_users
       FROM a, x""",
)
def _approx_distinct_users(spark, sf_dir):
    """Approximate global distinct-user count via the portable KMV
    sketch (operators/sketches.py kmv_distinct_global): 256 smallest
    md5-rank hashes found with a distributed sort+limit (TakeOrdered —
    no global window), estimate (k−1)·2⁶⁰/h_k. The engine-private HLL
    (`F.approx_count_distinct`) remains the API default at scale; this
    registry entry uses the estimator the DuckDB oracle reproduces
    bit-for-bit, with the exact count riding along to show the error."""
    from redshells_spark.operators.sketches import kmv_distinct_global

    ev = _t(spark, sf_dir, "events")
    sk = kmv_distinct_global(ev, "user_id", k=256)
    exact = ev.agg(F.countDistinct("user_id").alias("n_exact"))
    return sk.crossJoin(exact).select(
        "n_hashes",
        F.col("n_exact").cast("long").alias("n_exact"),
        _r4(F.col("kmv_estimate"), "approx_users"),
    )


@q("classifier_predictions")  # MLlib fit → rows-only
def _classifier_predictions(spark, sf_dir):
    from redshells_spark.ml.classifiers import train_classifier

    li = _t(spark, sf_dir, "lineitem")
    data = li.select(
        (F.col("l_discount") > 0.05).cast("int").alias("y"),
        "l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice", "l_tax",
    )
    model = train_classifier(
        data, ["l_quantity", "l_extendedprice", "l_tax"], "y", "LogisticRegression"
    )
    return model.transform(data).select("l_orderkey", "l_linenumber", "prediction")


@q("pairwise_similarity_predictions")  # Hadamard features + classifier → rows-only
def _pairwise_similarity_predictions(spark, sf_dir):
    from redshells_spark.ml.pairwise import (
        predict_pairwise_similarity,
        train_pairwise_similarity,
    )

    emb = _t(spark, sf_dir, "embeddings")
    pairs = (
        emb.alias("a")
        .join(emb.alias("b"), F.col("b.vec_id") == F.col("a.vec_id") + 1)
        .select(
            F.col("a.vec_id").alias("item_id_0"),
            F.col("b.vec_id").alias("item_id_1"),
            F.when(F.col("a.label") == F.col("b.label"), 1).otherwise(0).alias("similarity"),
        )
    )
    model = train_pairwise_similarity(pairs, emb, "LogisticRegression")
    return predict_pairwise_similarity(
        model, pairs.select("item_id_0", "item_id_1"), emb
    ).select("item_id_0", "item_id_1", "prediction")


@q("fm_predictions")  # FMClassifier CTR pipeline → rows-only
def _fm_predictions(spark, sf_dir):
    from redshells_spark.ml.factorization_machine import train_factorization_machine

    ev = _t(spark, sf_dir, "events")
    data = ev.select(
        "event_id",
        (F.col("event_type") == "purchase").cast("int").alias("label"),
        F.col("value").alias("I1"),
        (F.col("user_id") % 20).cast("string").alias("C1"),
    ).na.fill(0)
    model = train_factorization_machine(
        data, ["I1"], ["C1"], embedding_size=4, max_iter=5
    )
    return model.transform(data).select("event_id", "prediction")


@q("gcmc_predictions")  # driver-trained numpy GCMC → rows-only
def _gcmc_predictions(spark, sf_dir):
    from redshells_spark.ml.gcmc import build_gcmc_dataset, train_gcmc

    li = _t(spark, sf_dir, "lineitem")
    ratings = (
        li.select(
            F.col("l_suppkey").cast("int").alias("user_id"),
            F.col("l_partkey").cast("int").alias("item_id"),
            F.when(F.col("l_quantity") > 25, 2.0).otherwise(1.0).alias("rating"),
        )
        .dropDuplicates(["user_id", "item_id"])
        .limit(20000)
    )
    edges, user_map, item_map = build_gcmc_dataset(ratings, test_size=0.1)
    model = train_gcmc(
        edges, user_map.count(), item_map.count(),
        encoder_hidden=16, encoder_size=8, epochs=20,
    )
    return model.predict(edges.filter(~F.col("is_train")))


@q("gcmc_feature_cold_start")  # driver-trained numpy GCMC → rows-only
def _gcmc_feature_cold_start(spark, sf_dir):
    """GCMC with item side features (reference cross-feature layers,
    graph_convolutional_matrix_completion.py:128-142): embeddings for
    NEW items known only by features; identical features → identical
    embeddings (l2 distance 0 between the two clones)."""
    import numpy as np

    from redshells_spark.ml.gcmc import build_gcmc_dataset, features_matrix, train_gcmc

    li = _t(spark, sf_dir, "lineitem")
    ratings = (
        li.select(
            F.col("l_suppkey").cast("int").alias("user_id"),
            F.col("l_partkey").cast("int").alias("item_id"),
            F.when(F.col("l_quantity") > 25, 2.0).otherwise(1.0).alias("rating"),
        )
        .dropDuplicates(["user_id", "item_id"])
        .limit(5000)
    )
    edges, user_map, item_map = build_gcmc_dataset(ratings, test_size=0.1)
    feats = item_map.select(
        "item_id",
        F.array(
            (F.col("item_id") % 7).cast("double"), (F.col("item_id") % 3).cast("double")
        ).alias("features"),
    )
    fmat = features_matrix(item_map, feats, "item_id")
    model = train_gcmc(
        edges, user_map.count(), item_map.count(),
        encoder_hidden=16, encoder_size=8, epochs=15, item_features=fmat,
    )
    # DISTRIBUTED cold-start scoring: embeddings for new items computed
    # by an Arrow batch map over broadcast cross-feature weights — the
    # inference path scales with the cluster even though training is
    # driver-capped (reference parity boundary)
    new_items = spark.createDataFrame(
        [(0, [1.0, 2.0]), (1, [1.0, 2.0]), (2, [3.0, 1.0])],
        "new_item int, features array<double>",
    )
    emb_df = model.item_embeddings_df(new_items, "new_item", "features")
    first = F.first(F.col("embedding")).over(
        Window.orderBy("new_item").rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing
        )
    )
    return (
        emb_df.withColumn(
            "l1_norm",
            F.round(F.aggregate("embedding", F.lit(0.0), lambda a, x: a + F.abs(x)), 4),
        )
        .withColumn(
            "clone_gap",
            F.sqrt(
                F.aggregate(
                    F.zip_with("embedding", first, lambda a, b: (a - b) * (a - b)),
                    F.lit(0.0),
                    lambda a, x: a + x,
                )
            ),
        )
        .select("new_item", "l1_norm", "clone_gap")
    )


@q("feature_aggregation_similarity")  # driver-trained → rows-only
def _feature_aggregation_similarity(spark, sf_dir):
    from redshells_spark.ml.feature_aggregation import (
        train_feature_aggregation_similarity,
    )

    emb = _t(spark, sf_dir, "embeddings")
    # synthesize indexed feature pairs from consecutive embedding rows
    pairs = (
        emb.alias("a")
        .join(emb.alias("b"), F.col("b.vec_id") == F.col("a.vec_id") + 1)
        .select(
            F.col("a.vec_id").cast("int").alias("x_item_index"),
            F.col("b.vec_id").cast("int").alias("y_item_index"),
            F.array(
                (F.col("a.vec_id") % 20 + 1).cast("int"),
                (F.col("a.label") + 1).cast("int"),
            ).alias("x_item_features"),
            F.array(
                (F.col("b.vec_id") % 20 + 1).cast("int"),
                (F.col("b.label") + 1).cast("int"),
            ).alias("y_item_features"),
            F.when(F.col("a.label") == F.col("b.label"), 1.0).otherwise(-0.2).alias("score"),
        )
        .limit(400)
    )
    model = train_feature_aggregation_similarity(pairs, embedding_size=8, epochs=50)
    return model.predict(pairs).select(
        "x_item_index", "y_item_index", F.round("similarity", 4).alias("similarity")
    )


@q("quality_classifier_scores")  # MLlib LR fit → rows-only
def _quality_classifier_scores(spark, sf_dir):
    """Trainable quality model (text/quality_model.py, CCNet-style):
    weak labels from language id (en vs rest — a learnable bag-of-words
    signal), HashingTF→IDF→LR fit, distributed scoring of every doc."""
    from redshells_spark.text.quality_model import (
        score_quality,
        train_quality_classifier,
    )

    docs = _t(spark, sf_dir, "documents")
    labeled = tokenize_on_space(docs, "text", "tokens", lowercase=True).withColumn(
        "label", (F.col("lang") == "en").cast("int")
    )
    model = train_quality_classifier(labeled, num_features=1 << 14)
    return score_quality(model, labeled).select(
        "doc_id", F.round("quality_prob", 4).alias("quality_prob")
    )


# ------------------------------------------- temporal / analytic windows


@q(
    "asof_join_orders",
    """WITH r AS (
         SELECT o_custkey AS user_id, epoch_us(o_orderdate) AS rt_us,
                max(o_orderkey) AS matched_order,
                round(arg_max(o_totalprice, o_orderkey), 4) AS matched_totalprice
         FROM orders GROUP BY 1, 2)
       SELECT e.event_id, e.user_id, r.matched_order, r.matched_totalprice
       FROM events e ASOF JOIN r
         ON e.user_id = r.user_id AND epoch_us(e.ts) >= r.rt_us""",
)
def _asof_join_orders(spark, sf_dir):
    """As-of join (operators/asof.py): each event picks the customer's
    most recent order at-or-before the event time. Spark plan = tagged
    union + ONE shuffle on the key + ordered-window carry-forward (no
    join explosion); oracle = DuckDB's native ASOF JOIN — two
    independent machineries, same rows. Right side pre-aggregated to
    one row per (key, time) so the match is deterministic."""
    from redshells_spark.operators.asof import asof_join

    ev = _t(spark, sf_dir, "events")
    ev = ev.select("event_id", "user_id", event_us(ev, "ts").alias("ts_us"))
    o = _t(spark, sf_dir, "orders")
    r = (
        o.withColumn("user_id", F.col("o_custkey"))
        .withColumn("rt_us", event_us(o, "o_orderdate"))
        .groupBy("user_id", "rt_us")
        .agg(
            F.max("o_orderkey").alias("matched_order"),
            F.round(F.max_by("o_totalprice", "o_orderkey"), 4).alias("matched_totalprice"),
        )
    )
    out = asof_join(ev, r, on="user_id", left_time="ts_us", right_time="rt_us")
    return out.select("event_id", "user_id", "matched_order", "matched_totalprice")


_PRICE_BANDS = [
    (0, 0.0, 2000.0),
    (1, 2000.0, 5000.0),
    (2, 5000.0, 10000.0),
    (3, 10000.0, 20000.0),
    (4, 20000.0, 40000.0),
    (5, 40000.0, 70000.0),
    (6, 70000.0, 110000.0),
]


@q(
    "range_join_price_bands",
    """WITH b(band_id, lo, hi) AS (VALUES """
    + ", ".join(
        f"(CAST({i} AS BIGINT), {lo}, {hi})" for i, lo, hi in _PRICE_BANDS
    )
    + """)
       SELECT b.band_id, count(*) AS n_items,
              """
    + _MONEY_SUM("l.l_extendedprice")
    + """ AS sum_price
       FROM lineitem l JOIN b
         ON l.l_extendedprice >= b.lo AND l.l_extendedprice < b.hi
       GROUP BY 1""",
)
def _range_join_price_bands(spark, sf_dir):
    """Bucketed range join (operators/asof.py:range_join): intervals
    explode into coarse buckets, points equi-join on the bucket id with
    an exact residual filter — a shuffled hash join, never a
    BroadcastNestedLoopJoin (plan-asserted in tests/test_asof_range.py).
    Oracle = DuckDB inequality join."""
    from redshells_spark.operators.asof import range_join

    bands = spark.createDataFrame(_PRICE_BANDS, "band_id bigint, lo double, hi double")
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_linenumber", "l_extendedprice")
    joined = range_join(li, bands, "l_extendedprice", "lo", "hi", bucket_width=10000.0)
    return joined.groupBy("band_id").agg(
        F.count(F.lit(1)).alias("n_items"),
        exact_money_sum(F.col("l_extendedprice")).alias("sum_price"),
    )


@q(
    "orders_grouping_sets",
    f"""SELECT coalesce(o_orderstatus, 'ALL') AS status,
              coalesce(o_orderpriority, 'ALL') AS priority,
              count(*) AS n_orders, {_MONEY_SUM('o_totalprice')} AS sum_price
       FROM orders
       GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
                               (o_orderstatus), (o_orderpriority), ())""",
)
def _orders_grouping_sets(spark, sf_dir):
    """GROUPING SETS — free in Catalyst (one Expand + one aggregate,
    partial aggregation preserved), identical SQL runs on DuckDB.
    The price sum is exact integer cents (order-free across the
    Expand's partial aggregation)."""
    _t(spark, sf_dir, "orders").createOrReplaceTempView("__gs_orders")
    return spark.sql(
        """SELECT coalesce(o_orderstatus, 'ALL') AS status,
                  coalesce(o_orderpriority, 'ALL') AS priority,
                  count(*) AS n_orders,
                  CAST(sum(CAST(floor(o_totalprice * 100 + 0.5D) AS BIGINT)) AS DOUBLE) / 100 AS sum_price
           FROM __gs_orders
           GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
                                   (o_orderstatus), (o_orderpriority), ())"""
    )


@q(
    "cumulative_revenue",
    """SELECT o_orderkey, o_custkey,
              CAST(row_number() OVER w AS BIGINT) AS order_seq,
              round(sum(o_totalprice) OVER (PARTITION BY o_custkey
                    ORDER BY o_orderdate ASC, o_orderkey ASC
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4) AS cum_revenue,
              round(avg(o_totalprice) OVER (PARTITION BY o_custkey
                    ORDER BY o_orderdate ASC, o_orderkey ASC
                    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 4) AS moving_avg_3
       FROM orders
       WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC)""",
)
def _cumulative_revenue(spark, sf_dir):
    """Running totals + moving average over an ordered frame: the
    accumulation order is pinned by the frame, so doubles fold in the
    same sequence on both engines — bit-identical before rounding."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").asc(), F.col("o_orderkey").asc()
    )
    return o.select(
        "o_orderkey",
        "o_custkey",
        F.row_number().over(w).cast("long").alias("order_seq"),
        _r4(
            F.sum("o_totalprice").over(w.rowsBetween(Window.unboundedPreceding, 0)),
            "cum_revenue",
        ),
        _r4(F.avg("o_totalprice").over(w.rowsBetween(-2, 0)), "moving_avg_3"),
    )


def _kmeans_oracle_sql(iterations: int = 2) -> str:
    """Unrolled integer Lloyd's iterations (see ml/kmeans_int.py).
    MATERIALIZED CTEs — pts feeds every iteration and DuckDB would
    otherwise inline-re-expand it (same lesson as the BPE oracle)."""
    parts = [
        """pts AS MATERIALIZED (
           SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS dim,
                  (floor(unnest(embedding)::DOUBLE * 1000000 + 0.5))::BIGINT
                      + 4000000 AS x
           FROM embeddings)""",
        """c0 AS MATERIALIZED (SELECT vec_id // 62 AS cid, dim, x AS c
           FROM pts WHERE vec_id % 62 = 0 AND vec_id < 496)""",
    ]
    prev = "c0"
    for i in range(1, iterations + 1):
        parts.append(
            f"""a{i} AS MATERIALIZED (SELECT vec_id, cid FROM (
            SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id
                       ORDER BY d2 ASC, cid ASC) AS rn
            FROM (SELECT p.vec_id, c.cid,
                         sum((p.x - c.c) * (p.x - c.c))::BIGINT AS d2
                  FROM pts p JOIN {prev} c ON c.dim = p.dim
                  GROUP BY p.vec_id, c.cid)) WHERE rn = 1)"""
        )
        parts.append(
            f"""c{i} AS MATERIALIZED (
            SELECT a.cid, p.dim,
                   (2 * sum(p.x) + count(*)) // (2 * count(*)) AS c
            FROM pts p JOIN a{i} a USING (vec_id) GROUP BY a.cid, p.dim)"""
        )
        prev = f"c{i}"
    parts.append(
        f"""df AS MATERIALIZED (
        SELECT vec_id, cid, d2, row_number() OVER (PARTITION BY vec_id
                   ORDER BY d2 ASC, cid ASC) AS rn
        FROM (SELECT p.vec_id, c.cid,
                     sum((p.x - c.c) * (p.x - c.c))::BIGINT AS d2
              FROM pts p JOIN {prev} c ON c.dim = p.dim
              GROUP BY p.vec_id, c.cid))"""
    )
    parts.append(
        f"cs AS (SELECT cid, sum(c)::BIGINT AS c_checksum FROM {prev} GROUP BY cid)"
    )
    body = ",\n       ".join(parts)
    return f"""WITH {body}
       SELECT a.cid, count(*) AS n_members, sum(a.d2)::BIGINT AS inertia,
              cs.c_checksum
       FROM df a JOIN cs USING (cid) WHERE a.rn = 1
       GROUP BY a.cid, cs.c_checksum"""


@q("kmeans_lloyd_exact", _kmeans_oracle_sql(2))
def _kmeans_lloyd_exact_query(spark, sf_dir):
    """Distributed Lloyd's K-means under the EXACT contract
    (ml/kmeans_int.py): fixed-point integer components (offset keeps
    them non-negative so Spark div == DuckDB // == floor), integer
    centroid updates via (2s+n) div 2n, int64 distances, (dist, cid)
    tie-breaks — 8 strided seed centroids, 2 iterations, per-cluster
    sizes + inertia + centroid checksum all hash-MATCH an unrolled-CTE
    oracle. MLlib KMeans remains the production default; this is the
    variant a cross-engine correctness gate can hold."""
    from redshells_spark.ml.kmeans_int import explode_points, kmeans_lloyd_exact

    emb = _t(spark, sf_dir, "embeddings")
    # pts feeds every superstep (assignment + update per iteration):
    # materialize once, same as the graph/assoc relations
    pts = explode_points(emb).localCheckpoint(eager=True)
    cent0 = pts.filter((F.col("vec_id") % 62 == 0) & (F.col("vec_id") < 496)).select(
        F.expr("vec_id div 62").alias("cid"), "dim", F.col("x").alias("c")
    )
    assign, cent = kmeans_lloyd_exact(pts, cent0, iterations=2)
    cs = cent.groupBy("cid").agg(F.sum("c").cast("long").alias("c_checksum"))
    return (
        assign.groupBy("cid")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.sum("d2").cast("long").alias("inertia"),
        )
        .join(cs, on="cid")
    )


@q(
    "decision_stump_returnflag",
    """WITH m AS (SELECT 'l_quantity' AS feature, l_quantity::DOUBLE AS value,
                  CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS label
                  FROM lineitem
           UNION ALL
           SELECT 'l_discount', l_discount::DOUBLE,
                  CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END FROM lineitem),
       pv AS (SELECT feature, value, count(*)::BIGINT AS n_v,
                     sum(label)::BIGINT AS pos_v
              FROM m GROUP BY 1, 2),
       sc AS (SELECT feature, value,
                     sum(n_v) OVER (PARTITION BY feature ORDER BY value ASC
                                    ROWS UNBOUNDED PRECEDING) AS n_left,
                     sum(pos_v) OVER (PARTITION BY feature ORDER BY value ASC
                                      ROWS UNBOUNDED PRECEDING) AS pos_left,
                     sum(n_v) OVER (PARTITION BY feature) AS n,
                     sum(pos_v) OVER (PARTITION BY feature) AS pos
              FROM pv),
       g AS (SELECT feature, value AS threshold,
                    n_left::BIGINT AS n_left, (n - n_left)::BIGINT AS n_right,
                    pos_left::BIGINT AS pos_left,
                    (pos - pos_left)::BIGINT AS pos_right, n::BIGINT AS n
             FROM sc WHERE n - n_left > 0),
       sg AS (SELECT feature, threshold, n_left, n_right, pos_left, pos_right, n,
                     ((n_left * n_left - pos_left * pos_left
                       - (n_left - pos_left) * (n_left - pos_left))::DOUBLE / n_left
                      + (n_right * n_right - pos_right * pos_right
                         - (n_right - pos_right) * (n_right - pos_right))::DOUBLE
                        / n_right) AS gcost
              FROM g)
       SELECT feature, threshold, n_left, n_right, pos_left, pos_right,
              round(gcost / n, 6) AS gini,
              round((greatest(pos_left, n_left - pos_left)
                     + greatest(pos_right, n_right - pos_right))::DOUBLE / n, 4)
                  AS accuracy
       FROM sg ORDER BY gcost ASC, feature ASC, threshold ASC LIMIT 1""",
)
def _decision_stump_returnflag(spark, sf_dir):
    """Exact depth-1 CART induction (ml/decision_stump.py): per
    feature one map-combined aggregate to distinct values, one prefix
    window, integer Gini operands — the split score is a fixed
    expression over identical integers, so both engines compute the
    identical double and the argmin split hash-MATCHes. Approximate
    quantile binning (the MLlib/XGBoost trick) plugs in upstream for
    high-cardinality features without changing the scoring."""
    from redshells_spark.ml.decision_stump import best_stump

    li = _t(spark, sf_dir, "lineitem").select(
        "l_quantity",
        "l_discount",
        (F.col("l_returnflag") == "R").cast("long").alias("is_return"),
    )
    return best_stump(li, ["l_quantity", "l_discount"], "is_return")


@q(
    "impute_group_median",
    """WITH holey AS (SELECT event_id, event_type,
                   CASE WHEN event_id % 7 = 0 THEN NULL ELSE value END AS value
            FROM events),
       nn AS (SELECT event_type, value, event_id FROM holey WHERE value IS NOT NULL),
       r AS (SELECT event_type, value,
                    row_number() OVER (PARTITION BY event_type
                                       ORDER BY value ASC, event_id ASC) AS rn,
                    count(*) OVER (PARTITION BY event_type) AS n
             FROM nn),
       med AS (SELECT event_type, value AS m FROM r WHERE rn = (n + 1) // 2)
       SELECT h.event_type,
              sum(CASE WHEN h.value IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_imputed,
              count(*)::BIGINT AS n_rows,
              CAST(sum(CAST(round(coalesce(h.value, med.m) * 10000, 0) AS BIGINT))
                   AS BIGINT) AS imputed_sum_e4
       FROM holey h JOIN med USING (event_type)
       GROUP BY h.event_type""",
)
def _impute_group_median(spark, sf_dir):
    """Median imputation (data/frame_ops.py:impute_with_group_median):
    every 7th event's value is knocked out, then refilled with the
    exact per-group lower median — rank-selection, not engine
    percentiles, so the repaired table is bit-reproducible. Checksum =
    order-free integer sum of 1e-4-scaled values."""
    from redshells_spark.data.frame_ops import impute_with_group_median

    ev = _t(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.when(F.col("event_id") % 7 == 0, F.lit(None)).otherwise(F.col("value")).alias(
            "value"
        ),
    )
    imputed = impute_with_group_median(
        ev, "value", ["event_type"], "event_id", flag_column="was_imputed"
    )
    return imputed.groupBy("event_type").agg(
        F.sum("was_imputed").cast("long").alias("n_imputed"),
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.round(F.col("value") * 10000, 0).cast("long")).alias("imputed_sum_e4"),
    )


@q(
    "target_encode_returnflag",
    """WITH t AS (SELECT l_orderkey, l_linenumber, l_returnflag AS cat,
                  CAST(round(l_extendedprice * 1000000, 0) AS BIGINT) AS y
                  FROM lineitem),
       s AS (SELECT cat, sum(y)::BIGINT AS s, count(*)::BIGINT AS n
             FROM t GROUP BY cat)
       SELECT t.l_orderkey, t.l_linenumber, t.cat,
              CASE WHEN s.n > 1
                   THEN CAST(floor((s.s - t.y)::DOUBLE / (s.n - 1) + 0.5) AS BIGINT)
              END AS te
       FROM t JOIN s USING (cat)""",
)
def _target_encode_shipmode(spark, sf_dir):
    """Leave-one-out target encoding (data/frame_ops.py:
    target_encode_loo): return flag → mean extended price of the
    OTHER rows in the category, (sum − y)/(n − 1) over exact fixed-point
    integers with one fixed-shape division per row — leakage-free
    categorical features under the bit-exact contract. One broadcast
    of the per-category sums; the fact table never shuffles."""
    from redshells_spark.data.frame_ops import target_encode_loo

    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", F.col("l_returnflag").alias("cat"), "l_extendedprice"
    )
    out = target_encode_loo(li, "cat", "l_extendedprice", output_column="te")
    return out.select("l_orderkey", "l_linenumber", "cat", "te")


@q(
    "kfold_assignment",
    """WITH f AS (SELECT ((o_custkey * 2654435761 + 42) % 4294967296) % 5 AS fold,
                         CAST(round(o_totalprice * 100, 0) AS BIGINT) AS p_c
                  FROM orders)
       SELECT fold, count(*) AS n_rows,
              round(sum(p_c) / 100.0 / count(*), 4) AS avg_totalprice
       FROM f GROUP BY fold""",
)
def _kfold_assignment(spark, sf_dir):
    """Deterministic group-aware k-fold CV assignment
    (data/frame_ops.py:kfold_column): folds from the portable
    multiplicative hash of the CUSTOMER key, so every customer's
    orders share a fold (no group leakage across folds). Fold
    balance + per-fold target means as exact-integer checks."""
    from redshells_spark.data.frame_ops import kfold_column

    o = _t(spark, sf_dir, "orders").select("o_custkey", "o_totalprice")
    folded = kfold_column(o, "o_custkey", k=5, seed=42)
    return folded.groupBy("fold").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.round(
            F.sum(F.round(F.col("o_totalprice") * 100, 0).cast("long"))
            / 100.0
            / F.count(F.lit(1)),
            4,
        ).alias("avg_totalprice"),
    )


@q(
    "grouped_ols_two_features",
    """WITH m AS (SELECT l_returnflag,
                count(*)::BIGINT AS n,
                sum(CAST(l_quantity AS BIGINT))::BIGINT AS sx,
                sum(CAST(round(l_discount * 100, 0) AS BIGINT))::BIGINT AS sz,
                sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT))::BIGINT AS sy,
                sum(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT))::BIGINT AS sxx,
                sum(CAST(round(l_discount * 100, 0) AS BIGINT)
                    * CAST(round(l_discount * 100, 0) AS BIGINT))::BIGINT AS szz,
                sum(CAST(l_quantity AS BIGINT)
                    * CAST(round(l_discount * 100, 0) AS BIGINT))::BIGINT AS sxz,
                sum(CAST(l_quantity AS BIGINT)
                    * CAST(round(l_extendedprice * 100, 0) AS BIGINT))::BIGINT AS sxy,
                sum(CAST(round(l_discount * 100, 0) AS BIGINT)
                    * CAST(round(l_extendedprice * 100, 0) AS BIGINT))::BIGINT AS szy
           FROM lineitem GROUP BY l_returnflag),
       c AS (SELECT l_returnflag, n, sx, sz, sy,
                    (n::DOUBLE * sxx) - (sx::DOUBLE * sx) AS cxx,
                    (n::DOUBLE * szz) - (sz::DOUBLE * sz) AS czz,
                    (n::DOUBLE * sxz) - (sx::DOUBLE * sz) AS cxz,
                    (n::DOUBLE * sxy) - (sx::DOUBLE * sy) AS cxy,
                    (n::DOUBLE * szy) - (sz::DOUBLE * sy) AS czy
             FROM m),
       b AS (SELECT l_returnflag, n, sx, sz, sy,
                    ((czz * cxy) - (cxz * czy)) / ((cxx * czz) - (cxz * cxz)) AS b1,
                    ((cxx * czy) - (cxz * cxy)) / ((cxx * czz) - (cxz * cxz)) AS b2
             FROM c)
       SELECT l_returnflag, n,
              CAST(floor(b1 * 1000000 + 0.5) AS BIGINT) AS beta_qty_e6,
              CAST(floor(b2 * 1000000 + 0.5) AS BIGINT) AS beta_disc_e6,
              CAST(floor(((sy::DOUBLE - (b1 * sx)) - (b2 * sz)) / n * 100 + 0.5)
                   AS BIGINT) AS intercept_c
       FROM b""",
)
def _grouped_ols_two_features(spark, sf_dir):
    """Closed-form multivariate regression per group: price ~ quantity
    + discount via the 2×2 normal equations solved from NINE exact
    integer moments (one map-combined aggregate — the only distributed
    pass). The centered cross-products and determinant ratios are
    FIXED expression trees over those integers, mirrored
    parenthesis-for-parenthesis in the oracle, so every double is
    IEEE-identical cross-engine and the coefficients export exactly at
    fixed point. The one-feature version is grouped_ols_trend; this is
    the genuinely multivariate shape (quantity and discount enter
    jointly)."""
    li = _t(spark, sf_dir, "lineitem")
    x = F.col("l_quantity").cast("long")
    z = F.round(F.col("l_discount") * 100, 0).cast("long")
    y = F.round(F.col("l_extendedprice") * 100, 0).cast("long")
    m = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).alias("sx"),
        F.sum(z).alias("sz"),
        F.sum(y).alias("sy"),
        F.sum(x * x).alias("sxx"),
        F.sum(z * z).alias("szz"),
        F.sum(x * z).alias("sxz"),
        F.sum(x * y).alias("sxy"),
        F.sum(z * y).alias("szy"),
    )
    nd = F.col("n").cast("double")
    cxx = (nd * F.col("sxx")) - (F.col("sx").cast("double") * F.col("sx"))
    czz = (nd * F.col("szz")) - (F.col("sz").cast("double") * F.col("sz"))
    cxz = (nd * F.col("sxz")) - (F.col("sx").cast("double") * F.col("sz"))
    cxy = (nd * F.col("sxy")) - (F.col("sx").cast("double") * F.col("sy"))
    czy = (nd * F.col("szy")) - (F.col("sz").cast("double") * F.col("sy"))
    det = (cxx * czz) - (cxz * cxz)
    b1 = ((czz * cxy) - (cxz * czy)) / det
    b2 = ((cxx * czy) - (cxz * cxy)) / det
    return m.select(
        "l_returnflag",
        "n",
        F.floor(b1 * 1_000_000 + F.lit(0.5)).cast("long").alias("beta_qty_e6"),
        F.floor(b2 * 1_000_000 + F.lit(0.5)).cast("long").alias("beta_disc_e6"),
        F.floor(
            ((F.col("sy").cast("double") - (b1 * F.col("sx"))) - (b2 * F.col("sz")))
            / F.col("n")
            * 100
            + F.lit(0.5)
        )
        .cast("long")
        .alias("intercept_c"),
    )


@q(
    "negative_sampling_table",
    """WITH tok AS (
         SELECT unnest(list_filter(string_split(lower(text), ' '),
                                   t -> t <> '')) AS token
         FROM documents),
       c AS (SELECT token, CAST(count(*) AS BIGINT) AS n FROM tok GROUP BY 1),
       wgt AS (SELECT token, n,
                      pow(CAST(n AS DOUBLE), CAST(0.75 AS DOUBLE)) AS w
               FROM c),
       t AS (SELECT sum(w) AS wt FROM wgt)
       SELECT token, n, round(w / t.wt, 4) AS prob,
              round(sum(w / t.wt) OVER (ORDER BY token ASC
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                    4) AS cum_prob
       FROM wgt, t""",
)
def _negative_sampling_table(spark, sf_dir):
    """word2vec negative-sampling distribution (data/sampling.py
    negative_sampling_table; Mikolov et al. 2013): p(w) ∝ count^0.75
    over the corpus vocabulary, with the running CDF for
    inverse-transform draws. Vocabulary-sized relation, one ordered
    window; the CDF accumulates in deterministic (token asc) order on
    both engines so the round-4 export is stable."""
    from redshells_spark.data.sampling import negative_sampling_table

    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(space_tokens(F.col("text"))).alias("token")
    )
    return negative_sampling_table(toks)


# -------------------------------------------------- SGD-trained FastText


@q("fasttext_sgd_oov")  # SGD fit (numpy RNG) → rows-only check
def _fasttext_sgd_oov(spark, sf_dir):
    """FastText with SGD-TRAINED subwords (ml/fasttext.py:fit_sgd —
    Bojanowski et al. 2017 §3.2, the reference's actual gensim training
    objective, reimplemented since gensim is absent): skip-gram with
    negative sampling where the center word is the mean of its char
    n-gram vectors, so the bucket vectors that compose OOV words are
    learned against co-occurrence rather than induced post-hoc.
    Rows-only (SGD RNG); topic-separation and OOV-composition gates
    live in tests/test_fasttext.py."""
    from redshells_spark.ml.fasttext import FastTextVectors

    ft = FastTextVectors.fit_sgd(
        _tokens(spark, sf_dir), vector_size=16, min_count=2, epochs=3,
        bucket=100_000, max_docs=2_000, seed=42,
    )
    words = spark.createDataFrame(
        [("spark",), ("window",), ("sparkly",), ("windowing",), ("quuxzilch",)],
        ["word"],
    )
    out = ft.infer_vectors(words)
    return out.select(
        "word",
        "oov",
        F.round(F.coalesce(F.aggregate("vector", F.lit(0.0), lambda a, x: a + F.abs(x)), F.lit(-1.0)), 4).alias("l1_norm"),
    ).orderBy("word")


E12 = 1_000_000_000_000

# ------------------------------------------------------------ KNN-Shapley


@q(
    "knn_shapley_values",
    f"""WITH tr AS (SELECT vec_id AS tid, label AS ty, embedding
                FROM embeddings WHERE vec_id % 25 <> 0),
       va AS (SELECT vec_id AS vid, label AS vy, embedding
              FROM embeddings WHERE vec_id % 25 = 0),
       pr AS (
         SELECT a.tid, a.ty, b.vid, {_COS_AB} AS score,
                CASE WHEN a.ty = b.vy THEN 1 ELSE 0 END AS ind
         FROM tr a CROSS JOIN va b),
       rk AS (
         SELECT tid, ty, vid, ind,
                row_number() OVER (PARTITION BY vid
                                   ORDER BY score DESC, tid ASC) AS i,
                lead(ind) OVER (PARTITION BY vid
                                ORDER BY score DESC, tid ASC) AS ind_next,
                count(*) OVER (PARTITION BY vid) AS n
         FROM pr),
       tm AS (
         SELECT tid, ty, vid, i,
                CASE WHEN ind_next IS NULL
                     THEN CAST(ind * {E12} AS BIGINT) // CAST(n AS BIGINT)
                     ELSE (ind - ind_next)
                          * (CAST(least(5, i) * {E12} AS BIGINT)
                             // CAST(5 * i AS BIGINT)) END AS term
         FROM rk),
       sf AS (
         SELECT tid, ty,
                CAST(sum(term) OVER (PARTITION BY vid ORDER BY i ASC
                  ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS BIGINT) AS s
         FROM tm)
       SELECT tid AS vec_id, CAST(ty AS BIGINT) AS label,
              CAST(sum(s) AS BIGINT) AS shapley_e12_sum,
              CAST(count(*) AS BIGINT) AS n_val
       FROM sf GROUP BY tid, ty""",
)
def _knn_shapley_values(spark, sf_dir):
    """Exact KNN-Shapley data valuation (Jia et al. VLDB 2019;
    ml/valuation.py): the Shapley value of every training embedding
    for a K-NN surrogate has a closed form — one ranking window per
    validation point plus a suffix sum — so 'which training points
    help/hurt' costs O(|val|·N), not retraining. Negative values flag
    mislabeled/near-dup candidates: THE curation signal. Terms are e12
    fixed-point int64 (sign multiplied AFTER the non-negative integer
    division, since Spark div truncates while DuckDB // floors), so
    every suffix sum and the final aggregate are exact integers."""
    from redshells_spark.ml.valuation import knn_shapley

    emb = _t(spark, sf_dir, "embeddings")
    train = emb.filter(F.col("vec_id") % 25 != 0)
    val = emb.filter(F.col("vec_id") % 25 == 0).select(
        F.col("vec_id").alias("val_id"), "label", "embedding"
    )
    out = knn_shapley(train, val, k=5)
    return out.select(
        "vec_id",
        F.col("label").cast("long").alias("label"),
        "shapley_e12_sum",
        "n_val",
    )


# ------------------------------------------------- grouped 2x2 PCA


@q(
    "grouped_pca_2d",
    f"""WITH b AS (SELECT event_type,
                {_CENTS_SQL} AS x,
                CAST((epoch_us(ts) // {_HOUR_US}) % 24 AS BIGINT) AS y
              FROM events),
       m AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
                    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
                    CAST(sum(x * x) AS BIGINT) AS sxx,
                    CAST(sum(x * y) AS BIGINT) AS sxy,
                    CAST(sum(y * y) AS BIGINT) AS syy
             FROM b GROUP BY 1),
       cv AS (SELECT event_type, n,
               (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)
                / CAST(n AS DOUBLE)) / CAST(n AS DOUBLE) AS a,
               (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)
                / CAST(n AS DOUBLE)) / CAST(n AS DOUBLE) AS bb,
               (CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)
                / CAST(n AS DOUBLE)) / CAST(n AS DOUBLE) AS cc
              FROM m),
       ei AS (SELECT event_type, n, a, bb, cc,
               (a + cc) / CAST(2 AS DOUBLE)
                 + sqrt((a - cc) / CAST(2 AS DOUBLE)
                        * ((a - cc) / CAST(2 AS DOUBLE)) + bb * bb) AS lam1,
               (a + cc) / CAST(2 AS DOUBLE)
                 - sqrt((a - cc) / CAST(2 AS DOUBLE)
                        * ((a - cc) / CAST(2 AS DOUBLE)) + bb * bb) AS lam2
              FROM cv)
       SELECT event_type, n, round(lam1, 6) AS lam1, round(lam2, 6) AS lam2,
              round(lam1 / (a + cc), 6) AS explained_ratio,
              round(degrees(atan2(bb, lam1 - cc)), 4) AS angle_deg
       FROM ei""",
)
def _grouped_pca_2d(spark, sf_dir):
    """Per-event-type 2x2 PCA of (value cents, hour-of-day): the
    covariance matrix comes from SIX exact int64 moment sums (one
    map-combined groupBy — the only shuffle), and the eigen readout is
    the closed form lam = m +/- sqrt(((a-c)/2)^2 + b^2) evaluated once
    per group with IDENTICAL IEEE expression trees on both engines.
    The distributed part never touches a double; eigenvalues, explained
    ratio and principal angle are final single-shot formulas. This is
    the relational form of per-segment feature-correlation profiling
    (dimension_reduction's 2-D diagnostic twin)."""
    ev = _t(spark, sf_dir, "events")
    b = ev.select(
        "event_type", money_units(F.col("value"), 100).alias("x"),
        event_us(ev).alias("us")
    ).select(
        "event_type",
        "x",
        F.expr(f"(us div {_HOUR_US}) % 24").cast("long").alias("y"),
    )
    m = b.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
    )
    nd = F.col("n").cast("double")
    a = (F.col("sxx").cast("double") - F.col("sx").cast("double") * F.col("sx").cast("double") / nd) / nd
    bb = (F.col("sxy").cast("double") - F.col("sx").cast("double") * F.col("sy").cast("double") / nd) / nd
    cc = (F.col("syy").cast("double") - F.col("sy").cast("double") * F.col("sy").cast("double") / nd) / nd
    cv = m.select("event_type", "n", a.alias("a"), bb.alias("bb"), cc.alias("cc"))
    half = (F.col("a") + F.col("cc")) / F.lit(2.0)
    root = F.sqrt(
        (F.col("a") - F.col("cc")) / F.lit(2.0)
        * ((F.col("a") - F.col("cc")) / F.lit(2.0))
        + F.col("bb") * F.col("bb")
    )
    ei = cv.select(
        "event_type", "n", "a", "bb", "cc",
        (half + root).alias("lam1"),
        (half - root).alias("lam2"),
    )
    return ei.select(
        "event_type",
        "n",
        F.round(F.col("lam1"), 6).alias("lam1"),
        F.round(F.col("lam2"), 6).alias("lam2"),
        F.round(F.col("lam1") / (F.col("a") + F.col("cc")), 6).alias(
            "explained_ratio"
        ),
        F.round(F.degrees(F.atan2(F.col("bb"), F.col("lam1") - F.col("cc"))), 4).alias(
            "angle_deg"
        ),
    )


# -------------------------------- full similarity composite with MF


@q(
    "make_similarity_data_mf",
    """WITH w2i AS (SELECT CAST(label AS VARCHAR) AS word, vec_id AS item_id
                FROM embeddings),
       a AS (SELECT word, item_id AS item_id_0,
                    row_number() OVER (PARTITION BY word
                                       ORDER BY item_id ASC) AS r
             FROM w2i),
       b AS (SELECT word, item_id AS item_id_1,
                    row_number() OVER (PARTITION BY word
                      ORDER BY md5(CAST(item_id AS VARCHAR) || '42') ASC) AS r
             FROM w2i),
       pos AS (
         SELECT a.item_id_0, b.item_id_1, 1 AS similarity
         FROM a JOIN b ON a.word = b.word AND a.r = b.r
         WHERE a.item_id_0 <> b.item_id_1),
       items AS (
         SELECT item_id AS item_id_1,
                row_number() OVER (
                  ORDER BY md5(CAST(item_id AS VARCHAR) || '42') ASC) - 1 AS gr
         FROM (SELECT DISTINCT item_id FROM w2i)),
       grp AS (
         SELECT word, item_id AS item_id_0,
                (row_number() OVER (PARTITION BY word ORDER BY item_id ASC)
                 * 2654435761 + 42) % (SELECT count(*) FROM items) AS gr
         FROM w2i),
       neg AS (
         SELECT p.item_id_0, p.item_id_1, 0 AS similarity
         FROM (SELECT g.word, g.item_id_0, i.item_id_1
               FROM grp g JOIN items i ON i.gr = g.gr) p
         ANTI JOIN w2i w ON w.word = p.word AND w.item_id = p.item_id_1),
       xs AS (SELECT vec_id, label, generate_subscripts(embedding, 1) AS dim,
                     CAST(floor(unnest(embedding)::DOUBLE * 1000
                                + CAST(0.5 AS DOUBLE)) AS BIGINT) AS q
              FROM embeddings WHERE vec_id % 7 = 0),
       s AS (SELECT vec_id, CAST(sum(q * q) AS BIGINT) AS s2
             FROM xs GROUP BY 1),
       d AS (SELECT x0.vec_id AS id0, x1.vec_id AS id1,
                    CAST(sum(x0.q * x1.q) AS BIGINT) AS d
             FROM xs x0 JOIN xs x1 ON x1.dim = x0.dim
                                  AND x1.label = x0.label
                                  AND x0.vec_id < x1.vec_id
             GROUP BY 1, 2),
       sim AS (SELECT id0, id1,
                      CAST(floor(CAST(d.d AS DOUBLE)
                                 / sqrt(CAST(s0.s2 AS DOUBLE))
                                 / sqrt(CAST(s1.s2 AS DOUBLE))
                                 * 1000000 + CAST(0.5 AS DOUBLE)) AS BIGINT)
                        AS sim_e6
               FROM d JOIN s s0 ON s0.vec_id = d.id0
               JOIN s s1 ON s1.vec_id = d.id1
               WHERE s0.s2 > 0 AND s1.s2 > 0),
       mf_pos AS (SELECT item_id_0, item_id_1, 1 AS similarity FROM (
           SELECT id0 AS item_id_0, id1 AS item_id_1,
                  row_number() OVER (
                    ORDER BY sim_e6 DESC, id0 ASC, id1 ASC) AS rn
           FROM sim WHERE sim_e6 > 700000) WHERE rn <= 200),
       mf_neg AS (SELECT item_id_0, item_id_1, 0 AS similarity FROM (
           SELECT id0 AS item_id_0, id1 AS item_id_1,
                  row_number() OVER (
                    ORDER BY sim_e6 DESC, id0 ASC, id1 ASC) AS rn
           FROM sim WHERE sim_e6 < 300000) WHERE rn <= 200)
       SELECT item_id_0, item_id_1, CAST(max(similarity) AS BIGINT) AS similarity
       FROM (SELECT * FROM pos UNION ALL SELECT * FROM neg
             UNION ALL SELECT * FROM mf_pos UNION ALL SELECT * FROM mf_neg)
       GROUP BY 1, 2""",
)
def _make_similarity_data_mf(spark, sf_dir):
    """The FULL make_similarity_data composite including the
    MF-similarity branch (reference make_similarity_data.py:68-82):
    word-group positives (seeded permutation pairing) + outside-group
    negatives (hash-mapped) + similarity-threshold positives/negatives
    from a pairwise score relation, keep-positive pair dedup. Here the
    "word" groups are the embeddings' labels and the score relation is
    the exact e6-quantized cosine over a deterministic 1-in-7 sample
    blocked by label (the ANN-candidate shape: same-cluster pairs
    only, never all-pairs — at 100x the sample the per-label pair
    count grows quadratically ONLY within the sampled block, which is
    the knob). Element sums exact int64 over e3-quantized components;
    the cosine is one fixed IEEE tree; the top-k cuts sort on the
    integer score with full tie-breaks, so the composite is
    value-verified end to end."""
    from redshells_spark.pipelines.similarity_data import make_similarity_data

    emb = _t(spark, sf_dir, "embeddings")
    w2i = emb.select(
        F.col("label").cast("string").alias("word"),
        F.col("vec_id").alias("item_id"),
    )
    qv = F.expr(
        "transform(embedding, x -> cast(floor(cast(x as double) * 1000"
        " + cast(0.5 as double)) as bigint))"
    )
    samp = emb.filter(F.col("vec_id") % 7 == 0).select(
        "vec_id",
        "label",
        qv.alias("qv"),
        F.expr(
            "aggregate(transform(embedding, x -> cast(floor(cast(x as double)"
            " * 1000 + cast(0.5 as double)) as bigint)),"
            " cast(0 as bigint), (acc, x) -> acc + x * x)"
        ).alias("s2"),
    ).filter(F.col("s2") > 0).localCheckpoint(eager=True)
    # ^ 1-in-7 sample with its quantized vectors; both self-join sides
    # consume it — unpinned, the quantize fold ran twice
    a0 = samp.select(
        F.col("vec_id").alias("id0"), "label",
        F.col("qv").alias("q0"), F.col("s2").alias("s20"),
    )
    a1 = samp.select(
        F.col("vec_id").alias("id1"), F.col("label").alias("label1"),
        F.col("qv").alias("q1"), F.col("s2").alias("s21"),
    )
    sim = (
        a0.join(a1, (F.col("label") == F.col("label1")) & (F.col("id0") < F.col("id1")))
        .select(
            "id0",
            "id1",
            F.expr(
                "aggregate(zip_with(q0, q1, (x, y) -> x * y),"
                " cast(0 as bigint), (acc, x) -> acc + x)"
            ).alias("d"),
            "s20",
            "s21",
        )
        .select(
            "id0",
            "id1",
            F.expr(
                "cast(floor(cast(d as double) / sqrt(cast(s20 as double))"
                " / sqrt(cast(s21 as double)) * 1000000"
                " + cast(0.5 as double)) as bigint)"
            ).alias("similarity"),
        )
    )
    out = make_similarity_data(
        w2i,
        mf_similarity=sim,
        positive_rate=700000,
        negative_rate=300000,
        max_pairs=200,
    )
    return out.select(
        "item_id_0", "item_id_1", F.col("similarity").cast("long").alias("similarity")
    )


# ------------------------------------------- tolerance as-of join


@q(
    "asof_join_tolerance",
    f"""WITH e AS (SELECT event_id, user_id, event_type,
                         epoch_us(ts) AS us
                  FROM events WHERE event_type IN ('click', 'purchase')),
       marked AS (SELECT event_id, user_id, event_type, us,
                         max(CASE WHEN event_type = 'purchase'
                             THEN us END) OVER (
                           PARTITION BY user_id
                           ORDER BY us ASC, event_id ASC
                           ROWS UNBOUNDED PRECEDING) AS last_p_us
                  FROM e),
       clk AS (SELECT event_id, user_id, us,
                      CASE WHEN last_p_us IS NOT NULL
                            AND us - last_p_us <= {_DAY_US}
                           THEN last_p_us END AS m_us
               FROM marked WHERE event_type = 'click'),
       matched AS (SELECT c.event_id, c.us, c.m_us,
                          min(p.event_id) AS matched_purchase_id
                   FROM clk c LEFT JOIN e p
                     ON p.user_id = c.user_id AND p.event_type = 'purchase'
                    AND p.us = c.m_us
                   GROUP BY 1, 2, 3)
       SELECT event_id, matched_purchase_id,
              CAST(us - m_us AS BIGINT) AS gap_us
       FROM matched ORDER BY event_id""",
)
def _asof_join_tolerance(spark, sf_dir):
    """Backward as-of join WITH a staleness tolerance: each click
    matches the latest preceding purchase of the same user only if it
    is at most 24 h old — the "don't join stale state" variant that
    asof_join_orders lacks and every feature-store lookup needs (a
    price quote from last month must NOT silently join today's trade).
    One per-user running max (ordered by (us, event_id) — full
    tie-break) finds the as-of timestamp; the tolerance gates it; an
    equi-join back on (user, timestamp) recovers the purchase id with
    a min-id tie-break. Unmatched clicks keep NULL id and gap on both
    engines. Output is click-proportional; every window is
    user-partitioned, never global."""
    ev = _t(spark, sf_dir, "events")
    e = (
        ev.filter(F.col("event_type").isin("click", "purchase"))
        .withColumn("us", event_us(ev, "ts"))
        .select("event_id", "user_id", "event_type", "us")
    )
    wu = (
        Window.partitionBy("user_id")
        .orderBy(F.col("us").asc(), F.col("event_id").asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    marked = e.withColumn(
        "last_p_us",
        F.max(
            F.when(F.col("event_type") == "purchase", F.col("us"))
        ).over(wu),
    )
    clk = marked.filter(F.col("event_type") == "click").select(
        "event_id",
        "user_id",
        "us",
        F.when(
            F.col("last_p_us").isNotNull()
            & (F.col("us") - F.col("last_p_us") <= F.lit(_DAY_US)),
            F.col("last_p_us"),
        ).alias("m_us"),
    )
    p = e.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("us").alias("p_us"),
        F.col("event_id").alias("p_event_id"),
    )
    matched = (
        clk.join(
            p,
            (F.col("p_user") == F.col("user_id"))
            & (F.col("p_us") == F.col("m_us")),
            "left",
        )
        .groupBy("event_id", "us", "m_us")
        .agg(F.min("p_event_id").alias("matched_purchase_id"))
    )
    return matched.select(
        "event_id",
        "matched_purchase_id",
        (F.col("us") - F.col("m_us")).cast("long").alias("gap_us"),
    ).orderBy("event_id")


# --------------------------------------- feature staleness profile


@q(
    "feature_staleness_profile",
    f"""WITH e AS (SELECT event_id, user_id, event_type,
                         epoch_us(ts) AS us
                  FROM events WHERE event_type IN ('click', 'purchase')),
       marked AS (SELECT event_id, user_id, event_type, us,
                         max(CASE WHEN event_type = 'purchase'
                             THEN us END) OVER (
                           PARTITION BY user_id
                           ORDER BY us ASC, event_id ASC
                           ROWS UNBOUNDED PRECEDING) AS last_p_us
                  FROM e),
       clk AS (SELECT CASE WHEN last_p_us IS NOT NULL
                            AND us - last_p_us <= {_DAY_US}
                           THEN (us - last_p_us) // 1000000 END AS gap_s
               FROM marked WHERE event_type = 'click'),
       agg AS (SELECT CAST(count(*) AS BIGINT) AS n_clicks,
                      CAST(count(gap_s) AS BIGINT) AS n_matched,
                      CAST(coalesce(sum(gap_s), 0) AS BIGINT) AS gap_sum_s,
                      CAST(coalesce(max(gap_s), 0) AS BIGINT) AS max_gap_s
               FROM clk),
       lvl AS (SELECT gap_s, CAST(count(*) AS BIGINT) AS c
               FROM clk WHERE gap_s IS NOT NULL GROUP BY 1),
       cum AS (SELECT gap_s,
                      CAST(sum(c) OVER (ORDER BY gap_s ASC
                         ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cw
               FROM lvl),
       q AS (SELECT a.n_matched,
                    (SELECT min(gap_s) FROM cum
                     WHERE cw * 2 >= a.n_matched) AS p50_s,
                    (SELECT min(gap_s) FROM cum
                     WHERE cw * 10 >= a.n_matched * 9) AS p90_s,
                    (SELECT min(gap_s) FROM cum
                     WHERE cw * 100 >= a.n_matched * 99) AS p99_s
             FROM agg a)
       SELECT a.n_clicks, a.n_matched,
              CAST(a.n_matched * 1000000 // a.n_clicks AS BIGINT)
                AS match_rate_e6,
              CAST(CASE WHEN a.n_matched > 0
                   THEN a.gap_sum_s // a.n_matched ELSE 0 END AS BIGINT)
                AS mean_gap_s,
              CAST(coalesce(q.p50_s, 0) AS BIGINT) AS p50_gap_s,
              CAST(coalesce(q.p90_s, 0) AS BIGINT) AS p90_gap_s,
              CAST(coalesce(q.p99_s, 0) AS BIGINT) AS p99_gap_s,
              a.max_gap_s
       FROM agg a CROSS JOIN q""",
)
def _feature_staleness_profile(spark, sf_dir):
    """Staleness profile of the tolerance as-of join: when a click
    reads its latest ≤24h-old purchase, HOW old is that state —
    match rate, mean, exact p50/p90/p99 and max gap in whole seconds.
    The feature-store SLA readout on top of asof_join_tolerance
    (age-of-information, the metric a platform team alerts on). Gaps
    quantize to seconds so the percentile level table is bounded by
    the 86 400-second tolerance domain regardless of corpus size;
    percentiles select by cumulative weight (ceil(q·n) ⟺ cw·den ≥
    n·num in integers); every ratio is an exact integer division."""
    ev = _t(spark, sf_dir, "events")
    e = (
        ev.filter(F.col("event_type").isin("click", "purchase"))
        .withColumn("us", event_us(ev, "ts"))
        .select("event_id", "user_id", "event_type", "us")
    )
    wu = (
        Window.partitionBy("user_id")
        .orderBy(F.col("us").asc(), F.col("event_id").asc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    marked = e.withColumn(
        "last_p_us",
        F.max(F.when(F.col("event_type") == "purchase", F.col("us"))).over(wu),
    )
    clk = marked.filter(F.col("event_type") == "click").select(
        F.when(
            F.col("last_p_us").isNotNull()
            & (F.col("us") - F.col("last_p_us") <= F.lit(_DAY_US)),
            F.expr(f"(us - last_p_us) div 1000000"),
        )
        .cast("long")
        .alias("gap_s")
    )
    agg = clk.agg(
        F.count(F.lit(1)).cast("long").alias("n_clicks"),
        F.count("gap_s").cast("long").alias("n_matched"),
        F.coalesce(F.sum("gap_s"), F.lit(0)).cast("long").alias("gap_sum_s"),
        F.coalesce(F.max("gap_s"), F.lit(0)).cast("long").alias("max_gap_s"),
    )
    lvl = (
        clk.filter(F.col("gap_s").isNotNull())
        .groupBy("gap_s")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    wcum = Window.orderBy(F.col("gap_s").asc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = lvl.select("gap_s", F.sum("c").over(wcum).cast("long").alias("cw"))
    cj = cum.crossJoin(F.broadcast(agg.select("n_matched")))
    qs = cj.agg(
        F.min(F.when(F.col("cw") * 2 >= F.col("n_matched"), F.col("gap_s"))).alias(
            "p50_s"
        ),
        F.min(
            F.when(F.col("cw") * 10 >= F.col("n_matched") * 9, F.col("gap_s"))
        ).alias("p90_s"),
        F.min(
            F.when(F.col("cw") * 100 >= F.col("n_matched") * 99, F.col("gap_s"))
        ).alias("p99_s"),
    )
    return agg.crossJoin(qs).select(
        "n_clicks",
        "n_matched",
        F.expr("cast(n_matched * 1000000 div n_clicks as long)").alias(
            "match_rate_e6"
        ),
        F.expr(
            "cast(case when n_matched > 0 then gap_sum_s div n_matched"
            " else 0 end as long)"
        ).alias("mean_gap_s"),
        F.coalesce(F.col("p50_s"), F.lit(0)).cast("long").alias("p50_gap_s"),
        F.coalesce(F.col("p90_s"), F.lit(0)).cast("long").alias("p90_gap_s"),
        F.coalesce(F.col("p99_s"), F.lit(0)).cast("long").alias("p99_gap_s"),
        "max_gap_s",
    )
