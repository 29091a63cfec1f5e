"""Probabilistic sketches: Bloom filters, count-min, HyperLogLog, KMV,
AMS and heavy hitters, with their error audits.
"""

from __future__ import annotations

from redshells_spark.operators.sketches import (
    _bitlen_case_sql,
    hll_alpha,
    hll_estimate,
    hll_merge,
    hll_registers,
)
from redshells_spark.queries._shared import *  # noqa: F401,F403


# Bloom runtime-filter oracle: DuckDB reconstructs the *identical*
# 8192-bit bitmap from portable arithmetic (md5-hex folded to 60 bits,
# Kirsch-Mitzenmacher double hashing with the minhash constant family)
# and therefore the identical false-positive set — an approximate
# operator made exactly checkable. See operators/bloom.py.
_BLOOM_P = 2147483647
# 4096 words = 128 Kbit = 16 KB: ~8 bits/key at sf0.1's ~15k hot keys
# (k=3 → ~3% FP); 256 words saturated there and passed everything
_BLOOM_WORDS = 4096
_BLOOM_M = _BLOOM_WORDS * 32
_BLOOM_K = 3


def _bloom_oracle_sql() -> str:
    from redshells_spark.operators.bloom import _hash_consts

    consts = _hash_consts(_BLOOM_K)
    pos_terms = " UNION ALL ".join(
        f"SELECT ((hp * {a} + {b}) % {_BLOOM_P}) % {_BLOOM_M} AS p FROM kh" for a, b in consts
    )
    probe_terms = " AND ".join(
        f"(a[((((hp * {a} + {b}) % {_BLOOM_P}) % {_BLOOM_M}) // 32)::INTEGER + 1]"
        f" & (1::BIGINT << (((((hp * {a} + {b}) % {_BLOOM_P}) % {_BLOOM_M}) % 32)::INTEGER))) <> 0"
        for a, b in consts
    )
    # numeric keys: base hash is key % P directly (no md5) — matches
    # operators/bloom.py's integer fast path
    return f"""WITH keys AS (SELECT DISTINCT o_orderkey AS key FROM orders
                    WHERE o_totalprice > 400000),
       kh AS (SELECT (key::BIGINT % {_BLOOM_P}) AS hp FROM keys),
       pos AS ({pos_terms}),
       words AS (SELECT p // 32 AS word,
                        bit_or(1::BIGINT << (p % 32)::INTEGER) AS bits
                 FROM pos GROUP BY 1),
       dense AS (SELECT g AS word, COALESCE(w.bits, 0::BIGINT) AS bits
                 FROM generate_series(0, {_BLOOM_WORDS - 1}) AS gs(g)
                 LEFT JOIN words w ON w.word = g),
       arr AS (SELECT list(bits ORDER BY word) AS a FROM dense),
       probe AS (SELECT l_orderkey, l_linenumber, l_quantity,
                        (l_orderkey::BIGINT % {_BLOOM_P}) AS hp
                 FROM lineitem)
       SELECT l_orderkey, l_linenumber, l_quantity
       FROM probe, arr WHERE {probe_terms}"""


@q("bloom_filter_probe", _bloom_oracle_sql())
def _bloom_filter_probe(spark, sf_dir):
    """Raw runtime-filter output: lineitem rows whose key passes the
    bloom built from high-value orders — a deterministic superset of
    the true semi-join (the oracle reconstructs the same bitmap, so
    even the false positives MATCH). The fact side is filtered inside
    the scan stage: no shuffle, no join."""
    from redshells_spark.operators.bloom import bloom_contains, build_bloom

    orders = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 400000)
    bloom = build_bloom(
        orders.select(F.col("o_orderkey").alias("key")).dropDuplicates(),
        "key",
        num_words=_BLOOM_WORDS,
        num_hashes=_BLOOM_K,
    )
    li = _t(spark, sf_dir, "lineitem")
    return li.filter(bloom_contains(bloom, "l_orderkey")).select(
        "l_orderkey", "l_linenumber", "l_quantity"
    )


@q(
    "bloom_semi_join",
    """SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
       WHERE l_orderkey IN (SELECT o_orderkey FROM orders
                            WHERE o_totalprice > 400000)""",
)
def _bloom_semi_join(spark, sf_dir):
    """Bloom pre-filter + broadcast semi-join cleanup: exact semi-join
    semantics (the plain-SQL oracle), but the fact scan emits only
    bloom survivors, so the join input is ~FP-rate above the true
    match set instead of the whole table."""
    from redshells_spark.operators.bloom import bloom_semi_join

    orders = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 400000)
    li = _t(spark, sf_dir, "lineitem")
    return bloom_semi_join(
        li,
        orders.select("o_orderkey"),
        big_key="l_orderkey",
        small_key="o_orderkey",
        num_words=_BLOOM_WORDS,
        num_hashes=_BLOOM_K,
        exact=True,
    ).select("l_orderkey", "l_linenumber", "l_quantity")


@q(
    "heavy_hitter_tokens",
    f"""WITH {_TOK_SQL}
       SELECT token, cnt FROM (
         SELECT token, count(*)::BIGINT AS cnt,
                row_number() OVER (ORDER BY count(*) DESC, token ASC) AS rn
         FROM tok GROUP BY token)
       WHERE rn <= 50""",
)
def _heavy_hitter_tokens(spark, sf_dir):
    """Exact top-50 tokens via Misra-Gries candidates + recount
    (operators/heavy_hitters.py): per-partition bounded summaries (no
    shuffle) feed a candidates-only recount, with a per-run exactness
    certificate — so the oracle is the plain top-k SQL even though the
    full token vocabulary never shuffles."""
    from redshells_spark.operators.heavy_hitters import top_k_frequent

    toks = _tokens(spark, sf_dir).select(F.explode("tokens").alias("token"))
    out = top_k_frequent(toks, "token", k=50, capacity=4096)
    return out.select("token", F.col("cnt").cast("long").alias("cnt"))


@q(
    "kmv_distinct_users",
    f"""WITH h AS (SELECT DISTINCT event_type, {_duck_h60("user_id")} AS h FROM events),
       r AS (SELECT event_type, h,
                    row_number() OVER (PARTITION BY event_type ORDER BY h ASC) AS rn
             FROM h),
       a AS (SELECT event_type, count(*)::BIGINT AS n_hashes, max(h) AS hk
             FROM r WHERE rn <= 64 GROUP BY 1),
       x AS (SELECT event_type, count(DISTINCT user_id)::BIGINT AS n_exact
             FROM events GROUP BY 1)
       SELECT a.event_type, a.n_hashes, x.n_exact,
              round(CASE WHEN a.n_hashes < 64 THEN a.n_hashes::DOUBLE
                    ELSE 63.0 * 1152921504606846976.0 / hk::DOUBLE END, 4) AS kmv_estimate
       FROM a JOIN x ON x.event_type = a.event_type""",
)
def _kmv_distinct_users(spark, sf_dir):
    """K-Minimum-Values distinct-user sketch (operators/sketches.py):
    the portable counterpart to `approx_distinct_users`'s HLL — an
    approximate aggregate whose estimate the DuckDB oracle reproduces
    bit-for-bit (portable md5 hashing + IEEE estimate arithmetic).
    n_exact rides along so the sketch error is visible in the result."""
    from redshells_spark.operators.sketches import kmv_distinct

    ev = _t(spark, sf_dir, "events")
    sk = kmv_distinct(ev, ["event_type"], "user_id", k=64)
    exact = ev.groupBy("event_type").agg(F.countDistinct("user_id").alias("n_exact"))
    return sk.join(exact, on="event_type").select(
        "event_type",
        "n_hashes",
        F.col("n_exact").cast("long").alias("n_exact"),
        _r4(F.col("kmv_estimate"), "kmv_estimate"),
    )


@q(
    "cms_user_counts",
    """WITH ks AS (SELECT user_id, count(*)::BIGINT AS true_cnt
                   FROM events GROUP BY user_id),
       probes AS (SELECT user_id, true_cnt FROM ks
                  ORDER BY true_cnt DESC, user_id ASC LIMIT 10),
       rj AS (SELECT unnest(range(0, 4)) AS j),
       cells AS (SELECT j,
                        (((user_id % 2147483647) * 2654435761 + j * 1099087573 + 40503)
                         % 2147483647) % 512 AS bucket,
                        count(*)::BIGINT AS c
                 FROM events, rj GROUP BY 1, 2),
       pe AS (SELECT p.user_id, p.true_cnt, r.j,
                     (((p.user_id % 2147483647) * 2654435761 + r.j * 1099087573 + 40503)
                      % 2147483647) % 512 AS bucket
              FROM probes p, rj r)
       SELECT pe.user_id, pe.true_cnt, min(c.c) AS est
       FROM pe JOIN cells c ON c.j = pe.j AND c.bucket = pe.bucket
       GROUP BY 1, 2""",
)
def _cms_user_counts(spark, sf_dir):
    """Count-Min sketch (operators/sketches.py): depth-4 × width-512
    frequency sketch of user ids built with portable multiplicative
    hashing — partial aggregation collapses each task to ≤ d·w cells
    before the one shuffle, and probes broadcast-join the (tiny) cell
    table. Probing the 10 heaviest users shows est ≥ true with the
    same numbers in both engines: an approximate structure under the
    exact correctness contract (same discipline as the KMV suite)."""
    from redshells_spark.operators.sketches import cms_build, cms_lookup

    ev = _t(spark, sf_dir, "events")
    sketch = cms_build(ev, "user_id", depth=4, width=512)
    true = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("true_cnt"))
    probes = true.orderBy(F.col("true_cnt").desc(), F.col("user_id").asc()).limit(10)
    return cms_lookup(sketch, probes, "user_id", depth=4, width=512)


# -------------------------------------------------------- portable HLL

_HLL_P = 8
_HLL_M = 1 << _HLL_P
_HLL_S = (60 - _HLL_P) + 1  # 53: scaled-denominator exponent
_HLL_NUM = hll_alpha(_HLL_M) * _HLL_M * _HLL_M * float(1 << _HLL_S)


def _duck_hll_regs(key_sql: str, group_sql: str, table: str) -> str:
    h = _duck_h60(key_sql)
    rank = f"({_HLL_S} - {_bitlen_case_sql(f'(({h}) // {_HLL_M})', 60 - _HLL_P)})"
    return f"""h AS (SELECT {group_sql} AS grp, ({h}) % {_HLL_M} AS reg,
                      {rank} AS rk
               FROM {table}),
       r0 AS (SELECT grp, reg, CAST(max(rk) AS BIGINT) AS m_j
              FROM h GROUP BY 1, 2),
       r AS (SELECT * FROM r0
             UNION ALL
             SELECT '__all__' AS grp, reg, CAST(max(m_j) AS BIGINT) AS m_j
             FROM r0 GROUP BY reg)"""


@q(
    "hll_distinct_sketch",
    f"""WITH {_duck_hll_regs("user_id", "event_type", "events")},
       agg AS (
         SELECT grp,
                CAST({_HLL_M} - count(*) AS BIGINT) AS v_zeros,
                CAST(({_HLL_M} - count(*)) * (CAST(1 AS BIGINT) << {_HLL_S})
                     + CAST(sum(CAST(1 AS BIGINT) << ({_HLL_S} - m_j)) AS BIGINT) AS BIGINT)
                    AS z_scaled
         FROM r GROUP BY grp),
       ex AS (SELECT event_type AS grp, CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact
              FROM events GROUP BY 1
              UNION ALL
              SELECT '__all__', CAST(count(DISTINCT user_id) AS BIGINT) FROM events)
       SELECT agg.grp AS event_type, ex.n_exact, agg.v_zeros, agg.z_scaled,
              round(CASE WHEN ({_HLL_NUM!r} / CAST(agg.z_scaled AS DOUBLE)) <= {2.5 * _HLL_M!r}
                          AND agg.v_zeros > 0
                         THEN {float(_HLL_M)!r} * ln({float(_HLL_M)!r} / CAST(agg.v_zeros AS DOUBLE))
                         ELSE {_HLL_NUM!r} / CAST(agg.z_scaled AS DOUBLE) END, 4) AS hll_est
       FROM agg JOIN ex ON ex.grp = agg.grp""",
)
def _hll_distinct_sketch(spark, sf_dir):
    """Portable HyperLogLog distinct-user sketch per event type PLUS
    the '__all__' row built by REGISTER-WISE MAX MERGE of the per-type
    sketches (operators/sketches.py:hll_registers/hll_merge/
    hll_estimate) — the few-hundred-byte mergeable state that makes
    HLL the 100-TB distinct-count structure (Flajolet et al. 2007).
    The engine-private `F.approx_count_distinct` stays the API default;
    this md5-register variant is the one an oracle can reproduce
    bit-for-bit: the harmonic denominator is kept as the exact int64
    Σ2^(S−M_j), and the only floats are one division and the
    small-range m·ln(m/V) branch. Exact counts ride along to show the
    error."""
    ev = _t(spark, sf_dir, "events")
    regs = hll_registers(ev, ["event_type"], "user_id", p=_HLL_P)
    merged = hll_merge(
        regs.select(F.lit("__all__").alias("event_type"), "reg", "m_j"),
        ["event_type"],
    )
    est = hll_estimate(regs.unionByName(merged), ["event_type"], p=_HLL_P)
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").cast("long").alias("n_exact")
    )
    exact_all = ev.agg(
        F.lit("__all__").alias("event_type"),
        F.countDistinct("user_id").cast("long").alias("n_exact"),
    )
    return est.join(
        F.broadcast(exact.unionByName(exact_all)), "event_type"
    ).select(
        "event_type",
        "n_exact",
        "v_zeros",
        "z_scaled",
        _r4(F.col("hll_est"), "hll_est"),
    )


# ------------------------------------------------- AMS F2 sketch


@q(
    "ams_f2_join_size",
    """WITH c AS (SELECT user_id, CAST(count(*) AS BIGINT) AS cnt
              FROM events GROUP BY 1),
       f2 AS (SELECT CAST(sum(cnt * cnt) AS BIGINT) AS exact_f2 FROM c),
       reps AS (SELECT unnest(generate_series(0, 15)) AS rep),
       s AS (SELECT r.rep,
                CAST(sum(CASE WHEN substr(md5(CAST(c.user_id AS VARCHAR)
                                           || ':' || CAST(r.rep AS VARCHAR)), 1, 1)
                              IN ('0','2','4','6','8','a','c','e')
                         THEN c.cnt ELSE -c.cnt END) AS BIGINT) AS counter
             FROM c CROSS JOIN reps r GROUP BY 1),
       e AS (SELECT rep, CAST(counter * counter AS BIGINT) AS est,
                    row_number() OVER (ORDER BY counter * counter, rep) AS rk
             FROM s),
       med AS (SELECT CAST((min(CASE WHEN rk = 8 THEN est END)
                            + min(CASE WHEN rk = 9 THEN est END)) // 2
                        AS BIGINT) AS ams_est
               FROM e)
       SELECT f2.exact_f2, med.ams_est,
              CAST(abs(med.ams_est - f2.exact_f2) * 1000000 // f2.exact_f2
                AS BIGINT) AS abs_rel_err_e6
       FROM f2 CROSS JOIN med""",
)
def _ams_f2_join_size(spark, sf_dir):
    """AMS tug-of-war sketch (Alon, Matias & Szegedy 1996) estimating
    the events self-join size on user_id (F2 = sum of squared key
    frequencies — the classic join-cardinality planning statistic),
    checked against the exact second moment. 16 +/-1 replicas keyed on
    md5 parity (identical hex in both engines); each replica counter is
    one exact int64 sum over the per-user count relation (16x a
    USER-level relation, not 16x the fact table), the estimate is the
    median replica counter^2 (floor-mean of ranks 8/9), and the
    reported relative error is integer-quantized. The sketch side is
    what survives at 100 TB; the exact side is the grading contract."""
    ev = _t(spark, sf_dir, "events")
    c = ev.groupBy("user_id").agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    f2 = c.agg(F.sum(F.col("cnt") * F.col("cnt")).cast("long").alias("exact_f2"))
    reps = spark.range(16).select(F.col("id").cast("long").alias("rep"))
    s = (
        c.crossJoin(F.broadcast(reps))
        .select(
            "rep",
            F.when(
                F.substring(
                    F.md5(
                        F.concat(
                            F.col("user_id").cast("string"),
                            F.lit(":"),
                            F.col("rep").cast("string"),
                        )
                    ),
                    1,
                    1,
                ).isin("0", "2", "4", "6", "8", "a", "c", "e"),
                F.col("cnt"),
            )
            .otherwise(-F.col("cnt"))
            .alias("signed"),
        )
        .groupBy("rep")
        .agg(F.sum("signed").cast("long").alias("counter"))
    )
    e = s.select(
        "rep", (F.col("counter") * F.col("counter")).cast("long").alias("est")
    )
    w = Window.orderBy(F.col("est").asc(), F.col("rep").asc())
    rk = e.withColumn("rk", F.row_number().over(w))
    med = rk.agg(
        F.expr(
            "cast((min(case when rk = 8 then est end)"
            " + min(case when rk = 9 then est end)) div 2 as long)"
        ).alias("ams_est")
    )
    return (
        f2.crossJoin(F.broadcast(med))
        .select(
            "exact_f2",
            "ams_est",
            F.expr("abs(ams_est - exact_f2) * 1000000 div exact_f2")
            .cast("long")
            .alias("abs_rel_err_e6"),
        )
    )


# 15 md5 hex chars → 60-bit non-negative int, identical in both engines
_HEX2INT = " + ".join(
    f"(instr('0123456789abcdef', substr(__h, {i + 1}, 1)) - 1) * {16 ** (14 - i)}"
    for i in range(15)
)


def _hex2int_sql(expr: str) -> str:
    """DuckDB rendering of portable_token_hash(expr) (dedup/simhash.py:32)."""
    return f"(SELECT {_HEX2INT} FROM (SELECT md5({expr}) AS __h) __t)"


# ------------------------------------------- Count-Min error report


@q(
    "count_min_error_report",
    f"""WITH {_TOK_SQL},
       grams AS (
         SELECT DISTINCT doc_id,
                token || '␟' || lead(token) OVER (
                  PARTITION BY doc_id ORDER BY pos ASC) AS gram
         FROM tok QUALIFY gram IS NOT NULL),
       df AS (SELECT gram, CAST(count(*) AS BIGINT) AS df
              FROM grams GROUP BY 1),
       hj AS (SELECT gram, df, j,
                     {_hex2int_sql("gram || '#' || CAST(j AS VARCHAR)")} % 256
                       AS bucket
              FROM df CROSS JOIN (SELECT unnest(range(4)) AS j)),
       cms AS (SELECT j, bucket, CAST(sum(df) AS BIGINT) AS c
               FROM hj GROUP BY 1, 2),
       est AS (SELECT h.gram, CAST(min(c.c) AS BIGINT) AS est
               FROM hj h JOIN cms c ON c.j = h.j AND c.bucket = h.bucket
               GROUP BY 1),
       top AS (SELECT gram, df,
                      row_number() OVER (ORDER BY df DESC, gram ASC) AS rn
               FROM df)
       SELECT t.gram, t.df AS exact_df, e.est,
              CAST(e.est - t.df AS BIGINT) AS overcount
       FROM top t JOIN est e ON e.gram = t.gram
       WHERE t.rn <= 20 ORDER BY t.df DESC, t.gram ASC""",
)
def _count_min_error_report(spark, sf_dir):
    """Count-Min sketch (Cormode & Muthukrishnan 2005) error audit
    over word-bigram document frequencies: d=4 portable hash rows x
    w=256 buckets, the estimate for the top-20 bigrams vs their exact
    df, overcount = est - exact (CMS never underestimates). This is
    the heavy-hitter companion to the HLL/KMV/AMS sketch family: the
    sketch build is ONE map-combined groupBy over the (level-table,
    4x) hash relation — 4*|vocab| rows total, never corpus-shaped —
    and point queries are a broadcastable 1024-cell join. At 100x the
    sketch size is unchanged (that is the point of a sketch); only
    the exact-df level table grows with vocabulary."""
    from redshells_spark.dedup.ngram import word_ngrams
    from redshells_spark.dedup.simhash import portable_token_hash

    grams = _tokens(spark, sf_dir).select(
        "doc_id", F.explode(word_ngrams("tokens", 2)).alias("gram")
    )
    df = grams.groupBy("gram").agg(F.count(F.lit(1)).cast("long").alias("df"))
    hj = df.crossJoin(
        F.broadcast(
            _tokens(spark, sf_dir)
            .sparkSession.range(4)
            .select(F.col("id").alias("j"))
        )
    ).select(
        "gram",
        "df",
        "j",
        (
            portable_token_hash(F.concat(F.col("gram"), F.lit("#"), F.col("j").cast("string")))
            % 256
        ).alias("bucket"),
    )
    cms = hj.groupBy("j", "bucket").agg(F.sum("df").cast("long").alias("c"))
    est = (
        hj.join(F.broadcast(cms), ["j", "bucket"])
        .groupBy("gram")
        .agg(F.min("c").cast("long").alias("est"))
    )
    w = Window.orderBy(F.col("df").desc(), F.col("gram").asc())
    top = df.select("gram", "df", F.row_number().over(w).alias("rn")).filter(
        F.col("rn") <= 20
    )
    return (
        top.join(est, "gram")
        .select(
            "gram",
            F.col("df").alias("exact_df"),
            "est",
            (F.col("est") - F.col("df")).cast("long").alias("overcount"),
        )
        .orderBy(F.col("exact_df").desc(), F.col("gram").asc())
    )


# --------------------------------------------- Bloom-filter FPR audit


@q(
    "bloom_filter_fpr_audit",
    f"""WITH bld AS (SELECT DISTINCT o_custkey AS k FROM orders
                 WHERE o_totalprice > 480000),
       nb AS (SELECT CAST(count(*) AS BIGINT) AS n_build FROM bld),
       bpos AS (SELECT k, j,
                       {_hex2int_sql("CAST(k AS VARCHAR) || '#' || CAST(j AS VARCHAR)")}
                         % 65536 AS pos
                FROM bld CROSS JOIN (SELECT unnest(range(3)) AS j)),
       bloom AS (SELECT pos // 32 AS word,
                        CAST(bit_or(1::BIGINT << CAST(pos % 32 AS INTEGER))
                             AS BIGINT) AS bits
                 FROM bpos GROUP BY 1),
       ppos AS (SELECT c_custkey AS k, j,
                       {_hex2int_sql("CAST(c_custkey AS VARCHAR) || '#' || CAST(j AS VARCHAR)")}
                         % 65536 AS pos
                FROM customer CROSS JOIN (SELECT unnest(range(3)) AS j)),
       hit AS (SELECT p.k,
                      CAST(min(CASE WHEN b.bits IS NOT NULL
                                     AND (b.bits & (1::BIGINT
                                          << CAST(p.pos % 32 AS INTEGER))) <> 0
                               THEN 1 ELSE 0 END) AS BIGINT) AS all3
               FROM ppos p LEFT JOIN bloom b ON b.word = p.pos // 32
               GROUP BY 1),
       lab AS (SELECT h.k, h.all3,
                      CASE WHEN bl.k IS NULL THEN 0 ELSE 1 END AS member
               FROM hit h LEFT JOIN bld bl ON bl.k = h.k)
       SELECT nb.n_build, CAST(count(*) AS BIGINT) AS n_probe,
              CAST(sum(1 - member) AS BIGINT) AS n_neg,
              CAST(sum(CASE WHEN member = 0 AND all3 = 1 THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_fp,
              CAST(sum(CASE WHEN member = 0 AND all3 = 1 THEN 1 ELSE 0 END)
                   * 1000000 // sum(1 - member) AS BIGINT) AS fpr_e6,
              CAST(floor(power(1 - exp(-(3.0 * nb.n_build) / 65536.0), 3.0)
                         * 1000000 + CAST(0.5 AS DOUBLE)) AS BIGINT)
                AS pred_fpr_e6
       FROM lab CROSS JOIN nb GROUP BY nb.n_build""",
)
def _bloom_filter_fpr_audit(spark, sf_dir):
    """Bloom-filter build + false-positive-rate audit: m=65536 bits
    (2048 x 32-bit-packed words, built by ONE bit_or groupBy over the k=3
    md5-hash positions of the build keys — high-spend customers),
    probed with the full customer relation against exact membership.
    Reports observed FPR beside the textbook prediction
    (1 - e^(-kn/m))^k. The bitmap relation is m/64 rows at ANY corpus
    size (broadcastable by construction); build and probe are one
    groupBy each over key x 3 hash rows. The m constant is the
    capacity knob: at 100x build keys the audit correctly reports the
    saturation (that IS the report's job); production sizing picks m
    from the predicted-FPR column. No RNG anywhere — md5 positions
    make the filter bit-identical across engines and cluster sizes."""
    from redshells_spark.dedup.simhash import portable_token_hash

    o = _t(spark, sf_dir, "orders")
    bld = (
        o.filter(F.col("o_totalprice") > 480000)
        .select(F.col("o_custkey").alias("k"))
        .distinct()
    )
    js = spark.range(3).select(F.col("id").alias("j"))
    pos = portable_token_hash(
        F.concat(F.col("k").cast("string"), F.lit("#"), F.col("j").cast("string"))
    ) % 65536
    bpos = bld.crossJoin(F.broadcast(js)).select("k", "j", pos.alias("pos"))
    bloom = bpos.groupBy((F.col("pos") / 32).cast("long").alias("word")).agg(
        F.expr(
            "cast(bit_or(shiftleft(cast(1 as bigint),"
            " cast(pos % 32 as int))) as bigint)"
        ).alias("bits")
    )
    prb = _t(spark, sf_dir, "customer").select(F.col("c_custkey").alias("k"))
    ppos = prb.crossJoin(F.broadcast(js)).select("k", "j", pos.alias("pos"))
    hit = (
        ppos.join(
            F.broadcast(bloom),
            (F.col("pos") / 32).cast("long") == F.col("word"),
            "left",
        )
        .select(
            "k",
            F.expr(
                "case when bits is not null and (bits &"
                " shiftleft(cast(1 as bigint), cast(pos % 32 as int))) <> 0"
                " then 1 else 0 end"
            ).alias("h"),
        )
        .groupBy("k")
        .agg(F.min("h").cast("long").alias("all3"))
    )
    lab = hit.join(
        bld.select("k", F.lit(1).alias("member")), "k", "left"
    ).select("k", "all3", F.coalesce(F.col("member"), F.lit(0)).alias("member"))
    nb = bld.agg(F.count(F.lit(1)).cast("long").alias("n_build"))
    return (
        lab.crossJoin(F.broadcast(nb))
        .groupBy("n_build")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_probe"),
            F.sum(1 - F.col("member")).cast("long").alias("n_neg"),
            F.sum(
                ((F.col("member") == 0) & (F.col("all3") == 1)).cast("long")
            )
            .cast("long")
            .alias("n_fp"),
            F.expr(
                "cast(sum(case when member = 0 and all3 = 1 then 1 else 0 end)"
                " * 1000000 div sum(1 - member) as bigint)"
            ).alias("fpr_e6"),
            F.expr(
                "cast(floor(power(1 - exp(-(3.0 * first(n_build)) / 65536.0), 3.0)"
                " * 1000000 + cast(0.5 as double)) as bigint)"
            ).alias("pred_fpr_e6"),
        )
        .select("n_build", "n_probe", "n_neg", "n_fp", "fpr_e6", "pred_fpr_e6")
    )
