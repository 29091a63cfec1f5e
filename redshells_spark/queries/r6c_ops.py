"""Round-6 session-2 batch 2: KNN-Shapley training-data valuation,
the Mann-Whitney rank-sum drift test, and Johnson-Lindenstrauss
random-projection recall — each with an exact DuckDB oracle.
"""

from __future__ import annotations

from redshells_spark.queries._shared import *  # noqa: F401,F403

E12 = 1_000_000_000_000

_COS_AB = (
    "(list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) / "
    "(greatest(sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[])), 1e-12) * "
    "greatest(sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[])), 1e-12)))"
)

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


# ----------------------------------------------- JL random projection


def _proj_cos(a: str, b: str) -> str:
    return (
        f"(list_dot_product({a}.proj, {b}.proj) / "
        f"(greatest(sqrt(list_dot_product({a}.proj, {a}.proj)), 1e-12) * "
        f"greatest(sqrt(list_dot_product({b}.proj, {b}.proj)), 1e-12)))"
    )


def _rp_oracle() -> str:
    from redshells_spark.similarity.rp import jl_signs_sql

    proj = jl_signs_sql(16, 64, "embedding", seed=31)
    return f"""WITH pe AS (SELECT vec_id, embedding, {proj} AS proj FROM embeddings),
       qs AS (SELECT vec_id AS qid, embedding, proj FROM pe WHERE vec_id % 25 = 0),
       ex AS (
         SELECT b.qid, a.vec_id,
                row_number() OVER (PARTITION BY b.qid
                                   ORDER BY {_COS_AB} DESC, a.vec_id ASC) AS rn
         FROM pe a CROSS JOIN qs b WHERE a.vec_id <> b.qid),
       et AS (SELECT qid, vec_id FROM ex WHERE rn <= 10),
       px AS (
         SELECT b.qid, a.vec_id,
                row_number() OVER (PARTITION BY b.qid
                                   ORDER BY {_proj_cos("a", "b")} DESC, a.vec_id ASC) AS rn
         FROM pe a CROSS JOIN qs b WHERE a.vec_id <> b.qid),
       pt AS (SELECT qid, vec_id FROM px WHERE rn <= 10),
       ov AS (SELECT e.qid, count(*) AS cnt
              FROM et e JOIN pt p ON p.qid = e.qid AND p.vec_id = e.vec_id
              GROUP BY e.qid)
       SELECT q.qid AS query_id,
              CAST(coalesce(ov.cnt, 0) AS BIGINT) AS n_overlap,
              CAST(coalesce(ov.cnt, 0) * 1000 AS BIGINT) AS recall_e4
       FROM (SELECT DISTINCT qid FROM qs) q
       LEFT JOIN ov ON ov.qid = q.qid"""


@q("random_projection_recall", _rp_oracle())
def _random_projection_recall(spark, sf_dir):
    """Johnson-Lindenstrauss ANN prefilter audit (Achlioptas 2003 ±1
    projections; similarity/rp.py): project 64-d embeddings to 16-d
    with an md5-derived sign matrix (a plan-time constant, NOT
    data-grown codegen), run exact cosine top-10 in BOTH spaces, and
    report per-query overlap — the recall a 4×-cheaper projected
    first pass would keep before exact re-rank (the coarse→fine
    pattern of the binary/PQ stages, on a projection instead of a
    quantizer). Projection is one map-side pass; the audit's
    all-pairs scoring is eval-only, query-set bounded."""
    from redshells_spark.operators.topk import per_group_topk
    from redshells_spark.similarity.rp import project_embeddings

    emb = _t(spark, sf_dir, "embeddings")
    pe = project_embeddings(emb, 16, 64, out_column="proj", seed=31)
    qs = pe.filter(F.col("vec_id") % 25 == 0).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("__qe"),
        F.col("proj").alias("__qp"),
    )

    def topk(score_cols: tuple[str, str]) -> DataFrame:
        a, b = score_cols
        scored = (
            pe.crossJoin(F.broadcast(qs))
            .filter(F.col("vec_id") != F.col("qid"))
            .select(
                "qid", "vec_id", cosine_similarity(a, b).alias("score")
            )
        )
        return per_group_topk(
            scored, "qid", "score", 10, tie_break=["vec_id"]
        ).select("qid", "vec_id")

    et = topk(("embedding", "__qe"))
    pt = topk(("proj", "__qp"))
    ov = et.join(pt, ["qid", "vec_id"]).groupBy("qid").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    return (
        qs.select("qid")
        .distinct()
        .join(ov, "qid", "left")
        .select(
            F.col("qid").alias("query_id"),
            F.coalesce(F.col("cnt"), F.lit(0)).cast("long").alias("n_overlap"),
            (F.coalesce(F.col("cnt"), F.lit(0)) * 1000)
            .cast("long")
            .alias("recall_e4"),
        )
    )


# ----------------------------------------- exact prefix-filter sim join

from redshells_spark.queries.dedup import _SHINGLE_SQL  # noqa: E402


@session_memo
def _ppjoin_index(spark, sf_dir):
    # the rank-sorted per-doc set index is the prefix-filter join's
    # shared, threshold-independent index, cached IN-SESSION only (memo
    # + persist, like every _shared.py memo). It is recomputed from
    # the parquet inputs by every fresh session: no cross-run disk
    # target, so a bench/oracle invocation never reads a precomputed
    # intermediate. (task.py's param-hash targets remain the pipeline
    # feature — tests/test_r6c_ops.py::test_ppjoin_index_task_parity —
    # but query paths do not use them.)
    from pyspark import StorageLevel

    from redshells_spark.dedup.ppjoin import build_rank_sorted_sets

    sh = _shingles(spark, sf_dir)
    return build_rank_sorted_sets(
        sh, "doc_id", "shingle"
    ).persist(StorageLevel.MEMORY_AND_DISK)


@session_memo
def _ppjoin_universe(spark, sf_dir) -> int:
    """Distinct-element count of the shared shingle index — the ranks
    are dense 1..u, so the max rank of the last (highest-ranked)
    element IS u. One bounded-scalar agg per (session, sf); feeding it
    to the ppjoin calls switches verification to the inline bitset
    popcount path whenever u fits one int64 word (u ≤ 64 —
    BITSET_AUTO_WORDS; at sf0.1 the shingle universe is 931, so the
    measured-faster array path runs and this value is adaptive
    plumbing: u is vocabulary²-bounded by the keep_n=100 dictionary
    cap, not corpus-proportional, so a small-universe corpus flips to
    the bitset path automatically at any scale)."""
    u = (
        _ppjoin_index(spark, sf_dir)
        .agg(F.max(F.expr("__rk[size(__rk) - 1].__erk")))
        .collect()[0][0]
    )
    return int(u or 0)


@q(
    "prefix_filter_jaccard",
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
       cand AS (
         SELECT DISTINCT a.doc_id AS id0, b.doc_id AS id1,
                a.sz AS sz0, b.sz AS sz1
         FROM pre a JOIN pre b ON a.el = b.el
         WHERE a.doc_id < b.doc_id
           AND a.sz * 10 >= b.sz * 8 AND b.sz * 10 >= a.sz * 8),
       arrs AS (SELECT doc_id, list_sort(list(shingle)) AS arr
                FROM shingles GROUP BY 1),
       itr AS (
         SELECT c.id0, c.id1, c.sz0, c.sz1,
                CAST(len(list_intersect(a0.arr, a1.arr)) AS BIGINT) AS inter
         FROM cand c
         JOIN arrs a0 ON a0.doc_id = c.id0
         JOIN arrs a1 ON a1.doc_id = c.id1)
       SELECT id0 AS doc_id_0, id1 AS doc_id_1, inter,
              CAST(sz0 + sz1 - inter AS BIGINT) AS union_sz,
              CAST(inter * 10000 // CAST(sz0 + sz1 - inter AS BIGINT) AS BIGINT)
                  AS jac_e4
       FROM itr WHERE inter * 10 >= 8 * CAST(sz0 + sz1 - inter AS BIGINT)""",
)
def _prefix_filter_jaccard(spark, sf_dir):
    """EXACT set-similarity self-join at Jaccard >= 0.8 over bigram
    shingle sets by prefix filtering (PPJoin lineage — Chaudhuri et
    al. 2006, Xiao et al. 2008; dedup/ppjoin.py): sets ordered rarest-
    element-first must share a prefix element to clear the threshold,
    so the candidate join touches only rare elements + a length
    filter + Xiao's accumulated positional filter (applied per matched
    row AND per pair — the pair-level bound cut the verification input
    667k -> ~2k pairs at sf0.1), then exact intersection verification.
    No LSH false negatives — the exact counterpart to the minhash
    path, same (element -> doc) shuffle shape. All comparisons integer
    (ceil(t*n) = (8n+9) div 10; Jaccard as inter*10 >= 8*union); t=0.8
    is the dedup-grade threshold — and on this 31-token synthetic
    corpus the t=0.5 variant is output-bound (the token_jaccard_join
    corpus artifact), while t=0.8's short prefixes keep candidates
    ~linear. The rank-sorted per-doc index is threshold-free and
    shared across the ppjoin-family queries via the in-session cache
    (_ppjoin_index); every fresh session recomputes it from the
    parquet inputs."""
    from redshells_spark.dedup.ppjoin import pairs_from_rank_sorted

    out = pairs_from_rank_sorted(
        _ppjoin_index(spark, sf_dir),
        8,
        10,
        element_universe=_ppjoin_universe(spark, sf_dir),
    )
    return out.select(
        F.col("id_0").alias("doc_id_0"),
        F.col("id_1").alias("doc_id_1"),
        "inter",
        "union_sz",
        "jac_e4",
    )


# ------------------------------------------------ greedy max coverage


def _greedy_cov_oracle(k: int = 6) -> str:
    stages = [
        """g1 AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS g
                  FROM shingles GROUP BY 1),
       s1 AS MATERIALIZED (SELECT doc_id, g FROM g1
                           ORDER BY g DESC, doc_id ASC LIMIT 1),
       r1 AS MATERIALIZED (SELECT doc_id, shingle FROM shingles)"""
    ]
    for t in range(2, k + 1):
        stages.append(
            f"""r{t} AS MATERIALIZED (
              SELECT r.doc_id, r.shingle FROM r{t - 1} r
              WHERE NOT EXISTS (
                SELECT 1 FROM r{t - 1} p
                WHERE p.doc_id = (SELECT doc_id FROM s{t - 1})
                  AND p.shingle = r.shingle)),
       g{t} AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS g
                FROM r{t} GROUP BY 1),
       s{t} AS MATERIALIZED (SELECT doc_id, g FROM g{t}
                             ORDER BY g DESC, doc_id ASC LIMIT 1)"""
        )
    picks = "\n       UNION ALL ".join(
        f"SELECT {t} AS step, doc_id, g AS gain FROM s{t}" for t in range(1, k + 1)
    )
    return (
        "WITH "
        + _VOCAB_SQL
        + ", "
        + _TOK_SQL
        + ", "
        + _SHINGLE_SQL
        + ",\n       "
        + ",\n       ".join(stages)
        + f""",
       picks AS ({picks})
       SELECT CAST(step AS BIGINT) AS step, doc_id, gain,
              CAST(sum(gain) OVER (ORDER BY step ASC
                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS covered_total
       FROM picks"""
    )


@q("greedy_max_coverage", _greedy_cov_oracle(6))
def _greedy_max_coverage(spark, sf_dir):
    """Greedy maximum-coverage subset selection over bigram shingle
    sets (data/coverage.py) — 'which 6 documents together cover the
    most distinct shingles', the Nemhauser-Wolsey-Fisher (1-1/e)
    greedy used for diverse eval subsets and seed-corpus picking. Each
    round is a map-combined count + a TakeOrdered argmax + one
    anti-join; k is a constant, so the loop unrolls into exact
    MATERIALIZED CTE stages (the Lloyd/bradley_terry recipe), argmax
    tie-broken on doc_id in both engines."""
    from redshells_spark.data.coverage import greedy_max_coverage

    sh = _shingles(spark, sf_dir)
    return greedy_max_coverage(
        sh, "doc_id", "shingle", k=6, arrays=_sharr(spark, sf_dir)
    )
