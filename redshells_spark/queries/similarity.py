"""Similarity search and retrieval: brute force, LSH, IVF, PQ and binary
ANN, graph ANN, hybrid and lexical top-k, reranking, embedding near-dup,
coresets and embedding-space distances.
"""

from __future__ import annotations

from redshells_spark.queries._shared import *  # noqa: F401,F403

# ------------------------------------------------- embeddings / similarity


@q(
    "dot_product_pairs",
    f"""SELECT a.vec_id AS vec_id_0, b.vec_id AS vec_id_1,
          round(list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 4) AS dot,
          round({_COS_SQL}, 4) AS cosine
       FROM embeddings a JOIN embeddings b ON b.vec_id = a.vec_id + 1""",
)
def _dot_product_pairs(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    a = emb.select(F.col("vec_id").alias("vec_id_0"), F.col("embedding").alias("__e0"))
    b = emb.select(F.col("vec_id").alias("vec_id_1"), F.col("embedding").alias("__e1"))
    joined = a.join(b, on=F.col("vec_id_1") == F.col("vec_id_0") + 1)
    return joined.select(
        "vec_id_0",
        "vec_id_1",
        _r4(dot_product("__e0", "__e1"), "dot"),
        _r4(cosine_similarity("__e0", "__e1"), "cosine"),
    )


@q(
    "brute_force_topk",
    f"""SELECT query_id, vec_id, round(score, 4) AS score, CAST(rn AS BIGINT) AS rank FROM (
         SELECT a.vec_id AS query_id, b.vec_id AS vec_id, {_COS_SQL} AS score,
                row_number() OVER (PARTITION BY a.vec_id ORDER BY {_COS_SQL} DESC, b.vec_id ASC) AS rn
         FROM (SELECT * FROM embeddings WHERE vec_id < 200) a CROSS JOIN embeddings b)
       WHERE rn <= 10""",
)
def _brute_force_topk(spark, sf_dir):
    # exact top-k via the BLAS matmul path (mapInPandas batch matmul +
    # partial top-k) — identical results to the Catalyst
    # brute_force_topk (pinned in tests/test_ann_recall.py) but ~10×
    # faster: the higher-order-function cosine interprets ~dim·3 lambda
    # steps per pair. Verified exact against the DuckDB oracle here.
    from redshells_spark.similarity.allpairs import matmul_topk

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 200).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = matmul_topk(queries, emb, k=10)
    return out.select(
        "query_id", "vec_id", _r4(F.col("score"), "score"), F.col("rank").cast("long").alias("rank")
    )


def _planes_sql(num_planes: int = 16, dim: int = 64, seed: int = 42) -> str:
    """The exact hyperplane matrix the Spark LSH tier uses, rendered as
    a DuckDB VALUES literal — pure-numpy derivation (ann.py
    ``hyperplane_matrix``), so the oracle recomputes bit-identical
    signatures with no engine hash involved."""
    from redshells_spark.similarity.ann import hyperplane_matrix

    mat = hyperplane_matrix(num_planes, dim, seed)
    rows = ", ".join(
        "({}, [{}]::DOUBLE[])".format(p, ", ".join(repr(float(v)) for v in mat[p]))
        for p in range(num_planes)
    )
    return f"planes(p, v) AS (VALUES {rows})"


# shared signature CTE: sign-bit pack against the literal planes
_LSH_SIG_SQL = """
       sig AS (SELECT e.vec_id,
                      sum(CASE WHEN list_dot_product(e.embedding::DOUBLE[], pl.v) > 0
                               THEN (1::BIGINT << pl.p) ELSE 0::BIGINT END)::BIGINT AS sig
               FROM embeddings e CROSS JOIN planes pl GROUP BY e.vec_id),
       blk AS (SELECT unnest(range(4)) AS block_idx)
"""


@q(
    "lsh_topk",
    f"""WITH {_planes_sql()},{_LSH_SIG_SQL},
       qsig AS (SELECT vec_id AS query_id, sig FROM sig WHERE vec_id < 200),
       qb AS (SELECT query_id, block_idx, (sig >> (block_idx * 4)) & 15 AS block_val
              FROM qsig, blk
              UNION
              SELECT query_id, block_idx,
                     xor((sig >> (block_idx * 4)) & 15, 1::BIGINT << f.b)
              FROM qsig, blk, (SELECT unnest(range(4)) AS b) f),
       cb AS (SELECT vec_id, block_idx, (sig >> (block_idx * 4)) & 15 AS block_val
              FROM sig, blk),
       cand AS (SELECT DISTINCT qb.query_id, cb.vec_id
                FROM qb JOIN cb USING (block_idx, block_val)),
       scored AS (SELECT c.query_id, c.vec_id, {_COS_SQL} AS score
                  FROM cand c
                  JOIN embeddings a ON a.vec_id = c.query_id
                  JOIN embeddings b ON b.vec_id = c.vec_id)
       SELECT query_id, vec_id, round(score, 4) AS score, CAST(rn AS BIGINT) AS rank
       FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                          ORDER BY score DESC, vec_id ASC) AS rn
             FROM scored)
       WHERE rn <= 10""",
)
def _lsh_topk(spark, sf_dir):
    """LSH top-k with a FULL SQL oracle: the hyperplanes are exported
    as literals (pure-numpy derivation), so DuckDB rebuilds the same
    signatures, the same banded+multiprobe candidate set, and the same
    cosine rerank — two engines, one result."""
    emb = _t(spark, sf_dir, "embeddings")
    # same workload as brute_force_topk so bench compares the two
    # fairly: 200 queries, k=10, full corpus
    queries = emb.filter(F.col("vec_id") < 200).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    # dim passed explicitly: skips the driver first() probe job;
    # multiprobe=1 probes Hamming-1 neighbor buckets (near-exact recall
    # at ~2× candidate volume)
    out = lsh_topk(
        queries, emb, k=10, num_planes=16, num_blocks=4, dim=64, multiprobe=1
    )
    return out.select(
        "query_id", "vec_id", _r4(F.col("score"), "score"),
        F.col("rank").cast("long").alias("rank"),
    )


@q(
    "embedding_near_dup_scalable",
    f"""WITH {_planes_sql()},{_LSH_SIG_SQL},
       bb AS (SELECT vec_id, block_idx, (sig >> (block_idx * 4)) & 15 AS block_val
              FROM sig, blk),
       cand AS (SELECT DISTINCT l.vec_id AS id0, r.vec_id AS id1
                FROM bb l JOIN bb r
                  ON l.block_idx = r.block_idx AND l.block_val = r.block_val
                 AND l.vec_id < r.vec_id)
       SELECT c.id0, c.id1, round({_COS_SQL}, 4) AS similarity
       FROM cand c
       JOIN embeddings a ON a.vec_id = c.id0
       JOIN embeddings b ON b.vec_id = c.id1
       WHERE {_COS_SQL} >= 0.3""",
)
def _embedding_near_dup_scalable(spark, sf_dir):
    """Sub-quadratic embedding near-dup (LSH-banded candidates + exact
    verify) — the 100 TB path where the exact all-pairs tier would
    need an unbounded broadcast. Precision exact by construction;
    recall is probe-bound and the candidate set is oracle-pinned (the
    SQL mirrors the banding exactly over literal planes)."""
    from redshells_spark.dedup.embedding import embedding_near_dup_pairs_scalable

    emb = _t(spark, sf_dir, "embeddings")
    out = embedding_near_dup_pairs_scalable(emb, threshold=0.3, dim=64)
    return out.select("id0", "id1", _r4(F.col("similarity"), "similarity"))


@q(
    "ivf_topk_fixed_centroids",
    f"""WITH cent AS (
         SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cid,
                embedding
         FROM embeddings WHERE vec_id % 50 = 0 AND vec_id < 800),
       d2 AS (
         SELECT e.vec_id AS eid, c.cid AS cid,
                list_reduce(list_transform(range(1, 65),
                    i -> (e.embedding[i]::DOUBLE - c.embedding[i]::DOUBLE)
                       * (e.embedding[i]::DOUBLE - c.embedding[i]::DOUBLE)),
                    (acc, x) -> acc + x) AS d2
         FROM embeddings e CROSS JOIN cent c),
       assign AS (
         SELECT eid AS vec_id, cid FROM (
           SELECT eid, cid,
                  row_number() OVER (PARTITION BY eid ORDER BY d2 ASC, cid ASC) AS rn
           FROM d2)
         WHERE rn = 1),
       qprobe AS (
         SELECT eid AS query_id, cid FROM (
           SELECT eid, cid,
                  row_number() OVER (PARTITION BY eid ORDER BY d2 ASC, cid ASC) AS rn
           FROM d2 WHERE eid < 50)
         WHERE rn <= 4),
       cand AS (SELECT q.query_id, s.vec_id
                FROM qprobe q JOIN assign s ON s.cid = q.cid),
       scored AS (SELECT c.query_id, c.vec_id, {_COS_SQL} AS score
                  FROM cand c
                  JOIN embeddings a ON a.vec_id = c.query_id
                  JOIN embeddings b ON b.vec_id = c.vec_id)
       SELECT query_id, vec_id, round(score, 4) AS score, CAST(rn AS BIGINT) AS rank
       FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                          ORDER BY score DESC, vec_id ASC) AS rn
             FROM scored)
       WHERE rn <= 10""",
)
def _ivf_topk_fixed_centroids(spark, sf_dir):
    """IVF with DETERMINISTIC centroids (strided corpus vectors) so the
    whole pipeline — assignment argmin, nprobe probing, cosine rerank —
    is oracle-checkable: Spark's left-fold zip_with/aggregate squared-L2
    and DuckDB's list_reduce evaluate float64 additions in the same
    index order, so assignments agree bit-for-bit. The KMeans variant
    (``ivf_topk``) keeps quantizer quality; this one pins the engine
    mechanics cross-engine."""
    from redshells_spark.similarity.ann import assign_to_centroids, ivf_topk

    emb = _t(spark, sf_dir, "embeddings")
    cent_rows = (
        emb.filter((F.col("vec_id") % 50 == 0) & (F.col("vec_id") < 800))
        .orderBy("vec_id")
        .select("embedding")
        .collect()  # 16 rows — bounded driver probe, mirrors index build
    )
    centroids = [[float(x) for x in r["embedding"]] for r in cent_rows]
    assigned = assign_to_centroids(emb, centroids)
    queries = emb.filter(F.col("vec_id") < 50).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = ivf_topk(queries, assigned, centroids, k=10, nprobe=4)
    return out.select(
        "query_id", "vec_id", _r4(F.col("score"), "score"),
        F.col("rank").cast("long").alias("rank"),
    )


@q(
    "ivf_topk",
    f"""WITH cent AS (
         SELECT CAST(row_number() OVER (ORDER BY h ASC, vec_id ASC) - 1 AS BIGINT)
                    AS cid,
                embedding
         FROM (SELECT vec_id, embedding, {_duck_h60("vec_id")} AS h FROM embeddings
               ORDER BY h ASC, vec_id ASC LIMIT 16)),
       d2 AS (
         SELECT e.vec_id AS eid, c.cid AS cid,
                list_reduce(list_transform(range(1, 65),
                    i -> (e.embedding[i]::DOUBLE - c.embedding[i]::DOUBLE)
                       * (e.embedding[i]::DOUBLE - c.embedding[i]::DOUBLE)),
                    (acc, x) -> acc + x) AS d2
         FROM embeddings e CROSS JOIN cent c),
       assign AS (
         SELECT eid AS vec_id, cid FROM (
           SELECT eid, cid,
                  row_number() OVER (PARTITION BY eid ORDER BY d2 ASC, cid ASC) AS rn
           FROM d2)
         WHERE rn = 1),
       qprobe AS (
         SELECT eid AS query_id, cid FROM (
           SELECT eid, cid,
                  row_number() OVER (PARTITION BY eid ORDER BY d2 ASC, cid ASC) AS rn
           FROM d2 WHERE eid < 50)
         WHERE rn <= 4),
       cand AS (SELECT q.query_id, s.vec_id
                FROM qprobe q JOIN assign s ON s.cid = q.cid),
       scored AS (SELECT c.query_id, c.vec_id, {_COS_SQL} AS score
                  FROM cand c
                  JOIN embeddings a ON a.vec_id = c.query_id
                  JOIN embeddings b ON b.vec_id = c.vec_id)
       SELECT query_id, vec_id, round(score, 4) AS score, CAST(rn AS BIGINT) AS rank
       FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                          ORDER BY score DESC, vec_id ASC) AS rn
             FROM scored)
       WHERE rn <= 10""",
)
def _ivf_topk(spark, sf_dir):
    """IVF approximate top-k — deterministic-quantizer default: seed
    centroids are an md5-rank uniform sample of the corpus
    (ivf_seed_centroids), so the whole pipeline — seeding, assignment
    argmin, nprobe probing, cosine rerank — is reproducible in any
    engine and hash-MATCHes the DuckDB replay. The MLlib KMeans
    quantizer (``ivf_build_index``) stays the opt-in when fit quality
    matters more than cross-engine reproducibility (its fit RNG is
    engine-private → was this query's old rows-only path)."""
    from redshells_spark.similarity.ann import (
        assign_to_centroids,
        ivf_seed_centroids,
        ivf_topk,
    )

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 50).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    centroids = ivf_seed_centroids(emb, num_centroids=16)
    assigned = assign_to_centroids(emb, centroids)
    out = ivf_topk(queries, assigned, centroids, k=10, nprobe=4)
    return out.select(
        "query_id", "vec_id", _r4(F.col("score"), "score"),
        F.col("rank").cast("long").alias("rank"),
    )


@q(
    "semantic_dedup",
    f"""WITH cent AS (
         SELECT CAST(row_number() OVER (ORDER BY h ASC, vec_id ASC) - 1 AS BIGINT)
                    AS cid,
                embedding
         FROM (SELECT vec_id, embedding, {_duck_h60("vec_id")} AS h FROM embeddings
               ORDER BY h ASC, vec_id ASC LIMIT 16)),
       d2 AS (
         SELECT e.vec_id AS eid, c.cid AS cid,
                list_reduce(list_transform(range(1, 65),
                    i -> (e.embedding[i]::DOUBLE - c.embedding[i]::DOUBLE)
                       * (e.embedding[i]::DOUBLE - c.embedding[i]::DOUBLE)),
                    (acc, x) -> acc + x) AS d2
         FROM embeddings e CROSS JOIN cent c),
       assign AS (
         SELECT eid AS vec_id, cid FROM (
           SELECT eid, cid,
                  row_number() OVER (PARTITION BY eid ORDER BY d2 ASC, cid ASC) AS rn
           FROM d2)
         WHERE rn = 1),
       pairs AS (
         SELECT s1.vec_id AS id1
         FROM assign s0
         JOIN assign s1 ON s0.cid = s1.cid AND s0.vec_id < s1.vec_id
         JOIN embeddings a ON a.vec_id = s0.vec_id
         JOIN embeddings b ON b.vec_id = s1.vec_id
         WHERE {_COS_SQL} >= 0.25),
       dropped AS (SELECT DISTINCT id1 AS vec_id FROM pairs)
       SELECT s.vec_id, s.cid
       FROM assign s LEFT JOIN dropped d ON d.vec_id = s.vec_id
       WHERE d.vec_id IS NULL""",
)
def _semantic_dedup(spark, sf_dir):
    """SemDeDup (dedup/semantic.py, Abbas et al. 2023): embedding-space
    near-duplicate removal — cluster with the md5-seeded deterministic
    quantizer, pairwise cosine ONLY within clusters (the quadratic term
    is bounded by the largest cluster, the paper's scalability
    argument), drop every vector with a lower-id near-dup neighbor.
    The synthetic embeddings carry no true semantic duplicates (max
    within-cluster cosine ≈ 0.49), so this registry instance runs a
    demonstrative 0.25 threshold to exercise the drop path end-to-end;
    the operator default stays at the paper's 0.95."""
    from redshells_spark.dedup.semantic import semantic_dedup
    from redshells_spark.similarity.ann import ivf_seed_centroids

    emb = _t(spark, sf_dir, "embeddings")
    centroids = ivf_seed_centroids(emb, num_centroids=16)
    kept = semantic_dedup(emb, centroids, threshold=0.25)
    return kept.select("vec_id", F.col("cid").cast("long").alias("cid"))


@q(
    "sum_embeddings_by_key",
    """SELECT label, CAST(dim - 1 AS BIGINT) AS dim, round(s, 4) AS s FROM (
         SELECT label, dim, sum(x) AS s FROM (
           SELECT label, unnest(embedding::DOUBLE[]) AS x,
                  generate_subscripts(embedding, 1) AS dim
           FROM embeddings)
         GROUP BY label, dim)""",
)
def _sum_embeddings_by_key(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    return (
        emb.select("label", F.posexplode("embedding").alias("dim", "x"))
        .groupBy("label", "dim")
        .agg(F.sum(F.col("x").cast("double")).alias("s"))
        .select("label", F.col("dim").cast("long").alias("dim"), _r4(F.col("s"), "s"))
    )


@q(
    "embedding_near_dup",
    f"""SELECT a.vec_id AS id0, b.vec_id AS id1, round({_COS_SQL}, 4) AS similarity
       FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
       WHERE {_COS_SQL} >= 0.3""",
)
def _embedding_near_dup(spark, sf_dir):
    # BLAS-vectorized path: one matmul per Arrow batch vs n²·d Catalyst
    # lambda steps (~30× at sf0.1); the pure-Catalyst variant stays in
    # dedup.embedding for bounded inputs
    from redshells_spark.similarity.allpairs import all_pairs_above_threshold

    out = all_pairs_above_threshold(_t(spark, sf_dir, "embeddings"), threshold=0.3)
    return out.select("id0", "id1", _r4(F.col("similarity"), "similarity"))


@q(
    "int8_quantize_embeddings",
    """WITH x AS (
         SELECT vec_id,
                generate_subscripts(embedding, 1) - 1 AS dim,
                unnest(embedding::DOUBLE[]) AS x
         FROM embeddings),
       am AS (SELECT dim, max(abs(x)) AS absmax FROM x GROUP BY dim),
       c AS (
         SELECT x.vec_id, x.x, am.absmax,
                CASE WHEN am.absmax > 0
                     THEN CAST(greatest(least(
                              floor(x.x * 127 / am.absmax + CAST(0.5 AS DOUBLE)),
                              127), -127) AS BIGINT)
                     ELSE 0 END AS code
         FROM x JOIN am ON x.dim = am.dim),
       e AS (
         SELECT vec_id, code,
                x - (CASE WHEN absmax > 0
                          THEN (code * absmax) / 127 ELSE CAST(0 AS DOUBLE) END) AS d
         FROM c)
       SELECT vec_id,
              CAST(sum(code) AS BIGINT) AS code_sum,
              CAST(sum(abs(code)) AS BIGINT) AS code_l1,
              CAST(sum(CAST(floor(d * d * CAST(100000000 AS DOUBLE)
                                  + CAST(0.5 AS DOUBLE)) AS BIGINT))
                   AS BIGINT) AS err_e8
       FROM e GROUP BY vec_id""",
)
def _int8_quantize_embeddings(spark, sf_dir):
    """Symmetric per-dimension int8 quantization of the embedding
    corpus (similarity/quantize.py): the dim-row absmax table is one
    tiny aggregate broadcast back, codes are
    floor(x*127/absmax + 0.5) in pure codegen, and the report exports
    exact integer code checksums (pinning every code bit-for-bit)
    plus the reconstruction error in 1e-8 fixed point. The 4×-smaller
    int8 corpus is what ships to an ANN index or serving fleet."""
    from redshells_spark.similarity.quantize import int8_reconstruction_report

    return int8_reconstruction_report(_t(spark, sf_dir, "embeddings"))


@q(
    "hard_negative_mining",
    f"""WITH p AS (
         SELECT a.vec_id AS id, b.vec_id AS neg_id,
                a.label AS label, b.label AS neg_label,
                round({_COS_SQL}, 4) AS similarity
         FROM embeddings a JOIN embeddings b ON a.label <> b.label)
       SELECT id, neg_id, label, neg_label, similarity
       FROM p
       QUALIFY row_number() OVER (PARTITION BY id
                                  ORDER BY similarity DESC, neg_id ASC) <= 2""",
)
def _hard_negative_mining(spark, sf_dir):
    """Contrastive-training hard negatives (similarity/negatives.py):
    top-2 most-similar different-label vectors per anchor. The exact
    all-pairs path here is row-cap guarded (refuses >100k rows); at
    corpus scale candidates come from the bucketed LSH path
    (hard_negatives_ann) instead. Rank on the ROUNDED cosine with a
    neg_id tie-break keeps the selection engine-independent."""
    from redshells_spark.similarity.negatives import hard_negatives_exact

    emb = _t(spark, sf_dir, "embeddings")
    out = hard_negatives_exact(emb, k=2)
    return out.select("id", "neg_id", "label", "neg_label", "similarity")


@q(
    "ann_recall_report",
    f"""WITH {_planes_sql()},{_LSH_SIG_SQL},
       qsig AS (SELECT vec_id AS query_id, sig FROM sig WHERE vec_id < 200),
       qb AS (SELECT query_id, block_idx, (sig >> (block_idx * 4)) & 15 AS block_val
              FROM qsig, blk
              UNION
              SELECT query_id, block_idx,
                     xor((sig >> (block_idx * 4)) & 15, 1::BIGINT << f.b)
              FROM qsig, blk, (SELECT unnest(range(4)) AS b) f),
       cb AS (SELECT vec_id, block_idx, (sig >> (block_idx * 4)) & 15 AS block_val
              FROM sig, blk),
       cand AS (SELECT DISTINCT qb.query_id, cb.vec_id
                FROM qb JOIN cb USING (block_idx, block_val)),
       scored AS (SELECT c.query_id, c.vec_id, {_COS_SQL} AS score
                  FROM cand c
                  JOIN embeddings a ON a.vec_id = c.query_id
                  JOIN embeddings b ON b.vec_id = c.vec_id),
       lsh AS (SELECT query_id, vec_id
               FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                                  ORDER BY score DESC, vec_id ASC) AS rn
                     FROM scored)
               WHERE rn <= 10),
       bf AS (SELECT a.vec_id AS query_id, b.vec_id AS vec_id
              FROM (SELECT * FROM embeddings WHERE vec_id < 200) a
              CROSS JOIN embeddings b
              QUALIFY row_number() OVER (PARTITION BY a.vec_id
                                         ORDER BY {_COS_SQL} DESC, b.vec_id ASC) <= 10)
       SELECT b.query_id, CAST(count(l.vec_id) AS BIGINT) AS n_hits,
              round(count(l.vec_id) / 10.0, 4) AS recall_at_10
       FROM bf b LEFT JOIN lsh l
         ON l.query_id = b.query_id AND l.vec_id = b.vec_id
       GROUP BY b.query_id""",
)
def _ann_recall_report(spark, sf_dir):
    """Offline ANN quality audit: per-query recall@10 of the
    multiprobe-LSH stage against the exact top-10 (the number a serving
    team monitors before trading recall for latency). Composes the two
    already-oracled retrieval paths — the exact side on the BLAS matmul
    route, the LSH side on the literal-hyperplane route — and counts
    the overlap; the DuckDB oracle rebuilds both rankings in SQL."""
    from redshells_spark.similarity.allpairs import matmul_topk
    from redshells_spark.similarity.ann import lsh_topk

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 200).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    lsh = lsh_topk(
        queries, emb, k=10, num_planes=16, num_blocks=4, dim=64, multiprobe=1
    ).select("query_id", "vec_id", F.lit(1).alias("__hit"))
    exact = matmul_topk(queries, emb, k=10).select("query_id", "vec_id")
    return (
        exact.join(lsh, on=["query_id", "vec_id"], how="left")
        .groupBy("query_id")
        .agg(F.sum(F.coalesce("__hit", F.lit(0))).cast("long").alias("n_hits"))
        .select(
            "query_id",
            "n_hits",
            F.round(F.col("n_hits") / 10.0, 4).alias("recall_at_10"),
        )
    )


@q(
    "pq_topk",
    """WITH cent AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cid,
                     embedding
              FROM embeddings WHERE vec_id % 50 = 0 AND vec_id < 800),
       ms AS (SELECT unnest(range(8)) AS m),
       sub AS (SELECT m, cid,
                      list_transform(range(1, 9), i -> embedding[m * 8 + i]::DOUBLE) AS cw
               FROM cent, ms),
       vsub AS (SELECT vec_id, m,
                       list_transform(range(1, 9), i -> embedding[m * 8 + i]::DOUBLE) AS v
                FROM embeddings, ms),
       d2 AS (SELECT v.vec_id, v.m, s.cid,
                     list_reduce(list_transform(range(1, 9),
                         i -> (v.v[i] - s.cw[i]) * (v.v[i] - s.cw[i])),
                         (a, b) -> a + b) AS d2
              FROM vsub v JOIN sub s ON s.m = v.m),
       codes AS (SELECT vec_id, m, cid AS code FROM (
                   SELECT vec_id, m, cid,
                          row_number() OVER (PARTITION BY vec_id, m
                                             ORDER BY d2 ASC, cid ASC) AS rn
                   FROM d2) WHERE rn = 1),
       dt AS (SELECT vec_id AS query_id, m, cid,
                     CAST(floor(d2 * 1000000 + 0.5) AS BIGINT) AS d_e6
              FROM d2 WHERE vec_id < 50),
       adc AS (SELECT t.query_id, c.vec_id, sum(t.d_e6)::BIGINT AS approx_d2_e6
               FROM codes c JOIN dt t ON t.m = c.m AND t.cid = c.code
               GROUP BY 1, 2)
       SELECT query_id, vec_id, approx_d2_e6, CAST(rn AS BIGINT) AS rank
       FROM (SELECT query_id, vec_id, approx_d2_e6,
                    row_number() OVER (PARTITION BY query_id
                                       ORDER BY approx_d2_e6 ASC, vec_id ASC) AS rn
             FROM adc)
       WHERE rn <= 10""",
)
def _pq_topk(spark, sf_dir):
    """Product-quantization ADC top-k (similarity/pq.py): M=8 subspaces,
    16 strided-corpus codewords each, integer-scaled distance tables.
    Every stage — left-fold subspace distances, argmin codes, ADC
    integer sums, boundary-tie cuts — is pinned bit-for-bit against the
    DuckDB oracle; the approximation error vs exact search is a *fixed
    deterministic function* of the codebooks, not engine noise."""
    from redshells_spark.similarity.pq import pq_adc_topk, pq_codebooks, pq_encode

    emb = _t(spark, sf_dir, "embeddings")
    cent_rows = (
        emb.filter((F.col("vec_id") % 50 == 0) & (F.col("vec_id") < 800))
        .orderBy("vec_id")
        .select("embedding")
        .collect()  # ≤16 rows — bounded codebook probe, mirrors index build
    )
    cbs = pq_codebooks([[float(x) for x in r["embedding"]] for r in cent_rows], num_subspaces=8)
    codes = pq_encode(emb, cbs)
    queries = emb.filter(F.col("vec_id") < 50).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return pq_adc_topk(queries, codes, cbs, k=10)


@q(
    "ivfpq_topk",
    """WITH cent AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cid,
                     embedding
              FROM embeddings WHERE vec_id % 50 = 0 AND vec_id < 800),
       cd2 AS (SELECT e.vec_id, c.cid,
                      list_reduce(list_transform(range(1, 65),
                          i -> (e.embedding[i]::DOUBLE - c.embedding[i]::DOUBLE)
                             * (e.embedding[i]::DOUBLE - c.embedding[i]::DOUBLE)),
                          (a, b) -> a + b) AS d2
               FROM embeddings e CROSS JOIN cent c),
       assign AS (SELECT vec_id, cid FROM (
                    SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id
                                                           ORDER BY d2 ASC, cid ASC) AS rn
                    FROM cd2) WHERE rn = 1),
       resid AS (SELECT a.vec_id, a.cid,
                        list_transform(range(1, 65),
                            i -> e.embedding[i]::DOUBLE - c.embedding[i]::DOUBLE) AS r
                 FROM assign a JOIN embeddings e ON e.vec_id = a.vec_id
                               JOIN cent c ON c.cid = a.cid),
       ptrain AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS j, r
                  FROM resid WHERE vec_id % 37 = 1 AND vec_id < 593),
       ms AS (SELECT unnest(range(8)) AS m),
       cw AS (SELECT m, j, list_transform(range(1, 9), i -> r[m * 8 + i]) AS cw
              FROM ptrain, ms),
       vsub AS (SELECT vec_id, cid, m, list_transform(range(1, 9), i -> r[m * 8 + i]) AS v
                FROM resid, ms),
       pd2 AS (SELECT v.vec_id, v.cid, v.m, s.j,
                      list_reduce(list_transform(range(1, 9),
                          i -> (v.v[i] - s.cw[i]) * (v.v[i] - s.cw[i])),
                          (a, b) -> a + b) AS d2
               FROM vsub v JOIN cw s ON s.m = v.m),
       codes AS (SELECT vec_id, cid, m, j AS code FROM (
                   SELECT vec_id, cid, m, j,
                          row_number() OVER (PARTITION BY vec_id, m
                                             ORDER BY d2 ASC, j ASC) AS rn
                   FROM pd2) WHERE rn = 1),
       qprobe AS (SELECT vec_id AS query_id, cid FROM (
                    SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id
                                                           ORDER BY d2 ASC, cid ASC) AS rn
                    FROM cd2 WHERE vec_id < 30) WHERE rn <= 4),
       qres AS (SELECT q.query_id, q.cid,
                       list_transform(range(1, 65),
                           i -> e.embedding[i]::DOUBLE - c.embedding[i]::DOUBLE) AS r
                FROM qprobe q JOIN embeddings e ON e.vec_id = q.query_id
                              JOIN cent c ON c.cid = q.cid),
       qsub AS (SELECT query_id, cid, m, list_transform(range(1, 9), i -> r[m * 8 + i]) AS v
                FROM qres, ms),
       dt AS (SELECT q.query_id, q.cid, q.m, s.j,
                     CAST(floor(list_reduce(list_transform(range(1, 9),
                         i -> (q.v[i] - s.cw[i]) * (q.v[i] - s.cw[i])),
                         (a, b) -> a + b) * 1000000 + 0.5) AS BIGINT) AS d_e6
              FROM qsub q JOIN cw s ON s.m = q.m),
       adc AS (SELECT t.query_id, c.vec_id, sum(t.d_e6)::BIGINT AS approx_d2_e6
               FROM codes c JOIN dt t ON t.cid = c.cid AND t.m = c.m AND t.j = c.code
               GROUP BY 1, 2)
       SELECT query_id, vec_id, approx_d2_e6, CAST(rn AS BIGINT) AS rank
       FROM (SELECT query_id, vec_id, approx_d2_e6,
                    row_number() OVER (PARTITION BY query_id
                                       ORDER BY approx_d2_e6 ASC, vec_id ASC) AS rn
             FROM adc)
       WHERE rn <= 10""",
)
def _ivfpq_topk(spark, sf_dir):
    """IVF-PQ (similarity/pq.py:ivfpq_encode/ivfpq_topk): coarse
    strided centroids partition the corpus into inverted lists, PQ
    codes compress the RESIDUALS (x − centroid), and queries ADC-scan
    only their nprobe nearest cells — the Faiss billion-scale default,
    with every stage (coarse argmin, residual codes, per-cell integer
    distance tables, boundary ties) pinned bit-for-bit against the
    DuckDB oracle."""
    from redshells_spark.similarity.pq import (
        _centroid_d2,
        ivfpq_encode,
        ivfpq_topk,
        pq_codebooks,
    )

    emb = _t(spark, sf_dir, "embeddings")
    cent_rows = (
        emb.filter((F.col("vec_id") % 50 == 0) & (F.col("vec_id") < 800))
        .orderBy("vec_id")
        .select("embedding")
        .collect()
    )
    centroids = np.asarray(
        [[float(x) for x in r["embedding"]] for r in cent_rows], dtype=np.float64
    )
    train_rows = (
        emb.filter((F.col("vec_id") % 37 == 1) & (F.col("vec_id") < 593))
        .orderBy("vec_id")
        .select("embedding")
        .collect()
    )
    train = np.asarray(
        [[float(x) for x in r["embedding"]] for r in train_rows], dtype=np.float64
    )
    # PQ codebooks from the TRAINING VECTORS' residuals in their own
    # coarse cells (numpy left-fold assignment == the oracle's argmin)
    tcid = np.argmin(_centroid_d2(train, centroids), axis=1)
    tres = train - centroids[tcid]
    cbs = pq_codebooks([list(map(float, r)) for r in tres], num_subspaces=8)

    index = ivfpq_encode(emb, centroids, cbs)
    queries = emb.filter(F.col("vec_id") < 30).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return ivfpq_topk(queries, index, centroids, cbs, k=10, nprobe=4)


EMB_DIM = 64  # driver testdata embedding width (embeddings.parquet)

# sign-bit packing in DuckDB: 32 bits per word so 1<<b never touches
# the int64 sign bit (mirrors similarity/binary.py token-for-token)
_BINQ_SQL = """
    x AS (
      SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS d,
             unnest(embedding) AS x
      FROM embeddings),
    codes AS (
      SELECT vec_id,
             CAST(sum(CASE WHEN d < 32 AND x > 0
                           THEN (1::BIGINT << d) ELSE 0 END) AS BIGINT) AS w0,
             CAST(sum(CASE WHEN d >= 32 AND x > 0
                           THEN (1::BIGINT << (d - 32)) ELSE 0 END) AS BIGINT) AS w1
      FROM x GROUP BY vec_id)
"""


@q(
    "binary_quantize_embeddings",
    f"""WITH {_BINQ_SQL}
       SELECT vec_id, w0, w1,
              CAST(bit_count(w0) + bit_count(w1) AS BIGINT) AS n_pos
       FROM codes""",
)
def _binary_quantize_embeddings(spark, sf_dir):
    """1-bit sign quantization (similarity/binary.py binary_quantize):
    the third rung of the quantization ladder after int8 — 64 floats
    pack into two 32-bit-populated int64 words, 32× smaller than
    float32, with a popcount checksum pinning every bit. Pure integer
    sign tests, so the codes are bit-identical cross-engine. At 100 TB
    the binary corpus is the first-stage ANN filter that streams
    through codegen at scan speed."""
    from redshells_spark.similarity.binary import binary_quantize

    out = binary_quantize(_t(spark, sf_dir, "embeddings"), dim=EMB_DIM)
    return out.select(
        "vec_id",
        F.element_at("words", 1).alias("w0"),
        F.element_at("words", 2).alias("w1"),
        "n_pos",
    )


@q(
    "hamming_topk",
    f"""WITH {_BINQ_SQL},
       qs AS (SELECT vec_id AS query_id, w0 AS q0, w1 AS q1
              FROM codes WHERE vec_id < 10),
       scored AS (
         SELECT q.query_id, c.vec_id,
                CAST(bit_count(xor(c.w0, q.q0))
                     + bit_count(xor(c.w1, q.q1)) AS BIGINT) AS hamming
         FROM codes c CROSS JOIN qs q)
       SELECT query_id, vec_id, hamming,
              CAST(row_number() OVER (PARTITION BY query_id
                     ORDER BY hamming ASC, vec_id ASC) AS BIGINT) AS rn
       FROM scored
       QUALIFY row_number() OVER (PARTITION BY query_id
                 ORDER BY hamming ASC, vec_id ASC) <= 5""",
)
def _hamming_topk(spark, sf_dir):
    """Hamming-distance retrieval over the binary codes
    (similarity/binary.py hamming_topk): xor + popcount per word pair —
    a handful of cycles inside whole-stage codegen, the Faiss
    IndexBinaryFlat shape. Query codes broadcast; the corpus streams
    once; per-query top-k is a WindowGroupLimit. Exact integer
    distances with id tie-breaks make the ranking engine-exact. The
    production pattern: this is the 100 TB coarse stage, survivors
    re-rank through exact cosine or the int8 codes."""
    from redshells_spark.similarity.binary import binary_quantize, hamming_topk

    codes = binary_quantize(_t(spark, sf_dir, "embeddings"), dim=EMB_DIM).drop(
        "n_pos"
    )
    queries = codes.filter(F.col("vec_id") < 10)
    return hamming_topk(codes, queries, n_words=EMB_DIM // 32, k=5)


@q(
    "matryoshka_truncation_report",
    """WITH x AS (
         SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS d,
                unnest(embedding::DOUBLE[]) AS x
         FROM embeddings),
       n AS (
         SELECT vec_id,
                sqrt(sum(x * x)) AS full_norm,
                sqrt(sum(CASE WHEN d < 32 THEN x * x ELSE 0 END)) AS trunc_norm
         FROM x GROUP BY vec_id)
       SELECT vec_id,
              round(trunc_norm / greatest(full_norm, 1e-12), 4) AS energy_kept,
              round(trunc_norm * trunc_norm / greatest(full_norm * full_norm, 1e-12), 4)
                AS energy_kept_sq
       FROM n""",
)
def _matryoshka_truncation_report(spark, sf_dir):
    """Matryoshka-style dimension truncation report (Kusupati et al.
    2022): keeping the first 32 of 64 dims, what fraction of each
    vector's L2 energy survives? energy_kept = ‖x[:32]‖/‖x‖ is also
    exactly the cosine between the truncated-then-zero-padded vector
    and the original, so the report reads directly as serving-time
    similarity degradation. Per-row bounded (64-element) sums — the
    cleared float class — rounded after one deterministic ratio. Pure
    codegen; the decision artifact before shipping half-width vectors
    to the ANN tier."""
    emb = _t(spark, sf_dir, "embeddings")
    x = emb.select(
        "vec_id", F.posexplode(F.col("embedding").cast("array<double>")).alias("d", "x")
    )
    n = x.groupBy("vec_id").agg(
        F.sqrt(F.sum(F.col("x") * F.col("x"))).alias("full_norm"),
        F.sqrt(
            F.sum(F.when(F.col("d") < 32, F.col("x") * F.col("x")).otherwise(F.lit(0.0)))
        ).alias("trunc_norm"),
    )
    return n.select(
        "vec_id",
        _r4(F.col("trunc_norm") / F.greatest(F.col("full_norm"), F.lit(1e-12)), "energy_kept"),
        _r4(
            (F.col("trunc_norm") * F.col("trunc_norm"))
            / F.greatest(F.col("full_norm") * F.col("full_norm"), F.lit(1e-12)),
            "energy_kept_sq",
        ),
    )


@q(
    "binary_rerank_topk",
    f"""WITH {_BINQ_SQL},
       qs AS (SELECT vec_id AS query_id, w0 AS q0, w1 AS q1
              FROM codes WHERE vec_id < 10),
       coarse AS (
         SELECT q.query_id, c.vec_id
         FROM codes c CROSS JOIN qs q
         QUALIFY row_number() OVER (PARTITION BY q.query_id
                   ORDER BY bit_count(xor(c.w0, q.q0))
                            + bit_count(xor(c.w1, q.q1)) ASC,
                            c.vec_id ASC) <= 50)
       SELECT query_id, vec_id, round(score, 4) AS score,
              CAST(rn AS BIGINT) AS rank FROM (
         SELECT co.query_id, co.vec_id, {_COS_SQL} AS score,
                row_number() OVER (PARTITION BY co.query_id
                  ORDER BY {_COS_SQL} DESC, co.vec_id ASC) AS rn
         FROM coarse co
         JOIN embeddings a ON a.vec_id = co.query_id
         JOIN embeddings b ON b.vec_id = co.vec_id)
       WHERE rn <= 5""",
)
def _binary_rerank_topk(spark, sf_dir):
    """The production two-stage ANN pattern closed end-to-end: Hamming
    coarse stage over the 32×-compressed binary codes (xor+popcount at
    scan speed, 50 candidates/query) → EXACT cosine re-rank of the
    survivors only → top-5. At 100 TB the float vectors are touched
    for 50·|Q| rows instead of |corpus|·|Q| — the whole reason the
    binary tier exists. Both stages individually oracled
    (hamming_topk, brute_force_topk); this pins their composition."""
    from redshells_spark.functions.vector import cosine_similarity
    from redshells_spark.similarity.binary import binary_quantize, hamming_topk

    emb = _t(spark, sf_dir, "embeddings")
    codes = binary_quantize(emb, dim=EMB_DIM).drop("n_pos")
    queries = codes.filter(F.col("vec_id") < 10)
    coarse = hamming_topk(codes, queries, n_words=EMB_DIM // 32, k=50).select(
        "query_id", "vec_id"
    )
    qe = emb.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("__qe")
    )
    ce = emb.select("vec_id", F.col("embedding").alias("__ce"))
    scored = (
        coarse.join(F.broadcast(qe), "query_id")
        .join(ce, "vec_id")
        .select(
            "query_id",
            "vec_id",
            cosine_similarity("__qe", "__ce").alias("score"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("vec_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 5)
        .select("query_id", "vec_id", _r4(F.col("score"), "score"), "rank")
    )


@q(
    "phrase_search_topk",
    f"""WITH {_TOK0_SQL},
       grams AS (
         SELECT doc_id,
                token || ' ' || lead(token, 1) OVER w AS g2,
                token || ' ' || lead(token, 1) OVER w || ' ' || lead(token, 2) OVER w AS g3
         FROM tok
         WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
       hits AS (
         SELECT doc_id, g2 AS phrase FROM grams
         WHERE g2 IN ('table scan', 'hash join', 'window agg')
         UNION ALL
         SELECT doc_id, g3 AS phrase FROM grams
         WHERE g3 = 'sort merge join'),
       counts AS (
         SELECT phrase, doc_id, count(*) AS n_occurrences
         FROM hits GROUP BY phrase, doc_id)
       SELECT phrase, doc_id, n_occurrences,
              CAST(row_number() OVER (PARTITION BY phrase
                                      ORDER BY n_occurrences DESC, doc_id ASC) AS BIGINT) AS rank
       FROM counts
       QUALIFY rank <= 10""",
)
def _phrase_search_topk(spark, sf_dir):
    """Exact positional phrase search (Lucene-style consecutive-token
    match, relationally: codegen window-slice + literal IN filter —
    text/phrase.py:phrase_topk); top-10 documents per phrase."""
    from redshells_spark.text.phrase import phrase_topk

    return phrase_topk(
        _tokens(spark, sf_dir),
        ["table scan", "hash join", "window agg", "sort merge join"],
        k=10,
    )

# one greedy MMR stage, unrolled (DuckDB windows run after GROUP BY, so
# the argmax-over-remaining is a row_number on the aggregated score)
_MMR_STAGE = """
   s{i} AS (
     SELECT query_id, vec_id, mmr_score_e5, {i} AS rank FROM (
       SELECT c.query_id, c.vec_id,
              CAST(7 * c.rel_e4 - 3 * max(s.sim_e4) AS BIGINT) AS mmr_score_e5,
              row_number() OVER (
                PARTITION BY c.query_id
                ORDER BY 7 * c.rel_e4 - 3 * max(s.sim_e4) DESC, c.vec_id ASC
              ) AS rn
       FROM cand c
       JOIN sims s ON s.query_id = c.query_id AND s.a_id = c.vec_id
       JOIN p{prev} p ON p.query_id = s.query_id AND p.vec_id = s.b_id
       LEFT JOIN p{prev} px ON px.query_id = c.query_id AND px.vec_id = c.vec_id
       WHERE px.vec_id IS NULL
       GROUP BY c.query_id, c.vec_id, c.rel_e4
     ) WHERE rn = 1),
   p{i} AS (SELECT * FROM p{prev} UNION ALL SELECT query_id, vec_id FROM s{i})"""


@q(
    "mmr_diversity_rerank",
    f"""WITH base AS (
         SELECT a.vec_id AS query_id, b.vec_id AS vec_id,
                CAST(round({_COS_SQL} * 10000) AS BIGINT) AS rel_e4,
                row_number() OVER (PARTITION BY a.vec_id
                                   ORDER BY {_COS_SQL} DESC, b.vec_id ASC) AS rn
         FROM (SELECT * FROM embeddings WHERE vec_id < 8) a
         CROSS JOIN embeddings b
         WHERE b.vec_id <> a.vec_id),
       cand AS (SELECT query_id, vec_id, rel_e4 FROM base WHERE rn <= 20),
       ce AS (
         SELECT c.query_id, c.vec_id, c.rel_e4, e.embedding
         FROM cand c JOIN embeddings e USING (vec_id)),
       sims AS (
         SELECT a.query_id, a.vec_id AS a_id, b.vec_id AS b_id,
                CAST(round({_COS_SQL} * 10000) AS BIGINT) AS sim_e4
         FROM ce a JOIN ce b ON a.query_id = b.query_id),
       s1 AS (
         SELECT query_id, vec_id, CAST(7 * rel_e4 AS BIGINT) AS mmr_score_e5, 1 AS rank
         FROM (SELECT query_id, vec_id, rel_e4,
                      row_number() OVER (PARTITION BY query_id
                                         ORDER BY rel_e4 DESC, vec_id ASC) AS rn
               FROM cand)
         WHERE rn = 1),
       p1 AS (SELECT query_id, vec_id FROM s1),
       {_MMR_STAGE.format(i=2, prev=1)},
       {_MMR_STAGE.format(i=3, prev=2)},
       {_MMR_STAGE.format(i=4, prev=3)},
       {_MMR_STAGE.format(i=5, prev=4)}
       SELECT query_id, vec_id, CAST(rank AS BIGINT) AS rank, mmr_score_e5
       FROM (SELECT * FROM s1 UNION ALL SELECT * FROM s2 UNION ALL
             SELECT * FROM s3 UNION ALL SELECT * FROM s4 UNION ALL
             SELECT * FROM s5)""",
)
def _mmr_diversity_rerank(spark, sf_dir):
    """Carbonell-Goldstein MMR re-rank (similarity/mmr.py:mmr_rerank):
    top-20 cosine candidates per query (8 queries, self excluded), then
    greedy lambda=0.7 diversity selection of 5 on exact 1e-4-unit
    integer scores — the greedy loop runs in an Arrow applyInPandas per
    query; the oracle unrolls the same five picks as SQL stages."""
    from redshells_spark.similarity.allpairs import matmul_topk
    from redshells_spark.similarity.mmr import mmr_rerank

    emb = _t(spark, sf_dir, "embeddings")
    q_ = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    # BLAS matmul candidate stage (same values as the Catalyst cosine,
    # pinned in tests/test_ann_recall.py); k=21 then drop the query
    # itself and re-rank, matching the oracle's b <> a pre-filter
    top = matmul_topk(q_, emb, k=21).filter(
        F.col("vec_id") != F.col("query_id")
    )
    cand = per_group_topk(
        top, "query_id", "score", 20, tie_break=["vec_id"]
    ).select(
        "query_id",
        "vec_id",
        F.round(F.col("score") * 10000, 0).cast("long").alias("rel_e4"),
    )
    with_emb = cand.join(emb.select("vec_id", "embedding"), on="vec_id")
    return mmr_rerank(with_emb, k=5, lambda10=7)


def _knn_graph_oracle() -> str:
    from redshells_spark.similarity.knn_graph import knn_graph_sql

    return (
        "WITH "
        + ",\n".join(knn_graph_sql(k=10, iterations=3, seed=7))
        + "\nSELECT src, dst, round(score, 4) AS score, rank FROM g3"
    )


def _graph_search_oracle() -> str:
    from redshells_spark.similarity.knn_graph import (
        graph_search_sql,
        knn_graph_sql,
    )

    ctes = knn_graph_sql(k=10, iterations=3, seed=7) + graph_search_sql(
        graph_cte="g3", query_pred="vec_id % 25 = 0",
        k=10, ef=40, rounds=4, n_entry=4, seed=13,
    )
    return (
        "WITH "
        + ",\n".join(ctes)
        + "\nSELECT query_id, vec_id, round(score, 4) AS score, rank"
        + " FROM search_out"
    )


@session_memo
def _knn_graph(spark, sf_dir) -> DataFrame:
    # the built k-NN graph is the shared ANN index: the build query and
    # the search query both consume it, exactly as a production system
    # builds the index once and serves from it. Cached IN-SESSION only
    # (session_memo, like _shared._vocab): every fresh session
    # recomputes the NN-descent build from the parquet inputs — no
    # cross-run disk target, so a bench/oracle invocation never reads a
    # precomputed index. (task.py's param-hash targets remain the
    # pipeline feature — tests/test_knn_graph.py::test_graph_task_parity
    # — but query paths do not use them.) The NN-descent rounds already
    # localCheckpoint per round, so the cached plan is shallow.
    from redshells_spark.similarity.knn_graph import knn_graph_nn_descent

    emb = _t(spark, sf_dir, "embeddings")
    return knn_graph_nn_descent(
        emb, k=10, iterations=3, seed=7
    ).cache()


@q("knn_graph_nn_descent", _knn_graph_oracle())
def _knn_graph_nn_descent(spark, sf_dir):
    """Approximate k-NN graph by relational NN-descent (Dong et al.
    2011; similarity/knn_graph.py): independent hashed random init,
    capped neighbor-of-neighbor rounds, per-node top-k, checkpoint per
    round. Deterministic by construction (hashed init, fixed rounds,
    total-order tie-breaks), so the oracle unrolls the rounds as
    MATERIALIZED CTE stages (knn_graph_sql — the bradley_terry/Lloyd
    recipe); build quality is additionally gated by the
    recall@10-vs-brute-force threshold in tests/test_knn_graph.py
    (0.86 at 3 rounds on the near-random synthetic embeddings)."""
    g = _knn_graph(spark, sf_dir)
    return g.select(
        "src", "dst", F.round("score", 4).alias("score"), F.col("rank").cast("long").alias("rank")
    )


@q("graph_ann_search", _graph_search_oracle())
def _graph_ann_search(spark, sf_dir):
    """Graph-based ANN serving path: greedy beam search (NSW/HNSW
    single-layer shape, Malkov & Yashunin 2018) over the NN-descent
    graph — per-round shuffle volume O(|Q|·ef·k) independent of corpus
    size (similarity/knn_graph.py graph_search_topk). Deterministic
    (hashed entry points, fixed rounds), so the oracle unrolls build +
    search as MATERIALIZED CTE stages (graph_search_sql); recall@10 vs
    brute force additionally gated >= 0.90 in tests/test_knn_graph.py
    (measured 0.98 at rounds=4, ef=40)."""
    from redshells_spark.similarity.knn_graph import graph_search_topk

    emb = _t(spark, sf_dir, "embeddings")
    qv = emb.filter(F.col("vec_id") % 25 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = graph_search_topk(_knn_graph(spark, sf_dir), emb, qv, k=10, ef=40, rounds=4, seed=13)
    return out.select(
        "query_id",
        "vec_id",
        F.round("score", 4).alias("score"),
        F.col("rank").cast("long").alias("rank"),
    )


@q(
    "rrf_hybrid_search",
    """WITH toks AS (
         SELECT doc_id, list_filter(string_split(lower(text), ' '), t -> t <> '') AS t
         FROM documents),
       tok AS (
         SELECT doc_id, CAST(len(t) AS BIGINT) AS dl, unnest(t) AS term FROM toks),
       st AS (
         SELECT count(DISTINCT doc_id) AS n_docs, count(*) AS tok_sum FROM tok),
       p AS (
         SELECT doc_id, term, dl, CAST(count(*) AS BIGINT) AS tf FROM tok
         WHERE term IN ('spark', 'join', 'window', 'stream', 'hash')
         GROUP BY 1, 2, 3),
       dft AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM p GROUP BY 1),
       scored AS (
         SELECT p.term, p.doc_id, p.tf,
                ln(CAST(1.0 AS DOUBLE)
                   + (st.n_docs - dft.df + CAST(0.5 AS DOUBLE))
                     / (dft.df + CAST(0.5 AS DOUBLE)))
                  * p.tf
                  / (p.tf + CAST(1.2 AS DOUBLE)
                     * (CAST(1.0 AS DOUBLE) - CAST(0.75 AS DOUBLE)
                        + CAST(0.75 AS DOUBLE) * p.dl
                          / (st.tok_sum / st.n_docs))) AS bm25
         FROM p JOIN dft USING (term), st),
       ra AS (
         SELECT term, doc_id,
                row_number() OVER (PARTITION BY term ORDER BY bm25 DESC, doc_id ASC) AS r
         FROM scored QUALIFY r <= 30),
       rb AS (
         SELECT term, doc_id,
                row_number() OVER (PARTITION BY term ORDER BY tf DESC, doc_id ASC) AS r
         FROM scored QUALIFY r <= 30),
       fused AS (
         SELECT coalesce(ra.term, rb.term) AS term,
                coalesce(ra.doc_id, rb.doc_id) AS doc_id,
                (CASE WHEN ra.r IS NOT NULL
                      THEN CAST(1.0 AS DOUBLE) / (60 + ra.r) ELSE CAST(0.0 AS DOUBLE) END)
                + (CASE WHEN rb.r IS NOT NULL
                        THEN CAST(1.0 AS DOUBLE) / (60 + rb.r) ELSE CAST(0.0 AS DOUBLE) END)
                  AS rrf_score
         FROM ra FULL OUTER JOIN rb
           ON ra.term = rb.term AND ra.doc_id = rb.doc_id)
       SELECT term, doc_id, rrf_score,
              CAST(row_number() OVER (
                PARTITION BY term ORDER BY rrf_score DESC, doc_id ASC) AS BIGINT) AS rank
       FROM fused QUALIFY rank <= 10""",
)
def _rrf_hybrid_search(spark, sf_dir):
    """Reciprocal-Rank Fusion hybrid retrieval (text/hybrid.py;
    Cormack et al. 2009, the Elasticsearch/OpenSearch default): fuse a
    per-term BM25 ranking with a raw-tf ranking by summing
    1/(60+rank) — ranks only, never scores, so heterogeneous
    retrievers (swap either side for ANN) need no calibration. Fusion
    cost is O(#terms · depth) after the depth-capped ranker windows;
    rrf_score is pure rank arithmetic — full-precision export."""
    from redshells_spark.text.hybrid import hybrid_bm25_tf_search

    return hybrid_bm25_tf_search(_tokens(spark, sf_dir), KEYWORDS, k=10, depth=30)


# ----------------------------------------------------- semantic dedup, √N k


@q(
    "semantic_dedup_sqrtn",
    f"""WITH nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM embeddings),
       -- max(16, isqrt(n-1)+1) == max(16, ceil(sqrt(n))) for n >= 1
       kk AS (SELECT greatest(16, CAST(ceil(sqrt(n)) AS BIGINT)) AS k FROM nn),
       rk AS (
         SELECT vec_id, embedding,
                row_number() OVER (ORDER BY h ASC, vec_id ASC) - 1 AS rn
         FROM (SELECT vec_id, embedding, {_duck_h60("vec_id")} AS h
               FROM embeddings)),
       cent AS (SELECT CAST(rn AS BIGINT) AS cid, embedding
                FROM rk, kk WHERE rn < kk.k),
       d2 AS (
         SELECT e.vec_id AS eid, c.cid AS cid,
                list_reduce(list_transform(range(1, 65),
                    i -> (e.embedding[i]::DOUBLE - c.embedding[i]::DOUBLE)
                       * (e.embedding[i]::DOUBLE - c.embedding[i]::DOUBLE)),
                    (acc, x) -> acc + x) AS d2
         FROM embeddings e CROSS JOIN cent c),
       assign AS (
         SELECT eid AS vec_id, cid FROM (
           SELECT eid, cid,
                  row_number() OVER (PARTITION BY eid ORDER BY d2 ASC, cid ASC) AS rn2
           FROM d2)
         WHERE rn2 = 1),
       pairs AS (
         SELECT s1.vec_id AS id1
         FROM assign s0
         JOIN assign s1 ON s0.cid = s1.cid AND s0.vec_id < s1.vec_id
         JOIN embeddings a ON a.vec_id = s0.vec_id
         JOIN embeddings b ON b.vec_id = s1.vec_id
         WHERE {_COS_SQL} >= 0.25),
       dropped AS (SELECT DISTINCT id1 AS vec_id FROM pairs)
       SELECT s.vec_id, s.cid
       FROM assign s LEFT JOIN dropped d ON d.vec_id = s.vec_id
       WHERE d.vec_id IS NULL""",
)
def _semantic_dedup_sqrtn(spark, sf_dir):
    """SemDeDup under the paper's sqrt(N) centroid rule
    (dedup/semantic.py with ``centroids=None``): k = max(16, ceil √N)
    seed centroids derived from the corpus itself, so the per-cluster
    population — and with it the quadratic within-cluster term — stays
    ~√N as the corpus grows. This is the configuration that holds at
    100 TB (the k=16 ``semantic_dedup`` entry pins a fixed quantizer
    for oracle continuity); the dynamic-k derivation is itself
    oracle-checked here via a window-bounded centroid CTE."""
    from redshells_spark.dedup.semantic import semantic_dedup

    emb = _t(spark, sf_dir, "embeddings")
    kept = semantic_dedup(emb, centroids=None, threshold=0.25)
    return kept.select("vec_id", F.col("cid").cast("long").alias("cid"))


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


# ----------------------------------------------------- k-center coreset


def _duck_d2(x_e: str, c_e: str) -> str:
    """Squared L2 — the same sequential fold as semantic_dedup's d2
    CTE (hash-MATCH-proven): list_reduce sum of squared diffs."""
    return (
        f"list_reduce(list_transform(range(1, 65), "
        f"i -> ({x_e}[i]::DOUBLE - {c_e}[i]::DOUBLE)"
        f" * ({x_e}[i]::DOUBLE - {c_e}[i]::DOUBLE)), "
        f"(acc, v) -> acc + v)"
    )


def _kcenter_oracle(k: int = 5, seed: int = 17) -> str:
    stages = [
        f"""b AS (SELECT vec_id AS id, embedding AS e FROM embeddings),
       f0 AS MATERIALIZED (
         SELECT id FROM (
           SELECT id, md5('{seed}|' || CAST(id AS VARCHAR)) AS h FROM b)
         ORDER BY h ASC, id ASC LIMIT 1),
       d1 AS MATERIALIZED (
         SELECT x.id, x.e, {_duck_d2("x.e", "c.e")} AS d2
         FROM b x, (SELECT e FROM b WHERE id = (SELECT id FROM f0)) c
         WHERE x.id <> (SELECT id FROM f0))"""
    ]
    for t in range(2, k + 1):
        prev = f"d{t - 1}"
        stages.append(
            f"""s{t} AS MATERIALIZED (
              SELECT id, d2 FROM {prev} ORDER BY d2 DESC, id ASC LIMIT 1),
       d{t} AS MATERIALIZED (
         SELECT x.id, x.e, least(x.d2, {_duck_d2("x.e", "c.e")}) AS d2
         FROM {prev} x,
              (SELECT e FROM b WHERE id = (SELECT id FROM s{t})) c
         WHERE x.id <> (SELECT id FROM s{t}))"""
        )
    picks = "\n       UNION ALL ".join(
        f"SELECT {t} AS step, id, d2 FROM s{t}" for t in range(2, k + 1)
    )
    return (
        "WITH "
        + ",\n       ".join(stages)
        + f""",
       picks AS (
         SELECT 1 AS step, (SELECT id FROM f0) AS id, CAST(0.0 AS DOUBLE) AS d2
         UNION ALL {picks})
       SELECT CAST(step AS BIGINT) AS step, id AS vec_id,
              round(d2, 4) AS d2_to_chosen
       FROM picks"""
    )


@q("kcenter_coreset", _kcenter_oracle(5, 17))
def _kcenter_coreset(spark, sf_dir):
    """k-center greedy coreset over the embeddings (Gonzalez 1985
    farthest-first; Sener & Savarese 2018; similarity/coreset.py):
    5 picks that COVER the embedding space — the metric counterpart to
    greedy_max_coverage for diverse eval subsets and quantizer
    seeding, a 2-approximation to the k-center objective. Each round
    is one broadcast join against the single new center (nearest-
    center distances update as least(old, new) — O(N) per round, not
    O(k·N)) + a TakeOrdered argmax with a (d2, id) total-order
    tie-break; the loop unrolls into MATERIALIZED CTE stages, squared
    L2 via the same sequential fold the SemDeDup oracle proved."""
    from redshells_spark.similarity.coreset import kcenter_coreset

    emb = _t(spark, sf_dir, "embeddings")
    out = kcenter_coreset(emb, k=5, seed=17)
    return out.select("step", "vec_id", F.round("d2_to_chosen", 4).alias("d2_to_chosen"))


# ------------------------------------------------- Frechet distance


@q(
    "frechet_embedding_distance",
    """WITH ex AS (SELECT label AS grp, generate_subscripts(embedding, 1) AS dim,
                     unnest(embedding)::DOUBLE AS v
              FROM embeddings),
       m AS (SELECT grp, dim, CAST(count(*) AS BIGINT) AS n,
                    round(sum(v), 9) AS s1, round(sum(v * v), 9) AS s2
             FROM ex GROUP BY 1, 2),
       mm AS (SELECT grp, dim, n,
                     s1 / CAST(n AS DOUBLE) AS mean,
                     greatest(s2 / CAST(n AS DOUBLE)
                              - (s1 / CAST(n AS DOUBLE)) * (s1 / CAST(n AS DOUBLE)),
                              CAST(0 AS DOUBLE)) AS var
              FROM m),
       p AS (SELECT a.grp AS group_a, b.grp AS group_b, a.n AS n_a, b.n AS n_b,
                    round((a.mean - b.mean) * (a.mean - b.mean), 9) AS md9,
                    round(a.var + b.var
                          - CAST(2 AS DOUBLE) * sqrt(a.var * b.var), 9) AS cd9
             FROM mm a JOIN mm b ON a.dim = b.dim AND a.grp < b.grp)
       SELECT CAST(group_a AS BIGINT) AS group_a, CAST(group_b AS BIGINT) AS group_b,
              CAST(max(n_a) AS BIGINT) AS n_a, CAST(max(n_b) AS BIGINT) AS n_b,
              round(sum(md9), 6) AS mean_dist2,
              round(sum(cd9), 6) AS cov_dist2,
              round(sum(md9) + sum(cd9), 6) AS fd2
       FROM p GROUP BY 1, 2""",
)
def _frechet_embedding_distance(spark, sf_dir):
    """Diagonal-covariance Frechet distance (the FID construction,
    Heusel et al. 2017) between every pair of embedding label groups —
    distribution-level drift between sources/snapshots of an embedding
    column, where pairwise row similarity is the wrong tool. The fact
    table reduces to (group, dim) first/second moments in ONE explode +
    aggregation; the pair join runs over |groups| x dims summary rows.
    Round-9 moment sums absorb cross-engine double reassociation;
    everything downstream is scalar math on identical doubles.
    similarity/distribution.py:frechet_diagonal_distance."""
    from redshells_spark.similarity.distribution import frechet_diagonal_distance

    emb = _t(spark, sf_dir, "embeddings")
    out = frechet_diagonal_distance(emb, "label", "embedding")
    return out.select(
        F.col("group_a").cast("long").alias("group_a"),
        F.col("group_b").cast("long").alias("group_b"),
        "n_a",
        "n_b",
        "mean_dist2",
        "cov_dist2",
        "fd2",
    )


# ------------------------------------------------- WAND-pruned BM25


@q(
    "bm25_wand_topk",
    """WITH tok AS (
         SELECT doc_id,
                unnest(list_filter(string_split(lower(text), ' '),
                                   t -> t <> '')) AS term
         FROM documents),
       dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY 1),
       st AS (SELECT count(*) AS n_docs, sum(dl) AS dl_sum FROM dl),
       p AS (SELECT doc_id, term, count(*) AS tf FROM tok
             WHERE term IN ('spark', 'hash', 'stream')
             GROUP BY 1, 2),
       dft AS (SELECT term, count(*) AS df FROM p GROUP BY 1),
       s AS (
         SELECT p.doc_id,
                ln(CAST(1.0 AS DOUBLE)
                   + (st.n_docs - dft.df + CAST(0.5 AS DOUBLE))
                     / (dft.df + CAST(0.5 AS DOUBLE)))
                  * p.tf
                  / (p.tf + CAST(1.2 AS DOUBLE)
                     * (CAST(1.0 AS DOUBLE) - CAST(0.75 AS DOUBLE)
                        + CAST(0.75 AS DOUBLE) * dl.dl
                          / (st.dl_sum / st.n_docs))) AS t
         FROM p JOIN dl USING (doc_id) JOIN dft USING (term), st)
       SELECT doc_id, round(sum(t), 4) AS score
       FROM s GROUP BY doc_id
       ORDER BY score DESC, doc_id ASC LIMIT 15""",
)
def _bm25_wand_topk(spark, sf_dir):
    """BM25 top-15 through WAND upper-bound pruning (Broder et al.
    2003; text/bm25.py:bm25_wand_topk): per-term max-contribution
    bounds + a score floor from the rarest term's posting list prune
    the exact-scoring pass to documents still competitive at rank k.
    The ORACLE is the plain exact ranking — a hash MATCH certifies the
    pruning is lossless, the same grading contract as
    containment_dedup_join and the minhash eval."""
    from redshells_spark.text.bm25 import bm25_wand_topk

    docs = _t(spark, sf_dir, "documents")
    return bm25_wand_topk(docs, ("spark", "hash", "stream"), k=15)


# ----------------------------------- 2-D orthogonal Procrustes readout


@q(
    "procrustes_embedding_align",
    """WITH x AS (
         SELECT CAST(floor(embedding[1]::DOUBLE * 1000000
                           + CAST(0.5 AS DOUBLE)) AS BIGINT) AS a1,
                CAST(floor(embedding[2]::DOUBLE * 1000000
                           + CAST(0.5 AS DOUBLE)) AS BIGINT) AS a2,
                CAST(floor(embedding[3]::DOUBLE * 1000000
                           + CAST(0.5 AS DOUBLE)) AS BIGINT) AS b1,
                CAST(floor(embedding[4]::DOUBLE * 1000000
                           + CAST(0.5 AS DOUBLE)) AS BIGINT) AS b2
         FROM embeddings),
       s AS (SELECT CAST(count(*) AS BIGINT) AS n,
                    CAST(sum(a1 * b1) AS BIGINT) AS mxx,
                    CAST(sum(a1 * b2) AS BIGINT) AS mxy,
                    CAST(sum(a2 * b1) AS BIGINT) AS myx,
                    CAST(sum(a2 * b2) AS BIGINT) AS myy,
                    CAST(sum(a1 * a1 + a2 * a2) AS BIGINT) AS sa,
                    CAST(sum(b1 * b1 + b2 * b2) AS BIGINT) AS sb
             FROM x)
       SELECT n,
              round(atan2(CAST(mxy - myx AS DOUBLE),
                          CAST(mxx + myy AS DOUBLE)), 6) AS theta,
              round(sqrt(CAST(mxx + myy AS DOUBLE)
                         * CAST(mxx + myy AS DOUBLE)
                         + CAST(mxy - myx AS DOUBLE)
                           * CAST(mxy - myx AS DOUBLE))
                    / sqrt(CAST(sa AS DOUBLE) * CAST(sb AS DOUBLE)), 6)
                AS congruence,
              round((CAST(sa AS DOUBLE) + CAST(sb AS DOUBLE)
                     - CAST(2 AS DOUBLE)
                       * sqrt(CAST(mxx + myy AS DOUBLE)
                              * CAST(mxx + myy AS DOUBLE)
                              + CAST(mxy - myx AS DOUBLE)
                                * CAST(mxy - myx AS DOUBLE)))
                    / CAST(1000000000000 AS DOUBLE), 4) AS residual
       FROM s""",
)
def _procrustes_embedding_align(spark, sf_dir):
    """2-D orthogonal Procrustes alignment (Schönemann 1966) between
    two embedding sub-spaces (dims 1-2 as space A, dims 3-4 as space
    B) — the closed-form core of aligning embedding spaces across
    model versions (the full-rank case solves per 2-D plane exactly;
    higher-d uses SVD, same cross-covariance sufficient statistics).
    The optimal rotation angle is atan2(Mxy-Myx, Mxx+Myy) over four
    exact int64 cross-covariance sums of e6-quantized coordinates; the
    congruence (trace norm / geometric mean of energies) and the
    residual ||AR-B||^2 = sa+sb-2*tracenorm are single fixed IEEE
    trees over the same six integers. One map-combined aggregate —
    nothing else — so the plan is a pure scan+combine at any scale."""
    emb = _t(spark, sf_dir, "embeddings")

    def _q6(i):
        return (
            F.floor(
                F.element_at("embedding", i).cast("double") * 1000000 + F.lit(0.5)
            )
            .cast("long")
        )

    x = emb.select(
        _q6(1).alias("a1"), _q6(2).alias("a2"), _q6(3).alias("b1"), _q6(4).alias("b2")
    )
    s = x.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("a1") * F.col("b1")).cast("long").alias("mxx"),
        F.sum(F.col("a1") * F.col("b2")).cast("long").alias("mxy"),
        F.sum(F.col("a2") * F.col("b1")).cast("long").alias("myx"),
        F.sum(F.col("a2") * F.col("b2")).cast("long").alias("myy"),
        F.sum(F.col("a1") * F.col("a1") + F.col("a2") * F.col("a2"))
        .cast("long")
        .alias("sa"),
        F.sum(F.col("b1") * F.col("b1") + F.col("b2") * F.col("b2"))
        .cast("long")
        .alias("sb"),
    )
    tr = F.sqrt(
        (F.col("mxx") + F.col("myy")).cast("double")
        * (F.col("mxx") + F.col("myy")).cast("double")
        + (F.col("mxy") - F.col("myx")).cast("double")
        * (F.col("mxy") - F.col("myx")).cast("double")
    )
    return s.select(
        "n",
        F.round(
            F.atan2(
                (F.col("mxy") - F.col("myx")).cast("double"),
                (F.col("mxx") + F.col("myy")).cast("double"),
            ),
            6,
        ).alias("theta"),
        F.round(
            tr / F.sqrt(F.col("sa").cast("double") * F.col("sb").cast("double")), 6
        ).alias("congruence"),
        F.round(
            (F.col("sa").cast("double") + F.col("sb").cast("double") - F.lit(2.0) * tr)
            / F.lit(1.0e12),
            4,
        ).alias("residual"),
    )
