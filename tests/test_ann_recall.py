"""ANN quality: recall@k of the approximate tiers vs brute force.

The scale path (LSH / IVF) is only useful if recall is quantified —
this pins it on the driver testdata so regressions in bucketing or
probing parameters are caught.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from redshells_spark.similarity.ann import (
    brute_force_topk,
    ivf_build_index,
    ivf_topk,
    lsh_topk,
)

K = 10
N_QUERIES = 20


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


@pytest.fixture(scope="module")
def queries_df(emb):
    return emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )


@pytest.fixture(scope="module")
def truth(queries_df, emb):
    exact = brute_force_topk(queries_df, emb, k=K)
    return {
        (r["query_id"], r["vec_id"]) for r in exact.collect()
    }


def _recall(approx_df, truth) -> float:
    got = {(r["query_id"], r["vec_id"]) for r in approx_df.collect()}
    return len(got & truth) / len(truth)


def test_brute_force_topk_is_exact(queries_df, emb):
    import numpy as np

    rows = emb.select("vec_id", "embedding").collect()
    ids = np.array([r["vec_id"] for r in rows])
    unit = np.array([r["embedding"] for r in rows], dtype=np.float64)
    unit /= np.linalg.norm(unit, axis=1)[:, None]
    got = {}
    for r in brute_force_topk(queries_df, emb, k=K).collect():
        got.setdefault(r["query_id"], []).append((r["rank"], r["vec_id"], r["score"]))
    assert sorted(got) == list(range(N_QUERIES))
    for q, hits in got.items():
        scores = unit @ unit[ids == q][0]
        best = np.lexsort((ids, -scores))[:K]  # score desc, then vec_id asc
        hits.sort()
        assert [h[0] for h in hits] == list(range(1, K + 1))
        assert [h[1] for h in hits] == ids[best].tolist()
        assert [h[2] for h in hits] == pytest.approx(scores[best].tolist(), abs=1e-12)


def test_lsh_recall(queries_df, emb, truth):
    approx = lsh_topk(queries_df, emb, k=K, num_planes=16, num_blocks=8)
    r = _recall(approx, truth)
    # 8 probes of 2-bit blocks on near-random 64-d vectors: a candidate
    # filter, not an exact search — but must beat random (K/500 ≈ 0.02)
    # by a wide margin and keep perfect self-recall
    assert r > 0.5, f"LSH recall@{K} = {r}"


def test_lsh_multiprobe_recall_dominates(queries_df, emb, truth):
    base = lsh_topk(queries_df, emb, k=K, num_planes=16, num_blocks=8)
    probed = lsh_topk(queries_df, emb, k=K, num_planes=16, num_blocks=8, multiprobe=1)
    r_base, r_probe = _recall(base, truth), _recall(probed, truth)
    # Hamming-1 probing can only add candidates → recall never drops,
    # and on this corpus it should be near-exact
    assert r_probe >= r_base
    assert r_probe > 0.9, f"multiprobe recall@{K} = {r_probe}"


def test_lsh_broadcast_guard_fails_loudly(queries_df, emb):
    with pytest.raises(ValueError, match="max_broadcast_rows") as err:
        lsh_topk(queries_df, emb, k=K, dim=64, max_broadcast_rows=3)
    assert "lsh_topk" in str(err.value) and "broadcast_queries" not in str(err.value)


def test_ivf_recall(queries_df, emb, truth):
    indexed, centroids = ivf_build_index(emb, num_centroids=16)
    approx = ivf_topk(queries_df, indexed, centroids, k=K, nprobe=8)
    r = _recall(approx, truth)
    assert r > 0.5, f"IVF recall@{K} (nprobe=8/16) = {r}"


def test_assign_to_centroids_matches_numpy(emb):
    """Relational argmin assignment == numpy argmin (with index
    tie-break), and every corpus row gets exactly one centroid."""
    import numpy as np

    from redshells_spark.similarity.ann import assign_to_centroids

    sample = emb.filter(F.col("vec_id") < 300)
    cent_rows = (
        emb.filter((F.col("vec_id") % 100 == 0) & (F.col("vec_id") < 500))
        .orderBy("vec_id").select("embedding").collect()
    )
    centroids = [[float(x) for x in r["embedding"]] for r in cent_rows]
    out = assign_to_centroids(sample, centroids)
    got = {r["vec_id"]: r["centroid"] for r in out.collect()}
    assert len(got) == sample.count()

    C = np.array(centroids, dtype=np.float64)
    for r in sample.collect():
        v = np.array(r["embedding"], dtype=np.float64)
        d = ((C - v) ** 2).sum(axis=1)
        assert got[r["vec_id"]] == int(np.argmin(d)), r["vec_id"]


def test_ivf_deterministic_recall(queries_df, emb, truth):
    from redshells_spark.similarity.ann import assign_to_centroids

    cent_rows = (
        emb.filter((F.col("vec_id") % 50 == 0) & (F.col("vec_id") < 800))
        .orderBy("vec_id").select("embedding").collect()
    )
    centroids = [[float(x) for x in r["embedding"]] for r in cent_rows]
    assigned = assign_to_centroids(emb, centroids)
    approx = ivf_topk(queries_df, assigned, centroids, k=K, nprobe=8)
    r = _recall(approx, truth)
    assert r > 0.5, f"deterministic-IVF recall@{K} = {r}"


def test_ivf_seed_centroids_deterministic_order(spark, sf_dir):
    from redshells_spark.similarity.ann import ivf_seed_centroids

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    a = ivf_seed_centroids(emb, num_centroids=8)
    b = ivf_seed_centroids(emb, num_centroids=8)
    assert a == b and len(a) == 8 and len(a[0]) == 64
    # prefix property: fewer centroids = prefix of more (rank order)
    c4 = ivf_seed_centroids(emb, num_centroids=4)
    assert a[:4] == c4


def test_sqrt_centroid_rule_scales_with_corpus(spark):
    """VERDICT r5 task: centroid count derives from N as max(16, ceil
    sqrt N) when the caller passes none — a 100x-larger corpus gets
    ~10x more centroids, keeping per-cluster population ~sqrt(N)
    instead of N/k_fixed (which is what detonates the quadratic
    within-cluster term at scale)."""
    import numpy as np

    from redshells_spark.similarity.ann import (
        assign_to_centroids,
        ivf_seed_centroids,
        sqrt_num_centroids,
    )

    # the pure rule: 100x rows -> 10x centroids (above the floor)
    assert sqrt_num_centroids(10_000) == 100
    assert sqrt_num_centroids(1_000_000) == 1_000
    assert sqrt_num_centroids(5) == 16  # floor

    rng = np.random.default_rng(7)

    def corpus(n):
        return spark.createDataFrame(
            [(i, [float(x) for x in rng.normal(size=4)]) for i in range(n)],
            "vec_id long, embedding array<double>",
        )

    small, big = corpus(400), corpus(40_000)
    c_small = ivf_seed_centroids(small, None)
    c_big = ivf_seed_centroids(big, None)
    assert len(c_small) == 20 and len(c_big) == 200  # 100x rows -> 10x k

    # per-cluster population stays ~N/k = sqrt(N): the max cluster in
    # the 100x corpus is ~10x the small one's, not ~100x (fixed k)
    def max_cluster(df, cents):
        sizes = (
            assign_to_centroids(df, cents)
            .groupBy("centroid")
            .count()
            .agg({"count": "max"})
            .collect()[0][0]
        )
        return sizes

    m_small, m_big = max_cluster(small, c_small), max_cluster(big, c_big)
    # expected means: 400/20=20 and 40000/200=200; allow generous slack
    # for uneven nearest-centroid cells but reject the fixed-k blowup
    assert m_big < 40 * m_small
    assert m_big < 2_500  # << 40_000/20 = 2_000 per cell under fixed k=20


def test_semantic_dedup_auto_centroids(spark):
    from redshells_spark.dedup.semantic import semantic_dedup

    rows = [(i, [1.0, 0.0, 0.0, 0.0]) for i in range(5)] + [
        (10 + i, [0.0, 1.0, float(i), 0.0]) for i in range(5)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    kept = semantic_dedup(df, None, threshold=0.99)
    ids = {r["vec_id"] for r in kept.collect()}
    # the 5 identical e0 vectors collapse to the lowest id
    assert 0 in ids and not ({1, 2, 3, 4} & ids)
