"""Scale-honesty guards on the similarity tier.

The round-1 verdict flagged three traps that were green on small data
but unbounded at scale: a "blocked" pairwise similarity that actually
cross-joined, unguarded driver collects on the broadcast tier, and an
uncheckpointed iterative component loop. These tests pin the fixes:
results unchanged, plans bounded, oversized inputs fail loudly.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from redshells_spark.functions.vector import cosine_similarity, dot_product
from redshells_spark.operators.joins import blocked_pairwise_similarity
from redshells_spark.similarity.allpairs import all_pairs_above_threshold
from redshells_spark.similarity.ann import brute_force_topk, lsh_pairs_above_threshold


def _plan(df) -> str:
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


@pytest.fixture(scope="module")
def small(emb):
    return emb.filter(F.col("vec_id") < 60).select("vec_id", "embedding").cache()


def _expected_pairs(small, upper: bool, metric: str):
    a = small.select(F.col("vec_id").alias("id0"), F.col("embedding").alias("__e0"))
    b = small.select(F.col("vec_id").alias("id1"), F.col("embedding").alias("__e1"))
    joined = a.crossJoin(b)
    if upper:
        joined = joined.filter(F.col("id0") < F.col("id1"))
    sim = dot_product("__e0", "__e1") if metric == "dot" else cosine_similarity("__e0", "__e1")
    return {
        (r["id0"], r["id1"]): r["s"]
        for r in joined.select("id0", "id1", sim.alias("s")).collect()
    }


@pytest.mark.parametrize("upper", [True, False])
def test_blocked_pairwise_matches_cross_join(small, upper):
    got = {
        (r["id0"], r["id1"]): r["similarity"]
        for r in blocked_pairwise_similarity(
            small, block_size=17, upper_triangular=upper
        ).collect()
    }
    want = _expected_pairs(small, upper, "dot")
    assert set(got) == set(want)
    for k in want:
        assert got[k] == pytest.approx(want[k], rel=1e-12)


def test_blocked_pairwise_is_an_equi_join(small):
    plan = _plan(blocked_pairwise_similarity(small, block_size=17))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_blocked_pairwise_refuses_unbounded(spark):
    big = spark.range(2_000_000).select(
        F.col("id").alias("vec_id"), F.array(F.lit(1.0)).alias("embedding")
    )
    with pytest.raises(ValueError, match="lsh_pairs_above_threshold"):
        blocked_pairwise_similarity(big)


def test_all_pairs_collect_guard(small):
    with pytest.raises(ValueError, match="max_broadcast_rows"):
        all_pairs_above_threshold(small, threshold=0.9, max_broadcast_rows=10)


def test_brute_force_topk_collect_guard(small, emb):
    q = small.select(F.col("vec_id").alias("query_id"), "embedding")
    with pytest.raises(ValueError, match="max_broadcast_rows"):
        brute_force_topk(q, emb, k=3, max_broadcast_rows=10)


def test_lsh_pairs_precision_exact_recall_positive(emb):
    sub = emb.filter(F.col("vec_id") < 500).select("vec_id", "embedding")
    exact = {
        (r["id0"], r["id1"]): r["similarity"]
        for r in all_pairs_above_threshold(sub, threshold=0.5).collect()
    }
    approx = {
        (r["id0"], r["id1"]): r["similarity"]
        for r in lsh_pairs_above_threshold(
            sub, threshold=0.5, num_planes=16, num_blocks=8
        ).collect()
    }
    # precision is exact: every emitted pair is verified with true cosine
    for k, v in approx.items():
        assert k in exact
        assert v == pytest.approx(exact[k], rel=1e-12)
    # recall is approximate but must beat trivial
    if exact:
        assert len(approx) / len(exact) > 0.3


def test_lsh_pairs_skew_guard_drops_degenerate_buckets(spark):
    # all-identical vectors: every row lands in the same bucket in
    # every block → without the guard this is an n² self-join. With
    # max_bucket_size below n, the degenerate buckets are dropped and
    # the result is empty instead of quadratic.
    n = 500
    same = spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.array(F.lit(1.0), F.lit(0.5), F.lit(-0.25)).alias("embedding"),
    )
    out = lsh_pairs_above_threshold(
        same, threshold=0.5, num_planes=8, num_blocks=4, max_bucket_size=100
    )
    assert out.count() == 0


def test_mf_item_similarity_refuses_unbounded_no_threshold(spark):
    from redshells_spark.ml.matrix_factorization import mf_item_similarity

    class _FakeModel:
        pass

    class _FakeMF:
        model = _FakeModel()

    fake = _FakeMF()
    fake.model.itemFactors = spark.range(50).select(
        F.col("id"), F.array(F.lit(1.0), F.lit(0.0)).cast("array<float>").alias("features")
    )
    with pytest.raises(ValueError, match="threshold"):
        mf_item_similarity(fake, threshold=None, max_exact_items=10)
    # with a threshold the big-catalog path routes through LSH buckets
    out = mf_item_similarity(fake, threshold=0.99, max_exact_items=10)
    assert {c for c in out.columns} == {"id0", "id1", "similarity"}
    rows = out.collect()
    assert all(r["similarity"] >= 0.99 for r in rows)


def test_connected_components_plan_is_truncated(spark):
    from redshells_spark.dedup.minhash import connected_components_dedup

    # a 64-node path graph needs several label-propagation rounds
    pairs = spark.range(63).select(
        F.col("id").alias("doc_id_0"), (F.col("id") + 1).alias("doc_id_1")
    )
    out = connected_components_dedup(pairs, max_iterations=10)
    assert out.groupBy("keep_id").count().count() == 1  # one component
    assert {r["keep_id"] for r in out.collect()} == {0}
    # lineage is cut every iteration: the returned plan is a projection
    # over a materialized checkpoint, not 10 stacked joins
    analyzed = out._jdf.queryExecution().analyzed().toString()
    assert "Join" not in analyzed
