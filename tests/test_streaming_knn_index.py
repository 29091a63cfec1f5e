"""Streaming k-NN graph index: ingest, search recall, refresh."""

from __future__ import annotations

import pytest

import pyspark.sql.functions as F

from redshells_spark.streaming.knn_index import KnnGraphIngest
from redshells_spark.streaming.state import start_ingest

pytestmark = pytest.mark.usefixtures("state_ddl_check")

SF = "/root/testdata/sf0.001"


@pytest.mark.slow  # measured >=10s (round-9 tiering)
def test_streamed_index_recall(spark, tmp_path):
    from redshells_spark.similarity.ann import brute_force_topk

    emb = spark.read.parquet(f"{SF}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    src = tmp_path / "src"
    src.mkdir()
    # three deltas: 300 + 100 + 100 vectors
    for i, (lo, hi) in enumerate([(0, 300), (300, 400), (400, 500)]):
        emb.filter((F.col("vec_id") >= lo) & (F.col("vec_id") < hi)).coalesce(
            1
        ).write.parquet(str(src / f"b{i}.parquet"))
    stream = (
        spark.readStream.schema(emb.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*.parquet"))
    )
    ingest = KnnGraphIngest(base_path=str(tmp_path / "state"), k=10)
    q = start_ingest(stream, ingest, "knn_index_test")
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert [s["n_vectors"] for s in ingest.stats] == [300, 400, 500]
    graph = spark.read.parquet(str(tmp_path / "state" / "graph"))
    assert graph.select("src").distinct().count() == 500

    # search the maintained index from 20 queries spanning all batches
    qv = emb.filter(F.col("vec_id") % 25 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = ingest.search(spark, qv, k=10).cache()
    exact = brute_force_topk(qv, emb, k=10).cache()
    hits = got.join(exact.select("query_id", "vec_id"), ["query_id", "vec_id"]).count()
    recall = hits / exact.count()
    assert recall >= 0.75, recall

    # refresh (NN-descent compaction) must not hurt recall
    ingest.refresh(spark)
    got2 = ingest.search(spark, qv, k=10)
    hits2 = got2.join(exact.select("query_id", "vec_id"), ["query_id", "vec_id"]).count()
    assert hits2 / exact.count() >= recall - 0.05
