"""Streaming sketches e2e: KMV batch-parity (stream == batch estimate),
MG state bounded, restart resume."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from redshells_spark.operators.sketches import kmv_distinct
from redshells_spark.streaming.state import start_ingest
from redshells_spark.streaming.stats import StreamingStats

pytestmark = pytest.mark.usefixtures("state_ddl_check")


@pytest.fixture()
def doc_batches(spark, tmp_path):
    d = tmp_path / "docs"
    d.mkdir()
    rows = [(i, f"src{i % 3}", f"doc body {i % 40}", f"doc body {i % 40}".split())
            for i in range(200)]
    for b in range(4):
        spark.createDataFrame(
            rows[b * 50 : (b + 1) * 50],
            "doc_id long, source string, text string, tokens array<string>",
        ).coalesce(1).write.parquet(str(d / f"b{b}.parquet"))
    return d, rows


def test_streaming_kmv_matches_batch(spark, doc_batches, tmp_path):
    d, rows = doc_batches
    stats = StreamingStats(
        base_path=str(tmp_path / "state"), group_column="source",
        value_column="text", token_column="tokens", kmv_k=16, mg_capacity=8,
    )
    stream = (
        spark.readStream.schema("doc_id long, source string, text string, tokens array<string>")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d / "*.parquet"))
    )
    q = start_ingest(stream, stats, "stats_test")
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    # KMV batch-parity: the streamed sketch must equal the batch sketch
    # over the same rows — mergeability is the whole point
    batch_df = spark.createDataFrame(
        rows, "doc_id long, source string, text string, tokens array<string>"
    )
    want = {
        r["source"]: r["kmv_estimate"]
        for r in kmv_distinct(batch_df, ["source"], "text", k=16).collect()
    }
    got = {r["source"]: r["kmv_estimate"] for r in stats.kmv_estimates(spark).collect()}
    assert got == want

    # MG state: bounded per group, and every hitter's stored count is a
    # valid lower bound of its true count
    hh = stats.heavy_hitters(spark, k=5).collect()
    assert hh, "no heavy hitters surfaced"
    true_counts = {
        (r["source"], r["token"]): r["cnt"]
        for r in batch_df.select("source", F.explode("tokens").alias("token"))
        .groupBy("source", "token")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    }
    for r in hh:
        assert r["cnt_lower"] <= true_counts[(r["source"], r["token"])]


def test_streaming_stats_resume(spark, doc_batches, tmp_path):
    d, rows = doc_batches
    base = str(tmp_path / "state2")
    s1 = StreamingStats(base_path=base, group_column="source", value_column="text",
                        token_column="tokens", kmv_k=16, mg_capacity=8)
    b0 = spark.createDataFrame(
        rows[:50], "doc_id long, source string, text string, tokens array<string>"
    )
    s1.process_batch(b0, 0)
    # fresh instance, same state dir — folds batch 1 on top of batch 0
    s2 = StreamingStats(base_path=base, group_column="source", value_column="text",
                        token_column="tokens", kmv_k=16, mg_capacity=8)
    b1 = spark.createDataFrame(
        rows[50:100], "doc_id long, source string, text string, tokens array<string>"
    )
    s2.process_batch(b1, 1)
    both = spark.createDataFrame(
        rows[:100], "doc_id long, source string, text string, tokens array<string>"
    )
    want = {
        r["source"]: r["kmv_estimate"]
        for r in kmv_distinct(both, ["source"], "text", k=16).collect()
    }
    got = {r["source"]: r["kmv_estimate"] for r in s2.kmv_estimates(spark).collect()}
    assert got == want
