"""Streaming DSIR e2e: scoring micro-batches against a frozen
reference reproduces the batch weights exactly, for any batching."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from redshells_spark.data.dsir import dsir_log_weights
from redshells_spark.streaming.dsir import (
    DsirScoreIngest,
    freeze_dsir_reference,
)
from redshells_spark.streaming.state import start_ingest

SCHEMA = "doc_id long, text string, is_t boolean"

CORPUS = [
    (0, "aa aa aa aa", True),
    (1, "aa aa bb cc", True),
    (2, "bb bb bb bb", False),
    (3, "bb bb bb cc", False),
    (4, "aa aa aa cc", False),
    (5, "bb cc bb bb", False),
]


@pytest.fixture(scope="module")
def frozen(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("dsir") / "ref_stats")
    df = spark.createDataFrame(CORPUS, SCHEMA)
    freeze_dsir_reference(df, F.col("is_t"), path, num_buckets=16)
    return path


def test_streaming_scores_match_batch(spark, tmp_path, frozen):
    src = tmp_path / "src"
    src.mkdir()
    for i, batch in enumerate([CORPUS[:2], CORPUS[2:5], CORPUS[5:]]):
        spark.createDataFrame(batch, SCHEMA).coalesce(1).write.parquet(
            str(src / f"b{i}.parquet")
        )
    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*.parquet"))
    )
    ingest = DsirScoreIngest(
        base_path=str(tmp_path / "state"), stats_path=frozen, num_buckets=16
    )
    q = start_ingest(stream, ingest, "dsir_test")
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    scored = spark.read.parquet(str(tmp_path / "state" / "scored"))
    got = {r["doc_id"]: r["log_weight"] for r in scored.collect()}
    want = {
        r["doc_id"]: r["log_weight"]
        for r in dsir_log_weights(
            spark.createDataFrame(CORPUS, SCHEMA), F.col("is_t"), num_buckets=16
        ).collect()
    }
    assert got == want  # exact float equality: same frozen stats, same plan
    # keep flag honors the threshold and the per-batch stats add up
    keeps = {r["doc_id"]: r["keep"] for r in scored.collect()}
    assert keeps == {d: (w >= 0.0) for d, w in want.items()}
    assert sum(s["n_docs"] for s in ingest.stats) == len(CORPUS)
    assert len(ingest.stats) == 3  # one entry per micro-batch


def test_docs_with_no_scorable_grams_land_in_scored(spark, tmp_path, frozen):
    # ADVICE r4: empty-text docs (no grams) used to vanish from
    # scored/ via the inner joins — neither kept nor rejected, and
    # n_docs undercounted. They must land with an explicit neutral
    # decision (log_weight 0.0, keep decided by the threshold).
    src = tmp_path / "src"
    src.mkdir()
    batch = [(10, "aa aa bb", True), (11, "", True), (12, "   ", False)]
    spark.createDataFrame(batch, SCHEMA).coalesce(1).write.parquet(
        str(src / "b0.parquet")
    )
    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*.parquet"))
    )
    ingest = DsirScoreIngest(
        base_path=str(tmp_path / "state"), stats_path=frozen, num_buckets=16
    )
    q = start_ingest(stream, ingest, "dsir_empty_test")
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    scored = spark.read.parquet(str(tmp_path / "state" / "scored"))
    rows = {r["doc_id"]: r for r in scored.collect()}
    assert set(rows) == {10, 11, 12}  # every batch doc present
    assert rows[11]["log_weight"] == 0.0 and rows[11]["keep"] is True
    assert rows[12]["log_weight"] == 0.0 and rows[12]["keep"] is True
    assert ingest.stats[0]["n_docs"] == 3
