"""Streaming corpus ingest e2e: micro-batches exact+near-deduped against
persisted state; survivors appended to corpus/index/fingerprints."""

from __future__ import annotations

import glob

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from redshells_spark.streaming.ingest import CorpusIngest
from redshells_spark.streaming.state import start_ingest

BATCHES = [
    [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "completely different text about spark engines here"),
    ],
    [
        (3, "the quick brown fox jumps over the lazy dog"),  # exact dup of 1
        (4, "the quick brown fox jumps over the lazy cat"),  # near dup of 1
        (5, "another fresh document with novel content entirely"),
    ],
    [
        (6, "the quick brown fox jumps over the lazy cat"),  # near dup of 1 (again)
        (7, "alpha beta gamma delta epsilon zeta eta theta"),
        (8, "alpha beta gamma delta epsilon zeta eta iota"),  # near dup of 7, same batch
        (9, "alpha beta gamma delta epsilon zeta eta theta"),  # exact dup of 7, same batch
    ],
]


@pytest.fixture()
def vocab(spark):
    # every token in the fixture corpus, deterministic ids — the ingest
    # contract is a FIXED vocab shared with the corpus index
    tokens = sorted({t for b in BATCHES for _, text in b for t in text.split()})
    df = spark.createDataFrame([(t,) for t in tokens], "token string")
    w = Window.partitionBy().orderBy("token")
    return df.withColumn("token_id", F.row_number().over(w).cast("long") - 1)


@pytest.fixture()
def stream_dir(spark, tmp_path):
    d = tmp_path / "docs"
    d.mkdir()
    for i, batch in enumerate(BATCHES):
        # one part-file per batch — the file source triggers per FILE,
        # and within-batch dedup semantics need each batch in one trigger
        spark.createDataFrame(batch, "doc_id long, text string").coalesce(
            1
        ).write.parquet(str(d / f"batch{i}.parquet"))
    return d


@pytest.mark.slow  # measured >=10s (round-9 tiering)
def test_corpus_ingest_end_to_end(spark, vocab, stream_dir, tmp_path):
    ingest = CorpusIngest(
        base_path=str(tmp_path / "state"), vocab=vocab, threshold=0.3
    )
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(stream_dir / "*.parquet"))
    )
    q = start_ingest(stream, ingest, "ingest_test")
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    corpus = spark.read.parquet(str(tmp_path / "state" / "corpus"))
    accepted = sorted(r["doc_id"] for r in corpus.collect())
    # 1,2 from batch0; 3 exact-dup, 4 near-dup; 5 fresh; 6 near-dup of
    # indexed 1; 7 kept, 8 near-dup within batch (larger id), 9 exact
    # dup within batch
    assert accepted == [1, 2, 5, 7]

    fps = spark.read.parquet(str(tmp_path / "state" / "fingerprints"))
    assert fps.count() == 4
    index = spark.read.parquet(str(tmp_path / "state" / "index"))
    assert {r["doc_id"] for r in index.select("doc_id").distinct().collect()} == {1, 2, 5, 7}
    # 4 bands per accepted doc
    assert index.count() == 16
    sigs = spark.read.parquet(str(tmp_path / "state" / "signatures"))
    assert sigs.count() == 4

    # per-batch accounting surfaced to the caller (micro-batch file
    # order is an engine detail — assert the totals, not the split)
    assert len(ingest.stats) == 3
    assert sum(s["n_accepted"] for s in ingest.stats) == 4
    assert sum(s["n_in"] for s in ingest.stats) == 9


@pytest.mark.slow  # measured >=10s (round-9 tiering)
def test_corpus_ingest_resumes_from_state(spark, vocab, stream_dir, tmp_path):
    # run batch0 alone, then a new ingest instance (fresh process,
    # same state dir) must still reject batch1's dups against batch0
    base = str(tmp_path / "state2")
    ingest = CorpusIngest(base_path=base, vocab=vocab, threshold=0.3)
    files = sorted(glob.glob(str(stream_dir / "*.parquet")))
    b0 = spark.read.parquet(files[0])
    ingest.process_batch(b0, 0)

    fresh = CorpusIngest(base_path=base, vocab=vocab, threshold=0.3)
    b1 = spark.read.parquet(files[1])
    fresh.process_batch(b1, 1)
    corpus = spark.read.parquet(f"{base}/corpus")
    assert sorted(r["doc_id"] for r in corpus.collect()) == [1, 2, 5]
