"""Streaming corpus ingest e2e: micro-batches exact+near-deduped against
persisted state; survivors appended to corpus/index/fingerprints/
signatures."""

from __future__ import annotations

import glob

import pytest
from py4j.protocol import Py4JJavaError
from pyspark.sql import Window
from pyspark.sql import functions as F

from redshells_spark.streaming import ingest as ingest_module
from redshells_spark.streaming.ingest import CorpusIngest
from redshells_spark.streaming.state import start_ingest

pytestmark = pytest.mark.usefixtures("state_ddl_check")

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


@pytest.fixture(scope="module")
def vocab(spark):
    # every token in the fixture corpus, deterministic ids — the ingest
    # contract is a FIXED vocab shared with the corpus index
    tokens = sorted({t for b in BATCHES for _, text in b for t in text.split()})
    df = spark.createDataFrame([(t,) for t in tokens], "token string")
    w = Window.partitionBy().orderBy("token")
    return df.withColumn("token_id", F.row_number().over(w).cast("long") - 1)


def _jobs(spark, group, fn):
    """→ (fn(), number of Spark jobs fn ran), counted under a job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


# one batch against BATCHES[0]'s state that takes every drop path
DIRECT_BATCH = [
    (3, "the quick brown fox jumps over the lazy dog"),  # exact dup of accepted 1
    (4, "the quick brown fox jumps over the lazy cat"),  # near dup of accepted 1
    (5, "another fresh document with novel content entirely"),
    (7, "alpha beta gamma delta epsilon zeta eta theta"),
    (8, "alpha beta gamma delta epsilon zeta eta iota"),  # near dup of 7, same batch
    (9, "alpha beta gamma delta epsilon zeta eta theta"),  # exact dup of 7, same batch
    (10, "lorem ipsum dolor"),  # no in-vocab token: no shingle, no signature
]


@pytest.fixture(scope="module")
def direct(spark, vocab, tmp_path_factory, round_trips):
    """Two direct ``process_batch`` calls into one state: BATCHES[0],
    then DIRECT_BATCH → (ingest, base path, jobs of the second batch,
    py4j round trips of the second batch)."""
    base = str(tmp_path_factory.mktemp("direct") / "state")
    ingest = CorpusIngest(base_path=base, vocab=vocab, threshold=0.3)
    ingest.process_batch(spark.createDataFrame(BATCHES[0], "doc_id long, text string"), 0)
    batch = spark.createDataFrame(DIRECT_BATCH, "doc_id long, text string")
    (_, trips), jobs = _jobs(
        spark, "corpus_ingest_direct", lambda: round_trips(lambda: ingest.process_batch(batch, 1))
    )
    return ingest, base, jobs, trips


def _ids(spark, path):
    return sorted({r["doc_id"] for r in spark.read.parquet(path).select("doc_id").collect()})


def test_direct_batch_drop_paths_sinks_and_stats(spark, direct):
    ingest, base, jobs, trips = direct
    # 3 exact vs corpus, 4 near vs corpus, 8 near within batch, 9 exact
    # within batch; 10 has no signature and is accepted
    assert _ids(spark, f"{base}/corpus") == [1, 2, 5, 7, 10]
    assert spark.read.parquet(f"{base}/fingerprints").count() == 5
    # the signature-less doc reaches neither signatures nor index
    assert _ids(spark, f"{base}/signatures") == [1, 2, 5, 7]
    assert _ids(spark, f"{base}/index") == [1, 2, 5, 7]
    assert spark.read.parquet(f"{base}/index").count() == 4 * 4
    assert ingest.stats[-1]["n_in"] == len(DIRECT_BATCH)
    assert ingest.stats[-1]["n_accepted"] == 3
    assert jobs <= 35
    # the driver's fixed cost: 10.6k with PySpark's call-site
    # capture on, 4.2k with it off and Column-tree MinHash builders,
    # 1.77k-1.93k with the builders as SQL expressions
    assert trips <= 2100


def test_state_ddl_matches_what_the_processor_writes(spark, direct):
    ingest, base, _, _ = direct
    for name, ddl in ingest.state_ddl().items():
        written = spark.read.parquet(f"{base}/{name}").drop("__b", "band")
        assert written.schema.simpleString() == (
            spark.createDataFrame([], ddl).schema.simpleString()
        ), name


def test_a_batch_releases_its_pins(spark, vocab, tmp_path):
    # the docs pin, the accepted pin and each compaction snapshot are
    # released when the batch ends, not when the JVM collects them
    def persistent():
        return set(spark.sparkContext._jsc.getPersistentRDDs().keys())

    ingest = CorpusIngest(base_path=str(tmp_path / "state"), vocab=vocab, threshold=0.3)
    before = persistent()
    ingest.process_batch(spark.createDataFrame(BATCHES[0], "doc_id long, text string"), 0)
    ingest.process_batch(spark.createDataFrame(DIRECT_BATCH, "doc_id long, text string"), 1)
    assert ingest.stats[-1]["files_compacted"] > 0  # a snapshot was taken
    assert persistent() - before == set()


def _failing_batch(spark, vocab, tmp_path, error):
    """Run BATCHES[0] into fresh state where one sink fails with
    ``error`` → the state's base path."""
    base = tmp_path / "state"
    ingest = CorpusIngest(base_path=str(base), vocab=vocab, threshold=0.3)
    with pytest.raises(error):
        ingest.process_batch(spark.createDataFrame(BATCHES[0], "doc_id long, text string"), 0)
    assert ingest.stats == []
    return base


def test_corpus_failure_leaves_dedup_state_untouched(spark, vocab, tmp_path):
    # a re-run of the batch must not find its own docs in the dedup
    # state: corpus commits before any state sink starts
    (tmp_path / "state").mkdir()
    (tmp_path / "state" / "corpus").write_text("not a directory")
    base = _failing_batch(spark, vocab, tmp_path, Py4JJavaError)
    for name in ("fingerprints", "signatures", "index"):
        assert not (base / name).exists(), name


def test_state_sink_failure_raises_after_every_sink_finished(
    spark, vocab, tmp_path, monkeypatch
):
    compact = ingest_module._compact_bucket

    def fail_on_index(spark, path, bucket, schema):
        if path.endswith("/index"):
            raise RuntimeError("index compaction failed")
        return compact(spark, path, bucket, schema)

    monkeypatch.setattr(ingest_module, "_compact_bucket", fail_on_index)
    base = _failing_batch(spark, vocab, tmp_path, RuntimeError)
    # corpus, the index append and the other two state chains all ran
    for name in ("corpus", "signatures", "index"):
        assert _ids(spark, str(base / name)) == [1, 2], name
    assert spark.read.parquet(str(base / "fingerprints")).count() == 2


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
