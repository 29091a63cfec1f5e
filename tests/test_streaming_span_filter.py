"""Streaming span-level decontamination e2e: any micro-batching of an
input reproduces the batch decontaminate_spans output exactly (the
benchmark index is frozen, so the operator is stateless across
batches)."""

from __future__ import annotations

from pyspark.sql import functions as F

from redshells_spark.dedup.spans import decontaminate_spans
from redshells_spark.streaming.span_filter import (
    SpanFilterIngest,
    build_benchmark_shingle_index,
)
from redshells_spark.streaming.state import start_ingest
from redshells_spark.text.tokenize import tokenize_on_space

SCHEMA = "doc_id long, text string"

BENCH = [(100, "q1 q2 q3 q4 q5"), (101, "s1 s2 s3 s4")]

BATCHES = [
    [(1, "x q1 q2 q3 q4 y z"), (2, "a b c d e f")],
    [(3, "s1 s2 s3 s4"), (4, "w q2 q3 q4 q5 v s2 s3 s4 s1")],
    [(5, "clean doc entirely")],
]


def _run_stream(spark, tmp_path, k=4):
    base = tmp_path / "state"
    n = build_benchmark_shingle_index(
        spark.createDataFrame(BENCH, SCHEMA), str(base / "benchmark_shingles"),
        shingle_len=k,
    )
    assert n > 0
    src = tmp_path / "src"
    src.mkdir()
    for i, batch in enumerate(BATCHES):
        spark.createDataFrame(batch, SCHEMA).coalesce(1).write.parquet(
            str(src / f"b{i}.parquet")
        )
    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*.parquet"))
    )
    ingest = SpanFilterIngest(base_path=str(base), shingle_len=k)
    q = start_ingest(stream, ingest, "span_filter_test")
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.read.parquet(str(base / "corpus")), ingest


def test_streaming_matches_batch_decontaminate(spark, tmp_path):
    corpus, ingest = _run_stream(spark, tmp_path)
    got = {
        r["doc_id"]: (r["text"], r["n_tokens"], r["n_removed"])
        for r in corpus.collect()
    }
    all_docs = spark.createDataFrame([r for b in BATCHES for r in b], SCHEMA)
    toks = tokenize_on_space(all_docs, "text", "tokens", lowercase=True)
    bench_toks = tokenize_on_space(
        spark.createDataFrame(BENCH, SCHEMA), "text", "tokens", lowercase=True
    )
    want = {
        r["doc_id"]: (
            " ".join(r["kept_tokens"]),
            len(r["kept_tokens"]),
            r["n_removed"],
        )
        for r in decontaminate_spans(toks, bench_toks, shingle_len=4).collect()
    }
    assert got == want
    # doc 1: the 4-gram q1..q4 cut, x/y/z survive
    assert got[1] == ("x y z", 3, 4)
    # doc 3: fully leaked -> empty text
    assert got[3] == ("", 0, 4)
    # doc 5: untouched
    assert got[5] == ("clean doc entirely", 3, 0)


def test_streaming_span_filter_stats(spark, tmp_path):
    _, ingest = _run_stream(spark, tmp_path)
    assert len(ingest.stats) == len(BATCHES)
    total_docs = sum(s["n_docs"] for s in ingest.stats)
    assert total_docs == sum(len(b) for b in BATCHES)
    # batch 1 (docs 3, 4) is the heavy one: doc 3 fully cut, doc 4 has
    # two leaked spans (q2..q5 and s2 s3 s4 s1 -> the s-span is the
    # rotated 4-gram: only s1..s4-aligned windows hit; verify counts
    # via the recorded totals rather than re-deriving here
    assert ingest.stats[1]["n_contaminated_docs"] >= 1
    removed_total = sum(s["n_removed_tokens"] for s in ingest.stats)
    got_removed = (
        spark.read.parquet(str(tmp_path / "state" / "corpus"))
        .agg(F.sum("n_removed"))
        .collect()[0][0]
    )
    assert removed_total == got_removed
