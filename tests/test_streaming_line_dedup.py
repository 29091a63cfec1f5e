"""Streaming line dedup e2e: replaying a doc_id-ordered log through
micro-batches reproduces the batch cross_doc_unit_dedup output, and
state survives across batches (boilerplate seen in batch 1 is dropped
in batch 3)."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from redshells_spark.dedup.lines import cross_doc_unit_dedup, split_units
from redshells_spark.streaming.line_dedup import LineDedupIngest
from redshells_spark.streaming.state import start_ingest

pytestmark = pytest.mark.usefixtures("state_ddl_check")

SCHEMA = "doc_id long, text string"

BATCHES = [
    [(1, "header\nalpha body\nfooter"), (2, "header\nbeta body\nfooter")],
    [(3, "gamma body\nheader")],
    [(4, "footer\ndelta body\nalpha body")],
]


def _run_stream(spark, tmp_path, batches, **kwargs):
    src = tmp_path / "src"
    src.mkdir()
    for i, batch in enumerate(batches):
        spark.createDataFrame(batch, SCHEMA).coalesce(1).write.parquet(
            str(src / f"b{i}.parquet")
        )
    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*.parquet"))
    )
    ingest = LineDedupIngest(base_path=str(tmp_path / "state"), **kwargs)
    q = start_ingest(stream, ingest, "line_dedup_test")
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    return spark.read.parquet(str(tmp_path / "state" / "corpus")), ingest


def test_streaming_matches_batch_keep_first(spark, tmp_path):
    corpus, ingest = _run_stream(
        spark, tmp_path, BATCHES, unit_sep="\n", joiner="\n"
    )
    got = {
        r["doc_id"]: (r["n_units"], r["n_dropped"], r["text"])
        for r in corpus.collect()
    }
    all_docs = spark.createDataFrame([r for b in BATCHES for r in b], SCHEMA)
    want = {
        r["doc_id"]: (r["n_units"], r["n_dropped"], r["text"])
        for r in cross_doc_unit_dedup(
            split_units(all_docs, sep="\n"), joiner="\n"
        ).collect()
    }
    assert got == want
    # cross-batch state: doc 3's header (first seen in batch 0) dropped
    assert got[3] == (2, 1, "gamma body")
    # doc 4 loses footer (batch 0) AND alpha body (batch 0)
    assert got[4] == (3, 2, "delta body")
    assert len(ingest.stats) == 3


@pytest.mark.slow  # measured >=10s (round-9 tiering)
def test_state_compaction_bounds_files(spark, tmp_path):
    """Rolling bucket compaction keeps the unit-hash state file count
    BOUNDED as batches accumulate (r5 verdict #6: at stream volume the
    per-batch state growth/rewrite is the ingest bottleneck) — and the
    dedup output stays exactly the batch operator's."""
    import glob

    # 8 batches; every batch shares the 'common line' unit with batch 0
    batches = [
        [(10 * i + 1, f"common line\nuniq {i} a"), (10 * i + 2, f"uniq {i} b\ncommon line")]
        for i in range(8)
    ]
    n_buckets = 4
    corpus, ingest = _run_stream(
        spark, tmp_path, batches, unit_sep="\n", joiner="\n",
        n_state_buckets=n_buckets,
    )
    # parity with the batch operator over the full log
    all_docs = spark.createDataFrame([r for b in batches for r in b], SCHEMA)
    got = {
        r["doc_id"]: (r["n_units"], r["n_dropped"], r["text"])
        for r in corpus.collect()
    }
    want = {
        r["doc_id"]: (r["n_units"], r["n_dropped"], r["text"])
        for r in cross_doc_unit_dedup(
            split_units(all_docs, sep="\n"), joiner="\n"
        ).collect()
    }
    assert got == want
    # bounded state: without compaction every batch leaves >= 1 file
    # per touched bucket (>= 8 * ~n_buckets here); with one bucket
    # compacted per batch the steady state is <= n_buckets files per
    # bucket (each bucket is revisited every n_buckets batches)
    files = glob.glob(str(tmp_path / "state" / "unit_hashes" / "__b=*" / "*.parquet"))
    per_bucket: dict[str, int] = {}
    for f in files:
        b = f.split("__b=")[1].split("/")[0]
        per_bucket[b] = per_bucket.get(b, 0) + 1
    assert per_bucket and max(per_bucket.values()) <= n_buckets
    assert len(files) <= n_buckets * n_buckets
    assert sum(s["files_compacted"] for s in ingest.stats) > 0


def test_streaming_token_block_mode(spark, tmp_path):
    batches = [
        [(1, "a b c d e f")],  # blocks (size 3): "a b c", "d e f"
        [(2, "a b c x y z")],  # first block duplicated from doc 1
    ]
    corpus, _ = _run_stream(spark, tmp_path, batches, block_tokens=3)
    got = {r["doc_id"]: (r["n_dropped"], r["text"]) for r in corpus.collect()}
    assert got[1] == (0, "a b c d e f")
    assert got[2] == (1, "x y z")
