"""Streaming BM25 index stats: folding micro-batches reproduces the
batch corpus statistics exactly (integer sums, any batching)."""

from __future__ import annotations

from redshells_spark.streaming.bm25_stats import (
    Bm25StatsIngest,
    corpus_index_stats,
)
from redshells_spark.streaming.state import start_ingest

import pytest

# measured >=10s in the round-9 duration profile (pytest.ini tiering)
pytestmark = [pytest.mark.slow, pytest.mark.usefixtures("state_ddl_check")]

SCHEMA = "doc_id long, text string"

BATCHES = [
    [(0, "spark join spark window"), (1, "join the table")],
    [(2, "window window join")],
    [(3, "spark stream stream"), (4, "the")],
]


def test_streamed_stats_match_batch_exactly(spark, tmp_path):
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
    ingest = Bm25StatsIngest(base_path=str(tmp_path / "state"))
    q = start_ingest(stream, ingest, "bm25_stats_test")
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    got_terms = {
        r["term"]: r["df"]
        for r in spark.read.parquet(str(tmp_path / "state" / "term_stats")).collect()
    }
    got_tot = spark.read.parquet(str(tmp_path / "state" / "totals")).collect()[0]

    all_docs = spark.createDataFrame([r for b in BATCHES for r in b], SCHEMA)
    want_terms_df, want_tot_df = corpus_index_stats(all_docs)
    want_terms = {r["term"]: r["df"] for r in want_terms_df.collect()}
    want_tot = want_tot_df.collect()[0]

    assert got_terms == want_terms  # exact: {'spark': 2, 'join': 3, ...}
    assert (got_tot["n_docs"], got_tot["dl_sum"]) == (
        want_tot["n_docs"],
        want_tot["dl_sum"],
    )
    assert len(ingest.stats) == 3
    assert ingest.stats[-1]["n_docs"] == 5
