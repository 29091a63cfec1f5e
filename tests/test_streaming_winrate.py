"""Streaming win-rate state == batch win_rate_matrix, exactly, under
any micro-batching of the match log."""

from __future__ import annotations

import pytest

from redshells_spark.data.preference import win_rate_matrix
from redshells_spark.streaming.winrate import WinRateIngest
from redshells_spark.streaming.state import start_ingest

pytestmark = pytest.mark.usefixtures("state_ddl_check")

SCHEMA = "winner string, loser string"
MODELS = ["m1", "m2", "m3", "m4"]
ROWS = [
    (MODELS[(i * 7) % 4], MODELS[(i * 7 + 1 + i % 3) % 4])
    for i in range(600)
]
ROWS = [(w, l) for w, l in ROWS if w != l]
BATCHES = [ROWS[:150], ROWS[150:400], ROWS[400:]]


def test_streamed_matrix_matches_batch_exactly(spark, tmp_path):
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
    ingest = WinRateIngest(base_path=str(tmp_path / "state"))
    q = start_ingest(stream, ingest, "winrate_test")
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert len(ingest.stats) == 3

    got = sorted(
        ingest.matrix_from_state(spark).collect(),
        key=lambda r: (r["model_a"], r["model_b"]),
    )
    want = sorted(
        win_rate_matrix(
            spark.createDataFrame(ROWS, SCHEMA), "winner", "loser"
        ).collect(),
        key=lambda r: (r["model_a"], r["model_b"]),
    )
    assert got == want  # bit-exact: counts fold associatively,
    # derivation is shared code


def test_state_bounded_by_pairs_not_matches(spark, tmp_path):
    ingest = WinRateIngest(base_path=str(tmp_path / "state2"))
    ingest.process_batch(spark.createDataFrame(ROWS[:300], SCHEMA), 0)
    ingest.process_batch(spark.createDataFrame(ROWS[300:], SCHEMA), 1)
    state = spark.read.parquet(str(tmp_path / "state2" / "pair_counts"))
    # 4 models -> at most 6 unordered pairs regardless of match volume
    assert state.count() <= 6
    assert state.agg({"games": "sum"}).collect()[0][0] == len(ROWS)
