"""Streaming Poisson bootstrap == batch, exactly, under any batching."""

from __future__ import annotations

from redshells_spark.ml.bootstrap import poisson_bootstrap_mean_ci
from redshells_spark.streaming.bootstrap import BootstrapIngest
from redshells_spark.streaming.state import start_ingest

import pytest

# measured >=10s in the round-9 duration profile (pytest.ini tiering)
pytestmark = [pytest.mark.slow, pytest.mark.usefixtures("state_ddl_check")]

SCHEMA = "event_id long, value double"
ROWS = [(i, float((i * 37) % 100) / 4.0 + 1.0) for i in range(900)]
BATCHES = [ROWS[:200], ROWS[200:500], ROWS[500:]]


def test_streamed_ci_matches_batch_exactly(spark, tmp_path):
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
    ingest = BootstrapIngest(base_path=str(tmp_path / "state"), n_replicas=64)
    q = start_ingest(stream, ingest, "bootstrap_test")
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert len(ingest.stats) == 3
    assert ingest.stats[-1]["n"] == 900

    got = ingest.ci_from_state(spark).collect()[0]
    full = spark.createDataFrame(ROWS, SCHEMA)
    want = poisson_bootstrap_mean_ci(
        full, "value", "event_id", n_replicas=64, seed=3
    ).collect()[0]
    assert got == want  # bit-exact parity: weights are batching-blind


def test_state_grows_additively(spark, tmp_path):
    ingest = BootstrapIngest(base_path=str(tmp_path / "state2"), n_replicas=16)
    b0 = spark.createDataFrame(ROWS[:100], SCHEMA)
    b1 = spark.createDataFrame(ROWS[100:300], SCHEMA)
    ingest.process_batch(b0, 0)
    ingest.process_batch(b1, 1)
    reps = spark.read.parquet(str(tmp_path / "state2" / "replica_sums"))
    assert reps.count() == 16
    from redshells_spark.ml.bootstrap import replica_sums

    want = {
        r["b"]: (r["wu"], r["ws"])
        for r in replica_sums(
            spark.createDataFrame(ROWS[:300], SCHEMA),
            "value",
            "event_id",
            16,
            3,
        ).collect()
    }
    got = {r["b"]: (r["wu"], r["ws"]) for r in reps.collect()}
    assert got == want
