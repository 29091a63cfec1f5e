"""Streaming CDC snapshot maintenance e2e: micro-batched change stream
MERGEd into a persisted snapshot; parity with one-shot apply_changes;
restart resume."""

from __future__ import annotations

import pytest

import glob

from pyspark.sql import functions as F

from redshells_spark.operators.cdc import apply_changes
from redshells_spark.streaming.cdc import SnapshotMaintainer
from redshells_spark.streaming.state import start_ingest

SCHEMA = "k long, name string, v double, version long, op string"

# per-key versions are ordered ACROSS batches (the documented contract);
# within a batch order is arbitrary
BATCHES = [
    [(1, "a", 1.0, 1, "U"), (2, "b", 2.0, 1, "U"), (3, "c", 3.0, 1, "U")],
    [(2, "b2", 2.5, 2, "U"), (3, "c", 0.0, 2, "D"), (4, "d", 4.0, 1, "U")],
    [(3, "c2", 3.5, 3, "U"), (1, "x", 0.0, 3, "D"), (1, "a2", 1.5, 4, "U")],
]
SNAP_COLS = ["k", "name", "v"]


def _maintainer(base_path: str) -> SnapshotMaintainer:
    return SnapshotMaintainer(
        base_path=base_path,
        key_cols=["k"],
        version_col="version",
        snapshot_cols=SNAP_COLS,
        tie_break="version",
    )


def _snapshot_dict(spark, m: SnapshotMaintainer):
    df = m.read_snapshot(spark)
    return {r["k"]: (r["name"], r["v"]) for r in df.collect()}


@pytest.mark.slow  # measured >=10s (round-9 tiering)
def test_streaming_cdc_end_to_end(spark, tmp_path):
    d = tmp_path / "changes"
    d.mkdir()
    for i, batch in enumerate(BATCHES):
        spark.createDataFrame(batch, SCHEMA).coalesce(1).write.parquet(
            str(d / f"batch{i}.parquet")
        )
    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(d / "*.parquet"))
    )
    m = _maintainer(str(tmp_path / "state"))
    q = start_ingest(stream, m, "cdc_test")
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    # 1: deleted then re-upserted (v4) -> a2; 2: updated -> b2;
    # 3: upsert, delete, upsert (v3) -> c2; 4: insert -> d
    assert _snapshot_dict(spark, m) == {
        1: ("a2", 1.5),
        2: ("b2", 2.5),
        3: ("c2", 3.5),
        4: ("d", 4.0),
    }


def test_streaming_equals_one_shot_batch_merge(spark, tmp_path):
    # replaying all changes through micro-batches == one apply_changes
    m = _maintainer(str(tmp_path / "state"))
    for i, batch in enumerate(BATCHES):
        m.process_batch(spark.createDataFrame(batch, SCHEMA), i)

    all_changes = spark.createDataFrame(
        [r for b in BATCHES for r in b], SCHEMA
    )
    empty_base = all_changes.select(*SNAP_COLS).limit(0)
    oneshot = apply_changes(
        empty_base, all_changes, ["k"], "version", tie_break="version"
    )
    want = {r["k"]: (r["name"], r["v"]) for r in oneshot.collect()}
    assert _snapshot_dict(spark, m) == want


def test_streaming_cdc_resumes_from_persisted_snapshot(spark, tmp_path):
    state = str(tmp_path / "state")
    m = _maintainer(state)
    m.process_batch(spark.createDataFrame(BATCHES[0], SCHEMA), 0)

    # fresh instance, same state dir — a restart must resume, not reset
    fresh = _maintainer(state)
    fresh.process_batch(spark.createDataFrame(BATCHES[1], SCHEMA), 1)
    snap = _snapshot_dict(spark, fresh)
    assert snap == {1: ("a", 1.0), 2: ("b2", 2.5), 4: ("d", 4.0)}

    # both snapshot generations exist (A/B alternation), pointer names one
    assert len(glob.glob(f"{state}/snap_*")) == 2
    assert fresh.current_snapshot_path().endswith(("snap_a", "snap_b"))


def test_batch_internal_order_irrelevant(spark, tmp_path):
    # shuffled rows within one batch give the same snapshot
    m1 = _maintainer(str(tmp_path / "s1"))
    m2 = _maintainer(str(tmp_path / "s2"))
    batch = [r for b in BATCHES for r in b]
    m1.process_batch(spark.createDataFrame(batch, SCHEMA), 0)
    m2.process_batch(
        spark.createDataFrame(list(reversed(batch)), SCHEMA).repartition(7), 0
    )
    assert _snapshot_dict(spark, m1) == _snapshot_dict(spark, m2)
