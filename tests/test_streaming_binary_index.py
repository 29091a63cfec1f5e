"""Streaming binary-code dedup e2e: id-ordered micro-batching
reproduces the batch keep set exactly, and rejected codes keep
blocking later arrivals (the chain case)."""

from __future__ import annotations

import numpy as np
import pytest

from redshells_spark.streaming.binary_index import (
    BinaryDedupIngest,
    batch_binary_dedup,
)
from redshells_spark.streaming.state import start_ingest

# measured >=10s in the round-9 duration profile (pytest.ini tiering)
pytestmark = [pytest.mark.slow, pytest.mark.usefixtures("state_ddl_check")]

DIM = 8
SCHEMA = "vec_id long, embedding array<double>"


def _corpus():
    # base vectors + exact and 1-bit-flip near-dups + a chain
    rng = np.random.default_rng(3)
    rows = []
    for i in range(12):
        rows.append((i, [float(x) for x in rng.normal(size=DIM)]))
    # 20 duplicates base 0; 21 flips one sign of base 1 (hamming 1)
    rows.append((20, list(rows[0][1])))
    v = list(rows[1][1])
    v[0] = -v[0]
    rows.append((21, v))
    # chain: 30 blocks 31 (d<=r), 31 blocks 32, but 30 vs 32 is d=2<=r
    a = [1.0] * DIM
    b = list(a)
    b[0] = -1.0
    c = list(b)
    c[1] = -1.0
    rows += [(30, a), (31, b), (32, c)]
    return rows


def _run(spark, tmp_path, batches, radius=2):
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
    ingest = BinaryDedupIngest(
        base_path=str(tmp_path / "state"), dim=DIM, radius=radius
    )
    q = start_ingest(stream, ingest, f"bin_dedup_{tmp_path.name}")
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    idx = spark.read.parquet(str(tmp_path / "state" / "index"))
    return ingest, idx


def test_streaming_matches_batch_for_id_ordered_batching(spark, tmp_path):
    rows = sorted(_corpus())
    ingest, idx = _run(spark, tmp_path, [rows[:5], rows[5:11], rows[11:]])
    got = {r["vec_id"] for r in idx.filter("kept").collect()}
    df = spark.createDataFrame(rows, SCHEMA)
    want = {r["vec_id"] for r in batch_binary_dedup(df, dim=DIM, radius=2).collect()}
    assert got == want
    assert sum(s["n_in"] for s in ingest.stats) == len(rows)
    # every seen code is in the state, kept or not
    assert idx.count() == len(rows)


def test_rejected_codes_still_block(spark, tmp_path):
    # 30 accepted in batch 1; 31 rejected in batch 1 (d(30,31)=1);
    # 32 arrives in batch 2 with d(31,32)=1 but d(30,32)=2 — with
    # radius=1 it must be blocked BY THE REJECTED 31, like the batch rule
    a = [1.0] * DIM
    b = list(a)
    b[0] = -1.0
    c = list(b)
    c[1] = -1.0
    ingest, idx = _run(
        spark, tmp_path, [[(30, a), (31, b)], [(32, c)]], radius=1
    )
    kept = {r["vec_id"] for r in idx.filter("kept").collect()}
    assert kept == {30}
    df = spark.createDataFrame([(30, a), (31, b), (32, c)], SCHEMA)
    want = {r["vec_id"] for r in batch_binary_dedup(df, dim=DIM, radius=1).collect()}
    assert kept == want
