"""Streaming preference-pair and KS-drift state == their batch
operators, exactly, under any micro-batching."""

from __future__ import annotations

import pytest

from redshells_spark.data.preference import preference_pairs
from redshells_spark.operators.drift import ks_two_sample
from redshells_spark.streaming.drift import DriftIngest
from redshells_spark.streaming.preference import PreferencePairIngest
from redshells_spark.streaming.state import start_ingest

pytestmark = pytest.mark.usefixtures("state_ddl_check")

P_SCHEMA = "grp long, item long, score long"
P_ROWS = [
    (i % 40, i, ((i * 131) % 997) * 100)  # unique items, exact "cents"
    for i in range(800)
]
P_BATCHES = [P_ROWS[:200], P_ROWS[200:550], P_ROWS[550:]]

D_SCHEMA = "value double, is1 long"
D_ROWS = [
    # sample 2 (is1=0) shifted +20 units over a 0..99 base range:
    # D ~ 0.2 > the 0.128 critical value at these sizes
    (float((i * 37) % 100) + (0.0 if i % 2 else 20.0), i % 2)
    for i in range(900)
]
D_BATCHES = [D_ROWS[:100], D_ROWS[100:600], D_ROWS[600:]]


def _write_batches(spark, src, batches, schema):
    src.mkdir()
    for i, batch in enumerate(batches):
        spark.createDataFrame(batch, schema).coalesce(1).write.parquet(
            str(src / f"b{i}.parquet")
        )
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src / "*.parquet"))
    )


def test_streamed_pairs_match_batch_exactly(spark, tmp_path):
    stream = _write_batches(spark, tmp_path / "psrc", P_BATCHES, P_SCHEMA)
    ingest = PreferencePairIngest(
        base_path=str(tmp_path / "pstate"),
        group_column="grp",
        item_column="item",
        score_column="score",
        min_margin=5000,
        max_pairs_per_group=2,
    )
    q = start_ingest(stream, ingest, "pref_test")
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert len(ingest.stats) == 3
    # state bounded by 2k rows per group, not by response volume
    assert ingest.stats[-1]["state_rows"] <= 40 * 4

    key = lambda r: (r["grp"], r["pair_rank"])
    got = sorted(ingest.pairs_from_state(spark).collect(), key=key)
    want = sorted(
        preference_pairs(
            spark.createDataFrame(P_ROWS, P_SCHEMA),
            "grp", "item", "score",
            min_margin=5000, max_pairs_per_group=2,
        ).collect(),
        key=key,
    )
    assert got == want  # extremes are sufficient statistics


def test_streamed_ks_matches_batch_exactly(spark, tmp_path):
    stream = _write_batches(spark, tmp_path / "dsrc", D_BATCHES, D_SCHEMA)
    ingest = DriftIngest(base_path=str(tmp_path / "dstate"))
    q = start_ingest(stream, ingest, "drift_test")
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert len(ingest.stats) == 3
    # state bounded by the value DOMAIN (200 distinct cents here)
    assert ingest.stats[-1]["state_rows"] <= 200

    got = ingest.ks_from_state(spark).collect()[0]
    want = ks_two_sample(
        spark.createDataFrame(D_ROWS, D_SCHEMA), "value", "is1"
    ).collect()[0]
    assert got == want  # additive counts + shared derivation
    # the fixture's sample 2 is shifted +20 units -> drift is real
    assert got["reject_005"] == 1


def test_streamed_pairs_string_ids(spark, tmp_path):
    """State schema derives from the first batch, so string group/item
    ids work without configuration (r5 advice: the hardcoded-long
    schema failed at the first unionByName)."""
    rows = [(f"g{i % 3}", f"it{i}", ((i * 37) % 211) * 100) for i in range(60)]
    schema = "grp string, item string, score long"
    stream = _write_batches(
        spark, tmp_path / "pssrc", [rows[:20], rows[20:]], schema
    )
    ingest = PreferencePairIngest(
        base_path=str(tmp_path / "psstate"),
        group_column="grp",
        item_column="item",
        score_column="score",
        min_margin=100,
        max_pairs_per_group=1,
    )
    q = start_ingest(stream, ingest, "pref_str_test")
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    key = lambda r: (r["grp"], r["pair_rank"])
    got = sorted(ingest.pairs_from_state(spark).collect(), key=key)
    want = sorted(
        preference_pairs(
            spark.createDataFrame(rows, schema), "grp", "item", "score",
            min_margin=100, max_pairs_per_group=1,
        ).collect(),
        key=key,
    )
    assert got == want and len(got) == 3


def test_streamed_bleu_empty_first_batch(spark, tmp_path):
    """An empty micro-batch must fold as zeros, not write NULL lens."""
    from redshells_spark.streaming.geneval import BleuStatsIngest
    from redshells_spark.text.geneval import bleu_corpus_stats

    schema = "id long, cand array<string>, ref array<string>"
    rows = [(0, ["a", "b", "c"], ["a", "b", "d"])]
    # batch 0 is EMPTY (schema-only parquet), batch 1 holds the pair
    stream = _write_batches(spark, tmp_path / "ebsrc", [[], rows], schema)
    ingest = BleuStatsIngest(base_path=str(tmp_path / "ebstate"), max_n=2)
    q = start_ingest(stream, ingest, "bleu_empty_test")
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert ingest.stats[0] == {"batch_id": 0, "cand_len": 0, "ref_len": 0}
    got = sorted(ingest.stats_from_state(spark).collect(), key=lambda r: r["n"])
    want = sorted(
        bleu_corpus_stats(
            spark.createDataFrame(rows, schema), "id", "cand", "ref", max_n=2
        ).collect(),
        key=lambda r: r["n"],
    )
    assert got == want


def test_streamed_bleu_stats_match_batch_exactly(spark, tmp_path):
    from redshells_spark.streaming.geneval import BleuStatsIngest
    from redshells_spark.text.geneval import bleu_corpus_stats

    vocab = ["a", "b", "c", "d", "e"]
    rows = []
    for i in range(120):
        ref = [vocab[(i * 7 + j) % 5] for j in range(8 + i % 5)]
        cand = [t if (j + i) % 4 else "x" for j, t in enumerate(ref[: len(ref) - i % 3])]
        rows.append((i, cand, ref))
    schema = "id long, cand array<string>, ref array<string>"
    batches = [rows[:30], rows[30:90], rows[90:]]
    src = tmp_path / "bsrc"
    stream = _write_batches(spark, src, batches, schema)
    ingest = BleuStatsIngest(base_path=str(tmp_path / "bstate"), max_n=3)
    q = start_ingest(stream, ingest, "bleu_test")
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert len(ingest.stats) == 3

    got = sorted(ingest.stats_from_state(spark).collect(), key=lambda r: r["n"])
    want = sorted(
        bleu_corpus_stats(
            spark.createDataFrame(rows, schema), "id", "cand", "ref", max_n=3
        ).collect(),
        key=lambda r: r["n"],
    )
    assert got == want  # per-pair stats fold additively
