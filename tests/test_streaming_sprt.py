"""Streaming SPRT state == batch sprt_monitor, exactly, under any
micro-batching of the event log."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from redshells_spark.operators.sequential import sprt_monitor
from redshells_spark.streaming.sprt import SprtIngest
from redshells_spark.streaming.state import start_ingest

pytestmark = pytest.mark.usefixtures("state_ddl_check")

SCHEMA = "us long, event_type string"
DAY = 86_400_000_000
ROWS = [
    (d * DAY + (i * 977) % DAY, "purchase" if (i * 13 + d) % 9 < 4 else "view")
    for d in range(12)
    for i in range(40)
]
BATCHES = [ROWS[:100], ROWS[100:350], ROWS[350:]]


def _batch_monitor(spark):
    df = spark.createDataFrame(ROWS, SCHEMA)
    daily = df.groupBy(F.expr(f"us div {DAY}").cast("long").alias("period")).agg(
        F.sum(
            F.expr("event_type in ('view','purchase')").cast("long")
        ).cast("long").alias("n_trials"),
        F.sum(F.expr("event_type = 'purchase'").cast("long"))
        .cast("long")
        .alias("n_success"),
    )
    return sprt_monitor(daily, "period", "n_trials", "n_success", p0=0.45, p1=0.55)


def test_streamed_sprt_matches_batch_exactly(spark, tmp_path):
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
    ingest = SprtIngest(
        base_path=str(tmp_path / "state"),
        period_expr=f"us div {DAY}",
        trial_expr="event_type in ('view','purchase')",
        success_expr="event_type = 'purchase'",
    )
    q = start_ingest(stream, ingest, "sprt_test")
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert len(ingest.stats) == 3

    got = ingest.monitor_from_state(spark, p0=0.45, p1=0.55).collect()
    want = _batch_monitor(spark).collect()
    assert got == want  # bit-exact: counts fold associatively,
    # decision replay is shared code


def test_state_bounded_by_periods_not_events(spark, tmp_path):
    ingest = SprtIngest(
        base_path=str(tmp_path / "state2"),
        period_expr=f"us div {DAY}",
        trial_expr="event_type in ('view','purchase')",
        success_expr="event_type = 'purchase'",
    )
    ingest.process_batch(spark.createDataFrame(ROWS[:240], SCHEMA), 0)
    ingest.process_batch(spark.createDataFrame(ROWS[240:], SCHEMA), 1)
    state = spark.read.parquet(str(tmp_path / "state2" / "period_counts"))
    assert state.count() == 12  # one row per day, whatever the volume
    total = state.agg(F.sum("n_trials")).collect()[0][0]
    df = spark.createDataFrame(ROWS, SCHEMA)
    n_tv = df.filter(F.expr("event_type in ('view','purchase')")).count()
    assert total == n_tv


def test_cusum_and_trend_from_same_state(spark, tmp_path):
    # one folded state serves SPRT + CUSUM + Mann-Kendall, each equal
    # to its batch operator on the full log
    from pyspark.sql import functions as F

    from redshells_spark.operators.changepoint import cusum_monitor
    from redshells_spark.operators.drift import mann_kendall_trend
    from redshells_spark.streaming.sprt import (
        cusum_from_sprt_state,
        trend_from_sprt_state,
    )

    ingest = SprtIngest(
        base_path=str(tmp_path / "state3"),
        period_expr=f"us div {DAY}",
        trial_expr="event_type in ('view','purchase')",
        success_expr="event_type = 'purchase'",
    )
    ingest.process_batch(spark.createDataFrame(ROWS[:200], SCHEMA), 0)
    ingest.process_batch(spark.createDataFrame(ROWS[200:], SCHEMA), 1)

    df = spark.createDataFrame(ROWS, SCHEMA)
    series = (
        df.filter(F.expr("event_type = 'purchase'"))
        .groupBy(F.expr(f"us div {DAY}").cast("long").alias("period"))
        .agg(F.count(F.lit(1)).cast("long").alias("v"))
    )
    got_c = cusum_from_sprt_state(ingest, spark).collect()
    want_c = cusum_monitor(series, "period", "v").collect()
    assert got_c == want_c
    got_t = trend_from_sprt_state(ingest, spark).collect()
    want_t = mann_kendall_trend(series, "period", "v").collect()
    assert got_t == want_t


def test_page_hinkley_from_state_matches_batch(spark, tmp_path):
    from redshells_spark.operators.changepoint import page_hinkley_monitor
    from redshells_spark.streaming.sprt import page_hinkley_from_sprt_state

    ingest = SprtIngest(
        base_path=str(tmp_path / "state_ph"),
        period_expr=f"us div {DAY}",
        trial_expr="event_type in ('view','purchase')",
        success_expr="event_type = 'purchase'",
    )
    ingest.process_batch(spark.createDataFrame(ROWS[:150], SCHEMA), 0)
    ingest.process_batch(spark.createDataFrame(ROWS[150:], SCHEMA), 1)

    df = spark.createDataFrame(ROWS, SCHEMA)
    series = (
        df.filter(F.expr("event_type = 'purchase'"))
        .groupBy(F.expr(f"us div {DAY}").cast("long").alias("period"))
        .agg(F.count(F.lit(1)).cast("long").alias("v"))
    )
    got = page_hinkley_from_sprt_state(ingest, spark).collect()
    want = page_hinkley_monitor(series, "period", "v").collect()
    assert got == want


def test_page_hinkley_closed_form_equals_recursion(spark):
    # PH_t = m_t - min m == the reset-free textbook statistic replayed
    # sequentially over the same integer deviation terms
    from redshells_spark.operators.changepoint import page_hinkley_monitor

    rows = [(t, v) for t, v in enumerate([5, 7, 6, 9, 14, 13, 20, 4, 5, 30])]
    out = page_hinkley_monitor(
        spark.createDataFrame(rows, "t long, v long"), "t", "v"
    ).collect()
    cum, m, mn = 0, 0, 0
    for i, (t, v) in enumerate(rows, start=1):
        cum += v
        m += v * 1_000_000 - (cum * 1_000_000 // i)
        mn = min(mn, m)
        r = out[i - 1]
        assert r["m_e6"] == m and r["ph_e6"] == m - mn
