"""Streaming sequential-test state — the always-valid A/B monitor.

The SPRT's sufficient statistic is per-period (trials, successes), an
associative int64 pair: a ``foreachBatch`` ingest folds each
micro-batch of raw events into per-period counts (state bounded by
the observation window in PERIODS, not by event volume — the
merge-not-rebuild shape of ``streaming/winrate.py``), and the decision
replay derives from state on demand via the SAME integer LLR literals
the batch operator uses (``operators/sequential.py sprt_monitor``).

Parity contract (pinned in tests): after ANY micro-batching of the
same events, ``monitor_from_state`` == ``sprt_monitor`` on the full
log, bit for bit — counts are batching-blind and the derivation is
shared code. This is exactly how a live experiment dashboard should
work at 100 TB: the fact stream is touched once per batch, the monitor
reads a periods-sized table.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from redshells_spark.operators.sequential import sprt_monitor
from redshells_spark.streaming.state import fold_state, read_state

_STATE_SCHEMA = "period long, n_trials long, n_success long"


@dataclass
class SprtIngest:
    """foreachBatch processor folding per-batch (trials, successes)
    into per-period state. ``trial_expr`` / ``success_expr`` are SQL
    boolean expressions evaluated on the raw event batch; ``period_expr``
    must yield an integer period id (e.g. epoch-µs div day)."""

    base_path: str
    period_expr: str
    trial_expr: str
    success_expr: str
    stats: list[dict] = field(default_factory=list)

    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        batch_counts = (
            batch_df.groupBy(F.expr(self.period_expr).cast("long").alias("period"))
            .agg(
                F.sum(F.expr(self.trial_expr).cast("long")).cast("long").alias("n_trials"),
                F.sum(F.expr(self.success_expr).cast("long"))
                .cast("long")
                .alias("n_success"),
            )
        )
        _, n_periods = fold_state(
            batch_df.sparkSession,
            f"{self.base_path}/period_counts",
            _STATE_SCHEMA,
            lambda prev: prev.unionByName(batch_counts)
            .groupBy("period")
            .agg(
                F.sum("n_trials").cast("long").alias("n_trials"),
                F.sum("n_success").cast("long").alias("n_success"),
            ),
        )
        self.stats.append({"batch_id": batch_id, "n_periods": n_periods})

    def monitor_from_state(
        self,
        spark: SparkSession,
        p0: float,
        p1: float,
        alpha: float = 0.05,
        beta: float = 0.05,
    ) -> DataFrame:
        """SPRT decision replay from the maintained counts — identical
        to the batch operator on the union of every ingested event."""
        return sprt_monitor(
            read_state(spark, f"{self.base_path}/period_counts", _STATE_SCHEMA),
            "period",
            "n_trials",
            "n_success",
            p0=p0,
            p1=p1,
            alpha=alpha,
            beta=beta,
        )



def cusum_from_sprt_state(ingest: SprtIngest, spark: SparkSession, slack: int = 0):
    """Page's CUSUM over the SAME per-period success counts the SPRT
    ingest maintains — one state, a second monitor (the drift triad
    pattern of streaming/drift.py). Bit-identical to the batch
    operator on the full log because the state IS the batch sufficient
    statistic."""
    from pyspark.sql import functions as F

    from redshells_spark.operators.changepoint import cusum_monitor

    state = read_state(spark, f"{ingest.base_path}/period_counts", _STATE_SCHEMA)
    return cusum_monitor(
        state.select("period", F.col("n_success").alias("v")),
        "period",
        "v",
        slack=slack,
    )


def trend_from_sprt_state(ingest: SprtIngest, spark: SparkSession):
    """Mann-Kendall trend test over the maintained per-period success
    counts — the third monitor from the same folded state."""
    from pyspark.sql import functions as F

    from redshells_spark.operators.drift import mann_kendall_trend

    state = read_state(spark, f"{ingest.base_path}/period_counts", _STATE_SCHEMA)
    return mann_kendall_trend(
        state.select("period", F.col("n_success").alias("v")), "period", "v"
    )


def page_hinkley_from_sprt_state(ingest: SprtIngest, spark: SparkSession):
    """Page-Hinkley drift monitor over the maintained per-period
    success counts — the fourth monitor from the same folded state
    (SPRT / CUSUM / Mann-Kendall / Page-Hinkley all read one additive
    per-period relation). Bit-identical to the batch operator on the
    full log because the state IS the batch sufficient statistic."""
    from pyspark.sql import functions as F

    from redshells_spark.operators.changepoint import page_hinkley_monitor

    state = read_state(spark, f"{ingest.base_path}/period_counts", _STATE_SCHEMA)
    return page_hinkley_monitor(
        state.select("period", F.col("n_success").alias("v")), "period", "v"
    )
