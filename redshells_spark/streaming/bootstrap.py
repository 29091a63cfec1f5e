"""Streaming Poisson-bootstrap state — exact CIs over an unbounded
event stream.

The Poisson bootstrap's whole appeal at scale (ml/bootstrap.py) is
that its state is B mergeable integer pairs: replica weights depend
only on (seed, replica, row id) — never on batching, arrival order, or
partitioning — and the per-replica sums are associative int64. So a
stream maintains the EXACT same state a single batch pass would
compute: per micro-batch, fold the batch's (b, wu, ws) and (su, n)
into parquet state (the merge-not-rebuild shape of
``streaming/bm25_stats.py``), and derive the CI from state on demand.

Parity contract (pinned in tests/test_streaming_bootstrap.py): after
ANY micro-batching of the same rows, ``ci_from_state`` ==
``poisson_bootstrap_mean_ci`` on the full frame, bit for bit.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from redshells_spark.ml.bootstrap import ci_from_sums, replica_sums, value_totals
from redshells_spark.streaming.state import fold_state, read_state

_REPS_SCHEMA = "b long, wu long, ws long"
_TOTALS_SCHEMA = "su long, n long"


@dataclass
class BootstrapIngest:
    """foreachBatch processor folding per-batch replica sums into state."""

    base_path: str
    value_column: str = "value"
    id_column: str = "event_id"
    n_replicas: int = 100
    seed: int = 3
    scale: int = 100
    stats: list[dict] = field(default_factory=list)

    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        reps = replica_sums(
            batch_df,
            self.value_column,
            self.id_column,
            self.n_replicas,
            self.seed,
            self.scale,
        )
        tot = value_totals(batch_df, self.value_column, self.scale)
        fold_state(
            spark,
            f"{self.base_path}/replica_sums",
            _REPS_SCHEMA,
            lambda prev: prev.unionByName(
                reps.select(F.col("b").cast("long"), "wu", "ws")
            )
            .groupBy("b")
            .agg(
                F.sum("wu").cast("long").alias("wu"),
                F.sum("ws").cast("long").alias("ws"),
            ),
        )
        totals, _ = fold_state(
            spark,
            f"{self.base_path}/totals",
            _TOTALS_SCHEMA,
            lambda prev: prev.unionByName(tot).agg(
                F.sum("su").cast("long").alias("su"),
                F.sum("n").cast("long").alias("n"),
            ),
        )
        row = totals.collect()[0]
        self.stats.append({"batch_id": batch_id, "n": row["n"]})

    def ci_from_state(self, spark: SparkSession, alpha: float = 0.05) -> DataFrame:
        """Derive (n_replicas, point_mean, ci_lo, ci_hi) from the
        maintained state — identical to the batch operator on the
        union of every ingested row."""
        reps = read_state(spark, f"{self.base_path}/replica_sums", _REPS_SCHEMA)
        tot = read_state(spark, f"{self.base_path}/totals", _TOTALS_SCHEMA)
        return ci_from_sums(reps, tot, self.n_replicas, alpha, self.scale)
