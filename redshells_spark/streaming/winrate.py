"""Streaming win-rate leaderboard state — the live arena counter.

An arena/leaderboard pipeline never re-reads its full match history:
per-pair (games, wins_a) counts are associative int64, so a
``foreachBatch`` ingest folds each micro-batch of match rows into a
tiny parquet state (bounded by the number of model pairs, not by
match volume — the merge-not-rebuild shape of
``streaming/bm25_stats.py``), and the Wilson-bounded matrix derives
from state on demand via the SAME fixed IEEE expression tree the
batch operator uses (``data/preference.py win_rate_from_counts``).

Parity contract (pinned in tests): after ANY micro-batching of the
same match rows, ``matrix_from_state`` == ``win_rate_matrix`` on the
full log, bit for bit — counts are batching-blind and the derivation
is shared code.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from redshells_spark.data.preference import pair_win_counts, win_rate_from_counts
from redshells_spark.streaming.state import fold_state, read_state

_STATE_SCHEMA = "model_a string, model_b string, games long, wins_a long"


@dataclass
class WinRateIngest:
    """foreachBatch processor folding per-batch match counts into
    per-pair state."""

    base_path: str
    winner_column: str = "winner"
    loser_column: str = "loser"
    stats: list[dict] = field(default_factory=list)

    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        batch_counts = pair_win_counts(
            batch_df, self.winner_column, self.loser_column
        )
        _, n_pairs = fold_state(
            batch_df.sparkSession,
            f"{self.base_path}/pair_counts",
            _STATE_SCHEMA,
            lambda prev: prev.unionByName(batch_counts)
            .groupBy("model_a", "model_b")
            .agg(
                F.sum("games").cast("long").alias("games"),
                F.sum("wins_a").cast("long").alias("wins_a"),
            ),
        )
        self.stats.append({"batch_id": batch_id, "n_pairs": n_pairs})

    def matrix_from_state(self, spark: SparkSession, z: float = 1.96) -> DataFrame:
        """Wilson-bounded leaderboard matrix from the maintained
        counts — identical to the batch operator on the union of
        every ingested match."""
        return win_rate_from_counts(
            read_state(spark, f"{self.base_path}/pair_counts", _STATE_SCHEMA), z=z
        )
