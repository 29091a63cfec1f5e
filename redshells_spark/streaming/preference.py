"""Streaming preference-pair state — DPO pair construction over an
unbounded scored-response stream.

``data/preference.py preference_pairs`` ranks each group's items from
the top and the bottom; both extremes are MERGEABLE state: the top-k
of a union is the top-k of the per-batch top-k's (likewise bottom-k),
so a ``foreachBatch`` ingest keeps only ``2k`` rows per group in
parquet state — bounded by groups, not response volume — and derives
the margin-gated pairs from state on demand with the batch operator's
own ranking code.

Parity contract (pinned in tests): after ANY micro-batching of the
same scored rows, ``pairs_from_state`` == ``preference_pairs`` on the
full frame, bit for bit — extreme-k merging is associative and the
tie-breaks are total orders.

Idempotency caveat mirrors the other ingests: ``foreachBatch`` may
re-run a batch after failure; production points the state at a
transactional table format.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from redshells_spark.data.preference import preference_pairs
from redshells_spark.operators.observe import pin_count
from redshells_spark.streaming.ingest import _read_or_empty


@dataclass
class PreferencePairIngest:
    """foreachBatch processor maintaining per-group top-k/bottom-k
    candidate state."""

    base_path: str
    group_column: str
    item_column: str
    score_column: str
    min_margin: int
    max_pairs_per_group: int = 1
    # DDL types for the state columns; None derives them from the first
    # micro-batch, so string group/item ids work without configuration
    state_schema: str | None = None
    stats: list[dict] = field(default_factory=list)

    def _p(self) -> str:
        return f"{self.base_path}/extremes"

    def _schema(self, batch_df: DataFrame | None = None) -> str:
        if self.state_schema is None and batch_df is not None:
            cols = [self.group_column, self.item_column, self.score_column]
            self.state_schema = ", ".join(
                f"{f.name} {f.dataType.simpleString()}"
                for f in batch_df.select(*cols).schema.fields
            )
        if self.state_schema is None:
            raise ValueError(
                "state_schema unset and no batch ingested yet — pass "
                "state_schema or run the ingest before reading state"
            )
        return self.state_schema

    def _prune(self, df: DataFrame) -> DataFrame:
        """Keep each group's top-k and bottom-k under the SAME total
        orders the batch operator ranks with — the sufficient state
        for every future pair decision."""
        k = int(self.max_pairs_per_group)
        top_w = Window.partitionBy(self.group_column).orderBy(
            F.col(self.score_column).desc(), F.col(self.item_column).asc()
        )
        bot_w = Window.partitionBy(self.group_column).orderBy(
            F.col(self.score_column).asc(), F.col(self.item_column).desc()
        )
        return (
            df.withColumn("__rt", F.row_number().over(top_w))
            .withColumn("__rb", F.row_number().over(bot_w))
            .filter((F.col("__rt") <= k) | (F.col("__rb") <= k))
            .select(self.group_column, self.item_column, self.score_column)
        )

    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        cols = [self.group_column, self.item_column, self.score_column]
        prev = _read_or_empty(spark, self._p(), self._schema(batch_df))
        merged, n_rows = pin_count(  # cut lineage before overwrite
            self._prune(prev.unionByName(self._prune(batch_df.select(*cols))))
        )
        merged.write.mode("overwrite").parquet(self._p())
        self.stats.append({"batch_id": batch_id, "state_rows": n_rows})

    def pairs_from_state(self, spark: SparkSession) -> DataFrame:
        """Margin-gated (chosen, rejected) pairs from the maintained
        extremes — identical to the batch operator on the union of
        every ingested row (the extremes are sufficient statistics
        for the pair construction)."""
        state = _read_or_empty(spark, self._p(), self._schema())
        return preference_pairs(
            state,
            self.group_column,
            self.item_column,
            self.score_column,
            min_margin=self.min_margin,
            max_pairs_per_group=self.max_pairs_per_group,
        )


def run_preference_ingest(
    stream: DataFrame, ingest: PreferencePairIngest, query_name: str
):
    """Wire a streaming scored-response frame into the processor."""
    return (
        stream.writeStream.queryName(query_name)
        .foreachBatch(ingest.process_batch)
        .trigger(availableNow=True)
        .start()
    )
