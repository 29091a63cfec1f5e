"""Streaming drift monitor — the two-sample KS test maintained over
an unbounded metric stream.

State = the per-value count relation of ``operators/drift.py``: it
folds additively across micro-batches and is bounded by the metric's
fixed-decimal DOMAIN (cents), not by row volume — so a drift monitor
over billions of events keeps a few thousand state rows and derives
the SAME bits as the batch KS test on the full history
(``ks_from_state`` == ``ks_two_sample``, pinned in tests: additive
int64 counts + a shared fixed-IEEE derivation).

Idempotency caveat mirrors the other ingests: ``foreachBatch`` may
re-run a batch after failure; production points the state at a
transactional table format.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from redshells_spark.operators.drift import ks_from_value_counts, ks_value_counts
from redshells_spark.operators.observe import pin_count
from redshells_spark.streaming.ingest import _read_or_empty

_STATE_SCHEMA = "v long, c1 long, c2 long"


@dataclass
class DriftIngest:
    """foreachBatch processor folding per-batch value counts into
    domain-bounded KS state."""

    base_path: str
    value_column: str = "value"
    flag_column: str = "is1"
    scale: int = 100
    stats: list[dict] = field(default_factory=list)

    def _p(self) -> str:
        return f"{self.base_path}/value_counts"

    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        batch_counts = ks_value_counts(
            batch_df, self.value_column, self.flag_column, self.scale
        )
        prev = _read_or_empty(spark, self._p(), _STATE_SCHEMA)
        merged, n_rows = pin_count(  # cut lineage before overwrite
            prev.unionByName(batch_counts)
            .groupBy("v")
            .agg(
                F.sum("c1").cast("long").alias("c1"),
                F.sum("c2").cast("long").alias("c2"),
            )
        )
        merged.write.mode("overwrite").parquet(self._p())
        self.stats.append({"batch_id": batch_id, "state_rows": n_rows})

    def ks_from_state(self, spark: SparkSession) -> DataFrame:
        """The KS row from maintained state — identical to the batch
        test on the union of every ingested row."""
        return ks_from_value_counts(_read_or_empty(spark, self._p(), _STATE_SCHEMA))

    def mann_whitney_from_state(self, spark: SparkSession) -> DataFrame:
        """The Mann-Whitney U row from the SAME maintained state — the
        per-value count relation is the sufficient statistic of every
        rank test too, so one ingest feeds the whole drift triad
        (KS here, U here, PSI via streaming/stats.StreamingPsi)."""
        from redshells_spark.operators.drift import mann_whitney_from_value_counts

        return mann_whitney_from_value_counts(
            _read_or_empty(spark, self._p(), _STATE_SCHEMA)
        )


def run_drift_ingest(stream: DataFrame, ingest: DriftIngest, query_name: str):
    """Wire a streaming metric frame into the processor."""
    return (
        stream.writeStream.queryName(query_name)
        .foreachBatch(ingest.process_batch)
        .trigger(availableNow=True)
        .start()
    )
