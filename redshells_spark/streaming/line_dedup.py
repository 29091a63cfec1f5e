"""Streaming cross-document line/paragraph dedup — the incremental
face of :mod:`redshells_spark.dedup.lines` (CCNet paragraph dedup),
following the :mod:`redshells_spark.streaming.ingest` pattern: state
lives entirely in parquet, every step is a distributed DataFrame op,
and the nightly batch operator reads the same semantics.

Per micro-batch:

1. explode the batch into (doc_id, pos, unit) rows (token blocks or
   separator-split units);
2. keep-first WITHIN the batch (min (doc_id, pos) per unit hash —
   one map-combined groupBy);
3. anti-join the survivors' hashes against the persisted unit-hash
   set (32-byte hashes, never unit text);
4. reconstruct each document from its surviving units (partition-local
   array_sort — no global order) and append to ``corpus/``;
5. append the batch's new distinct hashes to ``unit_hashes/``.

Replaying a doc_id-ordered event log through any micro-batching yields
exactly the batch operator's ``cross_doc_unit_dedup(min_occurrences=2)``
output — "keep the globally first occurrence of every unit" — pinned
in ``tests/test_streaming_line_dedup.py``. (min_occurrences > 2 has no
streaming translation without per-hash counts in state; the streaming
processor implements the =2 semantics only.)
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from redshells_spark.dedup.lines import block_units, split_units
from redshells_spark.streaming.ingest import _append_bucketed, _compact_bucket
from redshells_spark.streaming.state import read_state


@dataclass
class LineDedupIngest:
    """foreachBatch processor for incremental unit dedup."""

    base_path: str
    block_tokens: int = 8
    unit_sep: str | None = None  # None → non-overlapping token blocks
    id_column: str = "doc_id"
    text_column: str = "text"
    joiner: str = " "
    # hash buckets for the unit-hash state; one bucket is compacted per
    # batch in rotation (see streaming/ingest.py:_append_bucketed) so
    # the state file count and per-batch rewrite cost stay bounded
    n_state_buckets: int = 16
    stats: list[dict] = field(default_factory=list)

    def _p(self, name: str) -> str:
        return f"{self.base_path}/{name}"

    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        if self.unit_sep is not None:
            units = split_units(
                batch_df, self.text_column, self.id_column, self.unit_sep
            )
        else:
            units = block_units(
                batch_df, self.text_column, self.id_column, self.block_tokens
            )
        units = units.withColumn("__h", F.md5("unit")).localCheckpoint(eager=True)

        # keep-first within batch: min (doc_id, pos) per hash
        firsts = units.groupBy("__h").agg(
            F.min(F.struct("doc_id", "pos")).alias("__first")
        )
        seen = read_state(spark, self._p("unit_hashes"), "__h string")
        flagged = (
            units.join(firsts, "__h")
            .join(seen.withColumn("__seen", F.lit(True)), "__h", "left")
            .withColumn(
                "__keep",
                F.col("__seen").isNull()
                & (F.col("__first.doc_id") == F.col("doc_id"))
                & (F.col("__first.pos") == F.col("pos")),
            )
        )
        # the stats ride along with the corpus append
        obs = Observation()
        (
            flagged.groupBy("doc_id")
            .agg(
                F.count(F.lit(1)).alias("n_units"),
                F.sum((~F.col("__keep")).cast("long")).alias("n_dropped"),
                F.array_sort(
                    F.collect_list(F.when(F.col("__keep"), F.struct("pos", "unit")))
                ).alias("__kept"),
            )
            .select(
                F.col("doc_id").alias(self.id_column),
                F.col("n_units").cast("long").alias("n_units"),
                "n_dropped",
                F.concat_ws(
                    self.joiner, F.transform(F.col("__kept"), lambda s: s["unit"])
                ).alias(self.text_column),
            )
            .observe(
                obs,
                F.count(F.lit(1)).alias("n_docs"),
                F.coalesce(F.sum("n_dropped"), F.lit(0)).alias("n_dropped_units"),
            )
            .write.mode("append")
            .parquet(self._p("corpus"))
        )
        # every distinct batch hash becomes state — once a unit has
        # appeared, any later occurrence is a duplicate
        new_hashes = (
            units.select("__h").distinct().join(seen, "__h", "left_anti")
        )
        _append_bucketed(
            new_hashes, self._p("unit_hashes"), "__h", self.n_state_buckets
        )
        # rolling compaction: one bucket per batch, so per-batch rewrite
        # cost is |state|/n_buckets and the file count stays bounded
        compacted = _compact_bucket(
            spark,
            self._p("unit_hashes"),
            f"__b={batch_id % self.n_state_buckets}",
            "__h string",
        )
        self.stats.append(
            {"batch_id": batch_id, **obs.get, "files_compacted": compacted}
        )
