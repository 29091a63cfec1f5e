"""Streaming generation-eval state — corpus BLEU maintained over an
unbounded (candidate, reference) pair stream.

BLEU's corpus sufficient statistics are per-pair counts summed over
pairs (``text/geneval.py bleu_corpus_stats``), so as long as each
pair arrives in exactly one micro-batch (append-only eval streams),
the per-order (clipped, total) and corpus (cand_len, ref_len) sums
fold additively into a max_n+1-row parquet state — an eval dashboard
over millions of generations never re-reads history, and
``stats_from_state`` equals the batch operator on the full pair set
bit for bit (exact int64 sums; the precision column is one division
at read time).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from redshells_spark.streaming.state import fold_state, read_state
from redshells_spark.text.geneval import multi_order_overlap_stats

_STATS_SCHEMA = "n long, clipped long, total long"
_LENS_SCHEMA = "cand_len long, ref_len long"


@dataclass
class BleuStatsIngest:
    """foreachBatch processor folding per-batch BLEU sufficient
    statistics into per-order state."""

    base_path: str
    id_column: str = "id"
    cand_column: str = "cand"
    ref_column: str = "ref"
    max_n: int = 4
    stats: list[dict] = field(default_factory=list)

    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        orders = tuple(range(1, self.max_n + 1))
        batch_stats = multi_order_overlap_stats(
            batch_df, self.id_column, self.cand_column, self.ref_column,
            orders, kind="word",
        ).select("n", "clipped", F.col("cand_total").alias("total"))
        # coalesce to 0: an empty micro-batch sums to NULL, which would
        # write an all-NULL row into the lens state and poison later sums
        batch_lens = batch_df.agg(
            F.coalesce(F.sum(F.size(self.cand_column)), F.lit(0))
            .cast("long")
            .alias("cand_len"),
            F.coalesce(F.sum(F.size(self.ref_column)), F.lit(0))
            .cast("long")
            .alias("ref_len"),
        )
        fold_state(
            spark,
            f"{self.base_path}/order_stats",
            _STATS_SCHEMA,
            lambda prev: prev.unionByName(batch_stats)
            .groupBy("n")
            .agg(
                F.sum("clipped").cast("long").alias("clipped"),
                F.sum("total").cast("long").alias("total"),
            ),
        )
        lens, _ = fold_state(
            spark,
            f"{self.base_path}/lens",
            _LENS_SCHEMA,
            lambda prev: prev.unionByName(batch_lens).agg(
                F.sum("cand_len").cast("long").alias("cand_len"),
                F.sum("ref_len").cast("long").alias("ref_len"),
            ),
        )
        lens_row = lens.collect()[0]
        self.stats.append(
            {
                "batch_id": batch_id,
                "cand_len": lens_row["cand_len"],
                "ref_len": lens_row["ref_len"],
            }
        )

    def stats_from_state(self, spark: SparkSession) -> DataFrame:
        """(n, clipped, total, precision_n, cand_len, ref_len) from
        the maintained sums — identical to bleu_corpus_stats on the
        union of every ingested pair."""
        s = read_state(spark, f"{self.base_path}/order_stats", _STATS_SCHEMA)
        lens = read_state(spark, f"{self.base_path}/lens", _LENS_SCHEMA)
        return s.crossJoin(F.broadcast(lens)).select(
            "n",
            "clipped",
            "total",
            (F.col("clipped").cast("double") / F.col("total")).alias(
                "precision_n"
            ),
            "cand_len",
            "ref_len",
        )
