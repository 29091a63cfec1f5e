"""Streaming DSIR scoring — importance-weight filtering at ingest.

The incremental face of :mod:`redshells_spark.data.dsir`, following
the :mod:`redshells_spark.streaming.ingest` pattern: a reference
(bucket, c_raw, c_tgt) distribution table is frozen offline with
``data.dsir.dsir_bucket_stats`` (the standard DSIR deployment — both
distributions estimated once from offline samples), then every
micro-batch is scored with the shared ``dsir_score_with_stats``
dataflow and appended to ``scored/`` with a keep flag.

Because the reference is frozen, streaming any partition of a corpus
through any micro-batching yields exactly the batch scores — pinned
in ``tests/test_streaming_dsir.py``. The per-batch work is one scan +
one (doc, bucket) groupBy + broadcast joins against the 64-row stats
table; state is the stats parquet alone and never grows.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

from redshells_spark.data.dsir import dsir_bucket_stats, dsir_score_with_stats


def freeze_dsir_reference(
    df: DataFrame,
    target: Column,
    path: str,
    num_buckets: int = 64,
    ngram: int = 1,
    text_column: str = "text",
    id_column: str = "doc_id",
) -> None:
    """Estimate and persist the reference distributions (offline step)."""
    dsir_bucket_stats(
        df,
        target,
        text_column=text_column,
        id_column=id_column,
        num_buckets=num_buckets,
        ngram=ngram,
    ).coalesce(1).write.mode("overwrite").parquet(path)


@dataclass
class DsirScoreIngest:
    """foreachBatch processor: score + filter against the frozen stats."""

    base_path: str
    stats_path: str
    num_buckets: int = 64
    alpha: float = 0.5
    ngram: int = 1
    keep_threshold: float = 0.0
    id_column: str = "doc_id"
    text_column: str = "text"
    stats: list[dict] = field(default_factory=list)

    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        ref = spark.read.parquet(self.stats_path)
        w = dsir_score_with_stats(
            batch_df,
            ref,
            text_column=self.text_column,
            id_column=self.id_column,
            num_buckets=self.num_buckets,
            alpha=self.alpha,
            ngram=self.ngram,
        )
        # LEFT join: a doc with no grams (empty text) or whose buckets
        # are all absent from the frozen stats produces no score rows —
        # it must still land in scored/ with an explicit decision, not
        # vanish from the sink and the n_docs count. No evidence either
        # way ⇒ neutral log_weight 0.0, decided by the threshold.
        out = (
            batch_df.select(self.id_column, self.text_column)
            .join(w, self.id_column, "left")
            .withColumn("log_weight", F.coalesce("log_weight", F.lit(0.0)))
            .withColumn(
                "keep", F.col("log_weight") >= F.lit(float(self.keep_threshold))
            )
        )
        # the counts ride along with the append: one execution per batch
        obs = Observation()
        out.observe(
            obs,
            F.count(F.lit(1)).alias("n_docs"),
            F.coalesce(F.sum(F.col("keep").cast("long")), F.lit(0)).alias("n_kept"),
        ).write.mode("append").parquet(f"{self.base_path}/scored")
        self.stats.append({"batch_id": batch_id, **obs.get})
