"""Streaming inverted-index statistics — incremental BM25 corpus state.

A BM25 scorer needs only three corpus-wide statistics: per-term
document frequencies, the document count, and the total token count
(for avgdl). All three are SUMS, so a stream of documents maintains
them exactly: per micro-batch, compute the batch's (term, df) /
(n_docs, dl_sum) aggregates and fold them into parquet state — the
same merge-not-rebuild shape as :mod:`redshells_spark.streaming.stats`.
After any number of micro-batches the state equals the batch
aggregates over the full corpus EXACTLY (integer sums are associative),
pinned in ``tests/test_streaming_bm25.py``.

At scale the term-stats relation is vocabulary-bounded (≪ corpus);
the fold is one map-combined groupBy per batch plus a union with
state. Scoring a query against the maintained state reuses the same
IDF/avgdl expressions as :func:`redshells_spark.text.bm25.bm25_topk`.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from redshells_spark.streaming.state import fold_state
from redshells_spark.text.tokenize import space_tokens


@dataclass
class Bm25StatsIngest:
    """foreachBatch processor folding per-batch index stats into state."""

    base_path: str
    id_column: str = "doc_id"
    text_column: str = "text"
    stats: list[dict] = field(default_factory=list)

    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        base = batch_df.select(
            self.id_column, F.explode(space_tokens(F.col(self.text_column))).alias("term")
        )
        dl = base.groupBy(self.id_column).agg(F.count(F.lit(1)).alias("dl"))
        batch_tot = dl.agg(
            F.count(F.lit(1)).alias("n_docs"), F.sum("dl").alias("dl_sum")
        ).select("n_docs", F.coalesce("dl_sum", F.lit(0)).alias("dl_sum"))
        batch_df_t = (
            base.select(self.id_column, "term")
            .distinct()
            .groupBy("term")
            .agg(F.count(F.lit(1)).alias("df"))
        )

        fold_state(
            spark,
            f"{self.base_path}/term_stats",
            "term string, df long",
            lambda prev: prev.unionByName(batch_df_t)
            .groupBy("term")
            .agg(F.sum("df").cast("long").alias("df")),
        )
        totals, _ = fold_state(
            spark,
            f"{self.base_path}/totals",
            "n_docs long, dl_sum long",
            lambda prev: prev.unionByName(batch_tot).agg(
                F.sum("n_docs").cast("long").alias("n_docs"),
                F.sum("dl_sum").cast("long").alias("dl_sum"),
            ),
        )
        row = totals.collect()[0]
        self.stats.append(
            {"batch_id": batch_id, "n_docs": row["n_docs"], "dl_sum": row["dl_sum"]}
        )



def corpus_index_stats(
    docs: DataFrame, id_column: str = "doc_id", text_column: str = "text"
) -> tuple[DataFrame, DataFrame]:
    """Batch ground truth for the streamed state: (term_stats, totals)
    with identical schemas — the parity target for any micro-batching."""
    base = docs.select(id_column, F.explode(space_tokens(F.col(text_column))).alias("term"))
    dl = base.groupBy(id_column).agg(F.count(F.lit(1)).alias("dl"))
    totals = dl.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("dl").cast("long").alias("dl_sum"),
    )
    term_stats = (
        base.distinct()
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("long").alias("df"))
    )
    return term_stats, totals
