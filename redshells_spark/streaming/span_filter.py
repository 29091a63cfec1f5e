"""Streaming span-level decontamination against a frozen benchmark
index — the incremental face of
:func:`redshells_spark.dedup.spans.decontaminate_spans`.

The benchmark (eval-suite) shingle index is built ONCE in batch and
persisted; the stream of incoming documents is probed against it per
micro-batch, leaked spans are cut, and the cleaned documents append to
``corpus/``. Because the index is frozen (decontamination is against a
fixed eval suite, not against the evolving corpus), the operator is
stateless across batches: replaying any micro-batching of an input
yields EXACTLY the batch operator's output for that input — pinned in
``tests/test_streaming_span_filter.py``.

Per micro-batch (all distributed DataFrame ops, Arrow never involved):

1. tokenize and emit positional k-gram shingles (codegen window slide);
2. broadcast LEFT SEMI probe against the persisted benchmark shingles
   (eval suites are thousands of documents — always the small side);
3. gaps-and-islands merge of leaked positions into maximal spans;
4. cut the spans, rebuild the text, append to ``corpus/`` with
   (n_tokens, n_removed) audit columns.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from redshells_spark.dedup.spans import (
    cut_spans,
    merge_spans,
    positional_shingles,
)
from redshells_spark.text.tokenize import tokenize_on_space


def build_benchmark_shingle_index(
    benchmark_docs: DataFrame,
    path: str,
    shingle_len: int = 4,
    id_column: str = "doc_id",
    text_column: str = "text",
) -> int:
    """Batch step: persist the benchmark's DISTINCT positional-shingle
    keys to ``path`` (32-hex md5 strings). Returns the number of
    distinct shingles written."""
    toks = tokenize_on_space(
        benchmark_docs, text_column, "tokens", lowercase=True
    )
    sh = (
        positional_shingles(toks, shingle_len, id_column, "tokens")
        .select("shingle")
        .distinct()
    )
    sh.write.mode("overwrite").parquet(path)
    return sh.sparkSession.read.parquet(path).count()


@dataclass
class SpanFilterIngest:
    """foreachBatch processor cutting benchmark-leaked spans."""

    base_path: str  # holds benchmark_shingles/ (input) + corpus/ (sink)
    shingle_len: int = 4
    id_column: str = "doc_id"
    text_column: str = "text"
    stats: list[dict] = field(default_factory=list)

    def _p(self, name: str) -> str:
        return f"{self.base_path}/{name}"

    def clean_batch(self, batch_df: DataFrame) -> DataFrame:
        """The pure transformation (shared by the batch-parity test):
        → (id, text, n_tokens, n_removed)."""
        spark: SparkSession = batch_df.sparkSession
        bench = spark.read.parquet(self._p("benchmark_shingles"))
        toks = tokenize_on_space(
            batch_df, self.text_column, "tokens", lowercase=True
        )
        sh = positional_shingles(toks, self.shingle_len, self.id_column, "tokens")
        hits = sh.join(
            F.broadcast(bench), on="shingle", how="leftsemi"
        ).select("doc_id", "pos")
        spans = merge_spans(hits, self.shingle_len)
        cut = cut_spans(toks, spans, self.id_column, "tokens")
        return cut.select(
            F.col("doc_id").alias(self.id_column),
            F.concat_ws(" ", "kept_tokens").alias(self.text_column),
            F.size("kept_tokens").cast("long").alias("n_tokens"),
            F.col("n_removed").cast("long").alias("n_removed"),
        )

    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        # the stats ride along with the append: one execution per batch
        obs = Observation()
        self.clean_batch(batch_df).observe(
            obs,
            F.count(F.lit(1)).alias("n_docs"),
            F.coalesce(F.sum("n_removed"), F.lit(0)).alias("n_removed_tokens"),
            F.coalesce(
                F.sum((F.col("n_removed") > 0).cast("long")), F.lit(0)
            ).alias("n_contaminated_docs"),
        ).write.mode("append").parquet(self._p("corpus"))
        self.stats.append({"batch_id": batch_id, **obs.get})
