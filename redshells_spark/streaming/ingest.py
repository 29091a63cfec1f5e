"""Streaming corpus ingestion with incremental exact + near dedup.

The end-to-end ingest shape of a production LLM-data pipeline: documents
arrive continuously; each micro-batch is

1. exact-deduped within the batch (portable md5 fingerprint, keep
   first by doc id),
2. exact-deduped against every previously accepted document (anti-join
   on the persisted fingerprint set),
3. near-deduped within the batch (MinHash band buckets + signature-
   agreement Jaccard, keep the smaller doc id),
4. near-deduped against the persisted corpus index
   (:func:`redshells_spark.dedup.minhash.minhash_dedup_against_index` —
   band-bucket equi-join, corpus text never re-read),

and only the survivors are appended: their text to ``corpus/``, their
band buckets to ``index/`` (partitioned by band → future probes prune),
their wide signatures to ``signatures/``, their fingerprints to
``fingerprints/``. State lives entirely in parquet — a restart resumes
from what was accepted, and the nightly batch path
(``minhash_dedup_against_index``) reads the same index.

Every step is a distributed DataFrame op: no driver-side collect, no
per-row Python. The vocabulary is fixed at ingest-setup time (stream
shingles must hash into the same token-id space as the corpus index;
re-fitting vocab mid-stream would silently shift every signature).

Idempotency caveat (documented, not hidden): ``foreachBatch`` may
re-run a batch after a failure; plain parquet appends would then
double-write that batch's survivors. Production would point the sinks
at a transactional table format; the dedup logic is unchanged.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from redshells_spark.dedup.minhash import (
    doc_shingles,
    minhash_band_index,
    minhash_dedup_against_index,
    minhash_signatures_wide,
)
from redshells_spark.operators.observe import pin_count
from redshells_spark.streaming.dedup import fingerprint_column
from redshells_spark.text.tokenize import tokenize_on_space


def _read_or_empty(spark: SparkSession, path: str, schema: str) -> DataFrame:
    try:
        return spark.read.parquet(path)
    except Exception:  # noqa: BLE001 — first batch: state doesn't exist yet
        return spark.createDataFrame([], schema)


def _read_state(spark: SparkSession, path: str, schema: str) -> DataFrame:
    """Read a (possibly hash-bucketed) state directory, normalized to
    the declared schema columns — drops the ``__b`` partition column
    bucketed appends add."""
    cols = [c.strip().split()[0] for c in schema.split(",")]
    return _read_or_empty(spark, path, schema).select(*cols)


def _append_bucketed(
    df: DataFrame, path: str, key_column: str, n_buckets: int
) -> None:
    """Append state rows partitioned by a stable hash bucket of
    ``key_column``. Bucketing exists for COMPACTION, not pruning: each
    micro-batch appends one small file per bucket, and
    :func:`_compact_bucket` rewrites one bucket per batch in rotation,
    so the file count stays bounded (~n_buckets² steady state) and the
    per-batch rewrite cost is |state|/n_buckets instead of |state| —
    at 100-TB stream volume an unbounded small-file pile (or a full
    state rewrite per batch) is the ingest bottleneck."""
    (
        df.withColumn(
            "__b",
            F.pmod(F.xxhash64(F.col(key_column).cast("string")), F.lit(n_buckets)),
        )
        .write.mode("append")
        .partitionBy("__b")
        .parquet(path)
    )


def _compact_bucket(spark: SparkSession, path: str, bucket) -> int:
    """Rewrite one bucket subdirectory of a state path into a single
    file (rolling compaction — callers pass ``batch_id % n_buckets``).
    Works on any partition column spelling (``__b=3``, ``band=2``).
    Returns the number of files merged away (0 = nothing to do)."""
    sub = f"{path.rstrip('/')}/{bucket}"
    try:
        cur = spark.read.parquet(sub)
    except Exception:  # noqa: BLE001 — bucket not written yet
        return 0
    files = cur.inputFiles()
    if len(files) <= 1:
        return 0
    # materialize BEFORE overwriting the directory being read
    snap = cur.coalesce(1).localCheckpoint(eager=True)
    snap.write.mode("overwrite").parquet(sub)
    return len(files) - 1


@dataclass
class CorpusIngest:
    """foreachBatch processor holding the ingest configuration.

    ``vocab`` is the (token, token_id) frame the corpus index was built
    with; persist it next to the index and load it at setup."""

    base_path: str
    vocab: DataFrame
    threshold: float = 0.5
    num_hashes: int = 16
    bands: int = 4
    rows_per_band: int = 4
    shingle_len: int = 2
    max_bucket_size: int = 1000
    id_column: str = "doc_id"
    text_column: str = "text"
    # hash buckets for the fingerprint/signature state dirs; one bucket
    # (and one index band) is compacted per batch in rotation, bounding
    # both the small-file count and the per-batch rewrite cost
    n_state_buckets: int = 16
    stats: list[dict] = field(default_factory=list)

    def _p(self, name: str) -> str:
        return f"{self.base_path}/{name}"

    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        docs = batch_df.withColumn(
            "fingerprint", fingerprint_column(self.text_column)
        )
        n_in = docs.count()

        # 1. exact dedup within batch — deterministic keep-first (min id)
        from pyspark.sql import Window

        w = Window.partitionBy("fingerprint").orderBy(self.id_column)
        docs = (
            docs.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )

        # 2. exact dedup against accepted corpus
        seen = _read_state(spark, self._p("fingerprints"), "fingerprint string")
        docs = docs.join(seen, on="fingerprint", how="left_anti")

        # one pass of signatures for steps 3+4 (and the final index append)
        docs = docs.localCheckpoint(eager=True)  # cut lineage; reused 4×
        tokens = tokenize_on_space(docs, self.text_column, "tokens", lowercase=True)
        shingles = doc_shingles(
            tokens, self.vocab, self.id_column, "tokens", self.shingle_len
        )
        wide = minhash_signatures_wide(
            shingles, self.num_hashes, with_size=False
        ).localCheckpoint(eager=True)
        batch_index = minhash_band_index(wide, self.bands, self.rows_per_band)

        # 3. near dedup within batch: self-match via the index machinery,
        #    orient pairs new > corpus → the larger id is dropped
        self_pairs = minhash_dedup_against_index(
            wide, batch_index, wide,
            threshold=self.threshold, bands=self.bands,
            rows_per_band=self.rows_per_band, num_hashes=self.num_hashes,
            max_bucket_size=self.max_bucket_size,
        ).filter(F.col("new_doc_id") > F.col("corpus_doc_id"))
        # wide/shingle frames always key on "doc_id"; docs keys on id_column
        drop_in_batch = self_pairs.select(
            F.col("new_doc_id").alias("doc_id")
        ).distinct()
        docs = docs.join(
            F.broadcast(drop_in_batch.withColumnRenamed("doc_id", self.id_column)),
            on=self.id_column, how="left_anti",
        )
        wide = wide.join(F.broadcast(drop_in_batch), on="doc_id", how="left_anti")

        # 4. near dedup against the persisted corpus index
        corpus_index = _read_state(
            spark, self._p("index"), "doc_id long, band int, bucket string"
        )
        corpus_wide = _read_state(
            spark, self._p("signatures"),
            "doc_id long, " + ", ".join(f"mh{j} long" for j in range(self.num_hashes)),
        )
        near = minhash_dedup_against_index(
            wide, corpus_index, corpus_wide,
            threshold=self.threshold, bands=self.bands,
            rows_per_band=self.rows_per_band, num_hashes=self.num_hashes,
            max_bucket_size=self.max_bucket_size,
        )
        drop_vs_corpus = near.select(F.col("new_doc_id").alias("doc_id")).distinct()
        accepted, n_accepted = pin_count(
            docs.join(
                F.broadcast(drop_vs_corpus.withColumnRenamed("doc_id", self.id_column)),
                on=self.id_column, how="left_anti",
            )
        )

        # 5. append survivors to corpus + state sinks (state dirs are
        # hash-bucketed so step 6 can compact them incrementally)
        accepted.drop("fingerprint").write.mode("append").parquet(self._p("corpus"))
        _append_bucketed(
            accepted.select("fingerprint"),
            self._p("fingerprints"), "fingerprint", self.n_state_buckets,
        )
        acc_wide = wide.join(
            F.broadcast(drop_vs_corpus), on="doc_id", how="left_anti"
        ).localCheckpoint(eager=True)
        _append_bucketed(
            acc_wide, self._p("signatures"), "doc_id", self.n_state_buckets
        )
        minhash_band_index(acc_wide, self.bands, self.rows_per_band).write.mode(
            "append"
        ).partitionBy("band").parquet(self._p("index"))

        # 6. rolling compaction: one fingerprint/signature bucket and
        # one index band per batch — every bucket is revisited each
        # n_state_buckets (resp. bands) batches, so per-batch rewrite
        # cost stays at |state|/n_buckets and the file count bounded
        b = batch_id % self.n_state_buckets
        compacted = _compact_bucket(spark, self._p("fingerprints"), f"__b={b}")
        compacted += _compact_bucket(spark, self._p("signatures"), f"__b={b}")
        compacted += _compact_bucket(
            spark, self._p("index"), f"band={batch_id % self.bands}"
        )
        self.stats.append(
            {
                "batch_id": batch_id,
                "n_in": n_in,
                "n_accepted": n_accepted,
                "files_compacted": compacted,
            }
        )


def run_corpus_ingest(stream: DataFrame, ingest: CorpusIngest, query_name: str):
    """Wire a streaming DataFrame of documents into the ingest
    processor → a started StreamingQuery (caller stops it)."""
    return (
        stream.writeStream.foreachBatch(ingest.process_batch)
        .queryName(query_name)
        .option("checkpointLocation", ingest._p("_checkpoint"))
        .start()
    )
