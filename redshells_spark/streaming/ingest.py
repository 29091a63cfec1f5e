"""Streaming corpus ingestion with incremental exact + near dedup.

The end-to-end ingest shape of a production LLM-data pipeline: documents
arrive continuously; each micro-batch is exact-deduped (portable md5
fingerprint) within the batch, keeping the first by doc id, and against
every previously accepted document (anti-join on the persisted
fingerprint set); then near-deduped (MinHash band buckets +
signature-agreement Jaccard) within the batch, dropping the larger doc
id, and against the persisted corpus index
(:func:`redshells_spark.dedup.minhash.minhash_dedup_against_index` —
band-bucket equi-join, corpus text never re-read).

A batch runs as two pins, one probe plan and four sinks; each pin is
released once nothing reads it any more:

1. **docs pin** — the batch after both exact dedups, left-joined to
   its wide MinHash signature (null for a doc without an in-vocab
   shingle). The same job observes the batch's input row count.
2. **accepted pin** — one plan holds both near-dup probes, the batch
   against its own band index and the batch against the corpus index,
   and anti-joins the union of their dropped ids. A probe scores each
   new doc on its own, so probing the corpus with the whole batch
   drops exactly what probing it with the within-batch survivors plus
   the within-batch drops does.
3. **sinks** — four projections of ``accepted``. Text is appended to
   ``corpus/`` first; then three chains, one thread each, append and
   roll-compact fingerprints to ``fingerprints/``, wide signatures to
   ``signatures/`` and band buckets to ``index/`` (partitioned by band
   → future probes prune). Each chain writes only its own directory. A
   doc without a signature lands in corpus and fingerprints only.
   Corpus commits before any dedup state gains the batch, so a failed
   batch that is re-run may append its survivors to corpus twice but
   never drops them as duplicates of its own state writes.

State lives entirely in parquet — a restart resumes from what was
accepted, and the nightly batch path (``minhash_dedup_against_index``)
reads the same index. Every step is a distributed DataFrame op: no
driver-side collect, no per-row Python. The vocabulary is fixed at
ingest-setup time (stream shingles must hash into the same token-id
space as the corpus index; re-fitting vocab mid-stream would silently
shift every signature).

State reads and the stream wiring go through
:mod:`redshells_spark.streaming.state`, which also states the
idempotency caveat: a re-run batch double-writes its survivors. The
reads and compactions are typed by :meth:`CorpusIngest.state_ddl`.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Callable

from pyspark import InheritableThread
from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F

from redshells_spark.dedup.minhash import (
    doc_shingles,
    minhash_band_index,
    minhash_dedup_against_index,
    minhash_signatures_wide,
)
from redshells_spark.operators.observe import pin_count, release
from redshells_spark.streaming.dedup import fingerprint_column
from redshells_spark.streaming.state import _exists, read_state
from redshells_spark.text.tokenize import tokenize_on_space


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


def _compact_bucket(spark: SparkSession, path: str, bucket, schema: str) -> int:
    """Rewrite one bucket subdirectory of a state path into a single
    file (rolling compaction — callers pass ``batch_id % n_buckets``).
    Works on any partition column spelling (``__b=3``, ``band=2``);
    ``schema`` is the DDL of the columns the bucket's files hold.
    Returns the number of files merged away (0 = nothing to do)."""
    sub = f"{path.rstrip('/')}/{bucket}"
    if not _exists(spark, sub):  # bucket not written yet
        return 0
    cur = spark.read.schema(schema).parquet(sub)
    files = cur.inputFiles()
    if len(files) <= 1:
        return 0
    # materialize BEFORE overwriting the directory being read
    snap = cur.coalesce(1).localCheckpoint(eager=True)
    snap.write.mode("overwrite").parquet(sub)
    release(snap)
    return len(files) - 1


def _run_concurrently(chains: list[Callable[[], int]]) -> list[int]:
    """Run each chain on its own :class:`pyspark.InheritableThread`,
    which carries the caller's job group and local properties to the
    chain's jobs; join them all, then re-raise the first chain's error."""
    results: list = [None] * len(chains)

    def run(i: int) -> None:
        try:
            results[i] = chains[i]()
        except BaseException as e:  # re-raised on the calling thread
            results[i] = e

    threads = [InheritableThread(run, args=(i,)) for i in range(len(chains))]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    for r in results:
        if isinstance(r, BaseException):
            raise r
    return results


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

    def state_ddl(self) -> dict[str, str]:
        """State dir → DDL of the columns its files hold. The DDL, not
        the parquet footers, types every read and compaction of the dir;
        its partition column (``__b``, ``band`` for the index) lives in
        the directory names."""
        sigs = ", ".join(f"mh{j} long" for j in range(self.num_hashes))
        return {
            "fingerprints": "fingerprint string",
            "signatures": f"doc_id long, {sigs}",
            "index": "doc_id long, bucket string",
        }

    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        ddl = self.state_ddl()
        sig_cols = [f"mh{j}" for j in range(self.num_hashes)]

        # docs pin: exact dedup within the batch (keep-first by id) and
        # against the accepted fingerprints, left-joined to the wide
        # signatures (keyed on "doc_id", whatever id_column is)
        n_in = Observation()
        docs = batch_df.observe(n_in, F.count(F.lit(1)).alias("n")).withColumn(
            "fingerprint", fingerprint_column(self.text_column)
        )
        w = Window.partitionBy("fingerprint").orderBy(self.id_column)
        docs = (
            docs.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
            .join(
                read_state(spark, self._p("fingerprints"), ddl["fingerprints"]),
                on="fingerprint", how="left_anti",
            )
        )
        tokens = tokenize_on_space(docs, self.text_column, "tokens", lowercase=True)
        shingles = doc_shingles(
            tokens, self.vocab, self.id_column, "tokens", self.shingle_len
        )
        wide = minhash_signatures_wide(shingles, self.num_hashes, with_size=False)
        docs = docs.join(
            wide.withColumnRenamed("doc_id", self.id_column),
            on=self.id_column, how="left",
        ).localCheckpoint(eager=True)
        wide = docs.filter(F.col("mh0").isNotNull()).select(
            F.col(self.id_column).alias("doc_id"), *sig_cols
        )

        # accepted pin: both near-dup probes in one plan — the batch
        # against itself (pairs oriented new > corpus, so the larger id
        # is dropped) and against the persisted corpus index
        probe = dict(
            threshold=self.threshold, bands=self.bands,
            rows_per_band=self.rows_per_band, num_hashes=self.num_hashes,
            max_bucket_size=self.max_bucket_size,
        )
        in_batch = minhash_dedup_against_index(
            wide, minhash_band_index(wide, self.bands, self.rows_per_band), wide,
            **probe,
        ).filter(F.col("new_doc_id") > F.col("corpus_doc_id"))
        vs_corpus = minhash_dedup_against_index(
            wide,
            read_state(spark, self._p("index"), f"{ddl['index']}, band int"),
            read_state(spark, self._p("signatures"), ddl["signatures"]),
            **probe,
        )
        dropped = (
            in_batch.select("new_doc_id")
            .union(vs_corpus.select("new_doc_id"))
            .distinct()
            .withColumnRenamed("new_doc_id", self.id_column)
        )
        accepted, n_accepted = pin_count(
            docs.join(F.broadcast(dropped), on=self.id_column, how="left_anti")
        )
        release(docs)  # accepted holds its rows now

        # sinks: corpus first, then each state append and a rolling
        # compaction of one fingerprint/signature bucket or index band —
        # every bucket is revisited each n_state_buckets (resp. bands)
        # batches, so the per-batch rewrite cost stays at
        # |state|/n_buckets and the file count bounded
        accepted.drop("fingerprint", *sig_cols).write.mode("append").parquet(
            self._p("corpus")
        )
        acc_wide = accepted.filter(F.col("mh0").isNotNull()).select(
            F.col(self.id_column).alias("doc_id"), *sig_cols
        )
        b = batch_id % self.n_state_buckets

        def bucketed(name: str, rows: DataFrame, key: str) -> Callable[[], int]:
            def chain() -> int:
                _append_bucketed(rows, self._p(name), key, self.n_state_buckets)
                return _compact_bucket(spark, self._p(name), f"__b={b}", ddl[name])
            return chain

        def index() -> int:
            minhash_band_index(acc_wide, self.bands, self.rows_per_band).write.mode(
                "append"
            ).partitionBy("band").parquet(self._p("index"))
            return _compact_bucket(
                spark, self._p("index"), f"band={batch_id % self.bands}", ddl["index"]
            )

        compacted = sum(
            _run_concurrently([
                bucketed("fingerprints", accepted.select("fingerprint"), "fingerprint"),
                bucketed("signatures", acc_wide, "doc_id"),
                index,
            ])
        )
        release(accepted)
        self.stats.append(
            {
                "batch_id": batch_id,
                "n_in": n_in.get["n"],
                "n_accepted": n_accepted,
                "files_compacted": compacted,
            }
        )
