"""Streaming embedding dedup against a persisted binary-code index.

The streaming face of :mod:`redshells_spark.similarity.binary` and the
embedding analogue of :mod:`redshells_spark.streaming.ingest`: vectors
arrive continuously; each micro-batch is

1. sign-quantized to packed binary codes (one codegen projection —
   the float vectors are never persisted to state),
2. checked within the batch (lowest id wins among codes at Hamming
   distance ≤ ``radius``),
3. checked against every previously accepted code (join against the
   persisted index — state is the 32×-compressed codes, not vectors),

and every batch's codes append to ``index/`` with a ``kept`` flag —
REJECTED codes stay in the blocking state because the batch keep rule
is "any lower-id neighbor within radius blocks", whether or not that
neighbor itself survived (chain a<b<c with d(a,b)≤r, d(b,c)≤r,
d(a,c)>r drops BOTH b and c). A restart resumes from the seen-code
state; the nightly batch path reads the kept codes with
:func:`redshells_spark.similarity.binary.hamming_topk`.

Scale note: the per-batch check is |batch| × |index| xor+popcount —
pure codegen, ~64 bits/word/cycle, and the BATCH side broadcasts (a
micro-batch is small by construction). For corpus-scale batch×batch
work use the banded variants (dedup/simhash.py's block-permutation
buckets apply verbatim to these codes); radius-0 exact-code dedup
reduces to an equi-join on (w0..wn) and needs no pairwise scan at all.

Exact-parity property: quantization is deterministic and the blocking
set is every SEEN lower-id code, so any id-ordered micro-batching of a
corpus yields exactly the batch result — pinned in
tests/test_streaming_binary_index.py. (Out-of-id-order arrival keeps
the same "first-seen wins" semantics but can differ from the batch
oracle, exactly like the lowest-id-wins caveat in dedup/semantic.py.)
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from redshells_spark.similarity.binary import binary_quantize, hamming_distance
from redshells_spark.streaming.state import read_state


@dataclass
class BinaryDedupIngest:
    """foreachBatch processor: quantize → dedup (batch + index) → append."""

    base_path: str
    dim: int
    radius: int = 2
    id_column: str = "vec_id"
    vector_column: str = "embedding"
    stats: list[dict] = field(default_factory=list)

    @property
    def n_words(self) -> int:
        return (self.dim + 31) // 32

    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        idx_path = f"{self.base_path}/index"
        codes = binary_quantize(
            batch_df, self.dim, self.id_column, self.vector_column
        ).select(self.id_column, "words")

        # within-batch: drop any code with a lower-id neighbor at <= radius
        a = codes.select(F.col(self.id_column).alias("__id0"), F.col("words").alias("__w0"))
        b = codes.select(F.col(self.id_column).alias("__id1"), F.col("words").alias("__w1"))
        near = (
            a.join(F.broadcast(b), F.col("__id0") > F.col("__id1"))
            .filter(hamming_distance("__w0", "__w1", self.n_words) <= self.radius)
            .select(F.col("__id0").alias(self.id_column))
            .distinct()
        )
        kept = codes.join(near, self.id_column, "left_anti")

        # against every previously SEEN code (kept or not — rejected
        # codes still block, matching the batch rule); batch side
        # broadcasts (a micro-batch is small by construction)
        index = read_state(
            spark, idx_path, f"{self.id_column} long, words array<bigint>, kept boolean"
        )
        kb = F.broadcast(
            codes.select(F.col(self.id_column).alias("__id0"), F.col("words").alias("__w0"))
        )
        dup_vs_index = (
            index.select(F.col("words").alias("__w1"))
            .join(kb, hamming_distance("__w0", "__w1", self.n_words) <= self.radius)
            .select(F.col("__id0").alias(self.id_column))
            .distinct()
        )
        accepted = kept.join(dup_vs_index, self.id_column, "left_anti")

        out = codes.join(
            accepted.select(self.id_column).withColumn("kept", F.lit(True)),
            self.id_column,
            "left",
        ).withColumn("kept", F.coalesce("kept", F.lit(False)))
        # the counts ride along with the append: one execution per batch
        obs = Observation()
        out.observe(
            obs,
            F.count(F.lit(1)).alias("n_in"),
            F.coalesce(F.sum(F.col("kept").cast("long")), F.lit(0)).alias("n_accepted"),
        ).write.mode("append").parquet(idx_path)
        self.stats.append({"batch_id": batch_id, **obs.get})



def batch_binary_dedup(
    df: DataFrame,
    dim: int,
    radius: int = 2,
    id_column: str = "vec_id",
    vector_column: str = "embedding",
) -> DataFrame:
    """The batch oracle for the streaming path: codes whose every
    lower-id neighbor is farther than ``radius`` — lowest id of each
    near-group survives. Same quantization, same keep rule."""
    codes = binary_quantize(df, dim, id_column, vector_column).select(
        id_column, "words"
    )
    n_words = (dim + 31) // 32
    a = codes.select(F.col(id_column).alias("__id0"), F.col("words").alias("__w0"))
    b = codes.select(F.col(id_column).alias("__id1"), F.col("words").alias("__w1"))
    near = (
        a.join(b, F.col("__id0") > F.col("__id1"))
        .filter(hamming_distance("__w0", "__w1", n_words) <= radius)
        .select(F.col("__id0").alias(id_column))
        .distinct()
    )
    return codes.join(near, id_column, "left_anti")
