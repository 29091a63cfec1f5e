"""k-center greedy coreset selection (Gonzalez 1985 farthest-first
traversal; Sener & Savarese ICLR 2018 for the active-learning/coreset
use).

Pick k embeddings that COVER the embedding space: start from a
deterministic seed, then repeatedly add the point FARTHEST from its
nearest already-chosen center — a 2-approximation to the k-center
objective and the standard metric counterpart to set-based
max-coverage (data/coverage.py) for diverse eval subsets, SemDeDup
centroid seeding, and annotation-batch picking.

Relational shape per round: one broadcast join of the corpus against
the ≤k chosen centers (the centers are the broadcast side), a min
over k distances per point, a TakeOrdered argmax. k bounded rounds,
O(k·N) total — linear in the corpus, the property that matters at
100 TB. Deterministic: md5-min seed, squared-L2 distances (one fixed
IEEE tree), (distance, id) total-order argmax — so the loop unrolls
into exact SQL stages (queries/similarity.py oracle).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from redshells_spark.schema import require_columns


def _d2(a: str, b: str) -> F.Column:
    """Squared L2 between two array columns — sequential fold, the
    same double tree in both engines."""
    return F.aggregate(
        F.zip_with(
            F.col(a),
            F.col(b),
            lambda x, y: (x.cast("double") - y.cast("double"))
            * (x.cast("double") - y.cast("double")),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def kcenter_coreset(
    vectors: DataFrame,
    k: int = 5,
    id_column: str = "vec_id",
    embedding_column: str = "embedding",
    seed: int = 17,
) -> DataFrame:
    """→ (step, ``id_column``, d2_to_chosen): the k greedy picks in
    order; d2_to_chosen is the squared distance to the nearest earlier
    center (0.0 for the md5-seeded first pick)."""
    require_columns(vectors, [id_column, embedding_column])
    if k < 1:
        raise ValueError(f"bad k={k}")
    base = vectors.select(
        F.col(id_column).alias("__id"), F.col(embedding_column).alias("__e")
    ).localCheckpoint(eager=True)
    first = (
        base.select(
            "__id",
            F.md5(
                F.concat_ws("|", F.lit(str(seed)), F.col("__id").cast("string"))
            ).alias("__h"),
        )
        .orderBy(F.col("__h").asc(), F.col("__id").asc())
        .limit(1)
        .collect()[0]["__id"]
    )
    picks = [(1, first, 0.0)]
    # nearest-center distance per point, updated incrementally: each
    # round only needs min(old_d2, d2-to-the-one-new-center)
    chosen_vec = base.filter(F.col("__id") == F.lit(first)).select(
        F.col("__e").alias("__c")
    )
    cur = (
        base.filter(F.col("__id") != F.lit(first))
        .crossJoin(F.broadcast(chosen_vec))
        .select("__id", "__e", _d2("__e", "__c").alias("__d2"))
        .localCheckpoint(eager=True)
    )
    for step in range(2, k + 1):
        top = (
            cur.orderBy(F.col("__d2").desc(), F.col("__id").asc())
            .limit(1)
            .collect()
        )
        if not top:
            break
        pick, d2 = top[0]["__id"], float(top[0]["__d2"])
        picks.append((step, pick, d2))
        new_c = cur.filter(F.col("__id") == F.lit(pick)).select(
            F.col("__e").alias("__c")
        )
        cur = (
            cur.filter(F.col("__id") != F.lit(pick))
            .crossJoin(F.broadcast(new_c))
            .select(
                "__id",
                "__e",
                F.least(F.col("__d2"), _d2("__e", "__c")).alias("__d2"),
            )
            .localCheckpoint(eager=True)
        )
    spark = vectors.sparkSession
    id_type = dict(vectors.dtypes)[id_column]
    return spark.createDataFrame(
        picks, f"step long, {id_column} {id_type}, d2_to_chosen double"
    )
