"""Ranking-quality metrics for recommender evaluation:
precision@k, recall@k, MAP@k, NDCG@k (binary relevance).

The reference repo trains rankers (matrix factorization, GCMC,
word-item similarity) but ships only AUC/RMSE scalar metrics
(`redshells/train/utils` behavioral spec); top-k ranking quality is
the evaluation its applications actually need. Everything here is
DataFrame algebra over a (user, item, rank) recommendation table
joined against a (user, item) truth set — one broadcast-or-shuffle
join on (user, item), one window per user, one aggregate.

Exactness discipline (what makes an *evaluation metric* oracle-able):
float transcendentals are kept OUT of the distributed aggregation —

- NDCG discounts 1/log2(r+1) exist only for r = 1..k, so they are
  precomputed driver-side as INTEGER nano-units and shipped as a
  literal lookup array; DCG/IDCG are integer sums, NDCG one final
  integer ratio.
- average precision multiplies each hit's (hits_so_far / rank) by
  lcm(1..k), making every term an exact integer; MAP is one final
  ratio.

Sums of integers are order-free, so the metrics are bit-reproducible
on any engine and any partitioning — no float-summation noise.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

NANO = 1_000_000_000


def _lcm_upto(k: int) -> int:
    out = 1
    for i in range(2, k + 1):
        out = out * i // math.gcd(out, i)
    return out


def discount_nanos(k: int) -> list[int]:
    """Integer nano-unit NDCG discounts for ranks 1..k:
    round(1e9 / log2(r+1)). Computed once driver-side so both engines
    consume identical literals."""
    return [round(NANO / math.log2(r + 1)) for r in range(1, k + 1)]


def ranking_metrics_at_k(
    recs: DataFrame,
    truth: DataFrame,
    k: int,
    user_col: str = "user",
    item_col: str = "item",
    rank_col: str = "rank",
) -> DataFrame:
    """→ per user: (user, n_rel, n_hits, precision, recall, map_at_k,
    ndcg) for users present in BOTH recs and truth.

    ``recs`` must hold ranks 1..k per user (dense, unique);
    ``truth`` is the (user, item) relevance set (deduped here).
    ``k`` is at most 42: average precision is scaled by lcm(1..k), and
    k·lcm(1..k) leaves int64 at k = 43.
    """
    if not 1 <= k <= 42:
        raise ValueError("ranking_metrics_at_k: k must be in 1..42")
    disc = discount_nanos(k)
    lcm = _lcm_upto(k)
    idcg_prefix = [sum(disc[:i]) for i in range(1, k + 1)]  # IDCG for n_rel=i

    # both sides feed two consumers each (r: the hit join + the
    # evaluated semi-join; t: the hit join + the n_rel counts) and are
    # bounded (<=k rows/user; deduped truth pairs) — pin or the
    # caller's ranking/window pipeline re-runs per consumer
    r = (
        recs.select(
            F.col(user_col).alias("u"), F.col(item_col).alias("i"), F.col(rank_col).alias("rk")
        )
        .filter(F.col("rk") <= k)
        .localCheckpoint(eager=True)
    )
    t = (
        truth.select(F.col(user_col).alias("u"), F.col(item_col).alias("i"))
        .distinct()
        .localCheckpoint(eager=True)
    )

    n_rel = t.groupBy("u").agg(F.count(F.lit(1)).alias("n_rel"))
    hits = r.join(t, on=["u", "i"])  # one equi-join on (user, item)

    w = Window.partitionBy("u").orderBy("rk")
    disc_arr = F.array(*[F.lit(d) for d in disc])
    idcg_arr = F.array(*[F.lit(x) for x in idcg_prefix])
    scored = hits.withColumn("__rn", F.row_number().over(w)).select(
        "u",
        "rk",
        F.element_at(disc_arr, F.col("rk").cast("int")).alias("dcg_n"),
        # int64 before the multiply (k·lcm leaves int32 from k=19) and an
        # integer div — exact because lcm % rk == 0
        F.expr(f"CAST(__rn AS BIGINT) * {lcm} div rk").alias("ap_n"),
    )
    per_user = scored.groupBy("u").agg(
        F.count(F.lit(1)).alias("n_hits"),
        F.sum("dcg_n").alias("dcg_nanos"),
        F.sum("ap_n").alias("ap_scaled"),
    )
    # users evaluated = truth ∩ recommended; zero-hit users must score
    # 0.0, not vanish — left-join the hit aggregates
    evaluated = n_rel.join(r.select("u").distinct(), on="u", how="left_semi")
    out = (
        evaluated.join(per_user, on="u", how="left")
        .fillna(0, subset=["n_hits", "dcg_nanos", "ap_scaled"])
        .withColumn("cap", F.least(F.col("n_rel"), F.lit(k)))
        .select(
            F.col("u").alias(user_col),
            "n_rel",
            F.col("n_hits").cast("long").alias("n_hits"),
            F.round(F.col("n_hits") / F.lit(k), 4).alias("precision"),
            F.round(F.col("n_hits") / F.col("n_rel"), 4).alias("recall"),
            F.round(F.col("ap_scaled") / (F.lit(lcm) * F.col("cap")), 4).alias("map_at_k"),
            F.round(
                F.col("dcg_nanos")
                / F.element_at(idcg_arr, F.col("cap").cast("int")),
                4,
            ).alias("ndcg"),
        )
    )
    return out
