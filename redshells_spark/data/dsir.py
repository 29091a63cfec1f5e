"""DSIR-style importance resampling for pretraining-data selection.

Implements the data-selection technique of Xie et al., "Data Selection
for Language Models via Importance Resampling" (DSIR, NeurIPS 2023):
documents are featurized as hashed bag-of-n-gram counts, token-bucket
probabilities are estimated for a *target* distribution (the domain
you want more of) and for the *raw* distribution (the crawl you are
filtering), and each document is scored with its log importance
weight ``sum_b n_b * (ln p_target[b] - ln p_raw[b])`` under add-alpha
smoothing. Selection keeps the top-weighted documents.

Beyond-reference operator (m3dev/redshells has no data-selection
tier); included because corpus selection against a target domain is a
core training-data-pipeline need at 100 TB.

Scale design: tokenize -> portable md5 bucket -> one groupBy on
(doc, bucket, is_target) is the only corpus-sized shuffle; both
distribution tables are ``num_buckets`` rows (64..1M — always tiny
next to the corpus) and are broadcast back onto the per-doc counts,
so scoring is scan + one shuffle + broadcast joins. The bucket hash
is the portable 60-bit md5 fold (dedup/simhash.py), so the whole
pipeline is DuckDB-oracle-checkable; swap in xxhash64 for pure speed
when cross-engine verification isn't needed.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from redshells_spark.dedup.simhash import portable_token_hash
from redshells_spark.text.tokenize import space_tokens


def _ngrams(tokens: Column, n: int) -> Column:
    """Adjacent-token n-grams from a token array ('_'-joined). Unary
    index lambda over sequence — NEVER a 2-arg element lambda (Spark
    treats that as (element, index))."""
    if n == 1:
        return tokens

    def join_at(i: Column) -> Column:
        return F.concat_ws(
            "_", *[F.element_at(tokens, i + 1 + off) for off in range(n)]
        )

    return F.transform(
        F.sequence(F.lit(0), F.size(tokens) - F.lit(n)), join_at
    )


def hashed_ngram_buckets(
    df: DataFrame,
    text_column: str = "text",
    id_column: str = "doc_id",
    num_buckets: int = 64,
    ngram: int = 1,
    lowercase: bool = True,
    extra_columns: tuple[str, ...] = (),
) -> DataFrame:
    """→ (id, *extra_columns, bucket, n): hashed bag-of-n-gram counts
    (DSIR §2 features). One explode + one groupBy; ``extra_columns``
    must be functionally determined by the id (they ride the groupBy
    key without changing granularity — used for the target flag)."""
    toks = space_tokens(F.col(text_column), lowercase)
    grams = _ngrams(toks, ngram)
    exploded = df.select(
        id_column, *extra_columns, F.explode(grams).alias("gram")
    )
    bucket = (portable_token_hash(F.col("gram")) % num_buckets).alias("bucket")
    return (
        exploded.select(id_column, *extra_columns, bucket)
        .groupBy(id_column, *extra_columns, "bucket")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def dsir_bucket_stats(
    df: DataFrame,
    target: Column,
    text_column: str = "text",
    id_column: str = "doc_id",
    num_buckets: int = 64,
    ngram: int = 1,
) -> DataFrame:
    """→ (bucket, c_raw, c_tgt): the raw and target bucket
    distributions from one pass over the per-doc counts. Persist this
    tiny (num_buckets-row) table to freeze a reference distribution —
    the streaming scorer (streaming/dsir.py) reads it back per
    micro-batch."""
    feats = hashed_ngram_buckets(
        df.withColumn("__is_t", target),
        text_column=text_column,
        id_column=id_column,
        num_buckets=num_buckets,
        ngram=ngram,
        extra_columns=("__is_t",),
    )
    # ONE pass: the raw and target distributions fold in the same
    # groupBy (a conditional sum is the left-join-with-zero-fill) —
    # the two-branch form re-ran the corpus tokenize per branch
    return (
        feats.groupBy("bucket")
        .agg(
            F.sum("n").alias("c_raw"),
            F.sum(F.when(F.col("__is_t"), F.col("n")).otherwise(F.lit(0))).alias(
                "c_tgt"
            ),
        )
        # num_buckets rows; every consumer (totals, the score join,
        # streaming reference freezes) reads it repeatedly
        .localCheckpoint(eager=True)
    )


def dsir_score_with_stats(
    df: DataFrame,
    stats: DataFrame,
    text_column: str = "text",
    id_column: str = "doc_id",
    num_buckets: int = 64,
    alpha: float = 0.5,
    ngram: int = 1,
    _feats: DataFrame | None = None,
) -> DataFrame:
    """→ (id, log_weight): score documents against a precomputed
    (bucket, c_raw, c_tgt) distribution table — the frozen-reference
    path batch and streaming share. Stats and totals broadcast
    (num_buckets rows), so scoring is one corpus shuffle. Float
    contract: p = (c + alpha) / (N + alpha * num_buckets) with double
    literals, term = n * (ln p_t - ln p_r), summed per doc — mirror
    this expression tree token-for-token in any oracle. Buckets absent
    from ``stats`` contribute nothing (unseen-in-reference grams carry
    no evidence either way)."""
    feats = (
        _feats
        if _feats is not None
        else hashed_ngram_buckets(
            df,
            text_column=text_column,
            id_column=id_column,
            num_buckets=num_buckets,
            ngram=ngram,
        )
    )
    totals = stats.agg(
        F.sum("c_raw").alias("nr"), F.sum("c_tgt").alias("nt")
    )
    smooth = float(alpha) * num_buckets
    a = F.lit(float(alpha))
    p_t = (F.col("c_tgt") + a) / (F.col("nt") + F.lit(smooth))
    p_r = (F.col("c_raw") + a) / (F.col("nr") + F.lit(smooth))
    term = (F.col("n") * (F.log(p_t) - F.log(p_r))).alias("t")
    return (
        feats.join(F.broadcast(stats), "bucket")
        .crossJoin(F.broadcast(totals))
        .select(id_column, term)
        .groupBy(id_column)
        .agg(F.sum("t").alias("log_weight"))
    )


def dsir_log_weights(
    df: DataFrame,
    target: Column,
    text_column: str = "text",
    id_column: str = "doc_id",
    num_buckets: int = 64,
    alpha: float = 0.5,
    ngram: int = 1,
) -> DataFrame:
    """→ (id, log_weight): per-document DSIR log importance weight of
    the raw corpus against the subset selected by the ``target``
    boolean column expression (self-referenced stats — the one-corpus
    batch path)."""
    # ONE corpus tokenize pass: the (doc, bucket, n) features serve
    # both the distribution stats and the scoring join (the target
    # flag is doc-functional, so dropping it keeps the granularity)
    feats = hashed_ngram_buckets(
        df.withColumn("__is_t", target),
        text_column=text_column,
        id_column=id_column,
        num_buckets=num_buckets,
        ngram=ngram,
        extra_columns=("__is_t",),
    ).localCheckpoint(eager=True)
    stats = feats.groupBy("bucket").agg(
        F.sum("n").alias("c_raw"),
        F.sum(F.when(F.col("__is_t"), F.col("n")).otherwise(F.lit(0))).alias(
            "c_tgt"
        ),
    )
    return dsir_score_with_stats(
        df,
        stats,
        text_column=text_column,
        id_column=id_column,
        num_buckets=num_buckets,
        alpha=alpha,
        ngram=ngram,
        _feats=feats.select(id_column, "bucket", "n"),
    )


def dsir_select_top(
    weights: DataFrame,
    k: int,
    id_column: str = "doc_id",
    weight_column: str = "log_weight",
) -> DataFrame:
    """→ weights + (keep boolean): deterministic top-k selection by
    (weight desc, id asc) — the determinized stand-in for the paper's
    Gumbel-top-k resample (exact sampling needs engine RNG).

    Scale shape: a row in the global top-k is necessarily in its
    partition's top-k, so each partition prunes to k rows map-side
    (per-partition window — no shuffle), the ≤ k·P survivors take the
    single global window (bounded, not corpus-sized), and the winning
    ids broadcast back onto the full relation as a semi-join mark.
    Output is identical to the naive global row_number at any
    partitioning (the ordering is a total order)."""
    # the weight relation feeds the candidate pruning AND the final
    # mark join — pin the narrow (id, weight) rows or the caller's
    # whole scoring pipeline runs twice
    weights = weights.localCheckpoint(eager=True)
    order = [F.col(weight_column).desc(), F.col(id_column).asc()]
    wp = Window.partitionBy(F.spark_partition_id()).orderBy(*order)
    cand = (
        weights.select(id_column, weight_column)
        .withColumn("__prk", F.row_number().over(wp))
        .filter(F.col("__prk") <= k)
        .drop("__prk")
    )
    wg = Window.orderBy(*order)
    topk = (
        cand.withColumn("__rk", F.row_number().over(wg))
        .filter(F.col("__rk") <= k)
        .select(F.col(id_column).alias("__keep_id"))
    )
    return weights.join(
        F.broadcast(topk), F.col(id_column) == F.col("__keep_id"), "left"
    ).select(
        id_column,
        weight_column,
        F.col("__keep_id").isNotNull().alias("keep"),
    )
