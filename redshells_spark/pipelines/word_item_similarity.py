"""Word→item similarity stages — §2.I.

The reference's composite app (``build_word_item_similarity.py:15-276``)
wires ~20 tasks; the data-flow stages are re-expressed here as
DataFrame functions (the trainer stages live in
:mod:`redshells_spark.ml`):

- :func:`calculate_word_embedding` — word vec = L2(Σ item embeddings)
  over the word's items (``calculate_word_embedding.py:10-35``).
- :func:`filter_item_by_word_similarity` — drop (word, item) whose
  ⟨word_emb, item_title_emb⟩ ≤ no_below
  (``filter_item_by_word_similarity.py:12-38``).
- :func:`calculate_word_item_similarity` — two-stage retrieval: cheap
  dot-product prequery top-N₁ then model rerank top-N₂
  (``calculate_word_item_similarity.py:14-58``; defaults N₁=10000,
  N₂=100 from ``build_word_item_similarity.py:78-80``).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from redshells_spark.functions.vector import dot_product
from redshells_spark.operators.aggregates import sum_embeddings_by_key
from redshells_spark.operators.joins import lookup_join_embedding
from redshells_spark.operators.topk import per_group_topk
from redshells_spark.similarity.ann import brute_force_topk


def calculate_word_embedding(
    word2items: DataFrame,
    item2embedding: DataFrame,
    word_column: str = "word",
    item_column: str = "item_id",
    embedding_key: str = "vec_id",
    embedding_column: str = "embedding",
) -> DataFrame:
    """→ (word, embedding): L2-normalized sum of the word's items'
    embeddings."""
    joined = lookup_join_embedding(
        word2items, item2embedding, item_column, embedding_key, embedding_column, "__e"
    )
    return sum_embeddings_by_key(joined, word_column, "__e", normalize=True)


def embed_query_words(
    words: DataFrame,
    word2embedding: DataFrame,
    fasttext=None,
    word_column: str = "word",
    embedding_column: str = "embedding",
) -> DataFrame:
    """→ (word, embedding, oov): pipeline embedding when the word is
    known, FastText char-n-gram composition when it is not.

    This is why the reference trains FastText instead of Word2Vec
    (``build_word_item_similarity.py:46-68``): query words unseen in
    training — the common case in word→item retrieval — still get
    vectors. Pass a fitted
    :class:`redshells_spark.ml.fasttext.FastTextVectors`; without one,
    OOV words fall out (Word2Vec behavior, flagged by omission)."""
    w = words.select(F.col(word_column).alias("word")).dropDuplicates()
    known = w.join(
        word2embedding.select(
            F.col(word_column).alias("word"), F.col(embedding_column).alias("embedding")
        ),
        on="word",
        how="inner",
    ).select("word", "embedding", F.lit(False).alias("oov"))
    if fasttext is None:
        return known
    missing = w.join(known.select("word"), on="word", how="left_anti")
    composed = (
        fasttext.infer_vectors(missing, word_column="word")
        .filter(F.col("vector").isNotNull())
        .select("word", F.col("vector").alias("embedding"), F.lit(True).alias("oov"))
    )
    return known.unionByName(composed)


def filter_item_by_word_similarity(
    word2items: DataFrame,
    word2embedding: DataFrame,
    item2title_embedding: DataFrame,
    no_below: float = 0.0,
    word_column: str = "word",
    item_column: str = "item_id",
) -> DataFrame:
    """Keep (word, item) pairs with ⟨word_emb, title_emb⟩ > no_below."""
    joined = lookup_join_embedding(
        word2items, word2embedding, word_column, word_column, "embedding", "__we",
        broadcast_embeddings=True,
    )
    joined = lookup_join_embedding(
        joined, item2title_embedding, item_column, item_column, "embedding", "__te"
    )
    return (
        joined.withColumn("__sim", dot_product("__we", "__te"))
        .filter(F.col("__sim") > no_below)
        .select(word_column, item_column)
    )


def calculate_word_item_similarity(
    word2embedding: DataFrame,
    item2embedding: DataFrame,
    rerank_fn: Callable[[DataFrame], DataFrame] | None = None,
    prequery_return_size: int = 10000,
    return_size: int = 100,
    word_column: str = "word",
    item_column: str = "item_id",
    item_key: str = "vec_id",
    candidate_fn: Callable[[DataFrame, DataFrame, int], DataFrame] | None = None,
) -> DataFrame:
    """Two-stage retrieval per word → (word, item_id, similarity).

    Stage 1: candidate generation — by default the exact BLAS
    dot-product top-N₁ per word (``brute_force_topk``); pass
    ``candidate_fn(queries, corpus, k) -> (query_id, vec_id, score)``
    to swap in the approximate tiers at scale, e.g.
    ``lambda q, c, k: lsh_topk(q, c, k=k, multiprobe=1)`` or an
    ``ivf_topk`` closure over a prebuilt index. Stage 2: ``rerank_fn``
    (e.g. a pairwise classifier via pandas_udf transform) re-scores
    the candidates; identity when None."""
    queries = word2embedding.select(
        F.col(word_column).alias("query_id"), "embedding"
    )
    corpus = item2embedding.select(
        F.col(item_key).alias("vec_id"), "embedding"
    )
    if candidate_fn is None:
        candidates = brute_force_topk(queries, corpus, k=prequery_return_size, metric="dot")
    else:
        candidates = candidate_fn(queries, corpus, prequery_return_size)
    stage1 = candidates.select(
        F.col("query_id").alias(word_column),
        F.col("vec_id").alias(item_column),
        F.col("score").alias("similarity"),
    )
    stage2 = rerank_fn(stage1) if rerank_fn is not None else stage1
    return per_group_topk(
        stage2, word_column, "similarity", return_size, tie_break=[item_column]
    )
