"""Vectorized similarity in Arrow batches: the numpy core every exact
scorer of the vector tier shares, and the exact all-pairs threshold
join.

The core is three pieces. :func:`_collect_bounded` brings a bounded
side to the driver, :func:`_to_matrix` turns its rows into an id
array and a float64 matrix, and :func:`_unit_rows` is the one cosine
normalization. The block top-k kernel and the candidate-pair scorer in
:mod:`redshells_spark.similarity.ann` score through the same helpers,
so every exact path computes cosine the same way.

:func:`all_pairs_above_threshold` broadcasts the smaller side as a
dense float64 matrix; the bigger side streams through ``mapInPandas``,
and each Arrow batch does one ``batch_matrix @ corpus_matrixᵀ`` matmul
and emits only pairs above the threshold, so the n² intermediate never
materializes as rows. The pure-Catalyst ``blocked_pairwise_similarity``
evaluates ~n²·d scalar lambda steps and is ~30× slower.

At 100 TB you don't all-pairs the full corpus; you LSH/IVF-bucket
first (:mod:`redshells_spark.similarity.ann`) and run this within
buckets, or broadcast a bounded candidate side (the reference caps its
similarity inputs at 500k pairs / 1k-item blocks too —
``build_word_item_similarity.py:75-80``,
``calculate_similarity_with_matrix_factorization.py:28``).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame


def _to_matrix(rows: list) -> tuple[np.ndarray, np.ndarray]:
    """(id, embedding) rows → (id array, float64 matrix)."""
    ids = np.array([r[0] for r in rows])
    mat = np.array([r[1] for r in rows], dtype=np.float64)
    return ids, mat


def _unit_rows(mat: np.ndarray) -> np.ndarray:
    """Rows scaled to unit L2 norm as float64; a zero row stays zero
    (its norm counts as 1), so its cosine with anything is 0."""
    mat = np.asarray(mat, dtype=np.float64)
    norms = np.linalg.norm(mat, axis=1)
    norms[norms == 0] = 1.0
    return mat / norms[:, None]


def _collect_bounded(df: DataFrame, cap: int, what: str) -> list:
    """Driver-side collect with a hard size guard.

    Probes with ``limit(cap + 1)`` so the check never scans more than
    cap+1 rows; an oversized side fails loudly instead of OOMing the
    driver. The broadcast tier is for bounded sides only: a bigger
    query set is split into batches, a bigger corpus is bucketed first
    (:func:`redshells_spark.similarity.ann.lsh_pairs_above_threshold`
    / IVF)."""
    rows = df.limit(cap + 1).collect()
    if len(rows) > cap:
        raise ValueError(
            f"{what}: side to broadcast exceeds max_broadcast_rows={cap}; "
            "split a query side into batches, bucket a corpus first "
            "(similarity.ann.lsh_pairs_above_threshold or ivf_topk), or raise "
            "the cap explicitly if the driver can hold it"
        )
    return rows


def all_pairs_above_threshold(
    embeddings: DataFrame,
    id_column: str = "vec_id",
    embedding_column: str = "embedding",
    threshold: float = 0.9,
    metric: str = "cosine",
    upper_triangular: bool = True,
    max_broadcast_rows: int = 200_000,
) -> DataFrame:
    """→ (id0, id1, similarity ≥ threshold), id0 < id1.

    Corpus side collected + broadcast with a hard ``max_broadcast_rows``
    guard (at the 200k default and d=64 the matrix is ~100 MB — the
    ceiling of sane driver broadcast); stream side stays distributed.
    One BLAS matmul per Arrow batch. Bigger corpora must go through the
    LSH/IVF bucketed tier instead of raising the cap blindly.
    """
    spark = embeddings.sparkSession
    rows = _collect_bounded(
        embeddings.select(id_column, embedding_column),
        max_broadcast_rows,
        "all_pairs_above_threshold",
    )
    ids_c, mat_c = _to_matrix(rows)
    if metric == "cosine":
        mat_c = _unit_rows(mat_c)
    bc = spark.sparkContext.broadcast((ids_c, mat_c))

    out_schema = f"id0 {embeddings.schema[id_column].dataType.simpleString()}, " \
                 f"id1 {embeddings.schema[id_column].dataType.simpleString()}, similarity double"

    def compute(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ids_corpus, mat_corpus = bc.value
        for pdf in batches:
            if pdf.empty:
                continue
            ids_b = pdf[id_column].to_numpy()
            mat_b = np.array(list(pdf[embedding_column]), dtype=np.float64)
            if metric == "cosine":
                mat_b = _unit_rows(mat_b)
            sims = mat_b @ mat_corpus.T
            bi, ci = np.where(sims >= threshold)
            if len(bi) == 0:
                continue
            id0, id1 = ids_b[bi], ids_corpus[ci]
            sim = sims[bi, ci]
            if upper_triangular:
                keep = id0 < id1
                id0, id1, sim = id0[keep], id1[keep], sim[keep]
            yield pd.DataFrame({"id0": id0, "id1": id1, "similarity": sim})

    return embeddings.select(id_column, embedding_column).mapInPandas(
        compute, schema=out_schema
    )
