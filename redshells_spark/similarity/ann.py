"""Similarity search over an embedding column (array<float>).

One exact scorer, fed by candidate generators that trade recall for
cost:

- :func:`brute_force_topk` — exact top-k per query: every query is a
  candidate of every corpus row.
- :func:`lsh_topk` — random-hyperplane LSH: a corpus row is scored
  only against the queries sharing one of its signature blocks
  (optionally a Hamming-1 neighbour block). Sub-linear candidate sets
  at 100 TB.
- :func:`ivf_topk` — IVF: a coarse quantizer (MLlib KMeans or
  deterministic seed centroids); queries probe their ``nprobe``
  nearest centroids and only those inverted lists are scored. The
  scale path when embeddings are re-used across many query batches.

:func:`brute_force_topk` and :func:`lsh_topk` run on one block kernel
(:func:`_block_topk`): the bounded query side is broadcast with a
bucket table, the corpus streams once through ``mapInPandas``, each
bucket is one BLAS matmul, and one partial cut per query
(:func:`_partial_topk`) keeps the order the final
``per_group_topk(tie_break=["vec_id"])`` applies. Join-generated
candidates (IVF lists, LSH all-pairs buckets) are scored pair by pair
in :func:`_rerank_pairs`. Cosine normalization is
:func:`redshells_spark.similarity.allpairs._unit_rows` everywhere.

Generalizes the reference's two-stage retrieval
(``calculate_word_item_similarity.py:42-58``: cheap dot-product
prequery → expensive rerank): stage 1 here is the ANN candidate
generation, stage 2 the exact rerank.
"""

from __future__ import annotations

import functools
import json
from collections.abc import Callable, Iterable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from redshells_spark.operators.topk import per_group_topk
from redshells_spark.similarity.allpairs import _collect_bounded, _to_matrix, _unit_rows

# scores per matmul: one (rows × queries) block stays ≤ 32 MiB
_BLOCK_SCORES = 1 << 22


@functools.lru_cache
def hyperplane_matrix(num_planes: int, dim: int, seed: int = 42) -> np.ndarray:
    """Deterministic pseudo-random hyperplanes as a (planes, dim)
    float64 matrix — pure numpy (splitmix64 bit-mix over the flat
    index), NO Spark job and NO engine-specific hash, so the exact
    plane values can be exported as literals into an ANSI-SQL oracle
    (DuckDB recomputes identical signatures). Components are
    ``(mix % 1000)/500 - 1`` — uniform in [-1, 1) at 0.002 resolution,
    centered so planes are unbiased. A few KiB; cached per arguments."""
    idx = np.arange(num_planes * dim, dtype=np.uint64)
    x = idx + np.uint64((seed * 0x9E3779B97F4A7C15) % (1 << 64))
    with np.errstate(over="ignore"):
        z = (x + np.uint64(0x9E3779B97F4A7C15)) & np.uint64(0xFFFFFFFFFFFFFFFF)
        z ^= z >> np.uint64(30)
        z *= np.uint64(0xBF58476D1CE4E5B9)
        z ^= z >> np.uint64(27)
        z *= np.uint64(0x94D049BB133111EB)
        z ^= z >> np.uint64(31)
    vals = (z % np.uint64(1000)).astype(np.float64) / 500.0 - 1.0
    return vals.reshape(num_planes, dim)


def _signs(mat: np.ndarray, planes: np.ndarray) -> np.ndarray:
    """Sign-bit signature per row: bit p is set when the row lies on
    the positive side of hyperplane p (one BLAS matmul per call)."""
    shifts = np.arange(planes.shape[0], dtype=np.int64)
    return ((mat @ planes.T > 0).astype(np.int64) << shifts).sum(axis=1)


def _partial_topk(
    blocks: Iterable[tuple[np.ndarray, np.ndarray, np.ndarray]],
    vec_ids: np.ndarray,
    k: int,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Each query's best ``k`` rows of one batch → (query index, row
    index, score), ordered by score desc then vec_id asc: the order the
    final ``per_group_topk(tie_break=["vec_id"])`` applies, so the cut
    never keeps a different tied row than the final window would.

    ``blocks`` yields (rows, queries, scores) with scores of shape
    (len(rows), len(queries)). Each block is cut per query with
    ``np.partition`` (O(rows)) and widened to every score equal to the
    k-th; only those survivors are sorted. A pair scored in several
    blocks has the same score in each and is kept once."""
    parts = []
    for rows, qidx, sc in blocks:
        if len(rows) > k:
            kth = np.partition(sc, len(rows) - k, axis=0)[len(rows) - k]
            r, c = np.nonzero(sc >= kth)
        else:
            r, c = np.indices(sc.shape).reshape(2, -1)
        parts.append((qidx[c], rows[r], sc[r, c]))
    if not parts:
        return np.empty(0, np.int64), np.empty(0, np.int64), np.empty(0)
    qi, ri, sc = (np.concatenate(x) for x in zip(*parts))
    order = np.lexsort((ri, vec_ids[ri], -sc, qi))
    qi, ri, sc = qi[order], ri[order], sc[order]
    new_q = np.r_[True, qi[1:] != qi[:-1]]
    first = new_q | np.r_[True, ri[1:] != ri[:-1]]
    starts = np.flatnonzero(new_q[first])
    qi, ri, sc = qi[first], ri[first], sc[first]
    rank = np.arange(len(qi)) - np.repeat(starts, np.diff(np.r_[starts, len(qi)]))
    keep = rank < k
    return qi[keep], ri[keep], sc[keep]


def _one_bucket(mat: np.ndarray) -> np.ndarray:
    return np.zeros((len(mat), 1), dtype=np.int64)


def _block_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    query_id: str,
    corpus_id: str,
    embedding_column: str,
    metric: str,
    max_broadcast_rows: int,
    what: str,
    keys: Callable[[np.ndarray], np.ndarray] = _one_bucket,
    probe_bits: int = 0,
) -> DataFrame:
    """The exact top-k kernel → (query_id, vec_id, score, rank).

    ``keys(raw_matrix)`` gives each row one bucket value per block,
    (rows, blocks) int64; a query is scored against the corpus rows
    that share a bucket with it, and ``probe_bits`` also files it under
    every block value with one of its low ``probe_bits`` bits flipped.
    The queries are collected behind the ``max_broadcast_rows`` guard
    and broadcast with the bucket → query-index table; the corpus is
    scanned once and never shuffled. Per Arrow batch each bucket is one
    BLAS matmul (split by query so a block stays ≤ ``_BLOCK_SCORES``),
    and :func:`_partial_topk` cuts each query to k rows, so the final
    exchange carries ≤ queries·k rows per batch."""
    spark = corpus.sparkSession
    qids, qmat = _to_matrix(
        _collect_bounded(queries.select(query_id, embedding_column), max_broadcast_rows, what)
    )
    table: dict[tuple[int, int], np.ndarray] = {}
    if len(qids):
        # (queries, blocks, probes): each block value, then its bit flips
        vals = keys(qmat)[:, :, None] ^ np.r_[0, 1 << np.arange(probe_bits)]
        qi, blk, _ = np.indices(vals.shape).reshape(3, -1)
        vals = vals.ravel()
        order = np.lexsort((qi, vals, blk))
        cuts = np.flatnonzero(np.diff(blk[order]) | np.diff(vals[order])) + 1
        table = {(int(blk[i[0]]), int(vals[i[0]])): qi[i] for i in np.split(order, cuts)}
        if metric == "cosine":
            qmat = _unit_rows(qmat)
    bc = spark.sparkContext.broadcast((qids, qmat, table))

    def blocks(raw, cmat, mat_q, bkt):
        row_keys = keys(raw)
        for b in range(row_keys.shape[1]):
            order = np.argsort(row_keys[:, b], kind="stable")
            sv = row_keys[order, b]
            for rows in np.split(order, np.flatnonzero(np.diff(sv)) + 1):
                qidx = bkt.get((b, int(row_keys[rows[0], b])))
                if qidx is None:
                    continue
                step = max(1, _BLOCK_SCORES // len(rows))
                for s in range(0, len(qidx), step):
                    qc = qidx[s : s + step]
                    yield rows, qc, cmat[rows] @ mat_q[qc].T

    def compute(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ids_q, mat_q, bkt = bc.value
        for pdf in batches:
            if pdf.empty or not bkt:
                continue
            raw = np.array(list(pdf[embedding_column]), dtype=np.float64)
            cmat = _unit_rows(raw) if metric == "cosine" else raw
            cids = pdf[corpus_id].to_numpy()
            qi, ri, sc = _partial_topk(blocks(raw, cmat, mat_q, bkt), cids, k)
            if len(qi):
                yield pd.DataFrame({"query_id": ids_q[qi], "vec_id": cids[ri], "score": sc})

    qtype = queries.schema[query_id].dataType.simpleString()
    ctype = corpus.schema[corpus_id].dataType.simpleString()
    partial = corpus.select(corpus_id, embedding_column).mapInPandas(
        compute, schema=f"query_id {qtype}, vec_id {ctype}, score double"
    )
    return per_group_topk(
        partial, "query_id", "score", k, tie_break=["vec_id"], rank_column="rank"
    )


def brute_force_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    query_id: str = "query_id",
    corpus_id: str = "vec_id",
    embedding_column: str = "embedding",
    metric: str = "cosine",
    max_broadcast_rows: int = 200_000,
) -> DataFrame:
    """Exact top-k neighbours per query → (query_id, vec_id, score, rank),
    ``metric`` "cosine" or "dot"; ties go to the smaller vec_id.

    :func:`_block_topk` with one bucket holding every query: the query
    side (at most ``max_broadcast_rows``, else ValueError) is
    broadcast, each corpus batch is one matmul against all of it."""
    return _block_topk(
        queries, corpus, k, query_id, corpus_id, embedding_column, metric,
        max_broadcast_rows, "brute_force_topk",
    )


def lsh_hyperplane_signatures(
    embeddings: DataFrame,
    num_planes: int = 16,
    id_column: str = "vec_id",
    embedding_column: str = "embedding",
    dim: int | None = None,
    seed: int = 42,
) -> DataFrame:
    """→ (id, sig:long): sign-bit signature against ``num_planes``
    deterministic pseudo-random hyperplanes (:func:`hyperplane_matrix`).

    The plane matrix is broadcast once; each Arrow batch computes all
    signatures in ONE BLAS matmul + sign-bit pack — ~dim·planes fused
    float ops per row instead of dim·planes interpreted Catalyst lambda
    steps (at d=768, 16 planes that was ≈12k expression
    evaluations/row)."""
    spark = embeddings.sparkSession
    if dim is None:
        dim = len(
            embeddings.select(embedding_column).filter(F.col(embedding_column).isNotNull()).first()[0]
        )
    bc = spark.sparkContext.broadcast(hyperplane_matrix(num_planes, dim, seed))
    idtype = embeddings.schema[id_column].dataType.simpleString()

    def compute(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            emb = np.array(list(pdf[embedding_column]), dtype=np.float64)
            yield pd.DataFrame({"vec_id": pdf[id_column], "sig": _signs(emb, bc.value)})

    return embeddings.select(
        F.col(id_column), F.col(embedding_column)
    ).mapInPandas(compute, schema=f"vec_id {idtype}, sig long")


def lsh_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    num_planes: int = 16,
    num_blocks: int = 4,
    query_id: str = "query_id",
    corpus_id: str = "vec_id",
    embedding_column: str = "embedding",
    seed: int = 42,
    dim: int | None = None,
    multiprobe: int = 0,
    max_broadcast_rows: int = 200_000,
) -> DataFrame:
    """Approximate top-k: candidates share ≥1 of ``num_blocks``
    signature blocks (banding), then exact cosine rerank. Recall rises
    with num_blocks (more probes) and falls with num_planes (finer
    buckets). ``dim`` defaults to the queries' width.

    ``multiprobe=1`` additionally probes every Hamming-distance-1
    neighbor of each query block value (classic multi-probe LSH, Lv et
    al. VLDB 2007): near-misses where one hyperplane voted the other
    way land in a neighboring bucket, so flipping single bits recovers
    them. Candidate volume grows ~(1+width)× on the QUERY side only —
    the corpus is never re-bucketed.

    Runs on :func:`_block_topk`, so the corpus is scanned ONCE and never
    shuffled (the plan shape that matters at 10¹⁰ corpus vectors). The
    query side must fit the driver: more than ``max_broadcast_rows``
    queries raise ValueError; split such a query set into batches."""
    width = num_planes // num_blocks
    offsets = np.arange(num_blocks, dtype=np.int64) * width

    def keys(mat: np.ndarray) -> np.ndarray:
        planes = hyperplane_matrix(num_planes, dim or mat.shape[1], seed)
        return (_signs(mat, planes)[:, None] >> offsets) & ((1 << width) - 1)

    return _block_topk(
        queries, corpus, k, query_id, corpus_id, embedding_column, "cosine",
        max_broadcast_rows, "lsh_topk", keys, width if multiprobe else 0,
    )


def _rerank_pairs(
    paired: DataFrame,
    qid: str,
    cid: str,
    qe: str,
    ce: str,
    metric: str = "cosine",
    score: str = "score",
    min_score: float | None = None,
) -> DataFrame:
    """Exact score of each candidate pair → (qid, cid, score), one
    vectorized numpy batch per Arrow chunk — the Catalyst
    higher-order-function cosine costs ~3·dim interpreted lambda steps
    per pair, which dominates rerank time once candidates reach ~10⁵.
    With ``min_score`` only pairs scoring at least that leave the
    batch: a threshold join's candidates mostly fail it, and each row
    returned costs an Arrow round trip."""
    qt = paired.schema[qid].dataType.simpleString()
    ct = paired.schema[cid].dataType.simpleString()

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            a = np.array(list(pdf[qe]), dtype=np.float64)
            b = np.array(list(pdf[ce]), dtype=np.float64)
            if metric == "cosine":
                a, b = _unit_rows(a), _unit_rows(b)
            out = pd.DataFrame({qid: pdf[qid], cid: pdf[cid], score: (a * b).sum(axis=1)})
            yield out if min_score is None else out[out[score] >= min_score]

    return paired.select(qid, cid, qe, ce).mapInPandas(
        run, schema=f"{qid} {qt}, {cid} {ct}, {score} double"
    )


def lsh_pairs_above_threshold(
    embeddings: DataFrame,
    threshold: float,
    num_planes: int = 16,
    num_blocks: int = 4,
    id_column: str = "vec_id",
    embedding_column: str = "embedding",
    metric: str = "cosine",
    seed: int = 42,
    dim: int | None = None,
    max_bucket_size: int = 100_000,
    multiprobe: int = 0,
) -> DataFrame:
    """Approximate all-pairs ≥ threshold via LSH banding → (id0, id1,
    similarity), id0 < id1.

    Candidate pairs share at least one of ``num_blocks`` signature
    blocks (same banding shape as MinHash dedup); each candidate is
    verified with the exact metric, so precision is exact and only
    recall is approximate. The self-join is an equi-join on
    (block_idx, block_val) — sub-quadratic, shuffle-bounded, and skew-
    guarded: buckets larger than ``max_bucket_size`` are dropped (a
    degenerate bucket means the block carries no discriminating
    information; recall loss is logged by callers that care). This is
    the 100 TB path where :func:`redshells_spark.similarity.allpairs.
    all_pairs_above_threshold` would need an unbounded broadcast.

    ``multiprobe=1`` additionally probes every Hamming-distance-1
    neighbor of each block value on ONE side of the self-join (Lv et
    al. VLDB 2007, same expansion :func:`lsh_topk` uses): near-dup
    pairs where exactly one hyperplane in a block voted differently
    still become candidates. One-sided expansion is sufficient —
    bucket(a) XOR one bit == bucket(b) is symmetric — and keeps the
    candidate growth at ~(1+width)× on one side instead of both."""
    sig = lsh_hyperplane_signatures(
        embeddings, num_planes, id_column, embedding_column, dim=dim, seed=seed
    ).localCheckpoint(eager=True)  # (id, sig) — the bucket census and
    # both self-join sides consume it; unpinned, the hyperplane dot
    # folds re-ran per consumer
    width = num_planes // num_blocks

    def _blocks(probe_bits: int) -> DataFrame:
        entries = []
        for i in range(num_blocks):
            base = F.shiftright(F.col("sig"), i * width).bitwiseAND(F.lit((1 << width) - 1))
            entries.append(F.struct(F.lit(i).alias("block_idx"), base.alias("block_val")))
            if probe_bits:
                entries += [
                    F.struct(
                        F.lit(i).alias("block_idx"),
                        base.bitwiseXOR(F.lit(1 << b)).alias("block_val"),
                    )
                    for b in range(width)
                ]
        blk = F.explode(F.array(*entries)).alias("blk")
        return sig.select("vec_id", blk).select("vec_id", "blk.block_idx", "blk.block_val")

    blocked = _blocks(0)
    bucket_sizes = blocked.groupBy("block_idx", "block_val").agg(
        F.count("*").alias("__bucket_n")
    )
    ok_buckets = F.broadcast(bucket_sizes.filter(F.col("__bucket_n") <= max_bucket_size))
    blocked = blocked.join(ok_buckets, on=["block_idx", "block_val"]).drop("__bucket_n")
    a_side = _blocks(multiprobe) if multiprobe else blocked
    if multiprobe:
        # probe entries only ever join into surviving exact buckets, so
        # the same skew guard bounds them
        a_side = a_side.join(ok_buckets, on=["block_idx", "block_val"]).drop("__bucket_n")
    a = a_side.select("block_idx", "block_val", F.col("vec_id").alias("id0"))
    b = blocked.select("block_idx", "block_val", F.col("vec_id").alias("id1"))
    cand = (
        a.join(b, on=["block_idx", "block_val"])
        .filter(F.col("id0") < F.col("id1"))
        .select("id0", "id1")
        .dropDuplicates()
    )
    e0 = embeddings.select(F.col(id_column).alias("id0"), F.col(embedding_column).alias("__e0"))
    e1 = embeddings.select(F.col(id_column).alias("id1"), F.col(embedding_column).alias("__e1"))
    paired = cand.join(e0, on="id0").join(e1, on="id1")
    return _rerank_pairs(paired, "id0", "id1", "__e0", "__e1", metric, "similarity", threshold)


def sqrt_num_centroids(n_rows: int, floor: int = 16) -> int:
    """The SemDeDup/IVF scaling rule k ≈ ⌈√N⌉ (with a small floor):
    k ~ √N keeps the expected per-cluster population ~√N, so the
    within-cluster quadratic work per vector grows as √N instead of N
    — the paper's entire scalability argument. Used whenever a caller
    doesn't pass an explicit centroid count."""
    import math

    return max(floor, math.isqrt(max(0, n_rows - 1)) + 1)


def ivf_build_index(
    corpus: DataFrame,
    num_centroids: int | None = 64,
    embedding_column: str = "embedding",
    seed: int = 42,
) -> tuple[DataFrame, list[list[float]]]:
    """K-means coarse quantizer → (corpus with ``centroid`` assignment,
    centroid list). MLlib KMeans fits on a sample; assignment is a
    transform (no iteration over the full corpus beyond fit).
    ``num_centroids=None`` derives k = max(16, ⌈√N⌉) from the corpus
    count, so the index keeps the √N cell-population contract as the
    corpus grows."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    if num_centroids is None:
        num_centroids = sqrt_num_centroids(corpus.count())
    vecs = corpus.withColumn("__v", array_to_vector(F.col(embedding_column).cast("array<double>")))
    km = KMeans(k=num_centroids, seed=seed, featuresCol="__v", predictionCol="centroid")
    from redshells_spark.ml.mllib_compat import strip_training_summary

    model = strip_training_summary(km.fit(vecs))
    assigned = model.transform(vecs).drop("__v")
    centroids = [list(map(float, c)) for c in model.clusterCenters()]
    return assigned, centroids


def ivf_seed_centroids(
    corpus: DataFrame,
    num_centroids: int | None = None,
    corpus_id: str = "vec_id",
    embedding_column: str = "embedding",
) -> list[list[float]]:
    """Deterministic pseudo-random seed centroids: the ``num_centroids``
    corpus vectors with the smallest portable 60-bit md5 rank of their
    id — a uniform sample any engine reproduces (cf. the md5-rank
    sampling in data/sampling.py). The sort+limit is TakeOrdered
    (per-partition top-k merged on the driver), so seeding never
    shuffles the corpus. Centroids come back in (rank, id) order —
    the centroid index an oracle can re-derive. Use with
    :func:`assign_to_centroids` for a fully oracle-checkable IVF
    pipeline; :func:`ivf_build_index` keeps the MLlib KMeans quantizer
    when fit quality matters more than cross-engine reproducibility.
    ``num_centroids=None`` derives k = max(16, ⌈√N⌉) from the corpus
    count (the explicit-count path — what the oracles pin — is
    untouched)."""
    from redshells_spark.operators.bloom import _h60_sql

    if num_centroids is None:
        num_centroids = sqrt_num_centroids(corpus.count())
    rows = (
        corpus.select(
            F.expr(_h60_sql(f"`{corpus_id}`")).alias("__h"),
            F.col(corpus_id).alias("__id"),
            embedding_column,
        )
        .orderBy(F.col("__h").asc(), F.col("__id").asc())
        .limit(num_centroids)
        .collect()  # num_centroids rows — bounded driver probe
    )
    return [[float(x) for x in r[embedding_column]] for r in rows]


def assign_to_centroids(
    corpus: DataFrame,
    centroids: list[list[float]],
    embedding_column: str = "embedding",
) -> DataFrame:
    """→ corpus + ``centroid`` (nearest centroid by squared L2,
    ties broken by centroid index). Pure Catalyst expression — the
    SAME left-fold ``zip_with``/``aggregate`` arithmetic the query
    probe uses, so an ANSI-SQL oracle evaluating index-ordered sums
    reproduces assignments bit-for-bit (float64 addition in identical
    order). Use instead of :func:`ivf_build_index` when centroids are
    fixed/deterministic (e.g. strided corpus vectors) and cross-engine
    verifiability matters more than quantizer quality."""
    return corpus.withColumn(
        "centroid",
        F.array_sort(_sq_l2_to_centroids(embedding_column, centroids))[0]["centroid"],
    )


def _sq_l2_to_centroids(embedding_column: str, centroids: list[list[float]]) -> Column:
    """array<struct<d, centroid>>: squared L2 from the row to each
    centroid, as the left-fold ``zip_with``/``aggregate`` an ANSI-SQL
    oracle reproduces bit-for-bit.

    The centroid matrix is ONE array<array<double>> constant: ``from_json``
    of a literal folds at optimization time, and JSON carries every
    double exactly (shortest round-trip repr). Building it from k·d
    ``F.lit`` codegen literals instead made Janino compile an O(k·d)
    expression tree per consumer (1.5s at k=16, d=64; unbounded at
    scale, where the √N rule grows k with the corpus)."""
    cents = F.from_json(
        F.lit(json.dumps([[float(x) for x in c] for c in centroids])), "array<array<double>>"
    )
    return F.transform(
        cents,
        lambda c, i: F.struct(
            F.aggregate(
                F.zip_with(
                    F.transform(F.col(embedding_column), lambda x: x.cast("double")),
                    c,
                    lambda x, y: (x - y) * (x - y),
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ).alias("d"),
            i.alias("centroid"),
        ),
    )


def save_ivf_index(
    indexed_corpus: DataFrame,
    centroids: list[list[float]],
    path: str,
    partition_by_centroid: bool = True,
) -> None:
    """Persist an IVF index: assignments as parquet partitioned by
    centroid (each inverted list is its own directory → probing a
    centroid is partition pruning, reading only nprobe/num_centroids
    of the data), centroids as a tiny JSON sidecar. Build once, reuse
    across query batches — at 10¹⁰ vectors the KMeans fit + assignment
    is the expensive step and must not rerun per query batch."""
    writer = indexed_corpus.write.mode("overwrite")
    if partition_by_centroid:
        writer = writer.partitionBy("centroid")
    writer.parquet(f"{path}/assignments")
    spark = indexed_corpus.sparkSession
    spark.createDataFrame(
        [(json.dumps(centroids),)], "centroids_json string"
    ).coalesce(1).write.mode("overwrite").json(f"{path}/centroids")


def load_ivf_index(spark, path: str) -> tuple[DataFrame, list[list[float]]]:
    """Counterpart of :func:`save_ivf_index` → (indexed_corpus,
    centroids). Centroid filters on the assignments frame prune
    partitions (asserted in tests)."""
    assigned = spark.read.parquet(f"{path}/assignments")
    row = spark.read.json(f"{path}/centroids").head()
    centroids = json.loads(row["centroids_json"])
    return assigned, centroids


def ivf_topk(
    queries: DataFrame,
    indexed_corpus: DataFrame,
    centroids: list[list[float]],
    k: int = 10,
    nprobe: int = 4,
    query_id: str = "query_id",
    corpus_id: str = "vec_id",
    embedding_column: str = "embedding",
) -> DataFrame:
    """Probe the ``nprobe`` nearest centroids per query (squared L2,
    the same Catalyst expression as :func:`assign_to_centroids`); exact
    cosine over those inverted lists only (:func:`_rerank_pairs`)."""
    q = queries.select(F.col(query_id).alias("query_id"), F.col(embedding_column).alias("__qe"))
    qprobe = q.select(
        "query_id",
        "__qe",
        F.explode(
            F.slice(F.array_sort(_sq_l2_to_centroids("__qe", centroids)), 1, nprobe)["centroid"]
        ).alias("centroid"),
    )
    c = indexed_corpus.select(
        F.col(corpus_id).alias("vec_id"), F.col(embedding_column).alias("__ce"), "centroid"
    )
    scored = _rerank_pairs(qprobe.join(c, on="centroid"), "query_id", "vec_id", "__qe", "__ce")
    return per_group_topk(scored, "query_id", "score", k, tie_break=["vec_id"], rank_column="rank")
