"""Similarity search over an embedding column (array<float>).

Three tiers, trading recall for cost:

- :func:`brute_force_topk` — exact top-k cosine per query; broadcast
  the (small) query side, per-partition partial top-k via window.
  The baseline and the verifier for the approximate tiers.
- :func:`lsh_topk` — random-hyperplane LSH: only candidates sharing a
  signature block are scored. Sub-linear candidate sets at 100 TB.
- :func:`ivf_topk` — IVF: k-means coarse quantizer (MLlib KMeans);
  queries probe ``nprobe`` nearest centroids, scoring only those
  inverted lists. The scale path when embeddings are re-used across
  many query batches.

Generalizes the reference's two-stage retrieval
(``calculate_word_item_similarity.py:42-58``: cheap dot-product
prequery → expensive rerank): stage 1 here is the ANN candidate
generation, stage 2 the exact cosine rerank.
"""

from __future__ import annotations

import functools
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from redshells_spark.functions.vector import cosine_similarity, dot_product
from redshells_spark.operators.topk import per_group_topk


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


def brute_force_topk(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    query_id: str = "query_id",
    corpus_id: str = "vec_id",
    embedding_column: str = "embedding",
    metric: str = "cosine",
) -> DataFrame:
    """Exact top-k neighbours per query → (query_id, vec_id, score, rank).

    Broadcast-crossJoin (queries are the small side by construction) →
    codegen cosine → per-query window top-k. No shuffle of the corpus;
    the only exchange is the final window on query_id, whose input is
    already pruned to per-partition top-k by WindowGroupLimit."""
    q = queries.select(
        F.col(query_id).alias("query_id"), F.col(embedding_column).alias("__qe")
    )
    c = corpus.select(
        F.col(corpus_id).alias("vec_id"), F.col(embedding_column).alias("__ce")
    )
    score = (
        cosine_similarity("__qe", "__ce") if metric == "cosine" else dot_product("__qe", "__ce")
    )
    scored = c.crossJoin(F.broadcast(q)).select(
        "query_id", "vec_id", score.alias("score")
    )
    return per_group_topk(
        scored, "query_id", "score", k, tie_break=["vec_id"], rank_column="rank"
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
    deterministic pseudo-random hyperplanes.

    The plane matrix (planes × dim, xxhash64-derived, centered via
    pmod) is broadcast once; each Arrow batch computes all signatures
    in ONE BLAS matmul + sign-bit pack — ~dim·planes fused float ops
    per row instead of dim·planes interpreted Catalyst lambda steps
    (at d=768, 16 planes that was ≈12k expression evaluations/row)."""
    spark = embeddings.sparkSession
    if dim is None:
        dim = len(
            embeddings.select(embedding_column).filter(F.col(embedding_column).isNotNull()).first()[0]
        )
    planes = hyperplane_matrix(num_planes, dim, seed)
    bc = spark.sparkContext.broadcast(planes)
    idtype = embeddings.schema[id_column].dataType.simpleString()
    shifts = np.arange(num_planes, dtype=np.int64)

    def compute(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        mat_planes = bc.value
        for pdf in batches:
            if pdf.empty:
                continue
            emb = np.array(list(pdf[embedding_column]), dtype=np.float64)
            proj = emb @ mat_planes.T  # (batch, planes)
            sig = ((proj > 0).astype(np.int64) << shifts).sum(axis=1)
            yield pd.DataFrame({"vec_id": pdf[id_column], "sig": sig})

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
    broadcast_queries: bool = True,
    max_broadcast_rows: int = 200_000,
) -> DataFrame:
    """Approximate top-k: candidates share ≥1 of ``num_blocks``
    signature blocks (banding), then exact cosine rerank. Recall rises
    with num_blocks (more probes) and falls with num_planes (finer
    buckets). Pass ``dim`` explicitly to avoid a driver ``first()``
    probe job.

    ``multiprobe=1`` additionally probes every Hamming-distance-1
    neighbor of each query block value (classic multi-probe LSH, Lv et
    al. VLDB 2007): near-misses where one hyperplane voted the other
    way land in a neighboring bucket, so flipping single bits recovers
    them. Candidate volume grows ~(1+width)× on the QUERY side only —
    the corpus is never re-bucketed.

    Plan shape (the part that matters at 10¹⁰ corpus vectors): the
    corpus is scanned ONCE and never shuffled. With
    ``broadcast_queries`` (default, guarded by ``max_broadcast_rows``
    like :func:`redshells_spark.similarity.allpairs.matmul_topk`), the
    query signatures and bucket table are built driver-side and the
    whole candidate-match + exact-cosine happens in ONE Arrow pass over
    the corpus; only candidate (query_id, vec_id, score) triples reach
    the final top-k exchange. ``broadcast_queries=False`` keeps both
    sides distributed (signature mapInPandas each side + broadcast-hash
    join on exploded blocks) for query sets too big for the driver."""
    if dim is None:
        dim = len(queries.select(embedding_column).first()[0])
    if broadcast_queries:
        return _lsh_topk_broadcast(
            queries, corpus, k, num_planes, num_blocks, query_id, corpus_id,
            embedding_column, seed, dim, multiprobe, max_broadcast_rows,
        )
    qsig = _signatures_with_payload(
        queries, query_id, embedding_column, num_planes, dim, seed, "query_id", "__qe"
    )
    csig = _signatures_with_payload(
        corpus, corpus_id, embedding_column, num_planes, dim, seed, "vec_id", "__ce"
    )
    width = num_planes // num_blocks

    def blocks(sig_df: DataFrame, idcol: str, payload: str, probe_bits: int = 0) -> DataFrame:
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
        return sig_df.select(idcol, payload, blk).select(
            idcol, payload, "blk.block_idx", "blk.block_val"
        )

    paired = blocks(csig, "vec_id", "__ce").join(
        F.broadcast(blocks(qsig, "query_id", "__qe", probe_bits=multiprobe)),
        on=["block_idx", "block_val"],
    )
    # exact cosine per candidate, batch-local (q, v) pre-dedup in the
    # same Arrow pass; exact dedup afterwards on the narrow scored
    # triples (a pair can match in several blocks)
    scored = _cosine_rerank(
        paired, "query_id", "vec_id", "__qe", "__ce", batch_dedup=True
    ).dropDuplicates(["query_id", "vec_id"])
    return per_group_topk(scored, "query_id", "score", k, tie_break=["vec_id"], rank_column="rank")


def _lsh_topk_broadcast(
    queries: DataFrame,
    corpus: DataFrame,
    k: int,
    num_planes: int,
    num_blocks: int,
    query_id: str,
    corpus_id: str,
    embedding_column: str,
    seed: int,
    dim: int,
    multiprobe: int,
    max_broadcast_rows: int,
) -> DataFrame:
    """Single-corpus-scan LSH top-k: query buckets driver-side,
    candidate match + exact cosine fused into one Arrow pass.

    Signatures are bit-identical to the distributed path (same
    xxhash64-derived plane matrix, same sign-bit packing), so recall
    pins hold for either path. A (query, vec) candidate arises only
    from that corpus row's own blocks — all in one batch — so in-batch
    pair dedup is exact and no shuffle-side dedup is needed."""
    from redshells_spark.similarity.allpairs import _collect_bounded

    spark = corpus.sparkSession
    planes = hyperplane_matrix(num_planes, dim, seed)
    rows = _collect_bounded(
        queries.select(query_id, embedding_column), max_broadcast_rows,
        "lsh_topk (pass broadcast_queries=False for unbounded query sets)",
    )
    qids = np.array([r[0] for r in rows])
    qmat = np.array([r[1] for r in rows], dtype=np.float64)
    shifts = np.arange(num_planes, dtype=np.int64)
    qsig = ((qmat @ planes.T > 0).astype(np.int64) << shifts).sum(axis=1)
    width = num_planes // num_blocks
    mask = (1 << width) - 1
    buckets: dict[tuple[int, int], list[int]] = {}
    for qi, s in enumerate(qsig):
        for i in range(num_blocks):
            vals = {int((s >> (i * width)) & mask)}
            if multiprobe:
                vals |= {v ^ (1 << b) for v in set(vals) for b in range(width)}
            for v in vals:
                buckets.setdefault((i, v), []).append(qi)
    bucket_arr = {key: np.array(v, dtype=np.int64) for key, v in buckets.items()}
    qnorm = np.linalg.norm(qmat, axis=1)
    qnorm[qnorm == 0] = 1.0
    bc = spark.sparkContext.broadcast((qids, qmat / qnorm[:, None], bucket_arr))

    qtype = queries.schema[query_id].dataType.simpleString()
    ctype = corpus.schema[corpus_id].dataType.simpleString()

    def compute(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ids_q, mat_q, bkt = bc.value
        mat_planes = planes
        for pdf in batches:
            if pdf.empty:
                continue
            cids = pdf[corpus_id].to_numpy()
            cmat = np.array(list(pdf[embedding_column]), dtype=np.float64)
            sig = ((cmat @ mat_planes.T > 0).astype(np.int64) << shifts).sum(axis=1)
            cnorm = np.linalg.norm(cmat, axis=1)
            cnorm[cnorm == 0] = 1.0
            cmat_n = cmat / cnorm[:, None]
            # score per bucket as one (rows × queries) BLAS matmul —
            # pairwise gathers of the pair list would move |pairs|·dim
            # floats; per-bucket matmuls touch each side once
            row_parts, q_parts, s_parts = [], [], []
            for i in range(num_blocks):
                vals = (sig >> (i * width)) & mask
                order = np.argsort(vals, kind="stable")
                sv = vals[order]
                starts = np.flatnonzero(np.r_[True, sv[1:] != sv[:-1]])
                ends = np.r_[starts[1:], len(sv)]
                for s_, e_ in zip(starts, ends):
                    qidx = bkt.get((i, int(sv[s_])))
                    if qidx is None:
                        continue
                    rows_i = order[s_:e_]
                    sc = cmat_n[rows_i] @ mat_q[qidx].T  # (m, b)
                    row_parts.append(np.repeat(rows_i, len(qidx)))
                    q_parts.append(np.tile(qidx, len(rows_i)))
                    s_parts.append(sc.ravel())
            if not row_parts:
                continue
            ri = np.concatenate(row_parts)
            qi = np.concatenate(q_parts)
            sc_all = np.concatenate(s_parts)
            # exact in-batch pair dedup (a pair matching in >1 block has
            # identical scores — keep the first occurrence per key)
            key = qi * np.int64(len(cids)) + ri
            _, first = np.unique(key, return_index=True)
            ri, qi, scores = ri[first], qi[first], sc_all[first]
            # partial per-query top-k with the SAME ordering as the final
            # window (score desc, vec_id asc) → the shuffle carries at
            # most nq·k rows per batch instead of every candidate
            order = np.lexsort((cids[ri], -scores, qi))
            qs = qi[order]
            starts = np.flatnonzero(np.r_[True, qs[1:] != qs[:-1]])
            rank = np.arange(len(qs)) - np.repeat(
                starts, np.diff(np.r_[starts, len(qs)])
            )
            keep = order[rank < k]
            yield pd.DataFrame(
                {"query_id": ids_q[qi[keep]], "vec_id": cids[ri[keep]], "score": scores[keep]}
            )

    partial = corpus.select(corpus_id, embedding_column).mapInPandas(
        compute, schema=f"query_id {qtype}, vec_id {ctype}, score double"
    )
    return per_group_topk(
        partial, "query_id", "score", k, tie_break=["vec_id"], rank_column="rank"
    )


def _signatures_with_payload(
    df: DataFrame,
    id_column: str,
    embedding_column: str,
    num_planes: int,
    dim: int,
    seed: int,
    out_id: str,
    out_payload: str,
) -> DataFrame:
    """(id, sig, payload=embedding) in one Arrow pass — the embedding
    rides along so downstream scoring never joins back to the source."""
    spark = df.sparkSession
    planes = hyperplane_matrix(num_planes, dim, seed)
    bc = spark.sparkContext.broadcast(planes)
    idtype = df.schema[id_column].dataType.simpleString()
    etype = df.schema[embedding_column].dataType.simpleString()
    shifts = np.arange(num_planes, dtype=np.int64)

    def compute(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        mat_planes = bc.value
        for pdf in batches:
            if pdf.empty:
                continue
            emb = np.array(list(pdf[embedding_column]), dtype=np.float64)
            proj = emb @ mat_planes.T
            sig = ((proj > 0).astype(np.int64) << shifts).sum(axis=1)
            yield pd.DataFrame(
                {out_id: pdf[id_column], "sig": sig, out_payload: pdf[embedding_column]}
            )

    return df.select(id_column, embedding_column).mapInPandas(
        compute, schema=f"{out_id} {idtype}, sig long, {out_payload} {etype}"
    )


def _cosine_rerank(
    paired: DataFrame, qid: str, cid: str, qe: str, ce: str, batch_dedup: bool = False
) -> DataFrame:
    """Exact cosine over candidate pairs, one vectorized numpy batch
    per Arrow chunk — the Catalyst higher-order-function cosine costs
    ~3·dim interpreted lambda steps per pair, which dominates rerank
    time once candidates reach ~10⁵. ``batch_dedup`` drops duplicate
    (qid, cid) pairs within each Arrow batch before scoring (a cheap
    pre-reduction when the caller dedups exactly afterwards)."""
    qt = paired.schema[qid].dataType.simpleString()
    ct = paired.schema[cid].dataType.simpleString()

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if batch_dedup and not pdf.empty:
                pdf = pdf.drop_duplicates(subset=[qid, cid])
            if pdf.empty:
                continue
            a = np.array(list(pdf[qe]), dtype=np.float64)
            b = np.array(list(pdf[ce]), dtype=np.float64)
            na = np.linalg.norm(a, axis=1)
            nb = np.linalg.norm(b, axis=1)
            denom = na * nb
            denom[denom == 0] = 1.0
            yield pd.DataFrame(
                {
                    "query_id": pdf[qid],
                    "vec_id": pdf[cid],
                    "score": (a * b).sum(axis=1) / denom,
                }
            )

    return paired.select(qid, cid, qe, ce).mapInPandas(
        run, schema=f"query_id {qt}, vec_id {ct}, score double"
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
    # vectorized exact verification (one numpy batch per Arrow chunk —
    # the Catalyst lambda metric costs ~3·dim interpreted steps/pair)
    t0 = paired.schema["id0"].dataType.simpleString()
    t1 = paired.schema["id1"].dataType.simpleString()

    def verify(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            a = np.array(list(pdf["__e0"]), dtype=np.float64)
            b = np.array(list(pdf["__e1"]), dtype=np.float64)
            s = (a * b).sum(axis=1)
            if metric == "cosine":
                denom = np.linalg.norm(a, axis=1) * np.linalg.norm(b, axis=1)
                denom[denom == 0] = 1.0
                s = s / denom
            keep = s >= threshold
            if not keep.any():
                continue
            yield pd.DataFrame(
                {
                    "id0": pdf["id0"].to_numpy()[keep],
                    "id1": pdf["id1"].to_numpy()[keep],
                    "similarity": s[keep],
                }
            )

    return paired.select("id0", "id1", "__e0", "__e1").mapInPandas(
        verify, schema=f"id0 {t0}, id1 {t1}, similarity double"
    )


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
    corpus_id: str = "vec_id",
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
    from pyspark.ml.functions import array_to_vector, vector_to_array

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
    # The centroid matrix arrives as a broadcast 1-row VALUE, not as
    # k*d codegen literals: with the sqrt(N) rule k grows with the
    # corpus, and a literal form made Janino compile an O(k*d)
    # expression tree per consumer (1.5s at k=16,d=64; unbounded at
    # scale). The arithmetic below is unchanged — the same
    # transform/zip_with/left-fold float64 tree an ANSI oracle
    # reproduces bit-for-bit — only the centroid constants moved from
    # the instruction stream to a column.
    spark = corpus.sparkSession
    cent_df = spark.createDataFrame(
        [([[float(x) for x in c] for c in centroids],)],
        "__cents array<array<double>>",
    )
    dists = F.transform(
        F.col("__cents"),
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
    return (
        corpus.crossJoin(F.broadcast(cent_df))  # 1-row constant join
        .withColumn("centroid", F.array_sort(dists)[0]["centroid"])
        .drop("__cents")
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
    import json

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
    import json

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
    """Probe the ``nprobe`` nearest centroids per query; exact cosine
    over those inverted lists only. The centroid table is a literal
    array expression (num_centroids ≤ a few thousand)."""
    cent = F.array(
        *[F.array(*[F.lit(x) for x in c]).cast("array<double>") for c in centroids]
    )
    q = queries.select(F.col(query_id).alias("query_id"), F.col(embedding_column).alias("__qe"))
    qprobe = (
        q.withColumn(
            "__dists",
            F.transform(
                cent,
                lambda c, i: F.struct(
                    F.aggregate(
                        F.zip_with(F.transform(F.col("__qe"), lambda x: x.cast("double")), c,
                                   lambda x, y: (x - y) * (x - y)),
                        F.lit(0.0),
                        lambda acc, x: acc + x,
                    ).alias("d"),
                    i.alias("centroid"),
                ),
            ),
        )
        .withColumn("__probe", F.slice(F.array_sort("__dists"), 1, nprobe))
        .select("query_id", "__qe", F.explode("__probe.centroid").alias("centroid"))
    )
    c = indexed_corpus.select(
        F.col(corpus_id).alias("vec_id"), F.col(embedding_column).alias("__ce"), "centroid"
    )
    paired = qprobe.join(c, on="centroid")
    scored = _cosine_rerank(paired, "query_id", "vec_id", "__qe", "__ce")
    return per_group_topk(scored, "query_id", "score", k, tie_break=["vec_id"], rank_column="rank")
