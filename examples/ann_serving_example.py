"""The embedding-serving compression ladder end-to-end: float32 corpus
→ int8 scalar quantization (4×) → 1-bit binary codes (32×) → two-stage
retrieval (Hamming coarse stage + exact cosine re-rank), with the
recall of each stage measured against exact brute force — the decision
artifact for what actually ships to an ANN fleet."""

from __future__ import annotations

from _common import example_args, example_session


def main() -> None:
    args = example_args(__doc__)
    spark = example_session("ann_serving_example")
    from pyspark.sql import functions as F
    from pyspark.sql import Window

    from redshells_spark.functions.vector import cosine_similarity
    from redshells_spark.similarity.ann import brute_force_topk
    from redshells_spark.similarity.binary import binary_quantize, hamming_topk
    from redshells_spark.similarity.quantize import int8_reconstruction_report

    emb = spark.read.parquet(f"{args.sf_dir}/embeddings.parquet")
    dim = len(emb.select("embedding").first()[0])
    n_words = (dim + 31) // 32
    k = 10

    # ---- stage 0: exact ground truth (brute force, query ids < 50)
    queries = emb.filter(F.col("vec_id") < 50).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = brute_force_topk(queries, emb, k=k)
    truth = {
        (r["query_id"], r["vec_id"]) for r in exact.collect()
    }

    # ---- rung 1: int8 — reconstruction error report
    rep = int8_reconstruction_report(emb)
    err = rep.agg(
        F.max("err_e8").alias("max_err_e8"), F.avg("err_e8").alias("avg_err_e8")
    ).first()
    print(f"int8: max reconstruction err {err['max_err_e8']/1e8:.6f}, "
          f"avg {err['avg_err_e8']/1e8:.6f} (squared L2, 4x compression)")

    # ---- rung 2: binary — Hamming-only recall
    codes = binary_quantize(emb, dim=dim).drop("n_pos")
    qcodes = codes.filter(F.col("vec_id") < 50)
    ham = hamming_topk(codes, qcodes, n_words=n_words, k=k)
    got = {(r["query_id"], r["vec_id"]) for r in ham.collect()}
    print(f"binary codes alone: recall@{k} = {len(got & truth) / len(truth):.3f} "
          f"(32x compression)")

    # ---- rung 3: two-stage — Hamming coarse (5k candidates) + exact re-rank
    coarse = hamming_topk(codes, qcodes, n_words=n_words, k=5 * k).select(
        "query_id", "vec_id"
    )
    qe = emb.filter(F.col("vec_id") < 50).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe")
    )
    ce = emb.select("vec_id", F.col("embedding").alias("ce"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("vec_id").asc()
    )
    rerank = (
        coarse.join(F.broadcast(qe), "query_id")
        .join(ce, "vec_id")
        .select("query_id", "vec_id", cosine_similarity("qe", "ce").alias("score"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
    )
    got2 = {(r["query_id"], r["vec_id"]) for r in rerank.collect()}
    print(f"two-stage (coarse {5 * k} -> exact re-rank): recall@{k} = "
          f"{len(got2 & truth) / len(truth):.3f}; float vectors touched for "
          f"{5 * k} rows/query instead of the whole corpus")

    spark.stop()


if __name__ == "__main__":
    main()
