"""End-to-end training-corpus cleaning: language filter → quality
filter → exact dedup → MinHash near-dup drop → similarity index.

The nightly shape of a 100 TB LLM-data pipeline, composed from the
oracle-verified operators (see the `llm_corpus_pipeline` contract
query for the value-checked core)."""

from __future__ import annotations

from _common import example_args, example_session


def main() -> None:
    args = example_args(__doc__)
    spark = example_session("llm_corpus_pipeline_example")
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from redshells_spark.dedup.minhash import (
        connected_components_dedup,
        doc_shingles,
        minhash_lsh_candidates_wide,
        minhash_signatures_wide,
        verify_jaccard,
    )
    from redshells_spark.text.analysis import detect_language, quality_score
    from redshells_spark.text.dictionary import train_dictionary
    from redshells_spark.text.tokenize import tokenize_on_space

    docs = spark.read.parquet(f"{args.sf_dir}/documents.parquet")
    n0 = docs.count()

    # 1. language + quality filters (pure codegen over the scan)
    lang = detect_language(docs).select("doc_id", "lang_pred")
    qual = quality_score(docs).select("doc_id", "quality")
    survivors = (
        docs.join(lang.filter(F.col("lang_pred") == "en"), on="doc_id")
        .join(qual.filter(F.col("quality") >= 0.7), on="doc_id")
    )
    n1 = survivors.count()

    # 2. exact dedup (md5 keep-first; 32-byte keys shuffle, not bodies)
    w = Window.partitionBy(F.md5("text"))
    exact = (
        survivors.withColumn("keep", F.min("doc_id").over(w))
        .filter(F.col("doc_id") == F.col("keep"))
        .drop("keep")
    )
    n2 = exact.count()

    # 3. near-dup drop: MinHash signatures → banded LSH buckets →
    #    Jaccard verify → connected components → keep min id
    toks = tokenize_on_space(docs, "text", "tokens", lowercase=True)
    vocab = train_dictionary(toks, "doc_id", "tokens", no_below=5, no_above=0.9, keep_n=100)
    sh = doc_shingles(toks, vocab).cache()
    wide = minhash_signatures_wide(sh, num_hashes=16)
    cand = minhash_lsh_candidates_wide(wide, bands=4, rows_per_band=4)
    pairs = verify_jaccard(cand, sh, threshold=0.1)
    comp = connected_components_dedup(pairs.select("doc_id_0", "doc_id_1"))
    drop = comp.filter(F.col("doc_id") != F.col("keep_id")).select("doc_id")
    clean = exact.join(drop, on="doc_id", how="left_anti")
    n3 = clean.count()

    print(f"corpus {n0} -> lang+quality {n1} -> exact-dedup {n2} -> near-dup {n3}")
    spark.stop()


if __name__ == "__main__":
    main()
