"""The four-layer dedup stack on one corpus: exact (md5 fingerprint),
token-level near-dup (MinHash LSH), cross-document line/paragraph
dedup (CCNet), and embedding-space semantic dedup (SemDeDup) — the
full pre-training cleaning ladder, each layer catching what the
previous one cannot.

Run: python examples/dedup_suite_example.py [--sf-dir /root/testdata/sf0.001]
"""

from __future__ import annotations

from _common import example_args, example_session


def main() -> None:
    args = example_args(__doc__)
    spark = example_session("dedup_suite_example")
    from pyspark.sql import functions as F

    from redshells_spark.dedup.exact import exact_dedup
    from redshells_spark.dedup.lines import block_units, cross_doc_unit_dedup
    from redshells_spark.dedup.minhash import (
        doc_shingles,
        minhash_lsh_candidates_wide,
        minhash_signatures_wide,
        verify_jaccard,
    )
    from redshells_spark.dedup.semantic import semantic_dedup
    from redshells_spark.similarity.ann import ivf_seed_centroids
    from redshells_spark.text.dictionary import train_dictionary
    from redshells_spark.text.tokenize import tokenize_on_space

    docs = spark.read.parquet(f"{args.sf_dir}/documents.parquet")
    n0 = docs.count()

    # 1. exact: normalized-text md5, keep-first
    exact = exact_dedup(docs, text_column="text")
    n1 = exact.count()
    print(f"exact dedup:    {n0} -> {n1} docs")

    # 2. token-level near-dup: MinHash signatures -> banded LSH ->
    #    Jaccard verification on candidates only
    toks = tokenize_on_space(docs, "text", "tokens", lowercase=True)
    vocab = train_dictionary(toks, "doc_id", "tokens", no_below=5, no_above=0.9, keep_n=100)
    sh = doc_shingles(toks, vocab).cache()
    wide = minhash_signatures_wide(sh, num_hashes=16)
    cand = minhash_lsh_candidates_wide(wide, bands=4, rows_per_band=4)
    pairs = verify_jaccard(cand, sh, threshold=0.5)
    print(f"minhash near-dup pairs (J>=0.5): {pairs.count()}")

    # 3. cross-document unit dedup: corpus-wide boilerplate removal
    units = block_units(docs, block_tokens=8)
    line_dedup = cross_doc_unit_dedup(units, min_occurrences=2)
    dropped_units = line_dedup.agg(F.sum("n_dropped")).collect()[0][0]
    print(f"cross-doc unit dedup: {dropped_units} duplicated blocks removed")

    # 4. semantic: embedding-space near-identical removal,
    #    cluster-bounded pairwise cosine
    emb = spark.read.parquet(f"{args.sf_dir}/embeddings.parquet")
    cents = ivf_seed_centroids(emb, num_centroids=8)
    kept = semantic_dedup(emb, cents, threshold=0.25)
    print(f"semantic dedup: {emb.count()} -> {kept.count()} vectors")

    spark.stop()


if __name__ == "__main__":
    main()
