"""End-to-end corpus WRITE pipeline — the step after filtering/dedup
that every training run depends on and the reference never had:

    near-dup components  ->  keep-longest canonical docs
                         ->  leakage-safe train/val/test split
                         ->  token-balanced output shards
                         ->  deterministic epoch schedule

Run:  python examples/corpus_write_pipeline_example.py [sf_dir]

Everything is a pure function of (corpus, seeds): re-running on any
cluster size reproduces byte-identical shard assignments and epoch
orders — the reproducibility contract a training-data pipeline owes
its consumers.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402


def main() -> None:
    from redshells_spark import get_spark_session
    from redshells_spark.data.sharding import curriculum_schedule, token_balanced_shards
    from redshells_spark.dedup.canonical import (
        attach_components,
        canonical_pick,
        component_split,
    )
    from redshells_spark.dedup.minhash import (
        connected_components_dedup,
        doc_shingles,
        minhash_lsh_candidates_wide,
        minhash_signatures_wide,
        verify_jaccard,
    )
    from redshells_spark.queries._shared import _tokens, _vocab

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_spark_session("corpus_write_pipeline")
    spark.sparkContext.setLogLevel("ERROR")

    toks = _tokens(spark, sf_dir)
    docs = toks.select("doc_id", F.size("tokens").cast("long").alias("n_tokens"))

    # 1. near-dup components (banded MinHash LSH -> exact verify -> CC)
    sh = doc_shingles(toks, _vocab(spark, sf_dir)).cache()
    wide = minhash_signatures_wide(sh, num_hashes=16)
    cand = minhash_lsh_candidates_wide(wide, bands=4, rows_per_band=4)
    pairs = verify_jaccard(cand, sh, threshold=0.1)
    comps = connected_components_dedup(pairs.select("doc_id_0", "doc_id_1"))

    # 2. canonical member per cluster (keep-longest), survivors only
    labeled = attach_components(docs, comps, "doc_id", "keep_id")
    canon = canonical_pick(labeled, "n_tokens")
    survivors = canon.filter(F.col("is_canonical") == 1)
    n_total, n_kept = docs.count(), survivors.count()
    print(f"dedup: {n_total} docs -> {n_kept} canonical ({n_total - n_kept} dropped)")

    # 3. leakage-safe split at component granularity
    split = component_split(survivors, train_pct=80, val_pct=10, seed=11)
    print("split shares (components never straddle a boundary):")
    split.groupBy("split").agg(
        F.count("*").alias("docs"), F.sum("n_tokens").alias("tokens")
    ).orderBy("split").show()

    # 4. token-balanced shards for the train split
    train = split.filter(F.col("split") == "train").select("doc_id", "n_tokens")
    sharded = token_balanced_shards(train, "n_tokens", n_shards=8)
    stats = (
        sharded.groupBy("shard")
        .agg(F.count("*").alias("docs"), F.sum("n_tokens").alias("tokens"))
        .orderBy("shard")
    )
    print("shard balance (serpentine LPT):")
    stats.show()
    t = [r["tokens"] for r in stats.collect()]
    print(f"  max/min token imbalance: {max(t) / min(t):.4f}")
    # the real writer would now do:
    #   sharded.repartition('shard').write.partitionBy('shard').parquet(out)

    # 5. deterministic 3-epoch order (epoch 0 = curriculum easy->hard)
    sched = curriculum_schedule(train, "n_tokens", n_epochs=3, seed=7)
    print("epoch-0 head (shortest docs first):")
    sched.filter(F.col("epoch") == 0).orderBy("position").show(5)
    spark.stop()


if __name__ == "__main__":
    main()
