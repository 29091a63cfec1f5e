"""MinHash + LSH near-duplicate detection — fully relational.

shingle → minhash → band → bucket-join, the standard large-corpus
near-dedup pipeline (Broder '97; used by C4/RefinedWeb/Dolma et al.),
expressed so every stage is a DataFrame op with partial aggregation —
AND portably reproducible: all hashing is integer arithmetic mod
p = 2^31−1 over *token ids* (from the relational dictionary), so a SQL
oracle computes bit-identical signatures.

Pipeline (shuffle count in brackets):
  1. (doc, pos, token) rows → join vocab → token ids        [explode + 1 broadcast join]
  2. bigram shingle = (id·1000003 + next_id) mod p          [window lead, same shuffle as 3]
  3. k permutations: min((aⱼ·s + bⱼ) mod p) per (doc, j)    [1 groupBy, k×shingles rows]
  4. band key = md5 of the band's minhash values            [1 groupBy]
  5. candidates = docs sharing any (band, key) bucket       [1 self-join on bucket]
  6. verify: exact shingle-set Jaccard ≥ threshold          [1 join + groupBy]

At 100 TB the only dangerous stage is 5 (a hot bucket = a skewed
join key); AQE skew-join splits it, and ``max_bucket_size`` drops
degenerate buckets (boilerplate shingles) like production pipelines do.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from redshells_spark.schema import require_columns

P = 2147483647  # 2^31 - 1 (Mersenne prime); all arithmetic fits in int64
SHINGLE_BASE = 1000003


def doc_shingles(
    docs: DataFrame,
    vocab: DataFrame,
    doc_id_column: str = "doc_id",
    tokens_column: str = "tokens",
    shingle_len: int = 2,
) -> DataFrame:
    """→ distinct (doc_id, shingle:long). Token-id n-grams via window
    ``lead`` over token position; ids from the relational vocabulary
    (:func:`redshells_spark.text.dictionary.train_dictionary`).
    Out-of-vocab tokens are dropped (rare-token shingles don't help
    near-dup detection and ballooning the id space hurts)."""
    require_columns(docs, [doc_id_column, tokens_column])
    pos = docs.select(
        F.col(doc_id_column).alias("doc_id"),
        F.posexplode(tokens_column).alias("pos", "token"),
    )
    ids = pos.join(F.broadcast(vocab.select("token", "token_id")), on="token", how="inner")
    w = Window.partitionBy("doc_id").orderBy("pos")
    shingle = F.col("token_id").cast("long")
    for i in range(1, shingle_len):
        shingle = (shingle * SHINGLE_BASE + F.lead("token_id", i).over(w)) % P
    return (
        ids.withColumn("shingle", shingle)
        .filter(F.col("shingle").isNotNull())
        .select("doc_id", "shingle")
        .dropDuplicates()
    )


def _perm_params(num_hashes: int) -> list[tuple[int, int]]:
    return [((j * 2654435761 + 1) % P, (j * 40503 + 17) % P) for j in range(num_hashes)]


def minhash_signatures_wide(
    shingles: DataFrame, num_hashes: int = 16, with_size: bool = True
) -> DataFrame:
    """→ (doc_id, mh0..mh{k-1}[, sz]): all k permutation minima as
    parallel aggregate expressions in ONE groupBy — no k× row blowup,
    one shuffle with map-side partial min per column. Each aggregate is
    one SQL expression: a Column tree would cost the driver a py4j
    round trip per node."""
    aggs = [
        F.expr(f"min(({a} * shingle + {b}) % {P}) AS mh{j}")
        for j, (a, b) in enumerate(_perm_params(num_hashes))
    ]
    if with_size:
        aggs.append(F.expr("count(1) AS sz"))
    return shingles.groupBy("doc_id").agg(*aggs)


def minhash_signatures(
    shingles: DataFrame, num_hashes: int = 16
) -> DataFrame:
    """→ (doc_id, j, minhash) — long form (the oracle-checked
    representation), unpivoted from the wide aggregation."""
    wide = minhash_signatures_wide(shingles, num_hashes, with_size=False)
    return minhash_signatures_from_wide(wide, num_hashes)


def minhash_signatures_from_wide(wide: DataFrame, num_hashes: int = 16) -> DataFrame:
    """Long (doc_id, j, minhash) form unpivoted from an existing wide
    signature relation — the zero-shuffle path when the wide rows are
    already materialized (shared session caches)."""
    structs = ", ".join(f"struct({j} AS j, mh{j} AS minhash)" for j in range(num_hashes))
    return wide.selectExpr("doc_id", f"explode(array({structs})) AS s").select(
        "doc_id", "s.j", "s.minhash"
    )


def minhash_lsh_candidates(
    signatures: DataFrame,
    bands: int = 4,
    rows_per_band: int = 4,
    max_bucket_size: int = 1000,
) -> DataFrame:
    """→ candidate pairs (doc_id_0 < doc_id_1) sharing an LSH bucket;
    takes the long (doc_id, j, minhash) form. Prefer
    :func:`minhash_lsh_candidates_wide` in pipelines — it skips the
    extra band groupBy entirely.

    band key = md5 of the band's ordered minhash values (portable
    across engines). Buckets larger than ``max_bucket_size`` are
    dropped — they are boilerplate clusters that would quadratically
    explode the pair join (standard skew guard)."""
    banded = (
        signatures.withColumn("band", F.floor(F.col("j") / rows_per_band).cast("int"))
        .filter(F.col("band") < bands)
        .groupBy("doc_id", "band")
        .agg(
            F.md5(
                F.concat_ws(",", F.array_sort(F.collect_list(F.struct("j", "minhash"))).minhash)
            ).alias("bucket")
        )
    )
    return _bucket_pairs(banded, max_bucket_size)


def _band_structs(bands: int, rows_per_band: int) -> str:
    """SQL for ``array(struct(band, bucket), ...)``: one struct per band,
    its bucket the md5 of the band's minhashes joined by commas."""
    def bucket(b: int) -> str:
        mhs = ", ".join(
            f"CAST(mh{j} AS STRING)" for j in range(b * rows_per_band, (b + 1) * rows_per_band)
        )
        return f"struct({b} AS band, md5(concat_ws(',', {mhs})) AS bucket)"

    return f"array({', '.join(bucket(b) for b in range(bands))})"


def minhash_band_index(
    wide: DataFrame, bands: int = 4, rows_per_band: int = 4
) -> DataFrame:
    """→ (doc_id, band, bucket): the persistable LSH index. Write it
    partitioned by ``band`` (or bucketed by ``bucket``) once per
    corpus build; nightly deltas then dedup against it without
    touching corpus text (see :func:`minhash_dedup_against_index`)."""
    return wide.selectExpr(
        "doc_id", f"explode({_band_structs(bands, rows_per_band)}) AS bb"
    ).select("doc_id", "bb.band", "bb.bucket")


def minhash_lsh_candidates_wide(
    wide: DataFrame,
    bands: int = 4,
    rows_per_band: int = 4,
    max_bucket_size: int = 1000,
) -> DataFrame:
    """Wide-signature candidate generation: band keys are md5 column
    expressions over the wide row — one explode of ``bands`` structs
    per doc (vs k rows + a groupBy in the long path)."""
    banded = minhash_band_index(wide, bands, rows_per_band)
    return _bucket_pairs(banded, max_bucket_size)


def _bucket_pairs(banded: DataFrame, max_bucket_size: int) -> DataFrame:
    sized = banded.withColumn(
        "__bsz", F.count(F.lit(1)).over(Window.partitionBy("band", "bucket"))
    ).filter(F.col("__bsz") <= max_bucket_size)
    left = sized.select("band", "bucket", F.col("doc_id").alias("doc_id_0"))
    right = sized.select("band", "bucket", F.col("doc_id").alias("doc_id_1"))
    return (
        left.join(right, on=["band", "bucket"])
        .filter(F.col("doc_id_0") < F.col("doc_id_1"))
        .select("doc_id_0", "doc_id_1")
        .dropDuplicates()
    )


def minhash_jaccard_estimate(
    pairs: DataFrame,
    wide_left: DataFrame,
    wide_right: DataFrame,
    num_hashes: int = 16,
    left_id: str = "doc_id_0",
    right_id: str = "doc_id_1",
) -> DataFrame:
    """→ pairs + ``est_jaccard``: fraction of agreeing minima between
    the two wide signatures — the standard unbiased MinHash estimator.
    Needs only the stored signatures, not shingle sets, which is what
    makes delta dedup possible without re-reading corpus text."""
    wl = wide_left.selectExpr(
        f"doc_id AS {left_id}", *[f"mh{j} AS __l{j}" for j in range(num_hashes)]
    )
    wr = wide_right.selectExpr(
        f"doc_id AS {right_id}", *[f"mh{j} AS __r{j}" for j in range(num_hashes)]
    )
    agree = " + ".join(
        f"CASE WHEN __l{j} = __r{j} THEN 1 ELSE 0 END" for j in range(num_hashes)
    )
    return pairs.join(wl, on=left_id).join(wr, on=right_id).selectExpr(
        left_id, right_id, f"({agree}) / {float(num_hashes)}D AS est_jaccard"
    )


def minhash_dedup_against_index(
    new_wide: DataFrame,
    corpus_index: DataFrame,
    corpus_wide: DataFrame,
    threshold: float = 0.5,
    bands: int = 4,
    rows_per_band: int = 4,
    num_hashes: int = 16,
    max_bucket_size: int = 1000,
) -> DataFrame:
    """Incremental near-dedup: flag new docs that near-duplicate the
    EXISTING corpus → (new_doc_id, corpus_doc_id, est_jaccard ≥
    threshold).

    The production delta-ingestion shape (C4/RefinedWeb-style): the
    corpus index (:func:`minhash_band_index`) and wide signatures are
    built once and persisted; a nightly batch computes its own
    signatures, equi-joins its band buckets against the index
    (partition-prunable on band), and scores candidates with the
    signature-agreement estimator — corpus text is never re-read, and
    the join is delta × matching-buckets, not delta × corpus."""
    new_banded = minhash_band_index(new_wide, bands, rows_per_band)
    sized = corpus_index.withColumn(
        "__bsz", F.count(F.lit(1)).over(Window.partitionBy("band", "bucket"))
    ).filter(F.col("__bsz") <= max_bucket_size)
    cand = (
        new_banded.select("band", "bucket", F.col("doc_id").alias("new_doc_id"))
        .join(
            sized.select("band", "bucket", F.col("doc_id").alias("corpus_doc_id")),
            on=["band", "bucket"],
        )
        .select("new_doc_id", "corpus_doc_id")
        .dropDuplicates()
    )
    est = minhash_jaccard_estimate(
        cand, new_wide, corpus_wide, num_hashes, left_id="new_doc_id", right_id="corpus_doc_id"
    )
    return est.filter(F.col("est_jaccard") >= threshold)


def verify_jaccard(
    candidates: DataFrame,
    shingles: DataFrame,
    threshold: float = 0.5,
    arrays: DataFrame | None = None,
) -> DataFrame:
    """Exact shingle-set Jaccard for candidate pairs → keep ≥ threshold.

    Array form: per-doc shingle arrays (one groupBy of the distinct
    shingle relation) are brought to each candidate pair by two shuffle
    joins keyed on doc id, and |A∩B| is one JVM ``array_intersect`` of
    int arrays — no exploded pair×shingle shuffle and no post-join
    groupBy (measured 4.3s → 1.8s on the sf0.1 LSH candidate set; the
    shuffled volume is the same candidate-bounded pairs, each carrying
    two token-proportional int arrays; |A| = size(array) falls out of
    the same aggregate). ``arrays`` (optional, (doc_id, __arr, sz))
    supplies a pre-materialized — typically session-cached — array
    relation so repeated verifications skip the groupBy. Nothing
    corpus-sized is broadcast."""
    arr = (
        arrays
        if arrays is not None
        else shingles.groupBy("doc_id").agg(
            F.collect_list("shingle").alias("__arr"),
            F.count(F.lit(1)).alias("sz"),
        )
    )
    a0 = arr.select(
        F.col("doc_id").alias("doc_id_0"),
        F.col("__arr").alias("__a0"),
        F.col("sz").alias("sz0"),
    )
    a1 = arr.select(
        F.col("doc_id").alias("doc_id_1"),
        F.col("__arr").alias("__a1"),
        F.col("sz").alias("sz1"),
    )
    return (
        candidates.join(a0, on="doc_id_0")
        .join(a1, on="doc_id_1")
        .withColumn("inter", F.size(F.array_intersect("__a0", "__a1")))
        .withColumn(
            "jaccard",
            F.col("inter") / (F.col("sz0") + F.col("sz1") - F.col("inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_id_0", "doc_id_1", "jaccard")
    )


def minhash_near_dedup(
    docs: DataFrame,
    vocab: DataFrame,
    doc_id_column: str = "doc_id",
    tokens_column: str = "tokens",
    num_hashes: int = 16,
    bands: int = 4,
    rows_per_band: int = 4,
    threshold: float = 0.5,
) -> DataFrame:
    """End-to-end: → verified near-duplicate pairs (doc_id_0, doc_id_1,
    jaccard). Drop policy (keep min id per connected component) is left
    to the caller — components need iterative joins (see
    :func:`connected_components_dedup`)."""
    # shingles feed both the signature path and the Jaccard verify —
    # cache so the explode+join+window runs once, not twice
    sh = doc_shingles(docs, vocab, doc_id_column, tokens_column).cache()
    wide = minhash_signatures_wide(sh, num_hashes=num_hashes)
    cand = minhash_lsh_candidates_wide(wide, bands=bands, rows_per_band=rows_per_band)
    return verify_jaccard(cand, sh, threshold=threshold)


def connected_components_dedup(
    pairs: DataFrame, max_iterations: int = 10
) -> DataFrame:
    """→ (doc_id, keep_id): map every doc in a near-dup component to
    the component's min id.

    Each iteration does hash-min propagation over the edges AND a
    pointer-doubling compression step (lbl(v) ← lbl(lbl(v))), so
    convergence is O(log(component diameter)) iterations — a
    64-node path converges in ~7 rounds, not 63. Near-dup components
    are shallow in practice, so the default cap is generous."""
    edges = pairs.select(
        F.col("doc_id_0").alias("src"), F.col("doc_id_1").alias("dst")
    )
    # sym is re-read every iteration; labels' lineage would otherwise
    # grow by a join + outer join per iteration, making iteration k
    # recompute all k-1 predecessors (O(k²) total) and eventually
    # blowing up the plan — truncate lineage with localCheckpoint
    # (eager: also serves as the materialization the convergence check
    # needs, so exceptAll compares two small materialized frames)
    sym = edges.union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).localCheckpoint()
    labels = (
        sym.groupBy("src").agg(F.min("dst").alias("lbl"))
        .select("src", F.least("src", "lbl").alias("lbl"))
        .localCheckpoint()
    )
    for _ in range(max_iterations):
        prop = (
            sym.join(labels, on="src")
            .groupBy("dst")
            .agg(F.min("lbl").alias("nlbl"))
            .withColumnRenamed("dst", "src")
        )
        merged = labels.join(prop, on="src", how="outer").select(
            "src",
            F.least(F.coalesce("lbl", "nlbl"), F.coalesce("nlbl", "lbl")).alias("lbl"),
        )
        # pointer doubling: lbl(v) ← lbl(lbl(v)). Combined with the
        # hash-min step above, label distance to the component min
        # roughly halves per round → O(log diameter) iterations
        parent = merged.select(
            F.col("src").alias("lbl"), F.col("lbl").alias("plbl")
        )
        new_labels = (
            merged.join(parent, on="lbl", how="left")
            .select("src", F.least("lbl", F.coalesce("plbl", "lbl")).alias("lbl"))
            .localCheckpoint()
        )
        converged = new_labels.exceptAll(labels).isEmpty()
        labels = new_labels
        if converged:
            break
    return labels.select(F.col("src").alias("doc_id"), F.col("lbl").alias("keep_id"))
