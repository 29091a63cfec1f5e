"""Corpus-internal repeated-substring span extraction (Lee et al. 2022).

"Deduplicating Training Data Makes Language Models Better"
(arXiv:2107.06499) removes every substring of >= N tokens that occurs
more than once in the training corpus. The exact algorithm builds a
corpus-wide suffix array — inherently sequential and memory-bound. The
relational re-expression used here keeps the guarantee for spans
detected at a fixed shingle width k: a token position is *duplicated*
iff the k-token shingle starting there occurs >= ``min_count`` times
corpus-wide, and maximal runs of duplicated positions are merged into
spans (any repeated substring of length >= k is a union of such
shingles, so its interior is fully covered).

This is distinct from
:func:`redshells_spark.dedup.decontaminate.duplicate_span_fraction`,
which reports only the per-doc duplicated-shingle *fraction*; here the
actual span boundaries are recovered (gaps-and-islands interval merge)
and the removal transform is provided.

Scale shape (the 100 TB story):
- ONE corpus-wide shuffle on the shingle key (md5 of the k-token
  window — identical bytes in any engine, so a DuckDB oracle or a
  stored benchmark index computes the same keys);
- the duplicated-key set joins back big-big sort-merge on that same
  key — no broadcast of anything corpus-sized;
- interval merging is a per-document window (partitionBy doc_id), so
  no global ordering and no skew beyond document length;
- everything is built-in expressions — no Python UDFs anywhere.

Reference behavioral anchor: the reference repo has no substring-level
dedup; nearest neighbours are its doc-level MinHash tasks (e.g.
redshells/contrib/... none) — this module is beyond-reference surface.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from redshells_spark.schema import require_columns


def positional_shingles(
    tokens_df: DataFrame,
    shingle_len: int = 3,
    doc_id_column: str = "doc_id",
    tokens_column: str = "tokens",
) -> DataFrame:
    """→ (doc_id, pos, shingle) — one row per token position ``pos``
    (0-based over the doc's token list) that starts a full
    ``shingle_len``-token window; ``shingle`` is md5 (hex string) of
    the space-joined window — cross-engine portable.
    """
    require_columns(tokens_df, [doc_id_column, tokens_column])
    k = int(shingle_len)
    if k < 1:
        raise ValueError(f"shingle_len must be >= 1, got {shingle_len}")
    t = F.col(tokens_column)
    win = F.concat_ws(" ", F.slice(F.col("__toks"), F.col("pos") + 1, k))
    return (
        tokens_df.select(
            F.col(doc_id_column).alias("doc_id"),
            # docs shorter than k tokens start no shingle: sequence()
            # would count DOWN from 0 for a negative stop, so gate it
            F.explode(
                F.when(F.size(t) >= k, F.sequence(F.lit(0), F.size(t) - k))
            ).alias("pos"),
            t.alias("__toks"),
        )
        .select("doc_id", "pos", F.md5(win).alias("shingle"))
    )


def duplicated_positions(
    shingles: DataFrame,
    min_count: int = 2,
) -> DataFrame:
    """→ (doc_id, pos) positions whose shingle occurs >= ``min_count``
    times corpus-wide (all occurrences counted, including repeats
    inside one document — Lee et al.'s definition, which also catches
    within-doc boilerplate).

    One groupBy(shingle) with map-side partial counts, then a sort-merge
    join back on the same key — the partitioning is reused, so the
    planner schedules exactly one wide exchange of the corpus."""
    require_columns(shingles, ["doc_id", "pos", "shingle"])
    dup = (
        shingles.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("__n"))
        .filter(F.col("__n") >= int(min_count))
        .select("shingle")
    )
    return shingles.join(dup, on="shingle", how="inner").select("doc_id", "pos")


def merge_spans(
    positions: DataFrame,
    shingle_len: int = 3,
) -> DataFrame:
    """→ (doc_id, span_start, span_end, span_len) maximal merged spans.

    Each duplicated position ``pos`` covers the token interval
    [pos, pos + k − 1]; overlapping or adjacent intervals merge
    (gaps-and-islands: a new island starts where ``pos`` exceeds the
    running max end of all earlier intervals by more than one).
    Windows are partitioned per document — no global sort."""
    require_columns(positions, ["doc_id", "pos"])
    k = int(shingle_len)
    end = F.col("pos") + (k - 1)
    w = Window.partitionBy("doc_id").orderBy("pos")
    prev_max_end = F.max(end).over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    new_island = F.when(
        prev_max_end.isNull() | (F.col("pos") > prev_max_end + 1), 1
    ).otherwise(0)
    island = F.sum(new_island).over(
        w.rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        positions.withColumn("__island", island)
        .groupBy("doc_id", "__island")
        .agg(
            F.min("pos").cast("long").alias("span_start"),
            F.max(end).cast("long").alias("span_end"),
        )
        .select(
            "doc_id",
            "span_start",
            "span_end",
            (F.col("span_end") - F.col("span_start") + 1).alias("span_len"),
        )
    )


def repeated_span_report(
    tokens_df: DataFrame,
    shingle_len: int = 3,
    min_count: int = 2,
    doc_id_column: str = "doc_id",
    tokens_column: str = "tokens",
) -> DataFrame:
    """→ one row per document: (doc_id, n_tokens, n_spans, dup_tokens,
    dup_fraction) where ``dup_tokens`` is the total token count inside
    merged duplicated spans and ``dup_fraction`` its share of the doc
    (4 decimals). Documents with no duplicated span report zeros."""
    sh = positional_shingles(tokens_df, shingle_len, doc_id_column, tokens_column)
    spans = merge_spans(duplicated_positions(sh, min_count), shingle_len)
    per_doc = spans.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_spans"),
        F.sum("span_len").cast("long").alias("dup_tokens"),
    )
    totals = tokens_df.select(
        F.col(doc_id_column).alias("doc_id"),
        F.size(tokens_column).cast("long").alias("n_tokens"),
    )
    return (
        totals.join(per_doc, on="doc_id", how="left")
        .select(
            "doc_id",
            "n_tokens",
            F.coalesce("n_spans", F.lit(0)).cast("long").alias("n_spans"),
            F.coalesce("dup_tokens", F.lit(0)).cast("long").alias("dup_tokens"),
            F.round(
                F.coalesce("dup_tokens", F.lit(0))
                / F.greatest(F.col("n_tokens"), F.lit(1)),
                4,
            ).alias("dup_fraction"),
        )
    )


def remove_repeated_spans(
    tokens_df: DataFrame,
    shingle_len: int = 3,
    min_count: int = 2,
    doc_id_column: str = "doc_id",
    tokens_column: str = "tokens",
) -> DataFrame:
    """→ (doc_id, kept_tokens:array<string>, n_removed) — the removal
    transform: every token position inside a merged duplicated span is
    dropped, the rest keep their original order."""
    sh = positional_shingles(tokens_df, shingle_len, doc_id_column, tokens_column)
    spans = merge_spans(duplicated_positions(sh, min_count), shingle_len)
    return cut_spans(tokens_df, spans, doc_id_column, tokens_column)


def cut_spans(
    tokens_df: DataFrame,
    spans: DataFrame,
    doc_id_column: str = "doc_id",
    tokens_column: str = "tokens",
) -> DataFrame:
    """→ (doc_id, kept_tokens:array<string>, n_removed): drop every
    token position of ``tokens_df`` covered by a (doc_id, span_start,
    span_end) row of ``spans``; the rest keep their original order.
    The exploded keep-filter re-aggregates with
    ``sort_array(collect_list(struct))`` so ordering is positional,
    never partition-dependent."""
    require_columns(spans, ["doc_id", "span_start", "span_end"])
    tok = tokens_df.select(
        F.col(doc_id_column).alias("doc_id"),
        F.posexplode(tokens_column).alias("pos", "token"),
    )
    # anti-join each token position against the covering-span ranges:
    # per-doc the span list is tiny (bounded by doc length / k), so
    # aggregate spans to an array per doc and test coverage with a
    # scalar EXISTS over it — keeps the probe a single equi-join on
    # doc_id instead of a range join.
    span_arr = spans.groupBy("doc_id").agg(
        F.collect_list(F.struct("span_start", "span_end")).alias("__spans")
    )
    covered = F.exists(
        "__spans",
        lambda s: (F.col("pos") >= s["span_start"])
        & (F.col("pos") <= s["span_end"]),
    )
    kept = (
        tok.join(span_arr, on="doc_id", how="left")
        .withColumn("__covered", F.coalesce(covered, F.lit(False)))
    )
    return (
        kept.groupBy("doc_id")
        .agg(
            F.sort_array(
                F.collect_list(
                    F.when(
                        ~F.col("__covered"), F.struct("pos", "token")
                    )
                )
            ).alias("__kept"),
            F.sum(F.col("__covered").cast("long")).alias("n_removed"),
        )
        .select(
            "doc_id",
            F.transform("__kept", lambda s: s["token"]).alias("kept_tokens"),
            F.col("n_removed").cast("long").alias("n_removed"),
        )
    )


def contamination_spans(
    corpus_tokens: DataFrame,
    benchmark_tokens: DataFrame,
    shingle_len: int = 5,
    doc_id_column: str = "doc_id",
    tokens_column: str = "tokens",
) -> DataFrame:
    """→ (doc_id, span_start, span_end, span_len): the exact token
    ranges of ``corpus_tokens`` documents that reproduce a
    ``shingle_len``-gram of the benchmark set — span-level
    decontamination (GPT-3 appendix C measures membership; this
    recovers WHERE the leak sits so the span can be masked or cut
    instead of dropping the whole document).

    The benchmark's distinct shingles are broadcast (eval sets are
    thousands of documents, not billions), so the corpus is never
    shuffled: one broadcast LEFT SEMI probe + the per-doc interval
    merge. Reuses :func:`positional_shingles`/:func:`merge_spans`, so
    batch dedup and decontamination share one fingerprint space."""
    k = int(shingle_len)
    c_sh = positional_shingles(corpus_tokens, k, doc_id_column, tokens_column)
    b_sh = (
        positional_shingles(benchmark_tokens, k, doc_id_column, tokens_column)
        .select("shingle")
        .distinct()
    )
    hits = c_sh.join(F.broadcast(b_sh), on="shingle", how="leftsemi").select(
        "doc_id", "pos"
    )
    return merge_spans(hits, k)


def contamination_span_report(
    corpus_tokens: DataFrame,
    benchmark_tokens: DataFrame,
    shingle_len: int = 5,
    doc_id_column: str = "doc_id",
    tokens_column: str = "tokens",
) -> DataFrame:
    """→ one row per CONTAMINATED corpus document: (doc_id, n_tokens,
    n_spans, leaked_tokens, leaked_fraction). Clean documents are
    absent (at corpus scale almost everything is clean — emitting only
    offenders keeps the result eval-set-sized)."""
    spans = contamination_spans(
        corpus_tokens, benchmark_tokens, shingle_len, doc_id_column, tokens_column
    )
    per_doc = spans.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_spans"),
        F.sum("span_len").cast("long").alias("leaked_tokens"),
    )
    totals = corpus_tokens.select(
        F.col(doc_id_column).alias("doc_id"),
        F.size(tokens_column).cast("long").alias("n_tokens"),
    )
    return per_doc.join(totals, on="doc_id").select(
        "doc_id",
        "n_tokens",
        F.col("n_spans").cast("long").alias("n_spans"),
        "leaked_tokens",
        F.round(
            F.col("leaked_tokens") / F.greatest(F.col("n_tokens"), F.lit(1)), 4
        ).alias("leaked_fraction"),
    )


def decontaminate_spans(
    corpus_tokens: DataFrame,
    benchmark_tokens: DataFrame,
    shingle_len: int = 5,
    doc_id_column: str = "doc_id",
    tokens_column: str = "tokens",
) -> DataFrame:
    """→ (doc_id, kept_tokens, n_removed): surgical decontamination —
    cut exactly the leaked spans instead of dropping whole documents
    (:func:`redshells_spark.dedup.decontaminate.decontaminate` is the
    drop-the-document variant). Every corpus document appears in the
    output; clean ones carry n_removed = 0."""
    spans = contamination_spans(
        corpus_tokens, benchmark_tokens, shingle_len, doc_id_column, tokens_column
    )
    return cut_spans(corpus_tokens, spans, doc_id_column, tokens_column)
