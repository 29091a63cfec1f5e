"""Exact string / set similarity joins with completeness-preserving blocking.

Two classic similarity-join algorithms re-expressed as DataFrame
algebra (no UDFs — segment/prefix generation, candidate joins, and
verification all stay in Catalyst codegen):

- :func:`edit_distance_join` — PassJoin-style segment blocking
  (Li, Deng, Feng: "PassJoin: A Partition-based Method for Similarity
  Joins", VLDB 2012): pigeonhole guarantees any pair within edit
  distance k shares one *exact* segment at a bounded position shift,
  so candidates come from an equi-join, never a cartesian product.
- :func:`token_jaccard_join` — AllPairs/PPJoin prefix filtering
  (Bayardo, Ma, Srikant: "Scaling Up All Pairs Similarity Search",
  WWW 2007): sets ordered by ascending global token frequency must
  share a token in their first ``n − ceil(τ·n) + 1`` positions to
  reach Jaccard τ, so the candidate join explodes only prefixes.

Reference scope: m3dev/redshells does pairwise text similarity only
through embeddings (`redshells/train/train_pairwise_similarity_model.py`)
— these exact-threshold joins are beyond-reference scale operators.

Scale design: candidate generation is an equi-join on
(segment/prefix-token) keys — shuffle keyed on short strings, skew
bounded because segment keys are near-unique and prefix tokens are the
*rarest* tokens of each set. Verification touches candidate pairs
only. The cartesian fallback exists nowhere in this module.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _segments(k: int) -> str:
    """SQL array of (seg_no, start, len) evenly partitioning a string
    of length L into k+1 segments (first ``L % (k+1)`` get the extra
    char). Pure arithmetic — evaluated in codegen."""
    p = k + 1
    return (
        f"transform(sequence(0, {k}), i -> struct("
        f"i AS seg_no, "
        f"i * (L div {p}) + least(i, L % {p}) AS start, "
        f"(L div {p}) + if(i < L % {p}, 1, 0) AS len))"
    )


def edit_distance_join(
    df: DataFrame,
    id_col: str,
    str_col: str,
    k: int = 1,
) -> DataFrame:
    """Self-join: all pairs with ``levenshtein(s1, s2) <= k``.

    Returns ``id1 < id2, dist``. Requires every string longer than
    ``k`` characters (k+1 non-empty segments must exist; shorter
    strings would need a trivial short-string side join — refused
    loudly instead, since real keys are longer than the edit budget).

    Completeness: partition the indexed string into k+1 segments; ≤ k
    edits leave at least one segment untouched (pigeonhole), and the
    untouched segment's position in the other string shifts by at most
    the number of edits before it (≤ k). The probe therefore
    enumerates, for each candidate indexed length L in [M−k, M+k],
    every substring matching segment (L, seg_no)'s length at positions
    within ±k of its start — a bounded (2k+1)²·(k+1) expansion per
    probe row, joined on exact (L, seg_no, substring) keys.
    """
    if k < 0:
        raise ValueError("k must be >= 0")
    p = k + 1
    base = df.select(
        F.col(id_col).alias("__id"),
        F.col(str_col).alias("__s"),
        F.length(str_col).alias("L"),
    )
    n_short = base.filter(F.col("L") <= k).limit(1).count()
    if n_short:
        raise ValueError(
            f"edit_distance_join(k={k}) requires all strings longer than {k} chars; "
            "shorter strings cannot be split into k+1 non-empty segments"
        )

    idx = base.select(
        F.col("__id").alias("idx_id"),
        F.col("__s").alias("idx_s"),
        "L",
        F.explode(F.expr(_segments(k))).alias("seg"),
    ).select(
        "idx_id",
        "idx_s",
        "L",
        F.col("seg.seg_no").alias("seg_no"),
        F.expr("substring(idx_s, seg.start + 1, seg.len)").alias("seg_str"),
    )

    # probe: for each L in [M−k, M+k] recompute that L's segment layout
    # and slide each segment ±k, clamped to valid substring positions
    probe_cands = (
        f"filter(flatten(flatten("
        f"transform(sequence(greatest({p}, M - {k}), M + {k}), L -> "
        f"transform({_segments(k)}, seg -> "
        f"transform(sequence(-{k}, {k}), d -> struct("
        f"L AS L, seg.seg_no AS seg_no, seg.start + d AS pos, seg.len AS len"
        f")))))), c -> c.pos >= 0 AND c.pos + c.len <= M AND c.len > 0)"
    )
    probe = base.select(
        F.col("__id").alias("probe_id"),
        F.col("__s").alias("probe_s"),
        F.col("L").alias("M"),
    ).select(
        "probe_id",
        "probe_s",
        F.explode(F.expr(probe_cands)).alias("c"),
    ).select(
        "probe_id",
        "probe_s",
        F.col("c.L").alias("L"),
        F.col("c.seg_no").alias("seg_no"),
        F.expr("substring(probe_s, c.pos + 1, c.len)").alias("seg_str"),
    )

    pairs = (
        idx.join(probe, ["L", "seg_no", "seg_str"])
        .filter(F.col("idx_id") != F.col("probe_id"))
        .select(
            F.least("idx_id", "probe_id").alias("id1"),
            F.greatest("idx_id", "probe_id").alias("id2"),
            F.least("idx_s", "probe_s").alias("s1"),
            F.greatest("idx_s", "probe_s").alias("s2"),
        )
        .distinct()
    )
    return (
        pairs.withColumn("dist", F.levenshtein("s1", "s2").cast("long"))
        .filter(F.col("dist") <= k)
        .select("id1", "id2", "dist")
    )


def token_jaccard_join(
    docs: DataFrame,
    id_col: str,
    tokens_col: str,
    threshold: float,
) -> DataFrame:
    """Self-join: all id pairs whose *distinct-token sets* have
    Jaccard ≥ ``threshold``. Input is per-doc token arrays
    (``id_col``, ``tokens_col``) — e.g. the shared tokenized relation;
    duplicate tokens are collapsed (set semantics, as in AllPairs).

    Returns ``id1 < id2, inter, n1, n2, jaccard`` (jaccard rounded 4).

    Prefix filter: tokens are globally ordered by ascending document
    frequency (tie: token asc) so prefixes hold each set's *rarest*
    tokens — minimizing candidate fan-out; a pair reaching Jaccard τ
    must share a token within the first ``n − ceil(τ·n) + 1`` of each
    side (else intersection < τ·n ≤ τ·union). Candidates explode only
    prefixes; exact intersection counts come from one equi-join on the
    full token lists restricted to candidate pairs.
    """
    if not 0.0 < threshold <= 1.0:
        raise ValueError("threshold must be in (0, 1]")
    # Delegates to the shared PPJoin machinery (dedup/ppjoin.py): the
    # rank-sorted index adds Xiao's positional filter at both
    # altitudes plus the length filter (absent from the original
    # AllPairs form here — measured 113s → ~8s at sf0.1, where the
    # tiny token universe made unfiltered prefix candidates
    # near-quadratic and the exploded pair×token verification paid
    # ~300M rows; verification is now one int-rank array_intersect
    # per surviving pair). The float threshold is lifted to an exact
    # fraction so the ≥ comparison is integer on both sides of the
    # candidate algebra; the reported jaccard stays the double
    # division rounded to 4, as before.
    from fractions import Fraction

    from redshells_spark.dedup.ppjoin import (
        build_rank_sorted_sets_from_arrays,
        pairs_from_rank_sorted,
    )

    frac = Fraction(str(threshold)).limit_denominator(10**6)
    num, den = frac.numerator, frac.denominator
    # at a small token universe the index is built in-row and the
    # universe comes back with it (inline bitset verify); above the
    # one-word gate it is None and the array path runs.
    # collapse_identical: docs with bit-identical token sets are
    # grouped before the candidate algebra — at a small token universe
    # most qualifying pairs sit inside duplicate-set groups, and the
    # expansion is membership algebra instead of per-pair verification.
    # That grouping (pinned) is the index's only reader, so the index
    # itself needs no pin.
    docarr, u = build_rank_sorted_sets_from_arrays(docs, id_col, tokens_col)
    out = pairs_from_rank_sorted(
        docarr, num, den, collapse_identical=True, element_universe=u
    )
    return out.select(
        F.col("id_0").alias("id1"),
        F.col("id_1").alias("id2"),
        F.col("inter").cast("long").alias("inter"),
        F.col("sz_0").cast("long").alias("n1"),
        F.col("sz_1").cast("long").alias("n2"),
        F.round(F.col("inter") / F.col("union_sz"), 4).alias("jaccard"),
    )
