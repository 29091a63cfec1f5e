"""Exact set-similarity join by prefix filtering (PPJoin family:
Chaudhuri, Ganti & Kaushik ICDE 2006; Xiao et al. WWW 2008).

The LSH near-dup path (dedup/minhash.py) is probabilistic — banding
admits false negatives by design. Prefix filtering is the EXACT
alternative: order every set's elements by ascending global frequency
(rarest first); two sets with Jaccard ≥ τ MUST share at least one
element among each set's first

    p(d) = |d| − ⌈τ·|d|⌉ + 1

elements (else the overlap bound fails), so the candidate join runs
only on prefix elements — the rare ones, which is what keeps candidate
lists small — plus the length filter τ·|b| ≤ |a| and PPJoin's
positional filter (Xiao et al. 2008 §3.2) applied at BOTH altitudes:

- per matched row (pre-shuffle prune): at a shared prefix element with
  positions (p0, p1), overlap ≤ 1 + min(|a|−p0, |b|−p1) — every shared
  element ranked below it must already be a both-prefix match, so the
  bound holds with accumulated overlap 1 at the pair's FIRST match,
  and a qualifying pair's first match always survives (no false
  negatives). The bound is monotone decreasing in position, so the
  kept rows of a pair are exactly a rank-prefix of its match sequence.
- per pair (post-group prune): with o = number of kept matches and
  (mp0, mp1) the positions of the LAST kept match (positions are
  rank-monotone within a doc, so both maxima land on the same
  element), overlap ≤ o + min(|a|−mp0, |b|−mp1) — Xiao's accumulated
  bound evaluated at that element. This is what keeps the verification
  input small at dedup thresholds: a random pair sharing one mid-
  prefix element needs o ≥ α − min(suffix) to survive.

Every surviving pair is verified with an exact intersection count; the
output has NO false negatives and NO false positives.

Scale shape: the frequency ranking is a window over the
universe-bounded element relation (a vocabulary, not the corpus); the
candidate join shuffles (element → doc) pairs for PREFIX elements
only; verification is two SHUFFLE joins of the (positionally filtered,
bounded) candidate set against the per-doc array relation keyed on doc
id — nothing corpus-sized is ever broadcast, so the plan survives a
100× corpus where a per-doc broadcast would OOM the driver. The
rank-sorted per-doc index (``build_rank_sorted_sets``) is
threshold-FREE, deterministic, and parquet-serializable — callers can
build it once through the param-hash task target (task.py) and run
joins at any threshold from the stored index, exactly as the k-NN
graph index is shared (queries/similarity.py _knn_graph). All comparisons
integer (⌈τ·n⌉ = (num·n + den − 1) div den; Jaccard ≥ τ as
inter·den ≥ num·union; α as ⌈num·(sz0+sz1)/(num+den)⌉).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from redshells_spark.schema import require_columns

# The one small-universe gate: an element universe of at most one
# int64 word's worth of elements is ranked IN-ROW through a literal map
# (build_rank_sorted_sets_from_arrays) and verified by inline bitmask
# popcounts (pairs_from_rank_sorted, containment_pairs_from_rank_sorted).
# Wider masks were measured and lose: they inflate the candidate-join
# shuffle by 8 bytes per word per row, and at dedup-grade thresholds
# Xiao's positional pruning on the array path beats them (u=931 as 15
# words, τ=0.8, sf0.1: Jaccard 2.5s array vs 3.3s+ bitset, containment
# 2.6-2.9s vs 3.3-4.5s). One word beats the positional tail at every
# threshold measured (13.7s → 2.2s on the τ=0.5 698k-pair relation).
BITSET_UNIVERSE = 64


def build_rank_sorted_sets(
    sets_df: DataFrame,
    id_column: str = "doc_id",
    element_column: str = "shingle",
    block_column: str | None = None,
) -> DataFrame:
    """→ (__id[, __blk], __rk: array<struct<__erk,__el>>, __sz): each
    set's elements sorted by ascending global frequency (ties by
    element) — the shared, threshold-independent prefix-filter index.
    ONE shuffle keyed on doc id; the element ranking is a window over
    the universe-bounded (vocabulary-sized) frequency relation and is
    broadcast.

    ``block_column`` (optional, functionally dependent on the id, e.g.
    a document's source) is carried through so the candidate join can
    additionally require block equality — prefix filtering and
    blocking COMPOSE: the filter theorem needs only a consistent total
    element order, so restricting candidates to same-block pairs keeps
    the join exact for the "pairs within a block" relation while
    multiplying the candidate reduction (element-frequency pruning ×
    block fan-out). Essential when the element universe is small
    (universal elements appear in most sets and frequency pruning
    alone degenerates toward all-pairs)."""
    require_columns(
        sets_df,
        [id_column, element_column]
        + ([block_column] if block_column is not None else []),
    )
    cols = [F.col(id_column).alias("__id"), F.col(element_column).alias("__el")]
    if block_column is not None:
        cols.append(F.col(block_column).alias("__blk"))
    sets = sets_df.select(*cols)
    freq = sets.groupBy("__el").agg(F.count(F.lit(1)).alias("__f"))
    wt = Window.orderBy(F.col("__f").asc(), F.col("__el").asc())
    order = freq.select("__el", F.row_number().over(wt).alias("__erk"))
    gb = ["__id"] + (["__blk"] if block_column is not None else [])
    return (
        sets.join(F.broadcast(order), "__el")
        .groupBy(*gb)
        .agg(F.array_sort(F.collect_list(F.struct("__erk", "__el"))).alias("__rk"))
        .withColumn("__sz", F.size("__rk").cast("long"))
    )


def build_rank_sorted_sets_from_arrays(
    docs_df: DataFrame,
    id_column: str = "doc_id",
    array_column: str = "tokens",
) -> tuple[DataFrame, int | None]:
    """Array-native twin of :func:`build_rank_sorted_sets` for inputs
    that are ALREADY per-doc element arrays (e.g. the shared tokenized
    relation): when the element universe fits ``BITSET_UNIVERSE``,
    the whole index is computed IN-ROW — ``array_distinct`` for set
    semantics, rank lookup through a universe-bounded literal map,
    ``array_sort`` for the canonical order — with ZERO doc-keyed
    shuffles (the long-form builder pays distinct + groupBy
    collect_list, i.e. two corpus shuffles, to reassemble arrays the
    caller already has). The only cluster work is one universe-bounded
    frequency aggregation; the rank table collect is vocabulary-sized
    (bounded-collect precedent: codebooks/centroids).

    Returns ``(index_df, universe)`` with the exact
    ``build_rank_sorted_sets`` schema and ordering (ranks dense 1..u,
    frequency asc, ties element asc; docs with empty/NULL arrays are
    absent, matching the long form where they contribute no rows).
    Above ``BITSET_UNIVERSE`` — where per-element linear scans of the
    literal map stop being obviously cheap and verification takes the
    array path anyway — it falls back to the long-form builder and
    returns ``(index, None)``; pass that ``None`` straight on as
    ``element_universe``."""
    require_columns(docs_df, [id_column, array_column])
    sets = docs_df.select(
        F.col(id_column).alias("__id"),
        F.array_distinct(F.col(array_column)).alias("__arr"),
    ).filter(F.size("__arr") > 0)
    freq = (
        sets.select(F.explode("__arr").alias("__el"))
        .groupBy("__el")
        .agg(F.count(F.lit(1)).alias("__f"))
    )
    rows = (
        freq.orderBy(F.col("__f").asc(), F.col("__el").asc())
        .limit(BITSET_UNIVERSE + 1)
        .collect()
    )
    if len(rows) > BITSET_UNIVERSE:
        long_form = docs_df.select(
            F.col(id_column), F.explode(F.col(array_column)).alias("__el")
        ).distinct()
        return build_rank_sorted_sets(long_form, id_column, "__el"), None
    els = [r["__el"] for r in rows]
    if not els:
        # empty corpus: `sets` has no rows, so any well-typed in-row
        # expression yields the empty index with the right schema
        idx = sets.select(
            "__id",
            F.array_sort(
                F.transform(
                    "__arr",
                    lambda x: F.struct(
                        F.lit(0).cast("int").alias("__erk"), x.alias("__el")
                    ),
                )
            ).alias("__rk"),
        ).withColumn("__sz", F.size("__rk").cast("long"))
        return idx, 0
    rank_map = F.map_from_arrays(
        F.lit(els),
        F.lit(list(range(1, len(els) + 1))).cast("array<int>"),
    )
    idx = sets.select(
        "__id",
        F.array_sort(
            F.transform(
                "__arr",
                lambda x: F.struct(
                    F.element_at(rank_map, x).alias("__erk"), x.alias("__el")
                ),
            )
        ).alias("__rk"),
    ).withColumn("__sz", F.size("__rk").cast("long"))
    # the in-row build has NO shuffle, so it inherits the input scan's
    # partitioning (often 1-2 partitions for a small parquet) and
    # would strangle every downstream stage — candidate join, verify,
    # membership expansion — to that width. One deterministic hash
    # repartition to the session's core count (scale-adaptive, not a
    # constant) restores the parallelism the long-form builder's
    # groupBy used to provide as a side effect.
    n_part = sets.sparkSession.sparkContext.defaultParallelism
    return idx.repartition(n_part, "__id"), len(els)


def pairs_from_rank_sorted(
    docarr: DataFrame,
    threshold_num: int = 5,
    threshold_den: int = 10,
    collapse_identical: bool = False,
    element_universe: int | None = None,
) -> DataFrame:
    """→ ([block,] id_0, id_1, inter, sz_0, sz_1, union_sz, jac_e4):
    ALL pairs
    with exact Jaccard ≥ num/den, id_0 < id_1, from a
    ``build_rank_sorted_sets`` index (possibly loaded from a parquet
    target). If the index was built with a ``block_column``, the
    candidate join additionally requires block equality and the
    output carries the shared ``block`` value — the exact "similar
    pairs within a block" relation.

    ``collapse_identical`` switches on duplicate-set collapsing
    (Vernica et al. SIGMOD 2010 §5): docs with bit-identical element
    sets form one group, the PPJoin candidate algebra runs on group
    REPRESENTATIVES only, and the result expands back through group
    membership (within-group pairs have Jaccard exactly 1 and need no
    join at all). Output is row-for-row identical; compute becomes
    proportional to DISTINCT-set pairs plus output size. This is the
    lever when a corpus is heavy with exact duplicates — at a small
    element universe, distinct sets can be orders of magnitude fewer
    than docs while the qualifying pair count stays output-bound.

    ``element_universe`` (optional): the number of DISTINCT elements
    across the corpus, when the caller knows it (one bounded-scalar
    agg over the index — the ranks are dense 1..u). When u ≤
    ``BITSET_UNIVERSE`` (one int64 word), every set becomes a bitmask
    riding the prefix rows and the exact intersection is popcount(AND)
    computed INLINE on the candidate join — the rank↔element bijection
    makes the popcount exact, and the whole two-phase verification
    tail (positional groupBy + two joins + per-pair array_intersect)
    collapses into one filter (measured 13.7s → 2.2s on the 698k-pair
    sf0.1 relation, identical output). Above the gate (or None) the
    array path runs."""
    num, den = threshold_num, threshold_den
    if collapse_identical:
        return _pairs_collapsed(docarr, num, den, element_universe)
    blocked = "__blk" in docarr.columns
    # prefix length p = sz − ceil(τ·sz) + 1, integer form
    plen = (
        F.col("__sz")
        - F.expr(f"cast(({num} * __sz + {den} - 1) div {den} as bigint)")
        + 1
    ).cast("int")
    blk = ["__blk"] if blocked else []
    if _fits_bitset(element_universe):
        return _pairs_bitmask(docarr, num, den, plen, blk)
    # join key is the dense int element RANK, not the element value —
    # __erk is a bijection of the element universe, so the candidate
    # set is identical and the self-join hashes ints, not strings
    prefix = docarr.select(
        "__id",
        "__sz",
        *blk,
        F.posexplode(F.slice(F.col("__rk"), F.lit(1), plen)).alias("__i", "__s"),
    ).select(
        "__id",
        "__sz",
        *blk,
        F.col("__s.__erk").alias("__el"),
        (F.col("__i") + 1).cast("long").alias("__pos"),
    )
    # Join strategy is left to AQE on purpose: the prefix relation is
    # corpus-proportional, so a hard-coded broadcast would OOM at 100×,
    # but when the runtime size IS small AQE's broadcast pick is free
    # speed — exactly the adaptive behavior we want.
    a = prefix.select(
        F.col("__id").alias("__id0"),
        "__el",
        *blk,
        F.col("__pos").alias("__p0"),
        F.col("__sz").alias("__sz0"),
    )
    b = prefix.select(
        F.col("__id").alias("__id1"),
        "__el",
        *blk,
        F.col("__pos").alias("__p1"),
        F.col("__sz").alias("__sz1"),
    )
    # per-row positional prune (see module docstring): shrinks the
    # pair-dedup shuffle; a qualifying pair's first (rarest) match
    # always passes, so no true pair is lost.
    row_ub = F.lit(1) + F.least(
        F.col("__sz0") - F.col("__p0"), F.col("__sz1") - F.col("__p1")
    )
    matched = a.join(b, ["__el"] + blk).filter(
        (F.col("__id0") < F.col("__id1"))
        & (F.col("__sz0") * den >= F.col("__sz1") * num)
        & (F.col("__sz1") * den >= F.col("__sz0") * num)
        & (row_ub * F.lit(num + den) >= F.lit(num) * (F.col("__sz0") + F.col("__sz1")))
    )
    # per-pair accumulated positional filter: kept rows are a
    # rank-prefix of the pair's match sequence, so count + last
    # positions instantiate Xiao's o + min(remaining) bound exactly.
    # At τ=0.8 this is the filter that matters: it cut the verification
    # input 667k → ~2k pairs at sf0.1 where the per-row bound alone
    # passed nearly everything.
    grp_ub = F.col("__o") + F.least(
        F.col("__sz0") - F.col("__mp0"), F.col("__sz1") - F.col("__mp1")
    )
    cand = (
        matched.groupBy("__id0", "__id1", *blk)
        .agg(
            F.count(F.lit(1)).alias("__o"),
            F.max("__p0").alias("__mp0"),
            F.max("__p1").alias("__mp1"),
            F.max("__sz0").alias("__sz0"),
            F.max("__sz1").alias("__sz1"),
        )
        .filter(
            grp_ub * F.lit(num + den) >= F.lit(num) * (F.col("__sz0") + F.col("__sz1"))
        )
        .select("__id0", "__id1", *blk, "__sz0", "__sz1")
    )
    # verification: per-doc element arrays + one JVM array_intersect
    # per candidate pair, reached through plain shuffle joins keyed on
    # doc id — the arrays relation is one row per doc with the doc's
    # whole element set, i.e. corpus-sized, and must never be broadcast
    # (a guaranteed driver OOM at 100×). The candidate side is bounded
    # by prefix + length + both positional filters, so the shuffle is
    # small. Derived from the same docarr subplan as the prefixes.
    arrs = docarr.select(
        "__id",
        # intersect on the dense int element RANKS, not the element
        # strings — __erk is a bijection of the element universe, so
        # the count is identical and int hashing is far cheaper
        F.expr("transform(__rk, x -> x.__erk)").alias("__arr")
    )
    a0 = arrs.select(F.col("__id").alias("__id0"), F.col("__arr").alias("__a0"))
    a1 = arrs.select(F.col("__id").alias("__id1"), F.col("__arr").alias("__a1"))
    inter = (
        cand.join(a0, "__id0")
        .join(a1, "__id1")
        .select(
            "__id0",
            "__id1",
            *blk,
            "__sz0",
            "__sz1",
            F.size(F.array_intersect("__a0", "__a1")).cast("long").alias("inter"),
        )
    )
    union_sz = (F.col("__sz0") + F.col("__sz1") - F.col("inter")).cast("long")
    out_cols = ([F.col("__blk").alias("block")] if blocked else []) + [
        F.col("__id0").alias("id_0"),
        F.col("__id1").alias("id_1"),
        F.col("inter"),
        F.col("__sz0").cast("long").alias("sz_0"),
        F.col("__sz1").cast("long").alias("sz_1"),
        union_sz.alias("union_sz"),
        F.expr("cast(inter * 10000 div (__sz0 + __sz1 - inter) as bigint)").alias(
            "jac_e4"
        ),
    ]
    return inter.filter(F.col("inter") * den >= num * union_sz).select(*out_cols)


def _fits_bitset(element_universe: int | None) -> bool:
    return element_universe is not None and 0 <= element_universe <= BITSET_UNIVERSE


def _bitset_col():
    """int64 bitset of a doc's dense element ranks — rank r sets bit
    r−1. Exact |∩| = popcount(AND) via the rank ↔ element bijection."""
    return F.expr(
        "aggregate(__rk, 0L, (acc, x) ->"
        " acc + shiftleft(1L, cast(x.__erk as int) - 1))"
    )


def _bitset_inter(c0: str, c1: str):
    """Exact intersection count of two bitset columns."""
    return F.bit_count(F.col(c0).bitwiseAND(F.col(c1))).cast("long")


def _pairs_bitmask(
    docarr: DataFrame, num: int, den: int, plen, blk: list[str]
) -> DataFrame:
    """Small-universe fast path of :func:`pairs_from_rank_sorted`
    (element universe ≤ ``BITSET_UNIVERSE``): ranks are dense 1..u, so
    every set is one int64 bitset and the exact intersection is
    popcount(AND) — a few codegen cycles. The bitset rides ALONG THE
    PREFIX ROWS, so verification happens INLINE on the candidate
    join's output and the whole two-phase tail (per-pair positional
    groupBy + two verify joins + per-pair array_intersect) collapses
    into one filter. Measured 13.7s → 2.2s on the same 698k-pair
    relation at sf0.1, identical rows.

    Exactness: the prefix-filter theorem still guarantees every
    qualifying pair shares ≥ 1 prefix element (the join finds it), the
    popcount is the true |∩| (rank ↔ element bijection), and a pair
    matched on several prefix elements keeps exactly one row (below)."""
    prefix = docarr.select(
        "__id",
        "__sz",
        *blk,
        _bitset_col().alias("__m"),
        F.explode(
            F.slice(F.expr("transform(__rk, x -> x.__erk)"), F.lit(1), plen)
        ).alias("__el"),
    )
    a = prefix.select(
        F.col("__id").alias("__id0"),
        "__el",
        *blk,
        F.col("__sz").alias("__sz0"),
        F.col("__m").alias("__m0"),
    )
    b = prefix.select(
        F.col("__id").alias("__id1"),
        "__el",
        *blk,
        F.col("__sz").alias("__sz1"),
        F.col("__m").alias("__m1"),
    )
    # pair-dedup WITHOUT a shuffle: a pair sharing k prefix elements
    # emits k join rows; keep exactly the row whose matched element is
    # the pair's LOWEST-ranked shared element (unique per pair, and for
    # any qualifying pair it lies in both prefixes: were it outside
    # side a's prefix, a's whole prefix would be unshared and
    # inter ≤ |a| − p < ⌈τ|a|⌉, a contradiction — the prefix-filter
    # theorem's own argument). "No shared bit below the matched one" is
    # one codegen'd mask test, replacing dropDuplicates' full exchange +
    # hash aggregate of the candidate relation. ((1L<<63)−1 wraps to
    # Long.MAX_VALUE = bits 0..62 — still "all bits below 63".)
    low_mask = F.expr("shiftleft(1L, cast(__el as int) - 1) - 1L")
    pairs = (
        a.join(b, ["__el"] + blk)
        .filter(
            (F.col("__id0") < F.col("__id1"))
            & (F.col("__sz0") * den >= F.col("__sz1") * num)
            & (F.col("__sz1") * den >= F.col("__sz0") * num)
            & (F.col("__m0").bitwiseAND(F.col("__m1")).bitwiseAND(low_mask) == 0)
        )
        .select(
            "__id0", "__id1", *blk, "__sz0", "__sz1",
            _bitset_inter("__m0", "__m1").alias("inter"),
        )
        .filter(
            F.col("inter") * den
            >= num * (F.col("__sz0") + F.col("__sz1") - F.col("inter"))
        )
    )
    union_sz = (F.col("__sz0") + F.col("__sz1") - F.col("inter")).cast("long")
    out_cols = ([F.col("__blk").alias("block")] if blk else []) + [
        F.col("__id0").alias("id_0"),
        F.col("__id1").alias("id_1"),
        F.col("inter"),
        F.col("__sz0").cast("long").alias("sz_0"),
        F.col("__sz1").cast("long").alias("sz_1"),
        union_sz.alias("union_sz"),
        F.expr("cast(inter * 10000 div (__sz0 + __sz1 - inter) as bigint)").alias(
            "jac_e4"
        ),
    ]
    return pairs.select(*out_cols)


def _pairs_collapsed(
    docarr: DataFrame,
    num: int,
    den: int,
    element_universe: int | None = None,
) -> DataFrame:
    """Duplicate-set collapsing for :func:`pairs_from_rank_sorted`:
    group by the exact element-rank array (a bijection of the element
    set), run the pair algebra on one representative per group, expand
    through membership. Exact — group-level Jaccard equals every
    member pair's Jaccard, and within-group pairs are Jaccard 1.

    The groups relation is pinned with a lazy ``localCheckpoint``: the
    first job that reads it fills it (eager costs one more job — 12 vs
    11 per token_jaccard_join call at sf0.01 — for the same wall time
    at sf0.1). Its blocks live on the executors that computed them and
    are released when the returned plan is garbage-collected, so the
    pin does NOT survive executor loss — a lost executor fails the
    query instead of recomputing the groups."""
    blocked = "__blk" in docarr.columns
    blk = ["__blk"] if blocked else []
    blkout = [F.col("block")] if blocked else []
    keyed = docarr.withColumn("__arr", F.expr("transform(__rk, x -> x.__erk)"))
    # one shuffle: groups keyed on the int-rank array (+ block). __rk
    # is functionally determined by __arr (rank ↔ element bijection),
    # so first() is exact, not a tie-break.
    # Materialized once (distinct-set-proportional; the checkpoint's
    # blocks spill to disk rather than OOM at 100×): SIX downstream
    # branches read it — reps through the pair algebra's
    # prefix-a/prefix-b/verify-0/verify-1 legs, plus the cross-group
    # and within-group membership expansions — and without the pin
    # each branch re-ran the docarr→groupBy lineage (measured
    # ~0.9s × 5 extra runs at sf0.1).
    # pin the group shuffle at the session's core count: the groups
    # relation is BYTES-tiny (distinct sets) but everything downstream
    # — rep candidate join, verify, membership expansion — multiplies
    # rows from it, so AQE's byte-based coalescing (to 1-2 partitions
    # here) would strand that compute on two cores. The explicit
    # repartition is reused by the groupBy (same key), so it is still
    # ONE exchange, just at a pinned, scale-adaptive width.
    n_part = docarr.sparkSession.sparkContext.defaultParallelism
    groups = (
        keyed.repartition(n_part, "__arr", *blk)
        .groupBy("__arr", *blk)
        .agg(
            F.min("__id").alias("__gid"),
            F.collect_list("__id").alias("__mem"),
            F.first("__rk").alias("__rk"),
        )
        .withColumn("__sz", F.size("__arr").cast("long"))
    ).localCheckpoint(eager=False)
    members = groups.select(
        "__gid", *blk, "__sz", F.explode("__mem").alias("__m")
    )
    reps = groups.select(F.col("__gid").alias("__id"), *blk, "__rk", "__sz")
    sp = pairs_from_rank_sorted(
        reps, num, den, element_universe=element_universe
    ).select(
        *blkout,
        F.col("id_0").alias("__g0"),
        F.col("id_1").alias("__g1"),
        "inter",
        F.col("sz_0").alias("__szg0"),
        F.col("sz_1").alias("__szg1"),
        "union_sz",
        "jac_e4",
    )
    m0 = members.select(F.col("__gid").alias("__g0"), F.col("__m").alias("__i"))
    m1 = members.select(F.col("__gid").alias("__g1"), F.col("__m").alias("__j"))
    # cross-group expansion: member ids may interleave across groups,
    # so re-orient per doc pair (sizes follow their doc's set)
    fwd = F.col("__i") < F.col("__j")
    cross = (
        sp.join(m0, "__g0")
        .join(m1, "__g1")
        .select(
            *blkout,
            F.least("__i", "__j").alias("id_0"),
            F.greatest("__i", "__j").alias("id_1"),
            "inter",
            F.when(fwd, F.col("__szg0")).otherwise(F.col("__szg1")).alias("sz_0"),
            F.when(fwd, F.col("__szg1")).otherwise(F.col("__szg0")).alias("sz_1"),
            "union_sz",
            "jac_e4",
        )
    )
    # within-group pairs: identical sets, Jaccard exactly 1 (≥ any
    # valid τ ≤ 1) — pure membership algebra, no candidate join
    w1 = members.select("__gid", F.col("__m").alias("__j"))
    within = (
        members.withColumnRenamed("__m", "__i")
        .join(w1, "__gid")
        .filter(F.col("__i") < F.col("__j"))
        .select(
            *[F.col("__blk").alias("block") for _ in blk],
            F.col("__i").alias("id_0"),
            F.col("__j").alias("id_1"),
            F.col("__sz").alias("inter"),
            F.col("__sz").alias("sz_0"),
            F.col("__sz").alias("sz_1"),
            F.col("__sz").alias("union_sz"),
            F.lit(10000).cast("bigint").alias("jac_e4"),
        )
    )
    return cross.unionByName(within)


def containment_pairs_from_rank_sorted(
    docarr: DataFrame,
    threshold_num: int = 8,
    threshold_den: int = 10,
    min_size_a: int | None = None,
    element_universe: int | None = None,
) -> DataFrame:
    """→ (id_a, id_b, inter, size_a, size_b, cont_e4): ALL ordered
    pairs with exact containment |A∩B|/|A| ≥ num/den (a ≠ b), from the
    same ``build_rank_sorted_sets`` index the Jaccard join uses.

    Containment is the ASYMMETRIC dedup relation — "doc a is mostly
    inside doc b" — the quote/boilerplate/"onion-layer" case Jaccard
    misses when |B| ≫ |A|. Prefix filtering still applies on the A
    side (A must land ≥ α = ⌈τ·|A|⌉ elements in B, so one of A's first
    |A|−α+1 rarest elements must be in B), but B has no upper length
    bound, so the probe side joins A-prefixes against the FULL
    inverted index (Vernica et al. SIGMOD 2010 probe-index shape) —
    linear in corpus elements, never pair-quadratic. Both of Xiao's
    positional bounds carry over with the Jaccard α replaced by the
    containment α (the global element order splits shared elements
    consistently around any match, so overlap ≤ kept + min(remaining)
    holds unchanged). Verification is the same shuffle-join
    array_intersect — nothing corpus-sized is broadcast.

    ``min_size_a`` (optional) floors the A side: sets smaller than the
    floor are not probed. This is the output-boundedness knob SCALE.md
    prescribes — tiny sets are contained in almost everything (a
    3-shingle set clears τ=0.8 inside any superset of 3 of its
    shingles), so at corpus scale the A-floor is what keeps the output
    from going |tiny|×|corpus|. Default off to preserve the unfloored
    relation (and its oracle); when set, the output is exactly the
    containment relation restricted to |A| ≥ floor — a pre-filter on
    the probe side, not an approximation.

    ``element_universe`` (optional): same contract as
    :func:`pairs_from_rank_sorted` — when the distinct-element count
    fits one bitset word (u ≤ ``BITSET_UNIVERSE``), verification
    happens INLINE on the probe join via bitset popcounts (the rank ↔
    element bijection keeps the count exact) and the two-phase tail
    collapses into filter + dropDuplicates."""
    num, den = threshold_num, threshold_den
    plen = (
        F.col("__sz")
        - F.expr(f"cast(({num} * __sz + {den} - 1) div {den} as bigint)")
        + 1
    ).cast("int")
    if _fits_bitset(element_universe):
        return _containment_bitmask(docarr, num, den, plen, min_size_a)
    a_side = (
        docarr
        if min_size_a is None
        else docarr.filter(F.col("__sz") >= int(min_size_a))
    )
    pre_a = a_side.select(
        F.col("__id").alias("__ida"),
        F.col("__sz").alias("__sza"),
        F.posexplode(F.slice(F.col("__rk"), F.lit(1), plen)).alias("__i", "__s"),
    ).select(
        "__ida",
        "__sza",
        F.col("__s.__erk").alias("__el"),
        (F.col("__i") + 1).cast("long").alias("__pa"),
    )
    full_b = docarr.select(
        F.col("__id").alias("__idb"),
        F.col("__sz").alias("__szb"),
        F.posexplode("__rk").alias("__i", "__s"),
    ).select(
        "__idb",
        "__szb",
        F.col("__s.__erk").alias("__el"),
        (F.col("__i") + 1).cast("long").alias("__pb"),
    )
    # α = ⌈num·|A|/den⌉; integer x ≥ α ⟺ x·den ≥ num·|A|
    row_ub = F.lit(1) + F.least(
        F.col("__sza") - F.col("__pa"), F.col("__szb") - F.col("__pb")
    )
    matched = pre_a.join(full_b, "__el").filter(
        (F.col("__ida") != F.col("__idb"))
        # B must be able to hold α of A's elements at all
        & (F.col("__szb") * den >= F.col("__sza") * num)
        & (row_ub * den >= F.col("__sza") * num)
    )
    grp_ub = F.col("__o") + F.least(
        F.col("__sza") - F.col("__mpa"), F.col("__szb") - F.col("__mpb")
    )
    cand = (
        matched.groupBy("__ida", "__idb")
        .agg(
            F.count(F.lit(1)).alias("__o"),
            F.max("__pa").alias("__mpa"),
            F.max("__pb").alias("__mpb"),
            F.max("__sza").alias("__sza"),
            F.max("__szb").alias("__szb"),
        )
        .filter(grp_ub * den >= F.col("__sza") * num)
        .select("__ida", "__idb", "__sza", "__szb")
    )
    arrs = docarr.select(
        "__id",
        # intersect on the dense int element RANKS, not the element
        # strings — __erk is a bijection of the element universe, so
        # the count is identical and int hashing is far cheaper
        F.expr("transform(__rk, x -> x.__erk)").alias("__arr")
    )
    aa = arrs.select(F.col("__id").alias("__ida"), F.col("__arr").alias("__aa"))
    ab = arrs.select(F.col("__id").alias("__idb"), F.col("__arr").alias("__ab"))
    inter = (
        cand.join(aa, "__ida")
        .join(ab, "__idb")
        .select(
            "__ida",
            "__idb",
            "__sza",
            "__szb",
            F.size(F.array_intersect("__aa", "__ab")).cast("long").alias("inter"),
        )
    )
    return (
        inter.filter(F.col("inter") * den >= num * F.col("__sza"))
        .select(
            F.col("__ida").alias("id_a"),
            F.col("__idb").alias("id_b"),
            "inter",
            F.col("__sza").alias("size_a"),
            F.col("__szb").alias("size_b"),
            F.expr("cast(inter * 10000 div __sza as bigint)").alias("cont_e4"),
        )
    )


def _containment_bitmask(
    docarr: DataFrame,
    num: int,
    den: int,
    plen,
    min_size_a: int | None,
) -> DataFrame:
    """Small-universe fast path of
    :func:`containment_pairs_from_rank_sorted` (element universe ≤
    ``BITSET_UNIVERSE``): every set is one int64 bitset riding the
    probe rows, the exact |A∩B| is popcount(AND) computed
    INLINE on the A-prefix × full-inverted-index join, and the whole
    two-phase verification tail collapses into filter +
    dropDuplicates — the containment twin of :func:`_pairs_bitmask`.

    Exactness: a qualifying pair (|A∩B| ≥ ⌈τ·|A|⌉ with α ≥ 1) must
    land one of A's first |A|−α+1 rarest elements in B, and the B side
    carries ALL of B's elements, so the join finds every qualifying
    pair; the popcount is the true |∩| (rank ↔ element bijection); the
    final dropDuplicates collapses pairs matched on several probe
    elements — all carried columns are functions of the id pair."""
    a_side = (
        docarr
        if min_size_a is None
        else docarr.filter(F.col("__sz") >= int(min_size_a))
    )
    pre_a = a_side.select(
        F.col("__id").alias("__ida"),
        F.col("__sz").alias("__sza"),
        _bitset_col().alias("__ma"),
        F.explode(
            F.slice(F.expr("transform(__rk, x -> x.__erk)"), F.lit(1), plen)
        ).alias("__el"),
    )
    full_b = docarr.select(
        F.col("__id").alias("__idb"),
        F.col("__sz").alias("__szb"),
        _bitset_col().alias("__mb"),
        F.explode(F.expr("transform(__rk, x -> x.__erk)")).alias("__el"),
    )
    inter = _bitset_inter("__ma", "__mb")
    pairs = (
        pre_a.join(full_b, "__el")
        .filter(
            (F.col("__ida") != F.col("__idb"))
            # B must be able to hold α of A's elements at all
            & (F.col("__szb") * den >= F.col("__sza") * num)
        )
        .select("__ida", "__idb", "__sza", "__szb", inter.alias("inter"))
        .filter(F.col("inter") * den >= num * F.col("__sza"))
        .dropDuplicates(["__ida", "__idb"])
    )
    return pairs.select(
        F.col("__ida").alias("id_a"),
        F.col("__idb").alias("id_b"),
        "inter",
        F.col("__sza").alias("size_a"),
        F.col("__szb").alias("size_b"),
        F.expr("cast(inter * 10000 div __sza as bigint)").alias("cont_e4"),
    )
