"""Driver-contract query registry: Spark builders + DuckDB oracle SQL.

Every implemented operator from SURVEY.md §2 (plus the LLM-data
pipeline extensions) gets a named entry here:

- ``QUERIES[name](spark, sf_dir) -> DataFrame`` — the Spark-first
  implementation, built from :mod:`redshells_spark` operators.
- ``ORACLES[name]`` — equivalent ANSI SQL for DuckDB over the same
  parquet tables (pre-registered views). Omitted for ops whose
  semantics are not SQL-expressible (engine-hash-dependent sampling,
  MLlib model fits) — those get rows-only checks.

Cross-engine determinism rules applied throughout:
- every aggregate/computed column aliased identically on both sides;
- doubles rounded (4 decimals) *after* aggregation on both sides;
- ordering/sampling keyed on md5 (identical in Spark and DuckDB) or
  on pure int64 arithmetic mod 2^31−1 — never on engine RNG;
- list-valued results rendered as canonical strings (sorted,
  comma-joined) because array hashing differs across engines;
- Spark int32 results cast to long where DuckDB returns BIGINT.
"""

from __future__ import annotations

import functools
from collections.abc import Callable

import numpy as np
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from redshells_spark.data.frame_ops import (
    convert_to_one_hot,
    extract_column_as_dict,
    filter_by_column,
    rename_column,
    sample_data,
)
from redshells_spark.dedup.exact import exact_dedup
from redshells_spark.functions.exact import (
    corr_e4_sql,
    covar_e4_sql,
    exact_avg_e4,
    exact_money_sum,
    exact_money_sum_sql,
    exact_revenue_sum,
    exact_revenue_sum_sql,
    money_units,
    round_half_away_ratio_sql,
    stable_int_double_sql,
    stddev_e4_sql,
)
from redshells_spark.dedup.minhash import (
    doc_shingles,
    minhash_lsh_candidates,
    minhash_lsh_candidates_wide,
    minhash_signatures,
    minhash_signatures_wide,
    verify_jaccard,
)
from redshells_spark.dedup.ngram import ngram_jaccard_pairs
from redshells_spark.dedup.simhash import simhash_near_dup_pairs, simhash_signatures
from redshells_spark.functions.vector import cosine_similarity, dot_product
from redshells_spark.operators.aggregates import (
    distinct_count,
    group_count_filter,
    min_max_avg_std,
    value_counts_id_map,
)
from redshells_spark.operators.joins import (
    anti_join_negative_sampling,
    keyword_match_join,
    semi_join_isin,
)
from redshells_spark.operators.topk import per_group_topk, topk_threshold_similarity
from redshells_spark.operators.setops import union_concat
from redshells_spark.similarity.ann import brute_force_topk, lsh_topk
from redshells_spark.text.analysis import (
    detect_language,
    fingerprint,
    quality_score,
    token_count,
)
from redshells_spark.text.dictionary import train_dictionary
from redshells_spark.text.tfidf import tfidf_scores, tfidf_top_tokens
from redshells_spark.text.tokenize import tokenize_on_space
from redshells_spark.timeutil import event_range_filter, event_ts, event_us

QueryFn = Callable[[SparkSession, str], DataFrame]

# dictionary params tuned to the testdata corpus (31-token vocab,
# doc_freq 25..~400 over 500 docs)
DICT_PARAMS = dict(no_below=5, no_above=0.9, keep_n=100)
KEYWORDS = ("spark", "join", "window", "stream", "hash")

# ---------------------------------------------------------------- helpers


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # Testdata physical types have changed across generations
    # (TIMESTAMP(NANOS)-as-long vs timestamp[us]-as-NTZ); both confs are
    # harmless when the current files don't need them. UTC pins the
    # NTZ→TIMESTAMP reinterpretation so epoch math matches DuckDB's
    # naive-as-UTC semantics even on a driver session with another tz.
    for k, v in (
        ("spark.sql.legacy.parquet.nanosAsLong", "true"),
        ("spark.sql.session.timeZone", "UTC"),
    ):
        try:
            spark.conf.set(k, v)
        except Exception:  # noqa: BLE001 — conf may be locked; reads may still work
            pass
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


MEMO_PATHS = 4
_MEMO: dict[tuple[str, str], dict[Callable, object]] = {}  # LRU first


def session_memo(build):
    """Memoize a ``build(spark, sf_dir)`` per (session, sf_dir) path.

    Returns the exact object ``build`` returned (a pinned DataFrame
    keeps its ``storageLevel``); each builder keeps its own pin choice.
    Data under ``sf_dir`` is immutable within a session. When a
    ``MEMO_PATHS + 1``-th path arrives, the least recently used path is
    dropped and its DataFrames are ``unpersist()``-ed. Paths of another
    applicationId belong to a stopped context and are dropped without
    calling into Spark."""

    @functools.wraps(build)
    def memoized(spark: SparkSession, sf_dir: str):
        app = spark.sparkContext.applicationId
        for stale in [p for p in _MEMO if p[0] != app]:
            del _MEMO[stale]
        path = (app, sf_dir)
        _MEMO[path] = values = _MEMO.pop(path, {})
        while len(_MEMO) > MEMO_PATHS:
            for v in _MEMO.pop(next(iter(_MEMO))).values():
                if isinstance(v, DataFrame):
                    v.unpersist()
        if build not in values:
            values[build] = build(spark, sf_dir)
        return values[build]

    return memoized


@session_memo
def _tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    # tokenization feeds vocab + tf + shingles in the text queries —
    # cache per (session, sf) so the scan+split runs once per query set
    return tokenize_on_space(
        _t(spark, sf_dir, "documents"), "text", "tokens", lowercase=True
    ).cache()


@session_memo
def _n_docs(spark: SparkSession, sf_dir: str) -> int:
    # corpus size for idf — computed once per (session, sf) instead of
    # an eager count() job inside every tfidf_scores call
    return _tokens(spark, sf_dir).count()


@session_memo
def _vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the trained dictionary is <= keep_n (100) rows but a 2-shuffle
    # plan — recomputing it inside every tfidf-family query was ~0.6s
    # of tfidf_top_tokens' 1.28s at sf0.1 (the r4 bench drift).
    # Materialize once per (session, sf): identical rows, and every
    # downstream join sees a tiny local relation it can broadcast —
    # exactly how a production pipeline ships a trained vocab.
    full = train_dictionary(
        _tokens(spark, sf_dir), "doc_id", "tokens", **DICT_PARAMS
    )
    # localCheckpoint keeps the materialized rows JVM-side (a
    # collected-rows createDataFrame would re-enter via a pickled
    # Python RDD — slower per use than the plan it replaced)
    return full.coalesce(1).localCheckpoint(eager=True)


@session_memo
def _shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The default word-shingle relation (token-id bigrams,
    ``doc_shingles(_tokens, _vocab)``) shared across the dedup tier —
    ~10 queries re-derive these identical (doc_id, shingle) rows
    (posexplode + vocab join + window shuffle) before diverging into
    signatures / verification / span statistics. Cached per
    (session, sf) like ``_tokens``; shingle_len≠2 callers keep
    building their own."""
    return doc_shingles(
        _tokens(spark, sf_dir), _vocab(spark, sf_dir)
    ).cache()


@session_memo
def _wide16(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``minhash_signatures_wide(_shingles, 16)`` (with sizes) —
    cached per (session, sf). Rows are per-doc, and each signature
    depends only on its own doc's shingles, so ANY doc-subset filter
    of this relation is bit-identical to recomputing on the subset —
    incremental/delta variants reuse it safely."""
    return minhash_signatures_wide(
        _shingles(spark, sf_dir), num_hashes=16
    ).cache()


@session_memo
def _cand44(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``minhash_lsh_candidates_wide(_wide16, 4, 4)`` with the default
    1000 bucket cap — the canonical LSH candidate pair set shared by
    the near-dup tier. The long-form path yields the SAME pairs (both
    band keys are md5 of the j-ordered band minhashes), so long-form
    consumers reuse this cache too."""
    return minhash_lsh_candidates_wide(
        _wide16(spark, sf_dir), bands=4, rows_per_band=4
    ).cache()


@session_memo
def _sharr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc shingle ARRAY relation (doc_id, __arr, sz) derived from
    ``_shingles`` — the verification-side operand of every exact
    Jaccard check (one int ``array_intersect`` per candidate pair).
    Cached per (session, sf): near-dedup, components, the corpus
    pipeline, calibration, and method-agreement each re-ran the same
    groupBy otherwise."""
    return (
        _shingles(spark, sf_dir)
        .groupBy("doc_id")
        .agg(
            F.collect_list("shingle").alias("__arr"),
            F.count(F.lit(1)).alias("sz"),
        )
        .cache()
    )


@session_memo
def _vpairs01(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The canonical verified near-dup pair relation: LSH candidates
    (``_cand44``) exact-verified at Jaccard ≥ 0.1 — (doc_id_0,
    doc_id_1, jaccard). Shared by near-dedup, the component queries,
    and the corpus pipeline; cached per (session, sf)."""
    return verify_jaccard(
        _cand44(spark, sf_dir),
        _shingles(spark, sf_dir),
        threshold=0.1,
        arrays=_sharr(spark, sf_dir),
    ).cache()


@session_memo
def _nd_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over ``_vpairs01`` (hash-min + pointer
    doubling) — (doc_id, keep_id). The iterative superstep chain is
    the most expensive reusable artifact in the dedup tier, so it is
    materialized once per (session, sf) via localCheckpoint (the CC
    loop already truncates lineage per superstep)."""
    from redshells_spark.dedup.minhash import connected_components_dedup

    return connected_components_dedup(
        _vpairs01(spark, sf_dir).select("doc_id_0", "doc_id_1")
    ).localCheckpoint(eager=True)


_DAY_US_CONST = 86_400_000_000


@session_memo
def _daily_purchases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(t, v): the dense daily purchase-count series — one row per day
    present in events (any type), v = exact count of 'purchase' events
    that day (0 for purchase-free days). ~12 time-series queries
    (CUSUM, Mann-Kendall, runs test, Page-Hinkley, Pettitt, Croston,
    periodogram, Gumbel maxima, Cox-Stuart, MASE, Holt, ...) derive
    this identical relation; each used to pay two events scans plus a
    distinct-days⋈counts join. One conditional groupBy (purchase-free
    days fold into the same aggregate) cached per (session, sf)."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.select("event_type", event_us(ev, "ts").alias("us"))
        .select(
            "event_type",
            F.expr(f"us div {_DAY_US_CONST}").cast("long").alias("t"),
        )
        .groupBy("t")
        .agg(
            F.sum(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            )
            .cast("long")
            .alias("v")
        )
        .cache()
    )


@session_memo
def _kn_lm(spark: SparkSession, sf_dir: str):
    """The interpolated Kneser-Ney bigram LM over `documents`, trained
    once per (session, sf) — kn_perplexity, ccnet_perplexity_buckets
    and min_k_prob_contamination score against the identical model, so
    each used to pay its own corpus explode + three groupBys."""
    from redshells_spark.text.ngram_lm import train_kn_bigram_lm

    return train_kn_bigram_lm(_t(spark, sf_dir, "documents"))


@session_memo
def _gram_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-sorted word-bigram prefix-filter index, blocked by
    document source (``build_rank_sorted_sets(grams, doc_id, gram,
    source)``) — threshold-FREE, so ``ngram_jaccard`` (τ=0.1) and
    ``dedup_method_agreement`` (τ=0.5) share ONE materialization of
    the gram explode + frequency rank + per-doc sort. Cached per
    (session, sf); MEMORY_AND_DISK spills rather than OOMs at 100×."""
    from pyspark.storagelevel import StorageLevel

    from redshells_spark.dedup.ngram import word_ngrams
    from redshells_spark.dedup.ppjoin import build_rank_sorted_sets

    grams = _tokens(spark, sf_dir).select(
        "doc_id", "source", F.explode(word_ngrams("tokens", 2)).alias("gram")
    )
    return build_rank_sorted_sets(
        grams, "doc_id", "gram", block_column="source"
    ).persist(StorageLevel.MEMORY_AND_DISK)


def _r4(c, name: str):
    return F.round(c, 4).alias(name)


# short aliases for oracle f-strings: order-free exact money/revenue
# sums and exact half-up fixed-decimal averages (SQL side)
_MONEY_SUM = exact_money_sum_sql
_REV_SUM = exact_revenue_sum_sql
_AVG_E4 = exact_avg_e4


_VOCAB_SQL = """
    vocab AS (
        SELECT token, doc_freq,
               CAST(row_number() OVER (ORDER BY doc_freq DESC, token ASC) - 1 AS BIGINT) AS token_id
        FROM (
            SELECT token, count(*) AS doc_freq
            FROM (
                SELECT DISTINCT doc_id, unnest(list_distinct(list_filter(string_split(lower(text), ' '), t -> t <> ''))) AS token
                FROM documents
            )
            GROUP BY token
        )
        WHERE doc_freq >= 5 AND doc_freq <= 0.9 * (SELECT count(*) FROM documents)
        QUALIFY row_number() OVER (ORDER BY doc_freq DESC, token ASC) - 1 < 100
    )
"""

_TOK_SQL = """
    tok AS (
        SELECT doc_id, unnest(toks) AS token, generate_subscripts(toks, 1) AS pos
        FROM (
            SELECT doc_id, list_filter(string_split(lower(text), ' '), t -> t <> '') AS toks
            FROM documents
        )
    )
"""


QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}


def q(name: str, oracle: str | None = None):
    def deco(fn: QueryFn) -> QueryFn:
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco



# Everything above is shared registry infrastructure: tier modules do
# `from ._shared import *`, which re-exports ALL names below
# (including underscore-prefixed helpers) via the explicit __all__.
__all__ = [n for n in dir() if not n.startswith("__")]
