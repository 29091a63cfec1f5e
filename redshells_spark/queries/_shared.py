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
from pyspark.sql.types import StructType

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
from redshells_spark.operators.observe import release
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
from redshells_spark.text.tokenize import space_tokens, tokenize_on_space
from redshells_spark.timeutil import event_range_filter, event_ts, event_us

QueryFn = Callable[[SparkSession, str], DataFrame]

# dictionary params tuned to the testdata corpus (31-token vocab,
# doc_freq 25..~400 over 500 docs)
DICT_PARAMS = dict(no_below=5, no_above=0.9, keep_n=100)
KEYWORDS = ("spark", "join", "window", "stream", "hash")

# ---------------------------------------------------------------- helpers


MEMO_PATHS = 4
_MEMO: dict[tuple[str, str], dict[Callable, object]] = {}  # LRU first


def session_memo(build):
    """Memoize a ``build(spark, sf_dir)`` per (session, sf_dir) path.

    Returns the exact object ``build`` returned (a pinned DataFrame
    keeps its ``storageLevel``); each builder keeps its own pin choice.
    Data under ``sf_dir`` is immutable within a session, so the memo
    also holds each table's schema (:func:`_schemas`). When a
    ``MEMO_PATHS + 1``-th path arrives, the least recently used path is
    dropped and the storage of its DataFrames, also those in a returned
    tuple, is released (:func:`release`). A caller must not hold an
    evicted memo's frame: a released checkpoint raises on its next use.
    Paths of another applicationId belong to a stopped context and are
    dropped without calling into Spark."""

    @functools.wraps(build)
    def memoized(spark: SparkSession, sf_dir: str):
        app = spark.sparkContext.applicationId
        for stale in [p for p in _MEMO if p[0] != app]:
            del _MEMO[stale]
        path = (app, sf_dir)
        _MEMO[path] = values = _MEMO.pop(path, {})
        while len(_MEMO) > MEMO_PATHS:
            for v in _MEMO.pop(next(iter(_MEMO))).values():
                for df in v if isinstance(v, tuple) else (v,):
                    if isinstance(df, DataFrame):
                        release(df)
        if build not in values:
            values[build] = build(spark, sf_dir)
        return values[build]

    return memoized


@session_memo
def _schemas(spark: SparkSession, sf_dir: str) -> dict[str, StructType]:
    """Table name → its inferred schema, filled by :func:`_t`."""
    return {}


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """A fresh read of table ``name`` under ``sf_dir``. Its schema is
    inferred from the parquet footers once per (session, ``sf_dir``,
    table), which is one job; later reads declare that schema and
    launch none. Each call is a new relation, so a self-join gets
    distinct attribute ids. Data under ``sf_dir`` is immutable within a
    session (:func:`session_memo`): a table rewritten inside one
    session needs a new path."""
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
    path = f"{sf_dir}/{name}.parquet"
    schemas = _schemas(spark, sf_dir)
    if name in schemas:
        return spark.read.schema(schemas[name]).parquet(path)
    df = spark.read.parquet(path)
    schemas[name] = df.schema
    return df


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


_DAY_US = 86_400_000_000


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
            F.expr(f"us div {_DAY_US}").cast("long").alias("t"),
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


# ---------------------------------------- helpers used by several domain modules


def _duck_h60(key_sql: str) -> str:
    """DuckDB: first 15 hex digits of md5 as int64 (same fold as
    dedup/simhash.py's portable signatures)."""
    return (
        "("
        + " + ".join(
            f"(instr('0123456789abcdef', substr(md5(CAST({key_sql} AS VARCHAR)), {i + 1}, 1)) - 1)"
            f" * {16 ** (14 - i)}"
            for i in range(15)
        )
        + ")"
    )


def _copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetrized customer–supplier purchase graph, cached per
    (session, sf): pagerank and the bounded BFS consume the identical
    relation, and the build (fact join + two shuffling dedups over
    ~1M string pairs) costs more than either algorithm's supersteps —
    one ``cache()`` makes the second graph query start from RAM. The
    pre-symmetrize dedup is skipped on purpose: ``symmetrize_edges``
    dedups the union anyway, so deduping e0 first only adds a
    shuffle."""
    return _copurchase_edges_weighted(spark, sf_dir).select("src", "dst")


@session_memo
def _copurchase_edges_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(src, dst, cnt): the cached relation itself — symmetrized edges
    WITH the per-pair purchase count, so the whole graph tier (pagerank,
    BFS, LPA, Katz, AND the weighted Bellman-Ford) shares ONE
    materialization of the fact join. The count aggregate replaces the
    former symmetrize-then-dropDuplicates (one shuffle, not two): the
    groupBy yields distinct directed (c→s) pairs and the mirror's
    prefixes are disjoint from them, so the union is distinct by
    construction — bit-identical edge set to symmetrize_edges(e0).
    AQE coalesces the cached union (the session sets
    ``canChangeCachedPlanOutputPartitioning``): 2 partitions at sf0.01
    instead of 2 × 32, so each superstep scan runs 2 tasks, not 64."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    e0 = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .groupBy(
            F.concat(F.lit("c"), F.col("o_custkey").cast("string")).alias("src"),
            F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias("dst"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    sym = e0.unionByName(
        e0.select(
            F.col("dst").alias("src"),
            F.col("src").alias("dst"),
            F.col("cnt"),
        )
    )
    return sym.cache()


_SHINGLE_SQL = f"""
    ids AS (
        SELECT tok.doc_id, tok.pos, v.token_id
        FROM tok JOIN vocab v ON tok.token = v.token),
    shingles AS (
        SELECT DISTINCT doc_id,
               (token_id * 1000003 + lead(token_id) OVER (PARTITION BY doc_id ORDER BY pos ASC)) % 2147483647 AS shingle
        FROM ids
        QUALIFY shingle IS NOT NULL),
    params AS (
        SELECT CAST(jj AS INTEGER) AS j,
               (jj * 2654435761 + 1) % 2147483647 AS a,
               (jj * 40503 + 17) % 2147483647 AS b
        FROM (SELECT unnest(generate_series(0, 15)) AS jj)),
    sigs AS (
        SELECT doc_id, j, min((a * shingle + b) % 2147483647) AS minhash
        FROM shingles CROSS JOIN params
        GROUP BY doc_id, j)
"""


_LANG_HITS_SQL = ", ".join(
    f"len(list_filter(list_filter(string_split(lower(text), ' '), t -> t <> ''), t -> t IN {lst})) AS hits_{lang}"
    for lang, lst in {
        "de": "('der','die','das','und','ist','nicht','mit','ein','zu','den')",
        "en": "('the','and','of','to','in','is','that','with','for','it')",
        "es": "('el','los','las','es','no','una','por','con','para','del')",
        "fr": "('le','la','les','et','est','pas','des','une','dans','que')",
    }.items()
)


_HOUR_US = 3_600_000_000


# 0-based token positions (the spans/phrase modules index from 0 so
# Spark's posexplode/sequence and DuckDB agree without offsets)
_TOK0_SQL = """
    tok AS (
        SELECT doc_id, generate_subscripts(toks, 1) - 1 AS pos, unnest(toks) AS token
        FROM (
            SELECT doc_id, list_filter(string_split(lower(text), ' '), t -> t <> '') AS toks
            FROM documents
        )
    )
"""


_NTOK_SQL = """
    ntok AS (
        SELECT doc_id,
               CAST(len(list_filter(string_split(lower(text), ' '), t -> t <> '')) AS BIGINT) AS n_tokens
        FROM documents
    )
"""


# the SAME near-dup pipeline near_dup_components value-matches
# (banded LSH -> bucket join -> exact-Jaccard verify -> recursive
# transitive closure), packaged as a reusable fragment: comp maps each
# member doc to its component's min id.
_COMPONENTS_SQL = f"""{_SHINGLE_SQL},
    banded AS (
      SELECT doc_id, CAST(j // 4 AS INTEGER) AS band,
             md5(string_agg(CAST(minhash AS VARCHAR), ',' ORDER BY j ASC)) AS bucket
      FROM sigs WHERE CAST(j // 4 AS INTEGER) < 4
      GROUP BY doc_id, CAST(j // 4 AS INTEGER)),
    sized AS (
      SELECT * FROM (
        SELECT band, bucket, doc_id, count(*) OVER (PARTITION BY band, bucket) AS bsz
        FROM banded) WHERE bsz <= 1000),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_id_0, b.doc_id AS doc_id_1
      FROM sized a JOIN sized b ON a.band = b.band AND a.bucket = b.bucket
      WHERE a.doc_id < b.doc_id),
    sz AS (SELECT doc_id, count(*) AS sz FROM shingles GROUP BY doc_id),
    inter AS (
      SELECT c.doc_id_0, c.doc_id_1, count(*) AS inter
      FROM cand c
      JOIN shingles s0 ON s0.doc_id = c.doc_id_0
      JOIN shingles s1 ON s1.doc_id = c.doc_id_1 AND s1.shingle = s0.shingle
      GROUP BY c.doc_id_0, c.doc_id_1),
    pairs AS (
      SELECT i.doc_id_0, i.doc_id_1
      FROM inter i
      JOIN sz z0 ON z0.doc_id = i.doc_id_0
      JOIN sz z1 ON z1.doc_id = i.doc_id_1
      WHERE i.inter * 1.0 / (z0.sz + z1.sz - i.inter) >= 0.1),
    edges AS (
      SELECT doc_id_0 AS src, doc_id_1 AS dst FROM pairs
      UNION ALL SELECT doc_id_1, doc_id_0 FROM pairs),
    reach(id, r) AS (
      SELECT DISTINCT src, src FROM edges
      UNION
      SELECT reach.id, e.dst FROM reach JOIN edges e ON e.src = reach.r),
    comp AS (SELECT id AS doc_id, min(r) AS keep_id FROM reach GROUP BY id)
"""


@session_memo
def _near_dup_labeled(spark, sf_dir):
    """Full corpus labeled with near-dup components: the SAME pipeline
    near_dup_components value-matches, extended to singletons.

    Cached per (session, sf) like the vocab and the k-NN graph: the
    component labeling is the shared dedup index that canonical-pick,
    leakage-safe-split, and the cluster histogram all consume — a
    production pipeline labels once and derives every report from it
    (three bench queries each re-ran the ~7s chain before this)."""
    from redshells_spark.dedup.canonical import attach_components

    toks = _tokens(spark, sf_dir)
    comps = _nd_components(spark, sf_dir)
    docs = toks.select(
        "doc_id", F.size("tokens").cast("long").alias("n_tokens")
    )
    return attach_components(
        docs, comps, "doc_id", "keep_id"
    ).localCheckpoint(eager=True)


# cosine of a.embedding and b.embedding; _COS_AB is the parenthesized
# spelling some oracle texts were pinned with
_COS_SQL = (
    "list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) / "
    "(greatest(sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[])), 1e-12) * "
    "greatest(sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[])), 1e-12))"
)
_COS_AB = f"({_COS_SQL})"


_WEEK_US = 7 * _DAY_US


_CENTS_SQL = "CAST(floor(value * 100 + CAST(0.5 AS DOUBLE)) AS BIGINT)"


_DAILY_SQL = f"""days AS (SELECT DISTINCT epoch_us(ts) // {_DAY_US} AS t
                FROM events),
       pc AS (SELECT epoch_us(ts) // {_DAY_US} AS t,
                     CAST(count(*) AS BIGINT) AS v
              FROM events WHERE event_type = 'purchase' GROUP BY 1),
       s AS (SELECT d.t, CAST(coalesce(pc.v, 0) AS BIGINT) AS v
             FROM days d LEFT JOIN pc USING (t))"""


# Everything above is shared registry infrastructure: domain modules do
# `from ._shared import *`, which re-exports ALL names below
# (including underscore-prefixed helpers) via the explicit __all__.
__all__ = [n for n in dir() if not n.startswith("__")]
