"""BM25 ranked retrieval over a document corpus.

Okapi BM25 (Robertson & Zaragoza 2009) as pure relational dataflow —
the classical lexical-retrieval companion to the dense ANN tier
(similarity/ann.py) and the TF-IDF tier (text/tfidf.py):

    idf_t  = ln(1 + (N - df_t + 0.5) / (df_t + 0.5))
    s(d,q) = sum_t idf_t * tf_td / (tf_td + k1*(1 - b + b*dl_d/avgdl))

Scale design: the query-term filter is an ``isin`` literal pushed into
the token explode (the scan only keeps matching postings), document
frequencies and the (N, avgdl) pair are tiny aggregates joined back by
broadcast, and scoring is one groupBy(doc). For a query *table* (batch
retrieval), the same shape with a broadcast equi-join on term. Doc
lengths come from the full corpus in the same single scan via a
conditional count, so the whole pipeline is scan → one shuffle →
top-k. Float contract: fixed-expression doubles + ln, so scores match
a SQL oracle under a round-4 export (same family as
ngram_lm_perplexity).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from redshells_spark.schema import require_columns
from redshells_spark.text.tokenize import space_tokens


def _sql_quote(term: str) -> str:
    """Escape a query term for embedding in a Spark SQL string literal
    (the stack() unpivot): backslashes FIRST — Spark's default parser
    interprets backslash escapes inside literals, so an unescaped
    'a\\b' would parse as 'a'+backspace and a trailing backslash would
    swallow the closing quote — then the standard quote doubling."""
    return term.replace("\\", "\\\\").replace("'", "''")


def bm25_topk(
    docs: DataFrame,
    query_terms: tuple[str, ...],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    text_column: str = "text",
    id_column: str = "doc_id",
    score_decimals: int = 4,
) -> DataFrame:
    """→ top-k (id, score) for one query, score rounded for a stable,
    engine-independent ranking (tie-break on id). ``query_terms`` are
    matched as lowercase whole tokens."""
    require_columns(docs, [id_column, text_column])
    # corpus tokens are lowercased by space_tokens; lowercase the query the
    # same way (matching bm25_batch_scores) so uppercase query terms
    # don't silently match nothing
    query_terms = tuple(dict.fromkeys(t.lower() for t in query_terms))
    if not query_terms:  # stack(0, ...) would be a ParseException
        return docs.select(
            F.col(id_column), F.lit(0.0).alias("score")
        ).limit(0)
    toks = space_tokens(F.col(text_column))
    # ONE corpus tokenize pass (the same per-doc dl + per-term tf fold
    # as bm25_wand_topk): doc length and query-term tfs in a single
    # groupBy, pinned so the corpus stats and the postings unpivot
    # never re-tokenize. The tf longs and the scoring expression tree
    # are identical to the old dl-join form.
    base = docs.select(
        id_column, F.explode(toks).alias("term")
    )
    tf_cols = [
        F.sum(F.when(F.col("term") == t, 1).otherwise(0))
        .cast("long")
        .alias(f"__tf{i}")
        for i, t in enumerate(query_terms)
    ]
    per_doc = (
        base.groupBy(id_column)
        .agg(F.count(F.lit(1)).alias("dl"), *tf_cols)
        .localCheckpoint(eager=True)
    )
    stats = per_doc.agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("dl").alias("dl_sum")
    )
    quoted = [_sql_quote(t) for t in query_terms]
    stack_args = ", ".join(f"'{t}', __tf{i}" for i, t in enumerate(quoted))
    postings = per_doc.selectExpr(
        id_column,
        "dl",
        f"stack({len(query_terms)}, {stack_args}) AS (term, tf)",
    ).filter(F.col("tf") > 0)
    df_t = postings.groupBy("term").agg(
        F.count(F.lit(1)).alias("df")
    )
    half = F.lit(0.5)
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df") + half) / (F.col("df") + half)
    )
    avgdl = F.col("dl_sum") / F.col("n_docs")
    denom = F.col("tf") + F.lit(float(k1)) * (
        F.lit(1.0) - F.lit(float(b)) + F.lit(float(b)) * F.col("dl") / avgdl
    )
    scored = (
        postings.join(F.broadcast(df_t), "term")
        .crossJoin(F.broadcast(stats))
        .select(id_column, (idf * F.col("tf") / denom).alias("t"))
        .groupBy(id_column)
        .agg(F.round(F.sum("t"), score_decimals).alias("score"))
    )
    return scored.orderBy(
        F.col("score").desc(), F.col(id_column).asc()
    ).limit(k)


def bm25_batch_scores(
    docs: DataFrame,
    queries: DataFrame,
    k1: float = 1.2,
    b: float = 0.75,
    text_column: str = "text",
    id_column: str = "doc_id",
    query_id_column: str = "query_id",
    term_column: str = "term",
) -> DataFrame:
    """→ (query_id, id, score): batch retrieval for a query table of
    (query_id, term) rows — the multi-query variant, broadcast-joined
    on term so the postings relation shuffles once regardless of how
    many queries ride along."""
    require_columns(queries, [query_id_column, term_column])
    toks = space_tokens(F.col(text_column))
    base = docs.select(id_column, F.explode(toks).alias("term"))
    dl = base.groupBy(id_column).agg(F.count(F.lit(1)).alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("dl").alias("dl_sum")
    )
    wanted = queries.select(
        F.col(query_id_column).alias("qid"),
        F.lower(F.col(term_column)).alias("term"),
    ).distinct()
    postings = (
        base.join(F.broadcast(wanted.select("term").distinct()), "term")
        .groupBy(id_column, "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df_t = postings.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    half = F.lit(0.5)
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df") + half) / (F.col("df") + half)
    )
    avgdl = F.col("dl_sum") / F.col("n_docs")
    denom = F.col("tf") + F.lit(float(k1)) * (
        F.lit(1.0) - F.lit(float(b)) + F.lit(float(b)) * F.col("dl") / avgdl
    )
    return (
        postings.join(F.broadcast(wanted), "term")
        .join(dl, id_column)
        .join(F.broadcast(df_t), "term")
        .crossJoin(F.broadcast(stats))
        .select("qid", id_column, (idf * F.col("tf") / denom).alias("t"))
        .groupBy("qid", id_column)
        .agg(F.sum("t").alias("score"))
        .withColumnRenamed("qid", query_id_column)
    )


def bm25_wand_topk(
    docs: DataFrame,
    query_terms: tuple[str, ...],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    text_column: str = "text",
    id_column: str = "doc_id",
    score_decimals: int = 4,
    prune_eps: float = 1e-9,
) -> DataFrame:
    """Top-k BM25 with WAND-style upper-bound pruning (Broder et al.
    CIKM 2003) — LOSSLESSLY identical output to :func:`bm25_topk`,
    with the expensive exact-scoring pass run only on documents that
    can still beat a score floor:

    1. per-term upper bound ub_t = max posting contribution (a max of
       the SAME computed doubles, so ub_t ≥ every contribution
       exactly);
    2. score floor θ = the k-th best exact score among documents
       matching the RAREST query term (any k docs give a valid floor;
       the rarest posting list is the cheapest source — if it has
       fewer than k docs the floor disables itself);
    3. prune: keep documents whose Σ matched-term ub_t ≥ θ − eps (the
       eps absorbs float-summation-order ULPs, keeping the prune
       conservative);
    4. exact-score the survivors with the SAME expression and take
       top-k (rounded score, id tie-break).

    At 100 TB this is the difference between scoring every matching
    posting and scoring the few documents competitive at rank k —
    the pruning is a semi-join ON TOP of the postings relation, never
    a second corpus scan.

    Plan shape: ONE corpus tokenize pass computes doc length and the
    per-query-term tf together (conditional counts in one groupBy);
    the resulting per-doc relation is narrow (|q|+2 ints/doc — the
    classical BM25 length statistic every retrieval system keeps) and
    is pinned so the corpus statistics, the postings unpivot, and the
    four consumers of the contribution relation never re-tokenize.
    Without the pins the physical plan re-expanded the whole tokenize
    subtree once per consumer (18 document scans at round-8 audit)."""
    require_columns(docs, [id_column, text_column])
    # dict.fromkeys: dedup while preserving order — a duplicated query
    # term must not double its postings in the stack() unpivot (the
    # old isin() path deduped implicitly)
    query_terms = tuple(dict.fromkeys(t.lower() for t in query_terms))
    if not query_terms:  # stack(0, ...) would be a ParseException
        return docs.select(
            F.col(id_column), F.lit(0.0).alias("score")
        ).limit(0)
    toks = space_tokens(F.col(text_column))
    base = docs.select(id_column, F.explode(toks).alias("term"))
    tf_cols = [
        F.sum(F.when(F.col("term") == t, 1).otherwise(0))
        .cast("long")
        .alias(f"__tf{i}")
        for i, t in enumerate(query_terms)
    ]
    per_doc = (
        base.groupBy(id_column)
        .agg(F.count(F.lit(1)).alias("dl"), *tf_cols)
        .localCheckpoint(eager=True)
    )
    stats = per_doc.agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("dl").alias("dl_sum")
    )
    quoted = [_sql_quote(t) for t in query_terms]
    stack_args = ", ".join(
        f"'{t}', __tf{i}" for i, t in enumerate(quoted)
    )
    postings = per_doc.selectExpr(
        id_column,
        "dl",
        f"stack({len(query_terms)}, {stack_args}) AS (term, tf)",
    ).filter(F.col("tf") > 0)
    df_t = postings.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    half = F.lit(0.5)
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df") + half) / (F.col("df") + half)
    )
    avgdl = F.col("dl_sum") / F.col("n_docs")
    denom = F.col("tf") + F.lit(float(k1)) * (
        F.lit(1.0) - F.lit(float(b)) + F.lit(float(b)) * F.col("dl") / avgdl
    )
    contribs = (
        postings.join(F.broadcast(df_t), "term")
        .crossJoin(F.broadcast(stats))
        .select(id_column, "term", (idf * F.col("tf") / denom).alias("t"))
        .localCheckpoint(eager=True)  # matching-docs × |q| — the
        # pruning statistics (ubs, seed floor, cand, final) all read it
    )
    # per-term upper bounds (|q| rows) — max of the same doubles
    ubs = contribs.groupBy("term").agg(F.max("t").alias("ub"))
    # the rarest query term (fewest postings, term tie-break)
    rarest = df_t.orderBy(F.col("df").asc(), F.col("term").asc()).limit(1)
    seed_ids = postings.join(
        F.broadcast(rarest.select("term")), "term"
    ).select(id_column)
    seed_scores = (
        contribs.join(F.broadcast(seed_ids), id_column)
        .groupBy(id_column)
        .agg(F.round(F.sum("t"), score_decimals).alias("score"))
    )
    theta = (
        seed_scores.orderBy(F.col("score").desc(), F.col(id_column).asc())
        .limit(k)
        .agg(
            F.count(F.lit(1)).alias("n_seed"),
            F.min("score").alias("kth"),
        )
        .select(
            F.when(F.col("n_seed") >= k, F.col("kth"))
            .otherwise(F.lit(-1e18))
            .alias("theta")
        )
    )
    cand = (
        contribs.join(F.broadcast(ubs), "term")
        .groupBy(id_column)
        .agg(F.sum("ub").alias("ub_sum"))
        .crossJoin(F.broadcast(theta))
        .filter(F.col("ub_sum") >= F.col("theta") - F.lit(float(prune_eps)))
        .select(id_column)
    )
    final = (
        contribs.join(cand, id_column, "left_semi")
        .groupBy(id_column)
        .agg(F.round(F.sum("t"), score_decimals).alias("score"))
    )
    return final.orderBy(
        F.col("score").desc(), F.col(id_column).asc()
    ).limit(k)
