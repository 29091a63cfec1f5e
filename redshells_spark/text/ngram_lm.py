"""N-gram language-model perplexity scoring (CCNet-style quality filter).

CCNet (Wenzek et al. 2020) ranks web documents by the perplexity of a
language model trained on clean text; low-perplexity documents read
like the reference corpus, high-perplexity ones are boilerplate/noise.
The original uses a KenLM 5-gram model; this is the same pipeline shape
with an add-alpha-smoothed bigram LM so the entire stage — training AND
scoring — is relational, oracle-checkable SQL, and runs JVM-side:

- ``train_bigram_lm``: one explode + two groupBys (all partial-agg) over
  the training corpus → a ``(prev, word, n)`` bigram-count table, a
  ``(prev, n_prev)`` context-count table and the vocabulary size.
- ``score_perplexity``: explode the target docs into bigrams, shuffle-join
  them against the count tables on the gram key (big-big sort-merge
  join — both sides partition on the same key, no driver state), and
  aggregate per-doc cross-entropy. Unseen bigrams fall out of the left
  join as NULL counts and get the smoothing-floor probability via
  ``coalesce`` — no special-casing.

Model: P(w | prev) = (c(prev,w) + a) / (c(prev) + a*V), add-alpha
smoothing over vocabulary V, BOS sentinel for the first token.
Per-doc cross-entropy H = -(1/N) * sum log2 P; perplexity = 2^H.

At 100 TB: counts tables are corpus-vocabulary-bounded (<< corpus);
when the LM is small it can be ``F.broadcast`` at the call site, and
when it is not, the join partitions on the gram key exactly like any
large aggregation. Nothing is collected on the driver.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from redshells_spark.operators.observe import pin_count
from redshells_spark.schema import require_columns

BOS = "␟<s>"  # sentinel that cannot collide with a whitespace token


def _tokens(text: Column) -> Column:
    return F.filter(F.split(F.lower(text), " "), lambda t: t != "")


def _bigrams(tokens: Column) -> Column:
    """(prev, word) pairs with a BOS sentinel: for tokens [a, b, c] →
    [(BOS,a), (a,b), (b,c)]. ``zip_with`` over a shifted copy — pure
    codegen, no explode-then-window."""
    padded = F.concat(F.array(F.lit(BOS)), tokens)
    n = F.size(tokens)
    return F.zip_with(
        F.slice(padded, 1, n),
        F.slice(padded, 2, n),
        lambda a, b: F.struct(a.alias("prev"), b.alias("word")),
    )


class BigramLM:
    """Container for the trained tables (kept as DataFrames — the model
    IS data, so save/load is a parquet write/read)."""

    def __init__(self, bigram_counts: DataFrame, context_counts: DataFrame, vocab_size: int):
        self.bigram_counts = bigram_counts  # (prev, word, n)
        self.context_counts = context_counts  # (prev, n_prev)
        self.vocab_size = vocab_size

    def save(self, path: str) -> None:
        self.bigram_counts.write.mode("overwrite").parquet(f"{path}/bigram_counts")
        self.context_counts.withColumn("__v", F.lit(self.vocab_size)).write.mode(
            "overwrite"
        ).parquet(f"{path}/context_counts")

    @classmethod
    def load(cls, spark, path: str) -> "BigramLM":
        ctx = spark.read.parquet(f"{path}/context_counts")
        v = ctx.select("__v").head()["__v"]
        return cls(
            spark.read.parquet(f"{path}/bigram_counts"),
            ctx.drop("__v"),
            int(v),
        )


def train_bigram_lm(
    docs: DataFrame, text_column: str = "text", min_count: int = 1
) -> BigramLM:
    """Count bigrams/contexts over the training corpus. ``min_count``
    prunes rare bigrams from the model table (context counts and V stay
    exact so probabilities remain a proper distribution)."""
    require_columns(docs, [text_column])
    toks = _tokens(F.col(text_column))
    grams = docs.select(F.explode(_bigrams(toks)).alias("g")).select("g.prev", "g.word")
    bigram_counts = grams.groupBy("prev", "word").agg(F.count(F.lit(1)).alias("n"))
    if min_count > 1:
        bigram_counts = bigram_counts.filter(F.col("n") >= min_count)
    context_counts = grams.groupBy("prev").agg(F.count(F.lit(1)).alias("n_prev"))
    vocab_size = grams.filter(F.col("word") != BOS).select("word").distinct().count()
    return BigramLM(bigram_counts, context_counts, vocab_size)


def score_perplexity(
    docs: DataFrame,
    lm: BigramLM,
    text_column: str = "text",
    doc_id_column: str = "doc_id",
    alpha: float = 0.1,
    broadcast_lm: bool = False,
) -> DataFrame:
    """Per-document cross-entropy (bits/token) and perplexity under the
    LM. Empty documents score NULL (no bigrams to evaluate).

    ``broadcast_lm=True`` hints both count tables broadcast-side —
    correct when the LM vocabulary is small (the CCNet case: the model
    is trained once on a bounded clean corpus, then scores petabytes);
    leave False to let AQE pick for a large in-domain LM."""
    require_columns(docs, [text_column, doc_id_column])
    toks = _tokens(F.col(text_column))
    pairs = docs.select(
        F.col(doc_id_column).alias("doc_id"), F.explode(_bigrams(toks)).alias("g")
    ).select("doc_id", "g.prev", "g.word")

    bc = lm.bigram_counts
    cc = lm.context_counts
    if broadcast_lm:
        bc, cc = F.broadcast(bc), F.broadcast(cc)
    av = float(alpha) * float(lm.vocab_size)
    joined = (
        pairs.join(bc, on=["prev", "word"], how="left")
        .join(cc, on="prev", how="left")
        .select(
            "doc_id",
            F.log2(
                (F.coalesce(F.col("n"), F.lit(0)) + F.lit(float(alpha)))
                / (F.coalesce(F.col("n_prev"), F.lit(0)) + F.lit(av))
            ).alias("lp"),
        )
    )
    return (
        joined.groupBy("doc_id")
        .agg((-F.avg("lp")).alias("cross_entropy"))
        .select("doc_id", "cross_entropy", F.pow(F.lit(2.0), "cross_entropy").alias("perplexity"))
    )


class KneserNeyLM:
    """Interpolated Kneser-Ney bigram LM (Kneser & Ney 1995; Chen &
    Goodman 1999) — the smoothing family KenLM uses, so this is the
    closest oracle-checkable relational stand-in for CCNet's actual
    filter model. Tables: (prev, word, n) bigram counts; (prev,
    c_prev, n1p_fwd) context totals + distinct-continuation counts;
    (word, n1p_bwd) distinct-history counts; the distinct-bigram-type
    total."""

    def __init__(
        self,
        bigram_counts: DataFrame,
        context_stats: DataFrame,
        continuation_counts: DataFrame,
        n_bigram_types: int,
    ):
        self.bigram_counts = bigram_counts
        self.context_stats = context_stats
        self.continuation_counts = continuation_counts
        self.n_bigram_types = n_bigram_types


def train_kn_bigram_lm(docs: DataFrame, text_column: str = "text") -> KneserNeyLM:
    """One explode + three groupBys over the corpus, all map-combined;
    every table is vocabulary-bounded (≪ corpus at 100 TB). The bigram
    count table is materialized once — ctx and cont derive from it,
    the pin itself observes the type count, and without the pin each
    consumer re-ran the corpus explode."""
    require_columns(docs, [text_column])
    toks = _tokens(F.col(text_column))
    grams = docs.select(F.explode(_bigrams(toks)).alias("g")).select(
        "g.prev", "g.word"
    )
    bc, n_types = pin_count(  # bigram-type-bounded
        grams.groupBy("prev", "word").agg(F.count(F.lit(1)).alias("n"))
    )
    ctx = bc.groupBy("prev").agg(
        F.sum("n").alias("c_prev"), F.count(F.lit(1)).alias("n1p_fwd")
    )
    cont = bc.groupBy("word").agg(F.count(F.lit(1)).alias("n1p_bwd"))
    return KneserNeyLM(bc, ctx, cont, n_types)


def score_kn_perplexity(
    docs: DataFrame,
    lm: KneserNeyLM,
    text_column: str = "text",
    doc_id_column: str = "doc_id",
    discount: float = 0.75,
    broadcast_lm: bool = False,
) -> DataFrame:
    """Per-doc cross-entropy (bits/token) and perplexity under
    interpolated KN: P(w|v) = (max(c(vw)−d, 0) + d·N1+(v,·)·Pcont(w))
    / c(v), Pcont(w) = N1+(·,w) / |bigram types|.

    Every scored context must exist in the model (guaranteed when
    scoring the training corpus, the CCNet self-scoring shape); an
    unseen (v,w) PAIR backs off to the continuation term via the
    NULL-count coalesce. Fixed-expression doubles — mirror the tree
    token-for-token in an oracle; export with round-4.
    """
    require_columns(docs, [text_column, doc_id_column])
    toks = _tokens(F.col(text_column))
    pairs = docs.select(
        F.col(doc_id_column).alias("doc_id"), F.explode(_bigrams(toks)).alias("g")
    ).select("doc_id", "g.prev", "g.word")
    bc, ctx, cont = lm.bigram_counts, lm.context_stats, lm.continuation_counts
    if broadcast_lm:
        bc, ctx, cont = F.broadcast(bc), F.broadcast(ctx), F.broadcast(cont)
    d = F.lit(float(discount))
    p_cont = F.coalesce(F.col("n1p_bwd"), F.lit(0)) / F.lit(
        float(lm.n_bigram_types)
    )
    p = (
        F.greatest(F.coalesce(F.col("n"), F.lit(0)) - d, F.lit(0.0))
        + d * F.col("n1p_fwd") * p_cont
    ) / F.col("c_prev")
    scored = (
        pairs.join(bc, ["prev", "word"], "left")
        .join(ctx, "prev")
        .join(cont, "word", "left")
        .select("doc_id", F.log2(p).alias("lp"))
    )
    return (
        scored.groupBy("doc_id")
        .agg((-F.avg("lp")).alias("cross_entropy"))
        .select(
            "doc_id",
            "cross_entropy",
            F.pow(F.lit(2.0), "cross_entropy").alias("perplexity"),
        )
    )
