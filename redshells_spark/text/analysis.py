"""Text-analysis operators for large-scale training-data pipelines.

Beyond the reference surface (per BASELINE.json north star): language
identification, quality scoring, token counting and document
fingerprinting over a ``documents(doc_id, text, ...)`` table.

Everything is a Catalyst expression (no UDFs) so the whole stage stays
in codegen and the scan only reads (doc_id, text) — at 100 TB these
run at parquet-scan speed.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from redshells_spark.schema import require_columns
from redshells_spark.text.tokenize import space_tokens

# Tiny language-marker stopword sets. An n-gram/stopword heuristic, not
# a trained model — deterministic, SQL-expressible, and cheap; swap in
# fastText-lid via pandas_udf when quality matters more than orace-ability.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "in", "is", "that", "with", "for", "it"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "mit", "ein", "zu", "den"),
    "fr": ("le", "la", "les", "et", "est", "pas", "des", "une", "dans", "que"),
    "es": ("el", "los", "las", "es", "no", "una", "por", "con", "para", "del"),
}


def token_count(df: DataFrame, text_column: str = "text") -> DataFrame:
    """Whitespace token count + a BPE-ish subword estimate
    (≈ chars/4 heuristic used by LLM pipelines for budget accounting)."""
    require_columns(df, [text_column])
    toks = space_tokens(F.col(text_column))
    return (
        df.withColumn("n_tokens", F.size(toks))
        .withColumn("n_words", F.size(F.array_distinct(toks)))
        .withColumn(
            "n_subword_est",
            F.ceil(F.length(F.col(text_column)) / F.lit(4.0)).cast("long"),
        )
    )


def quality_score(df: DataFrame, text_column: str = "text") -> DataFrame:
    """Heuristic document-quality features + composite score:
    length, mean word length, punctuation ratio, stopword ratio,
    uppercase ratio. Mirrors C4/Gopher-style filter signals."""
    require_columns(df, [text_column])
    text = F.col(text_column)
    toks = space_tokens(text)
    n_chars = F.length(text)
    n_tokens = F.size(toks)
    stop = LANG_MARKERS["en"]
    stopword_hits = F.size(F.filter(toks, lambda t: t.isin(*stop)))
    punct = n_chars - F.length(F.regexp_replace(text, r"[^\w\s]", ""))
    upper = n_chars - F.length(F.regexp_replace(text, r"[A-Z]", ""))
    out = (
        df.withColumn("n_chars_m", n_chars)
        .withColumn("n_tokens", n_tokens)
        .withColumn(
            "mean_word_len",
            F.when(n_tokens > 0, (n_chars - n_tokens + 1) / n_tokens).otherwise(F.lit(0.0)),
        )
        .withColumn("punct_ratio", punct / F.greatest(n_chars, F.lit(1)))
        .withColumn("stopword_ratio", stopword_hits / F.greatest(n_tokens, F.lit(1)))
        .withColumn("upper_ratio", upper / F.greatest(n_chars, F.lit(1)))
    )
    score = (
        F.when((F.col("n_tokens") >= 10) & (F.col("n_tokens") <= 100000), 0.4).otherwise(0.0)
        + F.when(F.col("stopword_ratio") >= 0.05, 0.3).otherwise(0.0)
        + F.when(F.col("punct_ratio") <= 0.3, 0.3).otherwise(0.0)
    )
    return out.withColumn("quality", score)


def detect_language(df: DataFrame, text_column: str = "text") -> DataFrame:
    """Stopword-marker language ID over LANG_MARKERS; ``lang_pred`` =
    argmax marker-hit count (ties → language code asc), 'und' when no
    marker hits."""
    require_columns(df, [text_column])
    toks = space_tokens(F.col(text_column))
    out = df
    def _hits(markers: tuple[str, ...]) -> Column:
        return F.size(F.filter(toks, lambda t: t.isin(*markers)))

    for lang, markers in LANG_MARKERS.items():
        out = out.withColumn(f"__hits_{lang}", _hits(markers))
    # argmax via greatest + chained when (deterministic tie-break: asc code order wins)
    langs = sorted(LANG_MARKERS)
    best = F.greatest(*[F.col(f"__hits_{lang}") for lang in langs])
    pred = F.lit("und")
    for lang in reversed(langs):
        pred = F.when((F.col(f"__hits_{lang}") == best) & (best > 0), lang).otherwise(pred)
    out = out.withColumn("lang_pred", pred)
    return out.drop(*[f"__hits_{lang}" for lang in langs])


def fingerprint(df: DataFrame, text_column: str = "text") -> DataFrame:
    """Deterministic document fingerprint: md5 over the normalized text
    (lowercase, punctuation stripped, whitespace collapsed). The
    normalization makes near-identical boilerplate variants collide —
    the exact-dedup key for :mod:`redshells_spark.dedup.exact`."""
    require_columns(df, [text_column])
    normalized = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col(text_column)), r"[^a-z0-9\s]", ""),
            r"\s+",
            " ",
        )
    )
    return df.withColumn("fingerprint", F.md5(normalized))


def clean_text(
    df: DataFrame,
    text_column: str = "text",
    output_column: str = "clean_text",
    strip_html: bool = True,
    collapse_whitespace: bool = True,
    strip_control: bool = True,
    lowercase: bool = False,
) -> DataFrame:
    """Standard corpus-cleaning normalization pass — the stage that
    runs before tokenize/dedup in a training-data pipeline: strip HTML
    tags, drop control characters, collapse whitespace runs, trim,
    optionally lowercase.

    Pure ``regexp_replace`` chain — codegen over the scan, no Python,
    and every rule is expressible in ANSI SQL so the stage is
    oracle-checkable."""
    require_columns(df, [text_column])
    c = F.col(text_column)
    if strip_html:
        c = F.regexp_replace(c, r"<[^>]+>", " ")
    if strip_control:
        c = F.regexp_replace(c, r"[\x00-\x08\x0b\x0c\x0e-\x1f\x7f]", "")
    if collapse_whitespace:
        c = F.trim(F.regexp_replace(c, r"\s+", " "))
    if lowercase:
        c = F.lower(c)
    return df.withColumn(output_column, c)


def redact_pii(
    df: DataFrame,
    text_column: str = "text",
    output_column: str = "redacted_text",
    redact_emails: bool = True,
    redact_urls: bool = True,
    redact_ipv4: bool = True,
) -> DataFrame:
    """Regex PII scrubbing — emails → ``<EMAIL>``, http(s) URLs →
    ``<URL>``, dotted-quad IPs → ``<IP>``. The standard pre-training
    redaction pass; patterns are RE2-compatible so the stage is
    oracle-checkable, and the chain is pure codegen. Swap in an NER
    model via pandas_udf when recall matters more than throughput."""
    require_columns(df, [text_column])
    c = F.col(text_column)
    if redact_urls:
        c = F.regexp_replace(c, r"https?://[^\s]+", "<URL>")
    if redact_emails:
        c = F.regexp_replace(c, r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>")
    if redact_ipv4:
        c = F.regexp_replace(c, r"\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b", "<IP>")
    return df.withColumn(output_column, c)


def repetition_signals(
    df: DataFrame, text_column: str = "text"
) -> DataFrame:
    """Gopher-style repetition filters (Rae et al. 2021 §A1.1): the
    fraction of all bigram occurrences taken by the single most
    frequent bigram, and the repeated-token fraction
    (1 − distinct/total). High values mark boilerplate/spam for
    removal before training.

    One explode + two aggregations, all partial map-side; no UDFs."""
    require_columns(df, [text_column])
    toks = space_tokens(F.col(text_column))
    base = df.select("doc_id", toks.alias("__t"))
    grams = base.select(
        "doc_id",
        F.explode(
            F.zip_with(
                F.slice(F.col("__t"), 1, F.greatest(F.size("__t") - 1, F.lit(0))),
                F.slice(F.col("__t"), 2, F.greatest(F.size("__t") - 1, F.lit(0))),
                lambda a, b: F.concat_ws("␟", a, b),
            )
        ).alias("gram"),
    )
    gram_stats = (
        grams.groupBy("doc_id", "gram")
        .agg(F.count(F.lit(1)).alias("n"))
        .groupBy("doc_id")
        .agg(
            (F.max("n") / F.sum("n")).alias("top_bigram_frac"),
        )
    )
    tok_stats = base.select(
        "doc_id",
        F.when(
            F.size("__t") > 0,
            1.0 - F.size(F.array_distinct("__t")) / F.size("__t"),
        )
        .otherwise(F.lit(0.0))
        .alias("repeated_token_frac"),
    )
    return tok_stats.join(gram_stats, on="doc_id", how="left").select(
        "doc_id",
        F.coalesce("top_bigram_frac", F.lit(0.0)).alias("top_bigram_frac"),
        "repeated_token_frac",
    )


# Gopher rule battery (Rae et al. 2021, "Scaling Language Models:
# Methods, Analysis & Insights from Training Gopher", Table A1)
GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_quality_rules(df: DataFrame, text_column: str = "text") -> DataFrame:
    """→ + per-rule signals and a ``keep`` flag: the Gopher quality
    heuristics (Rae et al. 2021, Table A1) as one codegen stage —
    word-count bounds, mean-word-length bounds, symbol-to-word ratio
    (# and ...), alphabetic-word fraction, required-stopword count,
    bullet-start and ellipsis-end line fractions.

    Every signal is a fixed expression over integer counts (ratios are
    single IEEE divisions of identical operands), so the battery —
    including the boolean ``keep`` conjunction — is cross-engine exact
    with no rounding. All-codegen, scan-speed at 100 TB like the rest
    of this module.
    """
    require_columns(df, [text_column])
    text = F.col(text_column)
    toks = space_tokens(text)
    n_tokens = F.size(toks)
    n_tok_d = F.greatest(n_tokens, F.lit(1)).cast("double")
    wl_sum = F.length(F.concat_ws("", toks))
    mean_wl = wl_sum / n_tok_d
    n_hash = F.length(text) - F.length(F.replace(text, F.lit("#"), F.lit("")))
    n_ellipsis = (
        F.length(text) - F.length(F.replace(text, F.lit("..."), F.lit("")))
    ) / F.lit(3)
    symbol_ratio = (n_hash + n_ellipsis) / n_tok_d
    n_alpha = F.size(F.filter(toks, lambda t: t.rlike("[a-z]")))
    frac_alpha = n_alpha / n_tok_d
    n_stop = F.size(
        F.array_intersect(F.array_distinct(toks), F.array(*map(F.lit, GOPHER_STOPWORDS)))
    )
    lines = F.split(text, "\n")
    n_lines = F.greatest(F.size(lines), F.lit(1)).cast("double")
    is_bullet = lambda l: (  # noqa: E731 — tiny predicate
        l.startswith("- ") | l.startswith("* ") | l.startswith("•")
    )
    frac_bullet = F.size(F.filter(lines, is_bullet)) / n_lines
    frac_ell_end = (
        F.size(F.filter(lines, lambda l: l.endswith("...") | l.endswith("…")))
        / n_lines
    )
    out = (
        df.withColumn("n_tokens", n_tokens)
        .withColumn("mean_word_len", mean_wl)
        .withColumn("symbol_word_ratio", symbol_ratio)
        .withColumn("frac_alpha_words", frac_alpha)
        .withColumn("n_gopher_stopwords", n_stop.cast("long"))
        .withColumn("frac_bullet_lines", frac_bullet)
        .withColumn("frac_ellipsis_lines", frac_ell_end)
    )
    keep = (
        (F.col("n_tokens") >= 50)
        & (F.col("n_tokens") <= 100_000)
        & (F.col("mean_word_len") >= 3)
        & (F.col("mean_word_len") <= 10)
        & (F.col("symbol_word_ratio") <= 0.1)
        & (F.col("frac_alpha_words") >= 0.8)
        & (F.col("n_gopher_stopwords") >= 2)
        & (F.col("frac_bullet_lines") <= 0.9)
        & (F.col("frac_ellipsis_lines") <= 0.3)
    )
    return out.withColumn("keep", keep)


def token_entropy_signals(
    df: DataFrame, text_column: str = "text", id_column: str = "doc_id"
) -> DataFrame:
    """→ (id, n_tokens, n_distinct, entropy, norm_entropy): Shannon
    entropy of each document's token distribution — low entropy flags
    repetitive/boilerplate text, near-max entropy flags random-token
    garbage; the standard statistical companion to the rule-based
    filters above.

    Unlike the rest of this module this one shuffles (token-level then
    doc-level groupBy — both map-combined, keyed on the doc so 100 TB
    spreads evenly). entropy uses the aggregate-friendly identity
    H = ln(n) - (Σ c·ln c)/n; norm_entropy divides by ln(n_distinct)
    (0 when a doc has a single distinct token).
    """
    require_columns(df, [id_column, text_column])
    toks = space_tokens(F.col(text_column))
    c = (
        df.select(id_column, F.explode(toks).alias("__tok"))
        .groupBy(id_column, "__tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    # H = ln(n) - (sum c*ln(c)) / n : one two-level aggregate, no window
    per_doc = c.groupBy(id_column).agg(
        F.sum("cnt").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("n_distinct"),
        F.sum(F.col("cnt") * F.log("cnt")).alias("__s"),
    )
    ent = F.log(F.col("n_tokens")) - F.col("__s") / F.col("n_tokens")
    return per_doc.select(
        id_column,
        "n_tokens",
        "n_distinct",
        ent.alias("entropy"),
        F.when(F.col("n_distinct") > 1, ent / F.log(F.col("n_distinct")))
        .otherwise(F.lit(0.0))
        .alias("norm_entropy"),
    )


def gopher_repetition_battery(
    df: DataFrame, text_column: str = "text", id_column: str = "doc_id"
) -> DataFrame:
    """→ (id, total_chars, top{2,3,4}_char_frac, dup{5,6}_char_frac):
    the Gopher repetition filters (Rae et al. 2021 §A1.1) beyond the
    two in :func:`repetition_signals` — the fraction of document
    characters covered by the single most frequent {2,3,4}-gram, and
    by ALL duplicated {5,6}-grams (standard multiplicity
    approximation Σ c·len over c>1 grams, capped at 1 — exact overlap
    union would need interval merging for a filter threshold that
    doesn't warrant it).

    Character counts exclude separators (token lengths only), the
    top-gram tie-break is (count desc, gram asc), and every fraction
    is one identical-operand IEEE division of exact longs — full
    precision, no rounding. One explode per n (unioned: a single
    shuffle stage), keyed on the doc id.
    """
    require_columns(df, [id_column, text_column])
    toks = space_tokens(F.col(text_column))
    base = df.select(
        id_column,
        toks.alias("__t"),
        F.length(F.concat_ws("", toks)).cast("long").alias("total_chars"),
    ).localCheckpoint(eager=True)  # tokenized docs; five per-n explodes
    # and the final outer join all consume it

    def ngram_rel(n: int):
        def gram_at(i):
            return F.array_join(F.slice(F.col("__t"), i + 1, n), "␟")

        grams = F.transform(
            F.sequence(F.lit(0), F.size("__t") - F.lit(n)), gram_at
        )
        return (
            base.filter(F.size("__t") >= n)
            .select(
                id_column,
                "total_chars",
                F.lit(n).alias("n"),
                F.explode(grams).alias("gram"),
            )
            .groupBy(id_column, "total_chars", "n", "gram")
            .agg(F.count(F.lit(1)).alias("c"))
            .withColumn(
                "glen", (F.length("gram") - F.lit(n - 1)).cast("long")
            )
        )

    rel = None
    for n in (2, 3, 4, 5, 6):
        r = ngram_rel(n)
        rel = r if rel is None else rel.unionByName(r)
    # per-doc gram counts (post-dedup, smaller than the raw explode);
    # the top-gram ranking and the duplicate fold both consume it
    rel = rel.localCheckpoint(eager=True)

    w = Window.partitionBy(id_column, "n").orderBy(
        F.col("c").desc(), F.col("gram").asc()
    )
    ranked = rel.withColumn("rn", F.row_number().over(w))
    tops = (
        ranked.filter((F.col("rn") == 1) & F.col("n").isin(2, 3, 4))
        .select(
            id_column,
            "n",
            ((F.col("c") * F.col("glen")).cast("double") / F.col("total_chars")).alias(
                "frac"
            ),
        )
    )
    dups = (
        rel.filter(F.col("n").isin(5, 6))
        .groupBy(id_column, "n", "total_chars")
        .agg(
            F.sum(F.when(F.col("c") > 1, F.col("c") * F.col("glen")).otherwise(0))
            .cast("long")
            .alias("dup_chars")
        )
        .select(
            id_column,
            (F.col("n") + 10).alias("n"),  # keys 15/16 so one pivot serves both
            F.least(
                F.col("dup_chars").cast("double") / F.col("total_chars"),
                F.lit(1.0),
            ).alias("frac"),
        )
    )
    both = tops.unionByName(dups)
    pivoted = both.groupBy(id_column).agg(
        F.max(F.when(F.col("n") == 2, F.col("frac"))).alias("top2_char_frac"),
        F.max(F.when(F.col("n") == 3, F.col("frac"))).alias("top3_char_frac"),
        F.max(F.when(F.col("n") == 4, F.col("frac"))).alias("top4_char_frac"),
        F.max(F.when(F.col("n") == 15, F.col("frac"))).alias("dup5_char_frac"),
        F.max(F.when(F.col("n") == 16, F.col("frac"))).alias("dup6_char_frac"),
    )
    return (
        base.select(id_column, "total_chars")
        .join(pivoted, id_column, "left")
        .select(
            id_column,
            "total_chars",
            *[
                F.coalesce(c, F.lit(0.0)).alias(c)
                for c in (
                    "top2_char_frac",
                    "top3_char_frac",
                    "top4_char_frac",
                    "dup5_char_frac",
                    "dup6_char_frac",
                )
            ],
        )
    )
