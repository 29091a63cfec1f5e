"""LLM corpus preparation: tokenizers (BPE, unigram), chunking and
packing, mixture weights and data selection, sharding, curricula,
leakage-safe splits, and training-format transforms.
"""

from __future__ import annotations

from redshells_spark.schema import portable_hash_sql
from redshells_spark.queries._shared import *  # noqa: F401,F403


# ------------------------------------------------------- BPE / chunking tier


def _bpe_cte(k: int, min_count: int = 2) -> str:
    """CTE chain that replays distributed BPE training in DuckDB: the
    same bracketed-symbol representation as ``text/bpe.py``, with each
    merge = one pair-count aggregate + one arg-max + one replace().
    ``replace`` is non-overlapping left-to-right in both engines, which
    on the bracketed form IS greedy BPE application — so the learned
    table and every intermediate segmentation are bit-identical."""
    parts = [
        """wf AS MATERIALIZED (SELECT word, count(*)::BIGINT AS freq
               FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
               WHERE word <> '' GROUP BY word)""",
        """w0 AS MATERIALIZED (SELECT word, freq,
                      regexp_replace(word, '(.)', '[\\1]', 'g') AS sym FROM wf)""",
    ]
    for i in range(1, k + 1):
        prev = f"w{i - 1}"
        parts.append(
            f"""p{i} AS MATERIALIZED (SELECT toks[j] AS lhs, toks[j + 1] AS rhs, sum(freq)::BIGINT AS c
              FROM (SELECT freq, toks, unnest(range(1, len(toks))) AS j
                    FROM (SELECT freq,
                                 string_split(substr(sym, 2, length(sym) - 2), '][') AS toks
                          FROM {prev})
                    WHERE len(toks) >= 2)
              GROUP BY 1, 2)"""
        )
        parts.append(
            f"""b{i} AS MATERIALIZED (SELECT lhs, rhs, c FROM p{i} WHERE c >= {min_count}
              ORDER BY c DESC, lhs ASC, rhs ASC LIMIT 1)"""
        )
        parts.append(
            f"""w{i} AS MATERIALIZED (SELECT word, freq,
                      replace(sym,
                              '[' || (SELECT lhs FROM b{i}) || '][' || (SELECT rhs FROM b{i}) || ']',
                              '[' || (SELECT lhs FROM b{i}) || (SELECT rhs FROM b{i}) || ']') AS sym
              FROM {prev})"""
        )
    return ",\n       ".join(parts)


_BPE_K = 8


@session_memo
def _bpe_trained(spark: SparkSession, sf_dir: str):
    """(merges_df, segmented_words) for the documents corpus, cached
    per (session, sf) — bpe_merge_table and bpe_subtoken_counts share
    one training run, mirroring how a pipeline would persist the merge
    table once and apply it everywhere."""
    from redshells_spark.text.bpe import learn_bpe_merges, word_freq_table

    wf = word_freq_table(_t(spark, sf_dir, "documents"))
    return learn_bpe_merges(wf, _BPE_K)


@q(
    "bpe_merge_table",
    f"""WITH {_bpe_cte(_BPE_K)}
       """
    + "\nUNION ALL\n".join(
        f"SELECT {i} AS merge_rank, lhs, rhs, lhs || rhs AS merged, c AS pair_count FROM b{i}"
        for i in range(1, _BPE_K + 1)
    ),
)
def _bpe_merge_table(spark, sf_dir):
    """Distributed BPE tokenizer training (text/bpe.py): 8 merges
    learned over the word-frequency table — one corpus pass total,
    then per merge one pair-count aggregate over the (small) distinct
    word relation and a single-row collect. The DuckDB oracle replays
    the identical algorithm as unrolled CTEs; the merge table, with
    its count-desc/pair-asc tie-break, is bit-reproducible."""
    merges, _ = _bpe_trained(spark, sf_dir)
    return merges.select(
        F.col("rank").alias("merge_rank"),
        F.col("left").alias("lhs"),
        F.col("right").alias("rhs"),
        "merged",
        "pair_count",
    )


@q(
    "bpe_subtoken_counts",
    f"""WITH {_bpe_cte(_BPE_K)}
       SELECT d.doc_id, count(*)::BIGINT AS n_tokens,
              sum(len(string_split(substr(w.sym, 2, length(w.sym) - 2), '][')))::BIGINT
                  AS n_subtokens
       FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents) d
       JOIN w{_BPE_K} w USING (word)
       WHERE d.word <> ''
       GROUP BY d.doc_id""",
)
def _bpe_subtoken_counts(spark, sf_dir):
    """Corpus application of the learned BPE merges: exploded tokens
    broadcast-join the trained word table (distinct words ≪ corpus) to
    count subtokens per document — the scale path for segmenting
    100 TB with a merge table trained once."""
    from redshells_spark.text.bpe import subtoken_count_per_doc

    _, seg = _bpe_trained(spark, sf_dir)
    docs = _t(spark, sf_dir, "documents")
    out = subtoken_count_per_doc(docs, seg)
    return out.select("doc_id", "n_tokens", F.col("n_subtokens").cast("long").alias("n_subtokens"))


@q(
    "bpe_encode",
    f"""WITH {_bpe_cte(_BPE_K)},
       seg AS (SELECT word,
                      string_split(substr(sym, 2, length(sym) - 2), '][') AS subs
               FROM w{_BPE_K}),
       vs AS (SELECT sub AS subtoken, sum(freq)::BIGINT AS n_uses
              FROM (SELECT freq,
                           unnest(string_split(substr(sym, 2, length(sym) - 2), '][')) AS sub
                    FROM w{_BPE_K})
              GROUP BY 1),
       vocab AS (SELECT CAST(row_number() OVER (ORDER BY n_uses DESC, subtoken ASC) - 1
                             AS BIGINT) AS token_id,
                        subtoken
                 FROM vs),
       d AS (SELECT doc_id, word, CAST(pos - 1 AS BIGINT) AS pos FROM
               (SELECT doc_id, unnest(string_split(text, ' ')) AS word,
                       generate_subscripts(string_split(text, ' '), 1) AS pos
                FROM documents)
             WHERE word <> ''),
       e AS (SELECT d.doc_id, d.pos,
                    CAST(generate_subscripts(g.subs, 1) - 1 AS BIGINT) AS sub_pos,
                    unnest(g.subs) AS subtoken
             FROM d JOIN seg g ON g.word = d.word)
       SELECT e.doc_id, e.pos, e.sub_pos, v.token_id
       FROM e JOIN vocab v USING (subtoken)""",
)
def _bpe_encode(spark, sf_dir):
    """Corpus encoding with the trained tokenizer (text/bpe.py
    bpe_vocab + bpe_encode): dense subtoken ids assigned by
    (corpus-use desc, subtoken asc) over the vocabulary relation, then
    every document becomes its (pos, sub_pos, token_id) sequence via
    two broadcast joins inside codegen — one corpus scan, no global
    sort. The whole train→segment→assign-ids→encode pipeline is
    replayed by the DuckDB oracle and hash-MATCHes."""
    from redshells_spark.text.bpe import bpe_encode, bpe_vocab

    _, seg = _bpe_trained(spark, sf_dir)
    vocab = bpe_vocab(seg)
    docs = _t(spark, sf_dir, "documents")
    return bpe_encode(docs, seg, vocab)


@q(
    "chunk_documents",
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       s AS (SELECT doc_id, toks, unnest(range(0, len(toks), 24)) AS start FROM t),
       c AS (SELECT doc_id, start,
                    list_slice(toks, start + 1, least(start + 32, len(toks))) AS chunk
             FROM s)
       SELECT doc_id, start // 24 AS chunk_id, start AS chunk_start,
              len(chunk)::BIGINT AS n_chunk_tokens,
              array_to_string(chunk, ' ') AS chunk_text
       FROM c""",
)
def _chunk_documents(spark, sf_dir):
    """Overlapping token-window chunking (text/chunking.py): 32-token
    chunks at stride 24 — a pure generator (sequence+explode), zero
    shuffles, pipelined into whatever consumes the chunks."""
    from redshells_spark.text.chunking import chunk_documents

    return chunk_documents(
        _t(spark, sf_dir, "documents"), chunk_tokens=32, stride=24
    )


@q(
    "corpus_chunking_pipeline",
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       e AS (SELECT doc_id, len(toks) AS n, unnest(range(1, len(toks) + 1)) AS pos, toks
             FROM t),
       x AS (SELECT doc_id, n, pos, toks[pos] AS unit FROM e),
       kk AS (SELECT doc_id, n, pos, unit,
                     row_number() OVER (PARTITION BY doc_id, unit ORDER BY pos ASC) AS rn
              FROM x),
       dd AS (SELECT doc_id, string_agg(unit, ' ' ORDER BY pos ASC) AS text,
                     max(n) AS n_units, max(n) - count(*) AS n_removed
              FROM kk WHERE rn = 1 GROUP BY doc_id),
       kept AS (SELECT dd.doc_id, dd.text, d.source
                FROM dd JOIN documents d USING (doc_id)
                WHERE dd.n_removed * 2 < dd.n_units),
       kt AS (SELECT doc_id, source, string_split(text, ' ') AS toks FROM kept),
       s AS (SELECT doc_id, source, toks, unnest(range(0, len(toks), 24)) AS start
             FROM kt),
       c AS (SELECT doc_id, source,
                    len(list_slice(toks, start + 1, least(start + 32, len(toks))))
                        AS n_chunk_tokens
             FROM s)
       SELECT source, count(DISTINCT doc_id) AS n_docs, count(*) AS n_chunks,
              sum(n_chunk_tokens)::BIGINT AS n_tokens
       FROM c GROUP BY source""",
)
def _corpus_chunking_pipeline(spark, sf_dir):
    """Composite LLM-corpus preparation: within-document dedup →
    repetition-quality gate (docs that lost ≥ half their tokens to
    repeats are dropped) → overlapping 32/24 chunking → per-source
    accounting. Chains three oracle-green operators end-to-end; the
    only shuffles are the dedup windows (keyed by doc) and the final
    per-source aggregate — chunking itself is generator-only."""
    from redshells_spark.text.chunking import chunk_documents, dedup_within_doc

    docs = _t(spark, sf_dir, "documents")
    dd = dedup_within_doc(docs)
    kept = (
        dd.filter(F.col("n_removed") * 2 < F.col("n_units"))
        .join(docs.select("doc_id", "source"), on="doc_id")
        .select("doc_id", "text", "source")
    )
    chunks = chunk_documents(kept, chunk_tokens=32, stride=24).join(
        kept.select("doc_id", "source"), on="doc_id"
    )
    return chunks.groupBy("source").agg(
        F.countDistinct("doc_id").alias("n_docs"),
        F.count(F.lit(1)).alias("n_chunks"),
        F.sum("n_chunk_tokens").cast("long").alias("n_tokens"),
    )


@q(
    "temperature_mix_weights",
    """WITH c AS (SELECT source, count(*)::BIGINT AS n_rows
                  FROM documents GROUP BY source),
       m AS (SELECT min(n_rows) AS n_min FROM c)
       SELECT source, n_rows,
              sqrt(m.n_min::DOUBLE / c.n_rows) AS sample_prob,
              CAST(floor(sqrt(m.n_min::DOUBLE / c.n_rows) * 1000000 + 0.5)
                   AS BIGINT) AS prob_e6
       FROM c, m""",
)
def _temperature_mix_weights(spark, sf_dir):
    """Temperature-2 corpus mixing (data/sampling.py): the multilingual
    p^(1/T) rebalance reduced to the closed form sqrt(n_min/n_g) — one
    integer ratio + one correctly-rounded sqrt per group, NO float
    aggregation anywhere, so even this 'soft' sampling policy is under
    the bit-exact oracle contract."""
    from redshells_spark.data.sampling import temperature_mix_weights

    docs = _t(spark, sf_dir, "documents")
    return temperature_mix_weights(docs, "source", temperature=2.0)


# ------------------------------------------------ DSIR data selection

_DSIR_B = 64  # hashed-feature buckets; smoothing mass = alpha * B = 32


@q(
    "dsir_importance_weights",
    f"""WITH tok AS (
         SELECT doc_id, lang = 'en' AS is_t,
                unnest(list_filter(string_split(lower(text), ' '),
                                   t -> t <> '')) AS gram
         FROM documents),
       db AS (
         SELECT doc_id, is_t, {_duck_h60("gram")} % {_DSIR_B} AS bucket,
                count(*) AS n
         FROM tok GROUP BY 1, 2, 3),
       raw AS (SELECT bucket, sum(n) AS c_raw FROM db GROUP BY 1),
       tgt AS (SELECT bucket, sum(n) AS c_tgt FROM db WHERE is_t GROUP BY 1),
       stats AS (SELECT raw.bucket, c_raw, coalesce(c_tgt, 0) AS c_tgt
                 FROM raw LEFT JOIN tgt ON raw.bucket = tgt.bucket),
       tot AS (SELECT sum(c_raw) AS nr, sum(c_tgt) AS nt FROM stats),
       term AS (
         SELECT db.doc_id,
                db.n * (ln((s.c_tgt + CAST(0.5 AS DOUBLE))
                           / (tot.nt + CAST(32 AS DOUBLE)))
                      - ln((s.c_raw + CAST(0.5 AS DOUBLE))
                           / (tot.nr + CAST(32 AS DOUBLE)))) AS t
         FROM db JOIN stats s ON db.bucket = s.bucket, tot),
       w AS (SELECT doc_id, round(sum(t), 4) AS log_weight
             FROM term GROUP BY doc_id)
       SELECT doc_id, log_weight,
              row_number() OVER (ORDER BY log_weight DESC, doc_id ASC)
                <= 100 AS keep
       FROM w""",
)
def _dsir_importance_weights(spark, sf_dir):
    """DSIR data selection (data/dsir.py, Xie et al. 2023): hashed
    bag-of-words importance weights of every document against the
    lang='en' target slice, plus the deterministic top-100 resample
    flag. One corpus shuffle (doc×bucket counts); the 64-row
    distribution tables broadcast back; ln ratios agree cross-engine
    under the round-4 export (same family as ngram_lm_perplexity's
    log2). Ranking runs on the ROUNDED weight with a doc_id tie-break
    so the keep set is engine-independent."""
    from redshells_spark.data.dsir import dsir_log_weights, dsir_select_top

    docs = _t(spark, sf_dir, "documents")
    w = dsir_log_weights(
        docs, F.col("lang") == "en", num_buckets=_DSIR_B, alpha=0.5
    ).select("doc_id", _r4(F.col("log_weight"), "log_weight"))
    return dsir_select_top(w, 100)


@q(
    "tokenizer_fertility",
    f"""WITH {_bpe_cte(_BPE_K)},
       c AS (
         SELECT d.doc_id, d.source, count(*) AS n_words,
                sum(len(string_split(substr(w.sym, 2, length(w.sym) - 2), '][')))
                    AS n_subtokens
         FROM (SELECT doc_id, source, unnest(string_split(text, ' ')) AS word
               FROM documents) d
         JOIN w{_BPE_K} w USING (word)
         WHERE d.word <> ''
         GROUP BY 1, 2)
       SELECT source,
              CAST(count(*) AS BIGINT) AS n_docs,
              CAST(sum(n_words) AS BIGINT) AS n_words,
              CAST(sum(n_subtokens) AS BIGINT) AS n_subtokens,
              CAST(sum(n_subtokens) AS DOUBLE) / sum(n_words) AS fertility
       FROM c GROUP BY source""",
)
def _tokenizer_fertility(spark, sf_dir):
    """Tokenizer fertility (subtokens per word) by corpus source — the
    data-card stat that decides whether a tokenizer under- or
    over-segments a domain (fertility ≈ 1 wastes vocab, ≫ 1 wastes
    context window). Rides the trained BPE segmentation: exploded
    tokens broadcast-join the word table, roll up per source. The
    fertility ratio is one identical-operand IEEE division of two
    exact longs — full-precision export, no rounding."""
    from redshells_spark.text.bpe import subtoken_count_per_doc

    _, seg = _bpe_trained(spark, sf_dir)
    docs = _t(spark, sf_dir, "documents")
    per_doc = subtoken_count_per_doc(docs, seg)
    j = per_doc.join(docs.select("doc_id", "source"), "doc_id")
    return j.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("n_words"),
        F.sum("n_subtokens").cast("long").alias("n_subtokens"),
        (F.sum("n_subtokens").cast("double") / F.sum("n_tokens")).alias(
            "fertility"
        ),
    )


@q(
    "rag_context_pack",
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       s AS (SELECT doc_id, toks, unnest(range(0, len(toks), 24)) AS start FROM t),
       ch AS (SELECT doc_id * 100 + start // 24 AS cid,
                     list_slice(toks, start + 1, least(start + 32, len(toks))) AS chunk
              FROM s),
       ctok AS (SELECT cid, len(chunk) AS n_chunk_tokens,
                       list_filter(list_transform(chunk, x -> lower(x)),
                                   x -> x <> '') AS toks2
                FROM ch),
       tok AS (SELECT cid, unnest(toks2) AS term FROM ctok),
       dl AS (SELECT cid, count(*) AS dl FROM tok GROUP BY 1),
       st AS (SELECT count(*) AS n_docs, sum(dl) AS dl_sum FROM dl),
       p AS (SELECT cid, term, count(*) AS tf FROM tok
             WHERE term IN ('spark', 'join', 'window', 'stream', 'hash')
             GROUP BY 1, 2),
       dft AS (SELECT term, count(*) AS df FROM p GROUP BY 1),
       sc AS (
         SELECT p.cid,
                ln(CAST(1.0 AS DOUBLE)
                   + (st.n_docs - dft.df + CAST(0.5 AS DOUBLE))
                     / (dft.df + CAST(0.5 AS DOUBLE)))
                  * p.tf
                  / (p.tf + CAST(1.2 AS DOUBLE)
                     * (CAST(1.0 AS DOUBLE) - CAST(0.75 AS DOUBLE)
                        + CAST(0.75 AS DOUBLE) * dl.dl
                          / (st.dl_sum / st.n_docs))) AS t
         FROM p JOIN dl USING (cid) JOIN dft USING (term), st),
       top AS (SELECT cid, round(sum(t), 4) AS score
               FROM sc GROUP BY cid
               ORDER BY score DESC, cid ASC LIMIT 30),
       packed AS (
         SELECT top.cid, top.score, ctok.n_chunk_tokens,
                CAST(row_number() OVER (ORDER BY top.score DESC, top.cid ASC)
                     AS BIGINT) AS rank,
                sum(ctok.n_chunk_tokens)
                  OVER (ORDER BY top.score DESC, top.cid ASC
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS cum_tokens
         FROM top JOIN ctok USING (cid))
       SELECT rank, cid // 100 AS doc_id, cid % 100 AS chunk_id, score,
              CAST(n_chunk_tokens AS BIGINT) AS n_chunk_tokens,
              CAST(cum_tokens AS BIGINT) AS cum_tokens
       FROM packed WHERE cum_tokens <= 256""",
)
def _rag_context_pack(spark, sf_dir):
    """RAG retrieval composite: chunk the corpus (32-token windows,
    stride 24 — text/chunking.py), rank chunks against the shared
    KEYWORDS query with BM25 (text/bm25.py, chunk corpus stats), and
    greedily pack the top chunks into a 256-token context budget by
    (score desc, chunk asc) — the retrieve-then-pack stage of a RAG
    serving pipeline as one dataflow. Chunking is a shuffle-free
    generator; BM25 adds one groupBy; packing is a window over the
    already-top-30 relation. The oracle replays every stage."""
    from redshells_spark.text.bm25 import bm25_topk
    from redshells_spark.text.chunking import chunk_documents

    docs = _t(spark, sf_dir, "documents")
    chunks = chunk_documents(docs, chunk_tokens=32, stride=24)
    cdocs = chunks.select(
        (F.col("doc_id") * 100 + F.col("chunk_id")).alias("cid"),
        F.col("chunk_text").alias("text"),
        "n_chunk_tokens",
    )
    top = bm25_topk(cdocs, KEYWORDS, k=30, id_column="cid")
    w = Window.orderBy(F.col("score").desc(), F.col("cid").asc())
    packed = (
        top.join(cdocs.select("cid", "n_chunk_tokens"), "cid")
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .withColumn(
            "cum_tokens",
            F.sum("n_chunk_tokens")
            .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .cast("long"),
        )
        .filter(F.col("cum_tokens") <= 256)
    )
    return packed.select(
        "rank",
        (F.col("cid") / 100).cast("long").alias("doc_id"),
        (F.col("cid") % 100).cast("long").alias("chunk_id"),
        "score",
        F.col("n_chunk_tokens").cast("long").alias("n_chunk_tokens"),
        "cum_tokens",
    )


@q(
    "token_budget_allocation",
    """WITH c AS (
         SELECT source,
                CAST(sum(len(list_filter(string_split(text, ' '),
                                         t -> t <> ''))) AS BIGINT) AS n
         FROM documents GROUP BY source),
       t AS (SELECT sum(n) AS tot FROM c),
       b AS (
         SELECT c.source, c.n,
                CAST((100000 * c.n) // t.tot AS BIGINT) AS floor_share,
                CAST((100000 * c.n) % t.tot AS BIGINT) AS rem
         FROM c, t),
       s AS (SELECT CAST(100000 - sum(floor_share) AS BIGINT) AS short FROM b)
       SELECT b.source, b.n, b.floor_share,
              CAST(row_number() OVER (ORDER BY b.rem DESC, b.source ASC)
                     <= s.short AS BIGINT) AS extra,
              CAST(b.floor_share
                + CAST(row_number() OVER (ORDER BY b.rem DESC, b.source ASC)
                         <= s.short AS BIGINT) AS BIGINT) AS allocation
       FROM b, s""",
)
def _token_budget_allocation(spark, sf_dir):
    """Integer token-budget split across corpus sources by the
    largest-remainder method (data/sampling.py
    largest_remainder_allocation): allocations sum EXACTLY to the
    100k budget, every step integer div/mod — the engine-exact way to
    turn mixing weights into per-source token quotas for a training
    run. One tiny per-source aggregate + one ordered window."""
    from redshells_spark.data.sampling import largest_remainder_allocation

    docs = _t(spark, sf_dir, "documents")
    toks = space_tokens(F.col("text"), lowercase=False)
    counts = (
        docs.select("source", F.size(toks).alias("nt"))
        .groupBy("source")
        .agg(F.sum("nt").alias("n"))
    )
    return largest_remainder_allocation(
        counts, total_budget=100_000, count_column="n"
    )


@q(
    "ccnet_perplexity_buckets",
    """WITH tok AS (
         SELECT doc_id, list_filter(string_split(lower(text), ' '), t -> t <> '') AS toks
         FROM documents),
       flat AS (
         SELECT doc_id, unnest(toks) AS token,
                generate_subscripts(toks, 1) AS pos
         FROM tok),
       pairs AS (
         SELECT doc_id,
                coalesce(lag(token) OVER (PARTITION BY doc_id ORDER BY pos ASC), '␟<s>') AS prev,
                token AS word
         FROM flat),
       bc AS (SELECT prev, word, count(*) AS n FROM pairs GROUP BY 1, 2),
       ctx AS (SELECT prev, sum(n) AS c_prev, count(*) AS n1p_fwd FROM bc GROUP BY 1),
       cont AS (SELECT word, count(*) AS n1p_bwd FROM bc GROUP BY 1),
       ty AS (SELECT count(*) AS n_types FROM bc),
       sc AS (
         SELECT p.doc_id,
                log2((greatest(bc.n - CAST(0.75 AS DOUBLE), CAST(0 AS DOUBLE))
                      + CAST(0.75 AS DOUBLE) * ctx.n1p_fwd
                        * (cont.n1p_bwd / ty.n_types))
                     / ctx.c_prev) AS lp
         FROM pairs p
         JOIN bc USING (prev, word)
         JOIN ctx USING (prev)
         JOIN cont USING (word), ty),
       ppl AS (
         SELECT doc_id, round(pow(2.0, -avg(lp)), 4) AS perplexity
         FROM sc GROUP BY doc_id)
       SELECT d.doc_id, d.lang, p.perplexity,
              CAST(ntile(3) OVER (PARTITION BY d.lang
                     ORDER BY p.perplexity ASC, d.doc_id ASC) AS BIGINT) AS bucket
       FROM ppl p JOIN documents d ON d.doc_id = p.doc_id""",
)
def _ccnet_perplexity_buckets(spark, sf_dir):
    """CCNet's actual selection step (Wenzek et al. 2020 §4.3): rank
    each language's documents by LM perplexity and cut into
    head/middle/tail terciles — head trains, tail drops, middle is
    judgement. Built on the KN bigram scorer (text/ngram_lm.py);
    bucketing orders on the ROUNDED perplexity with a doc-id tie-break
    so tercile boundaries are engine-exact (raw float ordering could
    flip docs whose true scores differ below summation noise). One
    window per language over the tiny (doc, ppl) relation — the corpus
    itself never re-shuffles."""
    from redshells_spark.text.ngram_lm import score_kn_perplexity

    docs = _t(spark, sf_dir, "documents")
    lm = _kn_lm(spark, sf_dir)
    ppl = score_kn_perplexity(docs, lm, broadcast_lm=True).select(
        "doc_id", _r4(F.col("perplexity"), "perplexity")
    )
    w = Window.partitionBy("lang").orderBy(
        F.col("perplexity").asc(), F.col("doc_id").asc()
    )
    return (
        ppl.join(docs.select("doc_id", "lang"), "doc_id")
        .withColumn("bucket", F.ntile(3).over(w).cast("long"))
        .select("doc_id", "lang", "perplexity", "bucket")
    )


@q(
    "quality_stratified_mix",
    """WITH t AS (
         SELECT doc_id, source,
                list_filter(string_split(lower(text), ' '), x -> x <> '') AS toks,
                string_split(text, chr(10)) AS lines, text
         FROM documents),
       m AS (
         SELECT doc_id, source,
                len(toks) AS n_tokens,
                greatest(len(toks), 1) AS ntd,
                length(array_to_string(toks, '')) AS wl_sum,
                length(text) - length(replace(text, '#', '')) AS n_hash,
                (length(text) - length(replace(text, '...', ''))) / 3 AS n_ell,
                len(list_filter(toks, x -> regexp_matches(x, '[a-z]'))) AS n_alpha,
                len(list_intersect(list_distinct(toks),
                    ['the', 'be', 'to', 'of', 'and', 'that', 'have', 'with'])) AS n_stop,
                greatest(len(lines), 1) AS nld,
                len(list_filter(lines, l -> starts_with(l, '- ')
                    OR starts_with(l, '* ') OR starts_with(l, '•'))) AS n_bul,
                len(list_filter(lines, l -> ends_with(l, '...')
                    OR ends_with(l, '…'))) AS n_ele
         FROM t),
       kept AS (
         SELECT source, n_tokens FROM m
         WHERE n_tokens >= 50 AND n_tokens <= 100000
           AND wl_sum / CAST(ntd AS DOUBLE) >= 3
           AND wl_sum / CAST(ntd AS DOUBLE) <= 10
           AND (n_hash + n_ell) / CAST(ntd AS DOUBLE) <= CAST(0.1 AS DOUBLE)
           AND n_alpha / CAST(ntd AS DOUBLE) >= CAST(0.8 AS DOUBLE)
           AND n_bul / CAST(nld AS DOUBLE) <= CAST(0.9 AS DOUBLE)
           AND n_ele / CAST(nld AS DOUBLE) <= CAST(0.3 AS DOUBLE)),
       c AS (SELECT source, count(*)::BIGINT AS n_docs,
                    CAST(sum(n_tokens) AS BIGINT) AS n
             FROM kept GROUP BY source),
       tt AS (SELECT CAST(sum(n) AS BIGINT) AS tot FROM c),
       b AS (
         SELECT c.source, c.n_docs, c.n,
                CAST((100000 * c.n) // tt.tot AS BIGINT) AS floor_share,
                CAST((100000 * c.n) % tt.tot AS BIGINT) AS rem
         FROM c, tt),
       s AS (SELECT CAST(100000 - sum(floor_share) AS BIGINT) AS short FROM b)
       SELECT b.source, b.n_docs, b.n, b.floor_share,
              CAST(b.floor_share
                + CAST(row_number() OVER (ORDER BY b.rem DESC, b.source ASC)
                         <= s.short AS BIGINT) AS BIGINT) AS allocation
       FROM b, s""",
)
def _quality_stratified_mix(spark, sf_dir):
    """Quality-stratified source mixing — the composite a training-mix
    pipeline actually runs: Gopher quality gate (text/analysis.py) →
    per-source token counts of the SURVIVORS → largest-remainder
    integer quotas over a 100k-token budget (data/sampling.py). Every
    stage already oracle-exact on its own; the composite pins that
    they compose without a float seam. Uses the STRUCTURAL subset of
    the Gopher battery (length, word shape, symbols, bullets) — the
    English-stopword rule zeroes this synthetic corpus out; production
    keeps the full `keep` conjunction. One codegen scan + one tiny
    per-source aggregate + one ordered window."""
    from redshells_spark.data.sampling import largest_remainder_allocation
    from redshells_spark.text.analysis import gopher_quality_rules

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source", "text")
    g = gopher_quality_rules(docs)
    kept = g.filter(
        (F.col("n_tokens") >= 50)
        & (F.col("n_tokens") <= 100_000)
        & (F.col("mean_word_len") >= 3)
        & (F.col("mean_word_len") <= 10)
        & (F.col("symbol_word_ratio") <= 0.1)
        & (F.col("frac_alpha_words") >= 0.8)
        & (F.col("frac_bullet_lines") <= 0.9)
        & (F.col("frac_ellipsis_lines") <= 0.3)
    )
    counts = kept.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col("n_tokens").cast("long")).alias("n"),
    )
    # n_docs CARRIES through the allocation windows instead of joining
    # the result back to counts — the join form ran the fact-scale
    # Gopher gate twice (column pruning specializes the two aggregate
    # subtrees, defeating exchange reuse); this is one corpus scan
    alloc = largest_remainder_allocation(
        counts, total_budget=100_000, carry_columns=("n_docs",)
    )
    return alloc.select("source", "n_docs", "n", "floor_share", "allocation")


@q(
    "doremi_domain_reweight",
    f"""WITH {_TOK0_SQL},
       src AS (SELECT doc_id, source FROM documents),
       uni AS (SELECT token, count(*) AS n FROM tok GROUP BY token),
       tot AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM tok),
       loss AS (
         SELECT s.source AS domain,
                avg(-ln(u.n / t.n_total)) AS loss
         FROM tok JOIN src s USING (doc_id)
              JOIN uni u USING (token)
              CROSS JOIN tot t
         GROUP BY s.source),
       ref AS (SELECT min(loss) AS ref_loss FROM loss),
       alpha AS (
         SELECT domain,
                greatest(loss - ref_loss, 0.0) AS excess,
                exp(1.0 * greatest(loss - ref_loss, 0.0)) AS a
         FROM loss CROSS JOIN ref),
       norm AS (SELECT sum(a) AS z, count(*) AS k FROM alpha)
       SELECT domain,
              round(excess, 4) AS excess_loss,
              round(0.99 * a / z + 0.01 / k, 4) AS weight
       FROM alpha CROSS JOIN norm""",
)
def _doremi_domain_reweight(spark, sf_dir):
    """DoReMi (arXiv:2305.10429) exponentiated-gradient domain
    reweighting over per-source unigram cross-entropy: sources whose
    tokens the corpus-wide unigram LM compresses worst gain mixture
    weight, smoothed 1% toward uniform (data/doremi.py:doremi_reweight).
    The loss proxy is one groupBy(token) + one broadcast join — the
    EG step itself is domain-count-sized."""
    from redshells_spark.data.doremi import doremi_reweight

    tok = _tokens(spark, sf_dir).select(
        "doc_id", "source", F.explode("tokens").alias("token")
    )
    uni = tok.groupBy("token").agg(F.count(F.lit(1)).alias("n"))
    n_total = tok.groupBy().agg(F.count(F.lit(1)).alias("n_total"))
    losses = (
        tok.join(F.broadcast(uni), on="token")
        .join(F.broadcast(n_total))
        .groupBy(F.col("source").alias("domain"))
        .agg(F.avg(-F.log(F.col("n") / F.col("n_total"))).alias("loss"))
    )
    return doremi_reweight(losses, eta=1.0, smoothing=0.01)


# ---- unigram-LM tokenizer oracle: Viterbi DP unrolled as CTE stages
_UNI_N = 12  # DP positions (corpus max word length is 8; headroom)
_UNI_L = 4  # max piece length
_UNI_TOP = 50  # multi-char candidates kept


def _unigram_dp_sql() -> str:
    stages = []
    for j in range(1, _UNI_N + 1):
        arms = []
        for l in range(1, min(_UNI_L, j) + 1):
            arms.append(
                f"""SELECT w.word,
                       d.score + coalesce(p.logp_e6, -1000000000000000) AS score,
                       {l} AS bp
                FROM wf w
                JOIN dp{j - l} d ON d.word = w.word
                LEFT JOIN pieces p ON p.piece = substr(w.word, {j - l + 1}, {l})"""
            )
        union = "\n                UNION ALL\n                ".join(arms)
        stages.append(
            f"""dp{j} AS MATERIALIZED (
             SELECT word, score, bp FROM (
               SELECT c.word, c.score, c.bp,
                      row_number() OVER (PARTITION BY c.word
                                         ORDER BY c.score DESC, c.bp DESC) AS rn
               FROM ({union}) c)
             WHERE rn = 1)"""
        )
    dpall = " UNION ALL ".join(
        f"SELECT word, {j} AS j, bp FROM dp{j}" for j in range(1, _UNI_N + 1)
    )
    stages.append(f"dpall AS MATERIALIZED ({dpall})")
    stages.append(
        "bt0 AS (SELECT word, length(word) AS j, []::VARCHAR[] AS parts FROM wf)"
    )
    for i in range(1, _UNI_N + 1):
        stages.append(
            f"""bt{i} AS MATERIALIZED (
             SELECT b.word,
                    CASE WHEN b.j > 0 THEN b.j - d.bp ELSE b.j END AS j,
                    CASE WHEN b.j > 0
                         THEN list_append(b.parts, substr(b.word, b.j - d.bp + 1, d.bp))
                         ELSE b.parts END AS parts
             FROM bt{i - 1} b
             LEFT JOIN dpall d ON d.word = b.word AND d.j = b.j)"""
        )
    return ",\n       ".join(stages)


@q(
    "unigram_encode",
    f"""WITH {_TOK0_SQL},
       wf AS MATERIALIZED (SELECT token AS word, CAST(count(*) AS BIGINT) AS freq
              FROM tok GROUP BY token),
       subs AS (
         SELECT substr(word, s.s, l.l) AS piece, freq
         FROM wf
         JOIN (SELECT unnest(generate_series(1, {_UNI_N})) AS s) s
           ON s.s <= length(word)
         JOIN (SELECT unnest(generate_series(1, {_UNI_L})) AS l) l
           ON l.l <= length(word) - s.s + 1),
       pc AS MATERIALIZED (SELECT piece, CAST(sum(freq) AS BIGINT) AS n_uses
              FROM subs GROUP BY piece),
       kept AS (
         SELECT * FROM pc WHERE length(piece) = 1
         UNION ALL
         SELECT * FROM (SELECT * FROM pc WHERE length(piece) > 1
                        ORDER BY n_uses DESC, piece ASC LIMIT {_UNI_TOP})),
       tot AS (SELECT sum(n_uses) AS t FROM kept),
       pieces AS MATERIALIZED (
         SELECT piece,
                CAST(floor(ln(n_uses) * 1000000) - floor(ln(t) * 1000000)
                     AS BIGINT) AS logp_e6
         FROM kept CROSS JOIN tot),
       dp0 AS MATERIALIZED (SELECT word, CAST(0 AS BIGINT) AS score, 0 AS bp FROM wf),
       {_unigram_dp_sql()},
       seg AS (SELECT word, list_reverse(parts) AS pieces FROM bt{_UNI_N})
       SELECT t.doc_id, CAST(t.pos AS BIGINT) AS pos,
              CAST(generate_subscripts(s.pieces, 1) - 1 AS BIGINT) AS sub_pos,
              unnest(s.pieces) AS piece
       FROM tok t JOIN seg s ON s.word = t.token""",
)
def _unigram_encode(spark, sf_dir):
    """Unigram-LM (SentencePiece) tokenizer, Kudo 2018 arXiv:1804.10959
    (text/unigram.py): substring-seeded piece table with exact-int
    fixed-point log-probs, Viterbi best segmentation of the
    distinct-word relation ENTIRELY in Catalyst expressions (one DP
    column per prefix position, backtrace as an aggregate fold — no
    UDF), then corpus encoding via one broadcast join. The oracle
    replays the identical DP as unrolled SQL stages; ties break
    (score desc, last-piece-length desc) on exact int64 in both
    engines. Complements text/bpe.py — the two standard subword
    families, both oracle-checked."""
    from redshells_spark.text.unigram import (
        seed_piece_table,
        unigram_encode,
        viterbi_segment_words,
    )

    toks = _tokens(spark, sf_dir)
    words = (
        toks.select(F.explode("tokens").alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("long").alias("freq"))
    )
    pieces = seed_piece_table(
        words, max_piece_len=_UNI_L, keep_top=_UNI_TOP
    )
    seg = viterbi_segment_words(
        words, pieces, max_piece_len=_UNI_L, max_word_len=_UNI_N
    )
    docs = _t(spark, sf_dir, "documents")
    return unigram_encode(docs, seg)


@q(
    "token_balanced_shards",
    f"""WITH {_NTOK_SQL},
       r AS (
         SELECT doc_id, n_tokens,
                row_number() OVER (ORDER BY n_tokens DESC, doc_id ASC) - 1 AS rk
         FROM ntok)
       SELECT doc_id, n_tokens,
              CAST(CASE WHEN (rk // 8) % 2 = 0 THEN rk % 8
                        ELSE 7 - (rk % 8) END AS BIGINT) AS shard
       FROM r""",
)
def _token_balanced_shards(spark, sf_dir):
    """Write-path planning: serpentine LPT assignment of docs to 8
    token-balanced output shards (data/sharding.py
    token_balanced_shards). The global rank is computed WITHOUT a
    single-partition window — range shuffle + per-partition windows +
    a #partitions-row offset map (distributed_rank). Beyond-reference
    surface: the reference has no writer story at all."""
    from redshells_spark.data.sharding import token_balanced_shards

    docs = _tokens(spark, sf_dir).select(
        "doc_id", F.size("tokens").cast("long").alias("n_tokens")
    )
    return token_balanced_shards(docs, "n_tokens", 8).select(
        "doc_id", "n_tokens", "shard"
    )


@q(
    "curriculum_schedule",
    """WITH k AS (
         SELECT d.doc_id, d.n_chars, e.epoch,
                CASE WHEN e.epoch = 0
                     THEN lpad(CAST(d.n_chars AS VARCHAR), 10, '0') || '|' ||
                          lpad(CAST(d.doc_id AS VARCHAR), 10, '0')
                     ELSE md5('7|' || CAST(e.epoch AS VARCHAR) || '|' ||
                              CAST(d.doc_id AS VARCHAR)) END AS key
         FROM documents d,
              (SELECT unnest(generate_series(0, 2)) AS epoch) e)
       SELECT CAST(epoch AS BIGINT) AS epoch,
              CAST(row_number() OVER (PARTITION BY epoch ORDER BY key ASC, doc_id ASC) - 1
                   AS BIGINT) AS position,
              doc_id, n_chars
       FROM k""",
)
def _curriculum_schedule(spark, sf_dir):
    """Deterministic 3-epoch data order: epoch 0 = curriculum pass
    (short docs first), epochs 1-2 = md5-seeded full reshuffles
    (data/sharding.py curriculum_schedule). A pure function of
    (corpus, seed) — reproducible across cluster sizes; per-epoch
    positions via distributed_rank, never a single-task window."""
    from redshells_spark.data.sharding import curriculum_schedule

    docs = _t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    return curriculum_schedule(docs, "n_chars", n_epochs=3, seed=7).select(
        "epoch", "position", "doc_id", "n_chars"
    )


@q(
    "leakage_safe_split",
    f"""WITH RECURSIVE {_VOCAB_SQL}, {_TOK_SQL}, {_COMPONENTS_SQL}, {_NTOK_SQL},
       lab AS (
         SELECT n.doc_id,
                CAST(coalesce(c.keep_id, n.doc_id) AS BIGINT) AS component
         FROM ntok n LEFT JOIN comp c USING (doc_id))
       SELECT doc_id, component,
              CASE WHEN {portable_hash_sql('component', 11)} % 100 < 80 THEN 'train'
                   WHEN {portable_hash_sql('component', 11)} % 100 < 90 THEN 'val'
                   ELSE 'test' END AS split
       FROM lab""",
)
def _leakage_safe_split(spark, sf_dir):
    """Train/val/test assignment at near-dup-COMPONENT granularity
    (dedup/canonical.py component_split): hashing the component id
    keeps every near-duplicate cluster on one side of every split
    boundary — the eval-leakage control Lee et al. 2022 §6 measure.
    Stateless integer hash, no shuffle beyond the component labeling."""
    from redshells_spark.dedup.canonical import component_split

    out = component_split(_near_dup_labeled(spark, sf_dir), 80, 10, seed=11)
    return out.select("doc_id", "component", "split")


@q(
    "dpo_preference_pairs",
    """WITH b AS (
         SELECT o_custkey, o_orderkey,
                CAST(floor(o_totalprice * 100 + CAST(0.5 AS DOUBLE)) AS BIGINT)
                  AS price_c
         FROM orders),
       top AS (SELECT o_custkey, o_orderkey, price_c,
                      row_number() OVER (
                        PARTITION BY o_custkey
                        ORDER BY price_c DESC, o_orderkey ASC) AS pr
               FROM b),
       bot AS (SELECT o_custkey, o_orderkey, price_c,
                      row_number() OVER (
                        PARTITION BY o_custkey
                        ORDER BY price_c ASC, o_orderkey DESC) AS pr
               FROM b)
       SELECT t.o_custkey AS custkey,
              t.o_orderkey AS chosen_item,
              t.price_c AS chosen_score,
              bt.o_orderkey AS rejected_item,
              bt.price_c AS rejected_score,
              CAST(t.price_c - bt.price_c AS BIGINT) AS margin,
              CAST(t.pr AS BIGINT) AS pair_rank
       FROM top t JOIN bot bt
         ON t.o_custkey = bt.o_custkey AND t.pr = bt.pr
       WHERE t.pr <= 2 AND t.o_orderkey <> bt.o_orderkey
         AND t.price_c - bt.price_c >= 50000""",
)
def _dpo_preference_pairs(spark, sf_dir):
    """DPO (chosen, rejected) pair construction (data/preference.py
    preference_pairs): per customer, pair the i-th highest-priced
    order with the i-th lowest for i<=2, keeping pairs whose margin
    is >= $500 in exact cents — the margin-gated preference-pair
    builder behind DPO/RLHF datasets. Two WindowGroupLimit windows +
    one co-partitioned join; scores compare as exact int64 cents."""
    from redshells_spark.data.preference import preference_pairs

    o = _t(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("custkey"),
        "o_orderkey",
        money_units(F.col("o_totalprice")).alias("price_c"),
    )
    return preference_pairs(
        o, "custkey", "o_orderkey", "price_c",
        min_margin=50000, max_pairs_per_group=2,
    )


def _bucket_ladder_sql(bounds: tuple[int, ...]) -> str:
    expr = "0"
    for b in sorted(bounds, reverse=True):
        expr = f"CASE WHEN n_tokens <= {b} THEN {b} ELSE {expr} END"
    return f"CAST({expr} AS BIGINT)"


@q(
    "length_bucketed_batches",
    f"""WITH ntok AS (
         SELECT doc_id,
                CAST(len(list_filter(string_split(lower(text), ' '),
                                     t -> t <> '')) AS BIGINT) AS n_tokens
         FROM documents),
       bk AS (SELECT doc_id, n_tokens,
                     {_bucket_ladder_sql((16, 32, 64, 128, 256, 512, 1024))}
                       AS bucket
              FROM ntok),
       rk AS (SELECT bucket, doc_id, n_tokens,
                     row_number() OVER (
                       PARTITION BY bucket
                       ORDER BY n_tokens DESC, doc_id ASC) AS r
              FROM bk),
       bt AS (SELECT bucket, (r - 1) // 8 AS batch_id, n_tokens FROM rk)
       SELECT bucket, CAST(batch_id AS BIGINT) AS batch_id,
              CAST(count(*) AS BIGINT) AS n_seqs,
              CAST(max(n_tokens) AS BIGINT) AS max_len,
              CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
              CAST(count(*) * bucket - sum(n_tokens) AS BIGINT) AS pad_to_bucket,
              CAST(count(*) * max(n_tokens) - sum(n_tokens) AS BIGINT)
                AS pad_to_max
       FROM bt GROUP BY bucket, batch_id""",
)
def _length_bucketed_batches(spark, sf_dir):
    """Length-bucketed batch planning (text/packing.py
    length_bucketed_batches): sequences bucket to the smallest
    power-of-two bound >= their token count, batches of 8 cut inside
    each bucket by length-descending order, exact int64 padding waste
    reported per batch both to the bucket bound (static shapes) and
    to the batch max (dynamic shapes) — the serving/training
    dynamic-batching layout. Fixed CASE ladder, per-bucket windows,
    zero floats."""
    from redshells_spark.text.packing import length_bucketed_batches

    toks = _tokens(spark, sf_dir)
    docs = toks.select(
        "doc_id", F.size("tokens").cast("long").alias("n_tokens")
    )
    return length_bucketed_batches(
        docs, "doc_id", "n_tokens", batch_size=8,
        bucket_bounds=(16, 32, 64, 128, 256, 512, 1024),
    )


@q(
    "unimax_allocation",
    """WITH c AS (
         SELECT lang, CAST(sum(len(list_filter(string_split(lower(text), ' '),
                                               t -> t <> ''))) AS BIGINT)
                        AS tokens_available
         FROM documents GROUP BY 1),
       caps AS (SELECT lang, tokens_available,
                       CAST(tokens_available * 3 AS BIGINT) AS cap,
                       row_number() OVER (
                         ORDER BY tokens_available * 3 ASC, lang ASC) AS j,
                       CAST(count(*) OVER () AS BIGINT) AS l
                FROM c),
       pf AS (SELECT *, CAST(coalesce(sum(cap) OVER (
                          ORDER BY j ASC ROWS BETWEEN UNBOUNDED PRECEDING
                          AND 1 PRECEDING), 0) AS BIGINT) AS prefix
              FROM caps),
       fl AS (SELECT *, CASE WHEN cap * (l - j + 1) <= 80000 - prefix
                             THEN 1 ELSE 0 END AS capped
              FROM pf),
       rem AS (SELECT CAST(80000 - coalesce(sum(CASE WHEN capped = 1
                                                     THEN cap END), 0)
                        AS BIGINT) AS r,
                      CAST(coalesce(sum(1 - capped), 0) AS BIGINT) AS m
               FROM fl),
       shared AS (SELECT fl.*, rem.r, rem.m,
                         CASE WHEN fl.capped = 0
                              THEN row_number() OVER (
                                     PARTITION BY fl.capped
                                     ORDER BY fl.cap DESC, fl.lang ASC)
                              END AS uncapped_rank
                  FROM fl CROSS JOIN rem)
       SELECT lang, tokens_available, cap,
              CAST(CASE WHEN capped = 1 THEN cap
                        ELSE r // m + CASE WHEN uncapped_rank <= r % m
                                           THEN 1 ELSE 0 END
                   END AS BIGINT) AS allocation,
              CAST(capped AS BIGINT) AS capped
       FROM shared""",
)
def _unimax_allocation(spark, sf_dir):
    """UniMax language sampling (Chung et al. 2023): allocate a token
    budget (80k here) across languages by water-filling — every
    language gets at most ``epoch_cap``=3 passes over its data, the
    freed budget spreads UNIFORMLY over the rest — the multilingual
    mixing rule that beats temperature sampling on tail languages.

    Closed relational form: languages sorted by capacity ascending; a
    language is budget-capped iff cap_j*(L-j+1) <= B - prefix_{j-1}
    (its cap fits the uniform share at its turn — a window prefix
    sum, no iteration); survivors split the remainder by exact
    integer division with largest-remainder top-up (deterministic
    cap-desc order). All exact int64: allocations sum to B whenever
    total capacity >= B. Language-cardinality-bounded relation; the
    only corpus-scale work is the one map-combined token count."""
    from redshells_spark.data.sampling import unimax_allocation

    toks = _tokens(spark, sf_dir)
    c = toks.groupBy("lang").agg(
        F.sum(F.size("tokens")).cast("long").alias("tokens_available")
    )
    return unimax_allocation(
        c, "lang", "tokens_available", budget=80000, epoch_cap=3
    )


@q(
    "fim_transform",
    """WITH t AS (
         SELECT doc_id,
                list_filter(string_split(lower(text), ' '), t -> t <> '') AS tk
         FROM documents),
       cuts AS (SELECT doc_id, tk,
                       CAST(len(tk) AS BIGINT) AS n,
                       CAST(len(tk) // 3 AS BIGINT) AS p_end,
                       CAST((2 * len(tk)) // 3 AS BIGINT) AS m_end
                FROM t)
       SELECT doc_id, n AS n_tokens,
              CASE WHEN doc_id % 2 = 1 THEN 'ar' ELSE 'fim' END AS mode,
              CASE WHEN doc_id % 2 = 1 THEN array_to_string(tk, ' ')
                   ELSE '<PRE> ' || array_to_string(tk[1:p_end], ' ')
                        || ' <SUF> ' || array_to_string(tk[m_end+1:n], ' ')
                        || ' <MID> ' || array_to_string(tk[p_end+1:m_end], ' ')
              END AS text_out
       FROM cuts""",
)
def _fim_transform(spark, sf_dir):
    """Fill-in-the-middle pretraining transform (Bavarian et al.
    2022): half the corpus (odd doc_ids) stays autoregressive, the
    other half is rearranged PSM — <PRE> prefix <SUF> suffix <MID>
    middle — with deterministic third-point cuts, teaching infilling
    at zero architecture cost. Pure per-row array slicing in codegen;
    the 50% FIM rate and sentinel layout follow the paper's
    recommended defaults."""
    toks = _tokens(spark, sf_dir)
    cuts = toks.select(
        "doc_id",
        F.col("tokens").alias("tk"),
        F.size("tokens").cast("long").alias("n"),
        (F.size("tokens").cast("long") / 3).cast("long").alias("p_end"),
        (F.size("tokens").cast("long") * 2 / 3).cast("long").alias("m_end"),
    )
    fim = F.concat(
        F.lit("<PRE> "),
        F.expr("concat_ws(' ', slice(tk, 1, CAST(p_end AS INT)))"),
        F.lit(" <SUF> "),
        F.expr(
            "concat_ws(' ', slice(tk, CAST(m_end + 1 AS INT), "
            "CAST(n - m_end AS INT)))"
        ),
        F.lit(" <MID> "),
        F.expr(
            "concat_ws(' ', slice(tk, CAST(p_end + 1 AS INT), "
            "CAST(m_end - p_end AS INT)))"
        ),
    )
    return cuts.select(
        "doc_id",
        F.col("n").alias("n_tokens"),
        F.when(F.col("doc_id") % 2 == 1, F.lit("ar"))
        .otherwise(F.lit("fim"))
        .alias("mode"),
        F.when(
            F.col("doc_id") % 2 == 1, F.expr("concat_ws(' ', tk)")
        )
        .otherwise(fim)
        .alias("text_out"),
    )


@q(
    "chat_loss_mask_spans",
    """WITH seq AS (
         SELECT user_id, event_type,
                row_number() OVER (
                  PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS turn_idx
         FROM events),
       turns AS (
         SELECT user_id, turn_idx, event_type,
                CASE WHEN turn_idx % 2 = 1 THEN 'user' ELSE 'assistant' END
                  AS role,
                CAST(2 + length(event_type) AS BIGINT) AS turn_tokens
         FROM seq WHERE turn_idx <= 6),
       ofs AS (
         SELECT user_id, turn_idx, role, turn_tokens,
                CAST(coalesce(sum(turn_tokens) OVER (
                  PARTITION BY user_id ORDER BY turn_idx ASC
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  AS BIGINT) AS start_tok
         FROM turns)
       SELECT user_id, CAST(turn_idx AS BIGINT) AS turn_idx,
              start_tok + 1 AS mask_start,
              start_tok + turn_tokens AS mask_end,
              turn_tokens - 1 AS n_masked
       FROM ofs WHERE role = 'assistant'""",
)
def _chat_loss_mask_spans(spark, sf_dir):
    """SFT loss-mask computation: each user's first 6 events become
    alternating user/assistant chat turns rendered with a 2-sentinel
    template (<|role|> ... <|end|>, content tokens = the label
    length); the training pipeline needs the TOKEN SPANS of
    assistant content (+ end sentinel) to mask the loss to — the
    standard assistant-only SFT convention. One per-conversation
    window cumulative sum gives every span offset exactly; spans are
    half-open-free inclusive [mask_start, mask_end] in exact int64
    token positions. Zero joins beyond the window."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        event_us(ev, "ts").asc(), F.col("event_id").asc()
    )
    turns = (
        ev.withColumn("turn_idx", F.row_number().over(w))
        .filter(F.col("turn_idx") <= 6)
        .select(
            "user_id",
            "turn_idx",
            F.when(F.col("turn_idx") % 2 == 1, F.lit("user"))
            .otherwise(F.lit("assistant"))
            .alias("role"),
            (F.lit(2) + F.length("event_type")).cast("long").alias("turn_tokens"),
        )
    )
    wo = Window.partitionBy("user_id").orderBy(F.col("turn_idx").asc()).rowsBetween(
        Window.unboundedPreceding, -1
    )
    ofs = turns.withColumn(
        "start_tok", F.coalesce(F.sum("turn_tokens").over(wo), F.lit(0)).cast("long")
    )
    return ofs.filter(F.col("role") == "assistant").select(
        "user_id",
        F.col("turn_idx").cast("long").alias("turn_idx"),
        (F.col("start_tok") + 1).alias("mask_start"),
        (F.col("start_tok") + F.col("turn_tokens")).alias("mask_end"),
        (F.col("turn_tokens") - 1).alias("n_masked"),
    )


@q(
    "packed_attention_boundaries",
    """WITH ntok AS (
         SELECT doc_id, source,
                CAST(len(list_filter(string_split(lower(text), ' '),
                                     t -> t <> '')) AS BIGINT) AS n_tokens
         FROM documents),
       packed AS (
         SELECT doc_id, source, n_tokens,
                CAST((sum(n_tokens) OVER (
                        PARTITION BY source ORDER BY doc_id ASC
                        ROWS UNBOUNDED PRECEDING) - n_tokens) // 256
                  AS BIGINT) AS chunk_id
         FROM ntok),
       spans AS (
         SELECT source, chunk_id, doc_id, n_tokens,
                CAST(sum(n_tokens) OVER (
                       PARTITION BY source, chunk_id ORDER BY doc_id ASC
                       ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
         FROM packed)
       SELECT source, chunk_id, doc_id,
              CAST(cum - n_tokens AS BIGINT) AS start_tok,
              CAST(cum - 1 AS BIGINT) AS end_tok, n_tokens
       FROM spans""",
)
def _packed_attention_boundaries(spark, sf_dir):
    """Block-diagonal attention map for packed training sequences
    (text/packing.py packed_attention_boundaries over pack_sequences
    at budget 256 per source shard): each doc's exact chunk-local
    token span, so a trainer masks cross-document attention inside a
    packed context. Two shard-keyed windows, zero joins; the same
    doc-id order the packer used makes the spans a pure function of
    the corpus."""
    from redshells_spark.text.packing import (
        pack_sequences,
        packed_attention_boundaries,
    )

    toks = _tokens(spark, sf_dir)
    docs = toks.select(
        "doc_id", "source", F.size("tokens").cast("long").alias("n_tokens")
    )
    packed = pack_sequences(docs, budget=256, partition_column="source")
    return packed_attention_boundaries(packed, "source")


def _crossmodal_oracle() -> str:

    return f"""WITH iv AS (
         SELECT vec_id AS id, d - 1 AS d,
                CAST(floor(x * 1000 + CAST(0.5 AS DOUBLE)) AS BIGINT) AS vi
         FROM (SELECT vec_id, unnest(embedding) AS x,
                      generate_subscripts(embedding, 1) AS d
               FROM embeddings)),
       tok AS (
         SELECT doc_id, unnest(list_filter(string_split(lower(text), ' '),
                                           t -> t <> '')) AS token
         FROM documents),
       tv AS (SELECT doc_id, {_duck_h60("token")} % 64 AS d,
                     CAST(count(*) AS BIGINT) AS cnt
              FROM tok GROUP BY 1, 2),
       dt AS (SELECT tv.doc_id, CAST(sum(iv.vi * tv.cnt) AS BIGINT) AS dot_e3
              FROM tv JOIN iv ON iv.id = tv.doc_id AND iv.d = tv.d
              GROUP BY 1),
       ni AS (SELECT id, CAST(sum(vi * vi) AS BIGINT) AS normi2 FROM iv
              GROUP BY 1),
       nt AS (SELECT doc_id, CAST(sum(cnt * cnt) AS BIGINT) AS normt2 FROM tv
              GROUP BY 1),
       k AS (SELECT d.doc_id, d.source,
                    CASE WHEN dt.dot_e3 > 0
                         AND 100 * dt.dot_e3 * dt.dot_e3
                             >= ni.normi2 * nt.normt2
                         THEN 1 ELSE 0 END AS kept
             FROM documents d
             LEFT JOIN dt ON dt.doc_id = d.doc_id
             LEFT JOIN ni ON ni.id = d.doc_id
             LEFT JOIN nt ON nt.doc_id = d.doc_id)
       SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
              CAST(sum(kept) AS BIGINT) AS n_aligned,
              CAST(sum(kept) AS DOUBLE) / count(*) AS align_rate
       FROM k GROUP BY 1"""


@q("crossmodal_alignment_filter", _crossmodal_oracle())
def _crossmodal_alignment_filter(spark, sf_dir):
    """LAION-style cross-modal alignment filtering (Schuhmann et al.
    2021: keep pairs whose CLIP image-text cosine clears a
    threshold), with the real Spark plumbing and a deterministic
    stand-in text encoder (hashed bag-of-words into the embedding's
    64 dims — the DSIR feature hash): per source, how many
    (image-embedding, text) pairs clear cosine >= 0.1 (data-scaled;
    production uses ~0.28 on real encoders).

    The whole decision is EXACT integers: image vectors e3-quantized
    per component, dot and both squared norms are int64 sums over the
    sparse (id, dim) join, and the cosine test folds to
    100*dot^2 >= normi2*normt2 with dot > 0 — no float ever
    aggregates, so the filter bit-matches any partitioning. One
    corpus shuffle per side + a co-partitioned sparse join."""
    from redshells_spark.dedup.simhash import portable_token_hash

    emb = _t(spark, sf_dir, "embeddings")
    iv = emb.select(
        F.col("vec_id").alias("id"),
        F.posexplode("embedding").alias("d", "x"),
    ).select(
        "id", "d", money_units(F.col("x"), 1000).alias("vi")
    )
    toks = _tokens(spark, sf_dir)
    tv = (
        toks.select("doc_id", F.explode("tokens").alias("token"))
        .select(
            "doc_id", (portable_token_hash(F.col("token")) % 64).alias("d")
        )
        .groupBy("doc_id", "d")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    dt = (
        tv.join(iv, (iv["id"] == tv["doc_id"]) & (iv["d"] == tv["d"]))
        .groupBy("doc_id")
        .agg(F.sum(F.col("vi") * F.col("cnt")).cast("long").alias("dot_e3"))
    )
    ni = iv.groupBy("id").agg(
        F.sum(F.col("vi") * F.col("vi")).cast("long").alias("normi2")
    )
    nt = tv.groupBy("doc_id").agg(
        F.sum(F.col("cnt") * F.col("cnt")).cast("long").alias("normt2")
    )
    docs = toks.select("doc_id", "source")
    k = (
        docs.join(dt, "doc_id", "left")
        .join(ni, docs["doc_id"] == ni["id"], "left")
        .join(nt, "doc_id", "left")
        .select(
            "source",
            F.when(
                (F.col("dot_e3") > 0)
                & (
                    F.lit(100) * F.col("dot_e3") * F.col("dot_e3")
                    >= F.col("normi2") * F.col("normt2")
                ),
                1,
            )
            .otherwise(0)
            .alias("kept"),
        )
    )
    return k.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("kept").cast("long").alias("n_aligned"),
        (F.sum("kept").cast("double") / F.count(F.lit(1))).alias("align_rate"),
    )


# -------------------------------------------------- prefix-cache planning


@q(
    "prefix_cache_sharing",
    """WITH tok AS (
         SELECT doc_id, source,
                list_filter(string_split(lower(text), ' '), x -> x <> '') AS t
         FROM documents),
       lg AS (SELECT source, t,
                     lag(t) OVER (PARTITION BY source
                                  ORDER BY t ASC, doc_id ASC) AS p
              FROM tok),
       sc AS (
         SELECT source, len(t) AS n_tok,
                CASE WHEN p IS NULL OR least(len(t), len(p)) = 0 THEN 0
                     ELSE coalesce(
                       list_min(list_transform(range(1, least(len(t), len(p)) + 1),
                                i -> CASE WHEN t[i] <> p[i] THEN i ELSE NULL END)) - 1,
                       least(len(t), len(p))) END AS lcp
         FROM lg)
       SELECT source,
              CAST(count(*) AS BIGINT) AS n_docs,
              CAST(sum(n_tok) AS BIGINT) AS total_tokens,
              CAST(sum(lcp) AS BIGINT) AS shared_prefix_tokens,
              CAST(CAST(sum(lcp) AS BIGINT) * 10000 // CAST(sum(n_tok) AS BIGINT) AS BIGINT)
                  AS hit_rate_e4
       FROM sc GROUP BY source""",
)
def _prefix_cache_sharing(spark, sf_dir):
    """Prefix-cache hit-rate planning for a prompt corpus
    (text/prefix.py): sorting each source's prompts makes every shared
    prefix adjacent, so Σ LCP(tokens_i, tokens_{i−1}) is exactly the
    token count a radix-tree KV-cache (vLLM automatic prefix caching,
    SGLang RadixAttention) would serve from memory on a cold replay.
    One window per source — the shuffle a sort-dedup already pays —
    and the LCP is a first-mismatch array-min, pure codegen. Token
    arrays order identically in both engines (elementwise, shorter-
    is-less), and the hit rate is exact fixed-point e4."""
    from redshells_spark.text.prefix import prefix_cache_stats

    toks = _tokens(spark, sf_dir)
    return prefix_cache_stats(toks, "source", "doc_id", "tokens")


# ------------------------------------------------- vocabulary coverage

_COVERAGE_RANKS = (1, 2, 5, 10, 20, 50, 100)


@q(
    "vocab_coverage_curve",
    f"""WITH {_TOK_SQL},
       cnt AS (SELECT token, count(*) AS c FROM tok GROUP BY 1),
       rk AS (SELECT token, c,
                     row_number() OVER (ORDER BY c DESC, token ASC) AS rn
              FROM cnt),
       tot AS (SELECT CAST(sum(c) AS BIGINT) AS t, CAST(count(*) AS BIGINT) AS nv
               FROM rk),
       pts AS (SELECT unnest([{", ".join(str(r) for r in _COVERAGE_RANKS)}]) AS r)
       SELECT CAST(p.r AS BIGINT) AS vocab_rank,
              CAST(least(p.r, max(tot.nv)) AS BIGINT) AS n_top_tokens,
              CAST(sum(CASE WHEN rk.rn <= p.r THEN rk.c ELSE 0 END) AS BIGINT)
                  AS covered_tokens,
              CAST(CAST(sum(CASE WHEN rk.rn <= p.r THEN rk.c ELSE 0 END) AS BIGINT)
                   * 1000000 // CAST(max(tot.t) AS BIGINT) AS BIGINT) AS coverage_e6
       FROM pts p CROSS JOIN rk CROSS JOIN tot
       GROUP BY p.r""",
)
def _vocab_coverage_curve(spark, sf_dir):
    """Vocabulary coverage curve: what fraction of all token
    occurrences the top-r vocabulary covers, at fixed rank points —
    the standard tokenizer/UNK-budget planning table (and the
    companion to hill_tail_index's Zipf-tail fit). Counts are exact
    int64; coverage is fixed-point e6 integer division; the ranking
    window runs over the vocabulary-bounded counts relation, never the
    corpus; the rank points are a 7-row literal broadcast."""
    toks = _tokens(spark, sf_dir)
    cnt = (
        toks.select(F.explode("tokens").alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    w = Window.orderBy(F.col("c").desc(), F.col("token").asc())
    rk = cnt.withColumn("rn", F.row_number().over(w))
    tot = rk.agg(
        F.sum("c").cast("long").alias("t"), F.count(F.lit(1)).cast("long").alias("nv")
    )
    pts = spark.range(1).select(
        F.explode(F.array(*[F.lit(r) for r in _COVERAGE_RANKS])).alias("r")
    )
    return (
        pts.crossJoin(rk)
        .crossJoin(F.broadcast(tot))
        .groupBy("r")
        .agg(
            F.least(F.max("r"), F.max("nv")).cast("long").alias("n_top_tokens"),
            F.sum(F.when(F.col("rn") <= F.col("r"), F.col("c")).otherwise(0))
            .cast("long")
            .alias("covered_tokens"),
            F.expr(
                "cast(sum(CASE WHEN rn <= r THEN c ELSE 0 END) * 1000000 div max(t) as bigint)"
            ).alias("coverage_e6"),
        )
        .select(
            F.col("r").cast("long").alias("vocab_rank"),
            "n_top_tokens",
            "covered_tokens",
            "coverage_e6",
        )
    )


# ------------------------------------------------ greedy max coverage


def _greedy_cov_oracle(k: int = 6) -> str:
    stages = [
        """g1 AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS g
                  FROM shingles GROUP BY 1),
       s1 AS MATERIALIZED (SELECT doc_id, g FROM g1
                           ORDER BY g DESC, doc_id ASC LIMIT 1),
       r1 AS MATERIALIZED (SELECT doc_id, shingle FROM shingles)"""
    ]
    for t in range(2, k + 1):
        stages.append(
            f"""r{t} AS MATERIALIZED (
              SELECT r.doc_id, r.shingle FROM r{t - 1} r
              WHERE NOT EXISTS (
                SELECT 1 FROM r{t - 1} p
                WHERE p.doc_id = (SELECT doc_id FROM s{t - 1})
                  AND p.shingle = r.shingle)),
       g{t} AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS g
                FROM r{t} GROUP BY 1),
       s{t} AS MATERIALIZED (SELECT doc_id, g FROM g{t}
                             ORDER BY g DESC, doc_id ASC LIMIT 1)"""
        )
    picks = "\n       UNION ALL ".join(
        f"SELECT {t} AS step, doc_id, g AS gain FROM s{t}" for t in range(1, k + 1)
    )
    return (
        "WITH "
        + _VOCAB_SQL
        + ", "
        + _TOK_SQL
        + ", "
        + _SHINGLE_SQL
        + ",\n       "
        + ",\n       ".join(stages)
        + f""",
       picks AS ({picks})
       SELECT CAST(step AS BIGINT) AS step, doc_id, gain,
              CAST(sum(gain) OVER (ORDER BY step ASC
                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS covered_total
       FROM picks"""
    )


@q("greedy_max_coverage", _greedy_cov_oracle(6))
def _greedy_max_coverage(spark, sf_dir):
    """Greedy maximum-coverage subset selection over bigram shingle
    sets (data/coverage.py) — 'which 6 documents together cover the
    most distinct shingles', the Nemhauser-Wolsey-Fisher (1-1/e)
    greedy used for diverse eval subsets and seed-corpus picking. Each
    round is a map-combined count + a TakeOrdered argmax + one
    anti-join; k is a constant, so the loop unrolls into exact
    MATERIALIZED CTE stages (the Lloyd/bradley_terry recipe), argmax
    tie-broken on doc_id in both engines."""
    from redshells_spark.data.coverage import greedy_max_coverage

    sh = _shingles(spark, sf_dir)
    return greedy_max_coverage(
        sh, "doc_id", "shingle", k=6, arrays=_sharr(spark, sf_dir)
    )


# ------------------------------------------------------ corpus digest

_DIGEST_CONTENT_DUCK = (
    "concat_ws('|', coalesce(CAST(doc_id AS VARCHAR), ''), coalesce(text, ''), "
    "coalesce(lang, ''), coalesce(source, ''), coalesce(CAST(n_chars AS VARCHAR), ''))"
)


@q(
    "corpus_merkle_digest",
    f"""WITH c AS (SELECT {_DIGEST_CONTENT_DUCK} AS c FROM documents),
       h AS (SELECT {_duck_h60("c")} AS h FROM c),
       per AS (
         SELECT h % 32 AS bucket,
                CAST(count(*) AS BIGINT) AS n_rows,
                CAST(bit_xor(h) AS BIGINT) AS xor_digest,
                CAST(sum(h % 268435456) AS BIGINT) AS sum_digest
         FROM h GROUP BY 1)
       SELECT CAST(bucket AS BIGINT) AS bucket, n_rows, xor_digest, sum_digest
       FROM per
       UNION ALL
       SELECT CAST(-1 AS BIGINT), CAST(sum(n_rows) AS BIGINT),
              CAST(bit_xor(xor_digest) AS BIGINT),
              CAST(sum(sum_digest) AS BIGINT)
       FROM per""",
)
def _corpus_merkle_digest(spark, sf_dir):
    """Merkle-style corpus digest (data/integrity.py): md5-hash every
    row's content, bucket by hash, keep per-bucket (count, XOR fold,
    mod-2^28 sum fold) plus the global fold row (bucket = -1) — the
    snapshot-equality certificate that answers 'is this copy the
    corpus we trained on?' without a row diff: digests are order-free
    and mergeable (map-side combine, incremental loads), and a
    mismatch pinpoints which bucket of the keyspace to re-scan. XOR
    alone cancels on duplicated rows and a sum alone is offset-blind;
    together with the count, accidental agreement is ~2^-88."""
    from redshells_spark.data.integrity import corpus_digest

    docs = _t(spark, sf_dir, "documents")
    return corpus_digest(
        docs, ["doc_id", "text", "lang", "source", "n_chars"], n_buckets=32
    )


_T5_H = _duck_h60("CAST(doc_id AS VARCHAR) || '|' || CAST(pos AS VARCHAR)")


# --------------------------------------------- T5 span corruption


@q(
    "t5_span_corruption",
    f"""WITH {_TOK_SQL},
       st AS (SELECT doc_id, pos,
                     CAST({_T5_H} % 20 = 0 AS INT) AS start
              FROM tok),
       mk AS (SELECT doc_id, pos,
                     CAST(max(start) OVER (PARTITION BY doc_id ORDER BY pos ASC
                       ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS BIGINT)
                       AS masked
              FROM st),
       sp AS (SELECT doc_id, pos, masked,
                     CAST(CASE WHEN masked = 1
                               AND coalesce(lag(masked) OVER (
                                 PARTITION BY doc_id ORDER BY pos ASC), 0) = 0
                          THEN 1 ELSE 0 END AS BIGINT) AS span_start
              FROM mk)
       SELECT doc_id,
              CAST(count(*) AS BIGINT) AS n_tokens,
              CAST(sum(masked) AS BIGINT) AS n_masked,
              CAST(sum(span_start) AS BIGINT) AS n_spans,
              CAST(count(*) - sum(masked) + sum(span_start) AS BIGINT)
                AS input_len,
              CAST(sum(masked) + sum(span_start) + 1 AS BIGINT) AS target_len
       FROM sp GROUP BY 1 ORDER BY doc_id""",
)
def _t5_span_corruption(spark, sf_dir):
    """T5 span-corruption accounting (Raffel et al. 2020): mask spans
    of ~3 tokens starting wherever the portable md5 hash of
    (doc_id|position) lands in 1/20 of its range (~15% corruption
    rate), overlapping starts merging into longer spans exactly as the
    windowed max does; each maximal span is replaced by one sentinel
    on the input side and emitted as sentinel+tokens on the target
    side. Outputs the per-document input/target length accounting a
    seq2seq pretraining batch builder needs — all windows partitioned
    per document, mask placement engine-exact via the md5 fold."""
    from redshells_spark.dedup.simhash import portable_token_hash

    toks = _tokens(spark, sf_dir)
    tok = toks.select(
        "doc_id", F.posexplode("tokens").alias("pos0", "token")
    ).select("doc_id", (F.col("pos0") + 1).cast("long").alias("pos"))
    st = tok.select(
        "doc_id",
        "pos",
        (
            portable_token_hash(
                F.concat(
                    F.col("doc_id").cast("string"),
                    F.lit("|"),
                    F.col("pos").cast("string"),
                )
            )
            % 20
            == 0
        )
        .cast("int")
        .alias("start"),
    )
    wm = Window.partitionBy("doc_id").orderBy(F.col("pos").asc()).rowsBetween(-2, 0)
    mk = st.select(
        "doc_id",
        "pos",
        F.max("start").over(wm).cast("long").alias("masked"),
    )
    wl = Window.partitionBy("doc_id").orderBy(F.col("pos").asc())
    sp = mk.select(
        "doc_id",
        "masked",
        (
            (F.col("masked") == 1)
            & (F.coalesce(F.lag("masked").over(wl), F.lit(0)) == 0)
        )
        .cast("long")
        .alias("span_start"),
    )
    return (
        sp.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.sum("masked").cast("long").alias("n_masked"),
            F.sum("span_start").cast("long").alias("n_spans"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "n_masked",
            "n_spans",
            (F.col("n_tokens") - F.col("n_masked") + F.col("n_spans"))
            .cast("long")
            .alias("input_len"),
            (F.col("n_masked") + F.col("n_spans") + 1)
            .cast("long")
            .alias("target_len"),
        )
        .orderBy("doc_id")
    )
