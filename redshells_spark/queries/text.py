"""Text ops: tokenize, dictionary, tf-idf, keyword match, LLM text
analysis (quality, language, PII, repetition, perplexity), multimodal
headers, and corpus statistics (vocabulary laws, burstiness, PMI,
entropy rates, keyword extraction).
"""

from __future__ import annotations

from redshells_spark.queries._shared import *  # noqa: F401,F403

# ------------------------------------------------------------ text ops

@q(
    "token_count",
    """SELECT doc_id,
         CAST(len(list_filter(string_split(lower(text), ' '), t -> t <> '')) AS BIGINT) AS n_tokens,
         CAST(len(list_distinct(list_filter(string_split(lower(text), ' '), t -> t <> ''))) AS BIGINT) AS n_words,
         CAST(ceil(length(text) / 4.0) AS BIGINT) AS n_subword_est
       FROM documents""",
)
def _token_count(spark, sf_dir):
    out = token_count(_t(spark, sf_dir, "documents"))
    return out.select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("n_words").cast("long").alias("n_words"),
        "n_subword_est",
    )


@q(
    "quality_score",
    """WITH b AS (
         SELECT doc_id, length(text) AS n_chars,
           CAST(len(list_filter(string_split(lower(text), ' '), t -> t <> '')) AS BIGINT) AS n_tokens,
           CAST(len(list_filter(string_split(lower(text), ' '),
                t -> t IN ('the','and','of','to','in','is','that','with','for','it'))) AS BIGINT) AS stop_hits,
           length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')) AS punct
         FROM documents)
       SELECT doc_id,
         CAST(n_tokens AS BIGINT) AS n_tokens,
         round(CASE WHEN n_tokens > 0 THEN (n_chars - n_tokens + 1.0) / n_tokens ELSE 0.0 END, 4) AS mean_word_len,
         round(punct / greatest(n_chars, 1), 4) AS punct_ratio,
         round(stop_hits / greatest(n_tokens, 1), 4) AS stopword_ratio,
         CAST(round(
           (CASE WHEN n_tokens >= 10 AND n_tokens <= 100000 THEN 0.4 ELSE 0.0 END)
           + (CASE WHEN stop_hits / greatest(n_tokens, 1) >= 0.05 THEN 0.3 ELSE 0.0 END)
           + (CASE WHEN punct / greatest(n_chars, 1) <= 0.3 THEN 0.3 ELSE 0.0 END), 4) AS DOUBLE) AS quality
       FROM b""",
)
def _quality_score(spark, sf_dir):
    out = quality_score(_t(spark, sf_dir, "documents"))
    return out.select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        _r4(F.col("mean_word_len"), "mean_word_len"),
        _r4(F.col("punct_ratio"), "punct_ratio"),
        _r4(F.col("stopword_ratio"), "stopword_ratio"),
        _r4(F.col("quality"), "quality"),
    )


_LANG_SQL_LISTS = {
    "de": "('der','die','das','und','ist','nicht','mit','ein','zu','den')",
    "en": "('the','and','of','to','in','is','that','with','for','it')",
    "es": "('el','los','las','es','no','una','por','con','para','del')",
    "fr": "('le','la','les','et','est','pas','des','une','dans','que')",
}

@q(
    "detect_language",
    f"""WITH h AS (
         SELECT doc_id,
           {", ".join(
             f"len(list_filter(list_filter(string_split(lower(text), ' '), t -> t <> ''), t -> t IN {lst})) AS hits_{lang}"
             for lang, lst in _LANG_SQL_LISTS.items()
           )}
         FROM documents)
       SELECT doc_id,
         CASE
           WHEN greatest(hits_de, hits_en, hits_es, hits_fr) = 0 THEN 'und'
           WHEN hits_de = greatest(hits_de, hits_en, hits_es, hits_fr) THEN 'de'
           WHEN hits_en = greatest(hits_de, hits_en, hits_es, hits_fr) THEN 'en'
           WHEN hits_es = greatest(hits_de, hits_en, hits_es, hits_fr) THEN 'es'
           ELSE 'fr'
         END AS lang_pred
       FROM h""",
)
def _detect_language(spark, sf_dir):
    return detect_language(_t(spark, sf_dir, "documents")).select("doc_id", "lang_pred")


@q(
    "fingerprint",
    """SELECT doc_id,
         md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\\s]', '', 'g'), '\\s+', ' ', 'g'))) AS fingerprint
       FROM documents""",
)
def _fingerprint(spark, sf_dir):
    return fingerprint(_t(spark, sf_dir, "documents")).select("doc_id", "fingerprint")


@q(
    "exact_dedup",
    """SELECT doc_id, source FROM (
         SELECT doc_id, source, min(doc_id) OVER (PARTITION BY md5(text)) AS keep
         FROM documents) WHERE doc_id = keep""",
)
def _exact_dedup(spark, sf_dir):
    out = exact_dedup(_t(spark, sf_dir, "documents"), normalized=False)
    return out.select("doc_id", "source")


@q(
    "clean_text",
    """SELECT doc_id,
              lower(trim(regexp_replace(
                regexp_replace(
                  regexp_replace(text, '<[^>]+>', ' ', 'g'),
                  '[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f\\x7f]', '', 'g'),
                '\\s+', ' ', 'g'))) AS clean_text
       FROM documents""",
)
def _clean_text(spark, sf_dir):
    """Corpus-cleaning normalization (text/analysis.py:clean_text):
    HTML strip, control-char drop, whitespace collapse, lowercase —
    the pre-tokenize stage, pure codegen."""
    from redshells_spark.text.analysis import clean_text

    return clean_text(
        _t(spark, sf_dir, "documents"), lowercase=True
    ).select("doc_id", "clean_text")


@q(
    "repetition_signals",
    """WITH tok AS (
         SELECT doc_id, list_filter(string_split(lower(text), ' '), t -> t <> '') AS toks
         FROM documents),
       flat AS (
         SELECT doc_id, unnest(toks) AS token, generate_subscripts(toks, 1) AS pos
         FROM tok),
       grams AS (
         SELECT doc_id,
                token || '␟' || lead(token) OVER (PARTITION BY doc_id ORDER BY pos ASC) AS gram
         FROM flat QUALIFY gram IS NOT NULL),
       gstats AS (
         SELECT doc_id, max(n) * 1.0 / sum(n) AS top_bigram_frac
         FROM (SELECT doc_id, gram, count(*) AS n FROM grams GROUP BY doc_id, gram)
         GROUP BY doc_id),
       tstats AS (
         SELECT doc_id,
                CASE WHEN len(toks) > 0
                     THEN 1.0 - len(list_distinct(toks)) * 1.0 / len(toks)
                     ELSE 0.0 END AS repeated_token_frac
         FROM tok)
       SELECT t.doc_id,
              round(coalesce(g.top_bigram_frac, 0.0), 4) AS top_bigram_frac,
              round(t.repeated_token_frac, 4) AS repeated_token_frac
       FROM tstats t LEFT JOIN gstats g ON g.doc_id = t.doc_id""",
)
def _repetition_signals(spark, sf_dir):
    """Gopher-style repetition filters (text/analysis.py:
    repetition_signals): top-bigram fraction + repeated-token
    fraction, the boilerplate/spam removal signals."""
    from redshells_spark.text.analysis import repetition_signals

    out = repetition_signals(_t(spark, sf_dir, "documents"))
    return out.select(
        "doc_id",
        _r4(F.col("top_bigram_frac"), "top_bigram_frac"),
        _r4(F.col("repeated_token_frac"), "repeated_token_frac"),
    )


@q(
    "redact_pii",
    """SELECT doc_id,
              regexp_replace(
                regexp_replace(
                  regexp_replace(text, 'https?://[^\\s]+', '<URL>', 'g'),
                  '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                '\\b(?:[0-9]{1,3}\\.){3}[0-9]{1,3}\\b', '<IP>', 'g') AS redacted_text
       FROM documents""",
)
def _redact_pii(spark, sf_dir):
    """PII scrubbing pass (text/analysis.py:redact_pii): URL, email,
    IPv4 redaction — RE2-compatible regexes, pure codegen."""
    from redshells_spark.text.analysis import redact_pii

    return redact_pii(_t(spark, sf_dir, "documents")).select("doc_id", "redacted_text")


@q(
    "ngram_lm_perplexity",
    """WITH tok AS (
         SELECT doc_id, list_filter(string_split(lower(text), ' '), t -> t <> '') AS toks
         FROM documents),
       flat AS (
         SELECT doc_id, unnest(toks) AS token, generate_subscripts(toks, 1) AS pos
         FROM tok),
       pairs AS (
         SELECT doc_id,
                coalesce(lag(token) OVER (PARTITION BY doc_id ORDER BY pos ASC), '␟<s>') AS prev,
                token AS word
         FROM flat),
       bc AS (SELECT prev, word, count(*) AS n FROM pairs GROUP BY prev, word),
       cc AS (SELECT prev, count(*) AS n_prev FROM pairs GROUP BY prev),
       v AS (SELECT count(DISTINCT word) AS vs FROM pairs),
       scored AS (
         SELECT p.doc_id,
                log2((coalesce(bc.n, 0) + 0.1)
                     / (coalesce(cc.n_prev, 0) + 0.1 * (SELECT vs FROM v))) AS lp
         FROM pairs p
         LEFT JOIN bc ON bc.prev = p.prev AND bc.word = p.word
         LEFT JOIN cc ON cc.prev = p.prev)
       SELECT doc_id,
              round(-avg(lp), 4) AS cross_entropy,
              round(pow(2.0, -avg(lp)), 4) AS perplexity
       FROM scored GROUP BY doc_id""",
)
def _ngram_lm_perplexity(spark, sf_dir):
    """CCNet-style LM quality filter (text/ngram_lm.py): add-alpha
    bigram LM trained on the corpus, per-doc cross-entropy/perplexity
    scored via a shuffle join on the gram key. Self-scoring here (train
    corpus == target corpus) so the whole stage is one oracle-checkable
    dataflow; production trains once on clean text and broadcasts."""
    from redshells_spark.text.ngram_lm import score_perplexity, train_bigram_lm

    docs = _t(spark, sf_dir, "documents")
    lm = train_bigram_lm(docs)
    out = score_perplexity(docs, lm, broadcast_lm=True)
    return out.select(
        "doc_id",
        _r4(F.col("cross_entropy"), "cross_entropy"),
        _r4(F.col("perplexity"), "perplexity"),
    )


@q(
    "binary_metadata",
    """SELECT doc_id,
              CAST(octet_length(encode(text)) AS BIGINT) AS byte_size,
              md5(text) AS content_id,
              'blob' AS modality
       FROM documents""",
)
def _binary_metadata(spark, sf_dir):
    """Multimodal metadata path (multimodal/binary_ops.py) over an
    opaque binary column — synthesized here by encoding document text
    to bytes, since the testdata ships no true image/audio payloads.
    Everything is JVM-side (length/md5) — the pruning filters a real
    pipeline applies before any decode — and oracle-checkable."""
    from redshells_spark.multimodal.binary_ops import attach_binary_metadata

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", F.encode("text", "UTF-8").alias("payload")
    )
    return attach_binary_metadata(docs, "payload", modality="blob").select(
        "doc_id", "byte_size", "content_id", "modality"
    )


@q(
    "image_header_dims",
    """SELECT doc_id, f.format,
              CAST((doc_id % 500) + 1 AS BIGINT) AS width,
              CAST(((doc_id * 7) % 400) + 1 AS BIGINT) AS height
       FROM documents, (VALUES ('png'), ('jpeg'), ('gif')) f(format)""",
)
def _image_header_dims(spark, sf_dir):
    """REAL image-header parsing, end-to-end verified: spec-conformant
    PNG/JPEG/GIF headers are constructed JVM-side from doc_id (unhex of
    generated hex — big-endian IHDR, SOF0 marker segment, little-endian
    GIF screen descriptor), then parse_image_headers must invert the
    construction exactly. The oracle recomputes the dims arithmetically
    — a MATCH proves the parser reads the right bytes in the right
    endianness for every format. PNG/GIF parse fully in codegen; JPEG's
    variable-position SOF scan is the one Arrow-batched Python stage."""
    from redshells_spark.multimodal.binary_ops import parse_image_headers

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    w = (F.col("doc_id") % 500 + 1).cast("long")
    h = ((F.col("doc_id") * 7) % 400 + 1).cast("long")
    w_be = F.lpad(F.hex(w), 8, "0")
    h_be = F.lpad(F.hex(h), 8, "0")
    png = F.unhex(
        F.concat(
            F.lit("89504E470D0A1A0A0000000D49484452"), w_be, h_be, F.lit("0806000000")
        )
    )
    jpeg = F.unhex(
        F.concat(
            F.lit("FFD8FFE00010" + "00" * 14 + "FFC0001108"),
            F.lpad(F.hex(h), 4, "0"),
            F.lpad(F.hex(w), 4, "0"),
            F.lit("03"),
        )
    )
    gif = F.unhex(
        F.concat(
            F.lit("474946383961"),
            F.lpad(F.hex(w % 256), 2, "0"),
            F.lpad(F.hex(F.floor(w / 256)), 2, "0"),
            F.lpad(F.hex(h % 256), 2, "0"),
            F.lpad(F.hex(F.floor(h / 256)), 2, "0"),
            F.lit("F70000"),
        )
    )
    payloads = docs.select(
        "doc_id",
        F.explode(F.array(png.alias("p"), jpeg.alias("p"), gif.alias("p"))).alias(
            "payload"
        ),
    )
    return parse_image_headers(payloads, "payload").select(
        "doc_id", "format", "width", "height"
    )


@q(
    "stream_dedup_fingerprints",
    """SELECT md5(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS fingerprint,
              min(doc_id) AS first_doc, CAST(count(*) AS BIGINT) AS n
       FROM documents GROUP BY 1""",
)
def _stream_dedup_fingerprints(spark, sf_dir):
    """Ingest-dedup fingerprint (streaming/dedup.py): normalized md5,
    identical in batch and stream — here the batch-parity aggregate a
    stream's state would hold (first arrival + duplicate count)."""
    from redshells_spark.streaming.dedup import fingerprint_column

    return (
        _t(spark, sf_dir, "documents")
        .select("doc_id", fingerprint_column("text").alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(F.min("doc_id").alias("first_doc"), F.count(F.lit(1)).alias("n"))
    )


@q(
    "audio_header_fields",
    """SELECT doc_id, 'wav' AS format,
              (doc_id % 2 + 1)::BIGINT AS n_channels,
              (8000 + (doc_id % 5) * 4000)::BIGINT AS sample_rate,
              CAST(16 AS BIGINT) AS bits_per_sample,
              ((doc_id % 100) + 1)::BIGINT AS n_samples
       FROM documents""",
)
def _audio_header_fields(spark, sf_dir):
    """REAL RIFF/WAVE header parsing, end-to-end verified like
    `image_header_dims`: spec-conformant 44-byte PCM headers are
    constructed JVM-side from doc_id (little-endian fmt/data chunks),
    then parse_audio_headers must invert the construction exactly —
    the oracle recomputes every field arithmetically. All codegen, no
    Python stage (WAV's fields sit at fixed offsets, unlike JPEG)."""
    from redshells_spark.multimodal.binary_ops import parse_audio_headers

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    c = (F.col("doc_id") % 2 + 1).cast("long")
    rate = (F.lit(8000) + (F.col("doc_id") % 5) * 4000).cast("long")
    nsamp = (F.col("doc_id") % 100 + 1).cast("long")
    block = c * 2  # 16-bit PCM
    dsize = nsamp * block

    def le16(v):
        return F.concat(
            F.lpad(F.hex(v % 256), 2, "0"), F.lpad(F.hex(F.floor(v / 256)), 2, "0")
        )

    def le32_small(v):  # values < 65536
        return F.concat(le16(v), F.lit("0000"))

    wav = F.unhex(
        F.concat(
            F.lit("52494646"),      # RIFF
            F.lit("00000000"),      # riff size (unread)
            F.lit("57415645"),      # WAVE
            F.lit("666D7420"),      # "fmt "
            F.lit("10000000"),      # fmt chunk size 16
            F.lit("0100"),          # PCM
            le16(c),                # channels      @23
            le32_small(rate),       # sample rate   @25
            F.lit("00000000"),      # byte rate (unread)
            le16(block),            # block align   @33
            F.lit("1000"),          # bits = 16 le  @35
            F.lit("64617461"),      # "data"
            le32_small(dsize),      # data size     @41
        )
    )
    payloads = docs.select("doc_id", wav.alias("payload"))
    out = parse_audio_headers(payloads, "payload")
    return out.select(
        "doc_id", "format", "n_channels", "sample_rate", "bits_per_sample", "n_samples"
    )


@q(
    "train_dictionary",
    f"WITH {_VOCAB_SQL} SELECT token, doc_freq, token_id FROM vocab",
)
def _train_dictionary(spark, sf_dir):
    v = _vocab(spark, sf_dir)
    return v.withColumn("token_id", F.col("token_id").cast("long")).withColumn(
        "doc_freq", F.col("doc_freq").cast("long")
    )


@q(
    "tfidf",
    f"""WITH {_VOCAB_SQL}, {_TOK_SQL},
       tf AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY doc_id, token)
       SELECT tf.doc_id, tf.token,
              round(tf.tf * log2((SELECT count(*) FROM documents) * 1.0 / v.doc_freq), 4) AS tfidf
       FROM tf JOIN vocab v ON tf.token = v.token
       WHERE tf.tf * log2((SELECT count(*) FROM documents) * 1.0 / v.doc_freq) <> 0.0""",
)
def _tfidf(spark, sf_dir):
    sc = tfidf_scores(_tokens(spark, sf_dir), _vocab(spark, sf_dir), normalize=False, n_docs=_n_docs(spark, sf_dir))
    return sc.select("doc_id", "token", _r4(F.col("tfidf"), "tfidf"))


@q(
    "tfidf_normalized",
    f"""WITH {_VOCAB_SQL}, {_TOK_SQL},
       tf AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY doc_id, token),
       scored AS (
         SELECT tf.doc_id, tf.token,
                tf.tf * log2((SELECT count(*) FROM documents) * 1.0 / v.doc_freq) AS tfidf
         FROM tf JOIN vocab v ON tf.token = v.token
         WHERE tf.tf * log2((SELECT count(*) FROM documents) * 1.0 / v.doc_freq) <> 0.0)
       SELECT doc_id, token,
              round(tfidf / sqrt(sum(tfidf * tfidf) OVER (PARTITION BY doc_id)), 4) AS tfidf
       FROM scored""",
)
def _tfidf_normalized(spark, sf_dir):
    # gensim-default cosine doc-normalization ('nnc') — the variant the
    # reference's TfidfModel applies (model/tfidf.py:11-18)
    sc = tfidf_scores(_tokens(spark, sf_dir), _vocab(spark, sf_dir), normalize=True, n_docs=_n_docs(spark, sf_dir))
    return sc.select("doc_id", "token", _r4(F.col("tfidf"), "tfidf"))


@q(
    "tfidf_top_tokens",
    f"""WITH {_VOCAB_SQL}, {_TOK_SQL},
       tf AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY doc_id, token),
       scored AS (
         SELECT tf.doc_id, tf.token,
                tf.tf * log2((SELECT count(*) FROM documents) * 1.0 / v.doc_freq) AS tfidf
         FROM tf JOIN vocab v ON tf.token = v.token
         WHERE tf.tf * log2((SELECT count(*) FROM documents) * 1.0 / v.doc_freq) <> 0.0),
       ranked AS (
         SELECT doc_id, token, tfidf,
                row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, token ASC) AS rn,
                ceil(count(*) OVER (PARTITION BY doc_id) * 0.2) + 1 AS k
         FROM scored)
       SELECT doc_id, token, round(tfidf, 4) AS tfidf FROM ranked WHERE rn <= k""",
)
def _tfidf_top_tokens(spark, sf_dir):
    sc = tfidf_scores(_tokens(spark, sf_dir), _vocab(spark, sf_dir), normalize=False, n_docs=_n_docs(spark, sf_dir))
    top = tfidf_top_tokens(sc, keep_top_rate=0.2)
    return top.select("doc_id", "token", _r4(F.col("tfidf"), "tfidf"))


@q(
    "keyword_match",
    f"""SELECT DISTINCT doc_id, token AS keyword
       FROM (SELECT doc_id, unnest(list_filter(string_split(lower(text), ' '), t -> t <> '')) AS token FROM documents)
       WHERE token IN {str(KEYWORDS)}""",
)
def _keyword_match(spark, sf_dir):
    keywords = _tokens(spark, sf_dir).sparkSession.createDataFrame(
        [(k,) for k in KEYWORDS], "keyword string"
    )
    return keyword_match_join(_tokens(spark, sf_dir), keywords, "doc_id", "tokens")


@q(
    "find_item_keyword",
    f"""WITH {_VOCAB_SQL}, {_TOK_SQL},
       tf AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY doc_id, token),
       scored AS (
         SELECT tf.doc_id, tf.token,
                tf.tf * log2((SELECT count(*) FROM documents) * 1.0 / v.doc_freq) AS tfidf
         FROM tf JOIN vocab v ON tf.token = v.token
         WHERE tf.tf * log2((SELECT count(*) FROM documents) * 1.0 / v.doc_freq) <> 0.0),
       ranked AS (
         SELECT doc_id, token, tfidf,
                row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, token ASC) AS rn,
                ceil(count(*) OVER (PARTITION BY doc_id) * 0.3) + 1 AS k
         FROM scored)
       SELECT DISTINCT doc_id, token AS keyword FROM ranked
       WHERE rn <= k AND token IN {str(KEYWORDS)}""",
)
def _find_item_keyword(spark, sf_dir):
    # §2.I composite: per-item top-TF-IDF tokens ∩ keyword list
    # (reference find_item_keyword_by_matching.py:10-42)
    sc = tfidf_scores(_tokens(spark, sf_dir), _vocab(spark, sf_dir), normalize=False, n_docs=_n_docs(spark, sf_dir))
    top = tfidf_top_tokens(sc, keep_top_rate=0.3)
    top_tokens = top.groupBy("doc_id").agg(F.collect_list("token").alias("tokens"))
    keywords = spark.createDataFrame([(k,) for k in KEYWORDS], "keyword string")
    return keyword_match_join(top_tokens, keywords, "doc_id", "tokens")


@q(
    "corpus_report",
    """WITH base AS (
         SELECT source,
                len(list_filter(string_split(text, ' '), t -> t <> '')) AS n_tok,
                n_chars,
                md5(trim(regexp_replace(regexp_replace(lower(text),
                    '[^a-z0-9\\s]', '', 'g'), '\\s+', ' ', 'g'))) AS fp
         FROM documents)
       SELECT source,
              count(*)::BIGINT AS n_docs,
              sum(n_tok)::BIGINT AS n_tokens,
              round(avg(n_tok), 4) AS avg_tokens,
              round(avg(n_chars), 4) AS avg_chars,
              (count(*) - count(DISTINCT fp))::BIGINT AS n_exact_dup_docs
       FROM base GROUP BY source""",
)
def _corpus_report(spark, sf_dir):
    """Per-source corpus data card: doc/token/char volumes plus the
    exact-duplicate count from the normalized-text fingerprint — the
    report a training-data pipeline publishes per crawl source. One
    scan, map-combined aggregates, the dup count via count(distinct
    fingerprint) per source (partial-aggregated 32-byte hashes, never
    text)."""
    from redshells_spark.text.analysis import fingerprint as add_fp

    docs = _t(spark, sf_dir, "documents")
    toks = space_tokens(F.col("text"), lowercase=False)
    base = add_fp(docs).select(
        "source",
        F.size(toks).alias("n_tok"),
        "n_chars",
        "fingerprint",
    )
    return base.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").cast("long").alias("n_tokens"),
        _r4(F.avg("n_tok"), "avg_tokens"),
        _r4(F.avg("n_chars"), "avg_chars"),
        (F.count(F.lit(1)) - F.countDistinct("fingerprint"))
        .cast("long")
        .alias("n_exact_dup_docs"),
    )


@q(
    "video_frame_sample",
    """WITH p AS (
         SELECT doc_id, hex(encode(text)) AS h,
                greatest(1, octet_length(encode(text)) // 4) AS step
         FROM documents),
       f AS (SELECT doc_id, h, step, k FROM p, range(4) t(k)),
       s AS (SELECT doc_id, k,
                    substr(h, k * step * 2 + 1, step * 2) AS fh
             FROM f)
       SELECT doc_id, CAST(k AS BIGINT) AS frame_idx,
              CASE WHEN fh = '' THEN '00' ELSE fh END AS frame_hex,
              CAST(length(CASE WHEN fh = '' THEN '00' ELSE fh END) // 2
                   AS BIGINT) AS frame_bytes
       FROM s""",
)
def _video_frame_sample(spark, sf_dir):
    """Video-ish frame sampling through the REAL mapInPandas operator
    (multimodal/binary_ops.py sample_video_frames): the opaque payload
    (here: encoded text — the env ships no codecs) is sliced into
    num_frames byte ranges worker-side; bytes never touch the driver
    and rows fan out by num_frames — the exact shape a real
    ffmpeg-backed sampler uses. The oracle recomputes every slice on
    the hex image of the payload (byte slicing == hex slicing at 2×
    offsets), so a MATCH proves the batch plumbing byte-for-byte,
    including the short-payload '\\x00' fallback."""
    from redshells_spark.multimodal.binary_ops import sample_video_frames

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", F.encode("text", "UTF-8").alias("payload")
    )
    frames = sample_video_frames(docs, "payload", id_column="doc_id", num_frames=4)
    return frames.select(
        "doc_id",
        F.col("frame_idx").cast("long").alias("frame_idx"),
        F.hex("frame_payload").alias("frame_hex"),
        F.length("frame_payload").cast("long").alias("frame_bytes"),
    )


def _image_feature_sql() -> str:
    """Oracle for image_decode_features: re-derives the md5-chain pixel
    stream (16 px per md5 block) and the 16 mean-pooled block features
    (4 px each) in pure SQL — hex digits parsed with the instr fold,
    the mean as the identical IEEE expression (sum/4)/255."""

    def hv(e: str) -> str:
        return f"(instr('0123456789abcdef', {e}) - 1)"

    branches = []
    for f_idx in range(16):
        j = f_idx // 4
        off = (f_idx % 4) * 8
        terms = []
        for m in range(4):
            c1 = f"substr(m{j}, {off + 2 * m + 1}, 1)"
            c2 = f"substr(m{j}, {off + 2 * m + 2}, 1)"
            terms.append(f"(16 * {hv(c1)} + {hv(c2)})")
        branches.append(
            f"SELECT doc_id, {f_idx} AS f, {' + '.join(terms)} AS s FROM px"
        )
    union = "\n         UNION ALL ".join(branches)
    return f"""WITH px AS (
         SELECT doc_id,
                md5(text || '|px|0') AS m0, md5(text || '|px|1') AS m1,
                md5(text || '|px|2') AS m2, md5(text || '|px|3') AS m3
         FROM documents),
       feats AS ({union})
       SELECT doc_id, CAST(f AS BIGINT) AS feature_idx,
              (CAST(s AS DOUBLE) / 4) / 255 AS value
       FROM feats"""


def _decode_fanout(spark) -> int | None:
    """Per-row-cost gate for the media-decode fan-out (VERDICT r08
    item 6): the md5-chain stub costs ~µs/row, so repartitioning the
    payload bytes across cores loses locally (round-8 A/B measured the
    shuffle > the savings); a REAL codec costs ~ms/row, where decode
    dominates any layout and spreading across the session's cores wins.
    Returns the session core count exactly when the real codec is
    wired (multimodal/binary_ops.CODEC_AVAILABLE), so a production
    decoder scales with no query change."""
    from redshells_spark.multimodal import binary_ops

    if not binary_ops.CODEC_AVAILABLE:
        return None
    return spark.sparkContext.defaultParallelism


@q("image_decode_features", _image_feature_sql())
def _image_decode_features(spark, sf_dir):
    """Decode→featurize through the REAL multimodal pipeline
    (multimodal/binary_ops.py decode_images + extract_image_features):
    two Arrow-batched mapInPandas stages with exactly the schema,
    batching, and partition behavior a PIL/CLIP UDF would use — the
    decoder is the md5-chain stub (pixel_source="md5chain") because
    the env has no codecs, which makes every pixel SQL-reproducible.
    8×8 image, 16 mean-pooled block features; the division tree
    (sum/4)/255 is a fixed IEEE expression, identical in both engines,
    so values are exported at full precision with no rounding."""
    from redshells_spark.multimodal.binary_ops import (
        decode_images,
        extract_image_features,
    )

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", F.encode("text", "UTF-8").alias("payload")
    )
    decoded = decode_images(
        docs, "payload", id_column="doc_id", height=8, width=8,
        pixel_source="md5chain", target_partitions=_decode_fanout(spark),
    )
    feats = extract_image_features(decoded, id_column="doc_id", feature_dim=16)
    return feats.select("doc_id", F.posexplode("embedding")).select(
        "doc_id",
        F.col("pos").cast("long").alias("feature_idx"),
        F.col("col").alias("value"),
    )


@q(
    "gopher_quality_rules",
    """WITH t AS (
         SELECT doc_id, text,
                list_filter(string_split(lower(text), ' '), x -> x <> '') AS toks,
                string_split(text, chr(10)) AS lines
         FROM documents),
       m AS (
         SELECT doc_id,
                len(toks) AS n_tokens,
                greatest(len(toks), 1) AS ntd,
                length(array_to_string(toks, '')) AS wl_sum,
                length(text) - length(replace(text, '#', '')) AS n_hash,
                (length(text) - length(replace(text, '...', ''))) / 3 AS n_ell,
                len(list_filter(toks, x -> regexp_matches(x, '[a-z]'))) AS n_alpha,
                len(list_intersect(list_distinct(toks),
                    ['the', 'be', 'to', 'of', 'and', 'that', 'have', 'with']))
                  AS n_stop,
                greatest(len(lines), 1) AS nld,
                len(list_filter(lines, l -> starts_with(l, '- ')
                    OR starts_with(l, '* ') OR starts_with(l, '•'))) AS n_bul,
                len(list_filter(lines, l -> ends_with(l, '...')
                    OR ends_with(l, '…'))) AS n_ele
         FROM t),
       s AS (
         SELECT CAST(doc_id AS BIGINT) AS doc_id,
                CAST(n_tokens AS BIGINT) AS n_tokens,
                wl_sum / CAST(ntd AS DOUBLE) AS mean_word_len,
                (n_hash + n_ell) / CAST(ntd AS DOUBLE) AS symbol_word_ratio,
                n_alpha / CAST(ntd AS DOUBLE) AS frac_alpha_words,
                CAST(n_stop AS BIGINT) AS n_gopher_stopwords,
                n_bul / CAST(nld AS DOUBLE) AS frac_bullet_lines,
                n_ele / CAST(nld AS DOUBLE) AS frac_ellipsis_lines
         FROM m)
       SELECT *,
              n_tokens >= 50 AND n_tokens <= 100000
              AND mean_word_len >= 3 AND mean_word_len <= 10
              AND symbol_word_ratio <= CAST(0.1 AS DOUBLE)
              AND frac_alpha_words >= CAST(0.8 AS DOUBLE)
              AND n_gopher_stopwords >= 2
              AND frac_bullet_lines <= CAST(0.9 AS DOUBLE)
              AND frac_ellipsis_lines <= CAST(0.3 AS DOUBLE) AS keep
       FROM s""",
)
def _gopher_quality_rules(spark, sf_dir):
    """Gopher quality-rule battery (text/analysis.py
    gopher_quality_rules; Rae et al. 2021 Table A1): word-count and
    mean-word-length bounds, symbol-to-word ratio, alphabetic-word
    fraction, required stopwords, bullet/ellipsis line fractions, and
    the conjunction keep flag. All signals are fixed expressions over
    integer counts (single identical-operand IEEE divisions), so the
    whole battery — including keep — is exported at full precision
    with no rounding. Pure codegen: runs at parquet-scan speed."""
    from redshells_spark.text.analysis import gopher_quality_rules

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return gopher_quality_rules(docs).select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        "mean_word_len",
        "symbol_word_ratio",
        "frac_alpha_words",
        "n_gopher_stopwords",
        "frac_bullet_lines",
        "frac_ellipsis_lines",
        "keep",
    )


@q(
    "bm25_topk",
    """WITH tok AS (
         SELECT doc_id,
                unnest(list_filter(string_split(lower(text), ' '),
                                   t -> t <> '')) AS term
         FROM documents),
       dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY 1),
       st AS (SELECT count(*) AS n_docs, sum(dl) AS dl_sum FROM dl),
       p AS (SELECT doc_id, term, count(*) AS tf FROM tok
             WHERE term IN ('spark', 'join', 'window', 'stream', 'hash')
             GROUP BY 1, 2),
       dft AS (SELECT term, count(*) AS df FROM p GROUP BY 1),
       s AS (
         SELECT p.doc_id,
                ln(CAST(1.0 AS DOUBLE)
                   + (st.n_docs - dft.df + CAST(0.5 AS DOUBLE))
                     / (dft.df + CAST(0.5 AS DOUBLE)))
                  * p.tf
                  / (p.tf + CAST(1.2 AS DOUBLE)
                     * (CAST(1.0 AS DOUBLE) - CAST(0.75 AS DOUBLE)
                        + CAST(0.75 AS DOUBLE) * dl.dl
                          / (st.dl_sum / st.n_docs))) AS t
         FROM p JOIN dl USING (doc_id) JOIN dft USING (term), st)
       SELECT doc_id, round(sum(t), 4) AS score
       FROM s GROUP BY doc_id
       ORDER BY score DESC, doc_id ASC LIMIT 20""",
)
def _bm25_topk(spark, sf_dir):
    """Okapi BM25 ranked retrieval (text/bm25.py) for the shared
    KEYWORDS query: one corpus scan (postings filter pushed into the
    token explode), broadcast df/avgdl stats, one groupBy(doc), and a
    TakeOrderedAndProject top-k on the rounded score with a doc_id
    tie-break. The ln-based idf agrees cross-engine under the round-4
    export like ngram_lm_perplexity's log2."""
    from redshells_spark.text.bm25 import bm25_topk

    docs = _t(spark, sf_dir, "documents")
    return bm25_topk(docs, KEYWORDS, k=20)


@q(
    "token_entropy_signals",
    """WITH tok AS (
         SELECT doc_id,
                unnest(list_filter(string_split(lower(text), ' '),
                                   t -> t <> '')) AS token
         FROM documents),
       c AS (SELECT doc_id, token, count(*) AS cnt FROM tok GROUP BY 1, 2),
       d AS (SELECT doc_id,
                    CAST(sum(cnt) AS BIGINT) AS n_tokens,
                    CAST(count(*) AS BIGINT) AS n_distinct,
                    sum(cnt * ln(cnt)) AS s
             FROM c GROUP BY 1)
       SELECT doc_id, n_tokens, n_distinct,
              round(ln(n_tokens) - s / n_tokens, 4) AS entropy,
              round(CASE WHEN n_distinct > 1
                         THEN (ln(n_tokens) - s / n_tokens) / ln(n_distinct)
                         ELSE CAST(0 AS DOUBLE) END, 4) AS norm_entropy
       FROM d""",
)
def _token_entropy_signals(spark, sf_dir):
    """Shannon token-entropy quality signals (text/analysis.py
    token_entropy_signals): low entropy flags boilerplate/repetitive
    docs, near-1 normalized entropy flags random-token garbage. Uses
    the aggregate identity H = ln(n) − (Σ c·ln c)/n — one token-level
    + one doc-level map-combined groupBy, no window. Round-4 export
    absorbs the order-dependent float sum."""
    from redshells_spark.text.analysis import token_entropy_signals

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    out = token_entropy_signals(docs)
    return out.select(
        "doc_id",
        "n_tokens",
        "n_distinct",
        _r4(F.col("entropy"), "entropy"),
        _r4(F.col("norm_entropy"), "norm_entropy"),
    )


@q(
    "kn_perplexity",
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
         JOIN cont USING (word), ty)
       SELECT doc_id,
              round(-avg(lp), 4) AS cross_entropy,
              round(pow(2.0, -avg(lp)), 4) AS perplexity
       FROM sc GROUP BY doc_id""",
)
def _kn_perplexity(spark, sf_dir):
    """Interpolated Kneser-Ney perplexity filter (text/ngram_lm.py
    train_kn_bigram_lm + score_kn_perplexity): the smoothing family
    CCNet's actual KenLM filter uses, relational end-to-end —
    P(w|v) = (max(c−d,0) + d·N1+(v,·)·Pcont(w))/c(v) with the
    continuation distribution Pcont(w) = N1+(·,w)/|bigram types|.
    Self-scoring (train corpus == target corpus) so every context is
    known and the whole train+score dataflow is one oracle-checkable
    graph; production trains once on clean text and broadcasts the
    vocabulary-bounded tables."""
    from redshells_spark.text.ngram_lm import score_kn_perplexity

    docs = _t(spark, sf_dir, "documents")
    lm = _kn_lm(spark, sf_dir)
    out = score_kn_perplexity(docs, lm, broadcast_lm=True)
    return out.select(
        "doc_id",
        _r4(F.col("cross_entropy"), "cross_entropy"),
        _r4(F.col("perplexity"), "perplexity"),
    )


def _video_feature_sql() -> str:
    """Oracle for video_frame_features: replay frame slicing (ASCII
    payload ⇒ byte slicing == character slicing), the md5-chain
    per-frame pixels, block-mean features, and the temporal mean-pool.
    Valid for payloads ≥ num_frames bytes (always true for this
    corpus; the operator itself handles shorter ones — unit-tested)."""

    def hv(e: str) -> str:
        return f"(instr('0123456789abcdef', {e}) - 1)"

    branches = []
    for f_idx in range(16):
        j = f_idx // 4
        off = (f_idx % 4) * 8
        terms = []
        for m in range(4):
            c1 = f"substr(m{j}, {off + 2 * m + 1}, 1)"
            c2 = f"substr(m{j}, {off + 2 * m + 2}, 1)"
            terms.append(f"(16 * {hv(c1)} + {hv(c2)})")
        branches.append(
            f"SELECT doc_id, k, {f_idx} AS f, {' + '.join(terms)} AS s FROM px"
        )
    union = "\n         UNION ALL ".join(branches)
    return f"""WITH p AS (
         SELECT doc_id, text,
                greatest(1, octet_length(encode(text)) // 4) AS step
         FROM documents),
       fr AS (SELECT doc_id, k, substr(text, k * step + 1, step) AS fs
              FROM p, range(4) t(k)),
       px AS (
         SELECT doc_id, k,
                md5(fs || '|px|0') AS m0, md5(fs || '|px|1') AS m1,
                md5(fs || '|px|2') AS m2, md5(fs || '|px|3') AS m3
         FROM fr),
       feats AS ({union})
       SELECT doc_id, CAST(f AS BIGINT) AS feature_idx,
              round(sum((CAST(s AS DOUBLE) / 4) / 255) / count(*), 4) AS value
       FROM feats GROUP BY doc_id, f"""


@q("video_frame_features", _video_feature_sql())
def _video_frame_features(spark, sf_dir):
    """Full video featurization pipeline through the REAL multimodal
    operators: sample_video_frames (byte-range frame extraction) →
    decode_images per frame (md5-chain stub — a real ffmpeg decoder
    slots in unchanged) → extract_image_features per frame → temporal
    mean-pool per video (pool_frame_features). Three Arrow mapInPandas
    stages + one relational pool, payload bytes never on the driver;
    the oracle replays every stage and the round-4 export absorbs the
    4-element pooling sum order."""
    from redshells_spark.multimodal.binary_ops import (
        decode_images,
        extract_image_features,
        pool_frame_features,
        sample_video_frames,
    )

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", F.encode("text", "UTF-8").alias("payload")
    )
    frames = sample_video_frames(
        docs, "payload", id_column="doc_id", num_frames=4,
        target_partitions=_decode_fanout(spark),
    )
    fdf = frames.select(
        (F.col("doc_id") * 10 + F.col("frame_idx")).alias("fid"),
        F.col("frame_payload").alias("payload"),
    )
    decoded = decode_images(
        fdf, "payload", id_column="fid", height=8, width=8,
        pixel_source="md5chain",
    )
    feats = extract_image_features(decoded, id_column="fid", feature_dim=16)
    vids = feats.select(
        F.expr("fid div 10").alias("doc_id"), "embedding"
    )
    pooled = pool_frame_features(vids, video_id_column="doc_id")
    return pooled.select("doc_id", "feature_idx", _r4(F.col("value"), "value"))


@q(
    "gopher_repetition_battery",
    """WITH t AS (
         SELECT doc_id,
                list_filter(string_split(lower(text), ' '), x -> x <> '') AS toks
         FROM documents),
       b AS (SELECT doc_id, toks,
                    CAST(length(array_to_string(toks, '')) AS BIGINT) AS total_chars
             FROM t),
       e AS (SELECT doc_id, total_chars, toks, n,
                    unnest(range(1, len(toks) - n + 2)) AS i
             FROM b, (VALUES (2), (3), (4), (5), (6)) nn(n)
             WHERE len(toks) >= n),
       cnt AS (SELECT doc_id, total_chars, n,
                      array_to_string(list_slice(toks, i, i + n - 1), '␟') AS gram,
                      count(*) AS c
               FROM e GROUP BY 1, 2, 3, 4),
       tops AS (SELECT doc_id, n,
                       CAST(c * (length(gram) - (n - 1)) AS DOUBLE)
                         / total_chars AS frac
                FROM cnt
                WHERE n IN (2, 3, 4)
                QUALIFY row_number() OVER (PARTITION BY doc_id, n
                                           ORDER BY c DESC, gram ASC) = 1),
       dups AS (SELECT doc_id, n + 10 AS n,
                       least(CAST(CAST(sum(CASE WHEN c > 1
                                             THEN c * (length(gram) - (n - 1))
                                             ELSE 0 END) AS BIGINT) AS DOUBLE)
                               / total_chars,
                             CAST(1 AS DOUBLE)) AS frac
                FROM cnt WHERE n IN (5, 6)
                GROUP BY doc_id, n, total_chars),
       u AS (SELECT * FROM tops UNION ALL SELECT * FROM dups),
       pv AS (SELECT doc_id,
                     max(CASE WHEN n = 2 THEN frac END) AS top2_char_frac,
                     max(CASE WHEN n = 3 THEN frac END) AS top3_char_frac,
                     max(CASE WHEN n = 4 THEN frac END) AS top4_char_frac,
                     max(CASE WHEN n = 15 THEN frac END) AS dup5_char_frac,
                     max(CASE WHEN n = 16 THEN frac END) AS dup6_char_frac
              FROM u GROUP BY doc_id)
       SELECT b.doc_id, b.total_chars,
              coalesce(top2_char_frac, CAST(0 AS DOUBLE)) AS top2_char_frac,
              coalesce(top3_char_frac, CAST(0 AS DOUBLE)) AS top3_char_frac,
              coalesce(top4_char_frac, CAST(0 AS DOUBLE)) AS top4_char_frac,
              coalesce(dup5_char_frac, CAST(0 AS DOUBLE)) AS dup5_char_frac,
              coalesce(dup6_char_frac, CAST(0 AS DOUBLE)) AS dup6_char_frac
       FROM b LEFT JOIN pv ON pv.doc_id = b.doc_id""",
)
def _gopher_repetition_battery(spark, sf_dir):
    """The Gopher §A1.1 repetition filters beyond repetition_signals
    (text/analysis.py gopher_repetition_battery): character coverage
    of the single most frequent {2,3,4}-gram and of all duplicated
    {5,6}-grams (multiplicity approximation, capped at 1). Exact
    integer char counts, (count desc, gram asc) tie-break, one
    identical-operand division per fraction — full-precision export,
    no rounding."""
    from redshells_spark.text.analysis import gopher_repetition_battery

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return gopher_repetition_battery(docs)


@q("compression_ratio_signals")
def _compression_ratio_signals(spark, sf_dir):
    """zlib compression-ratio quality signal (text/compress.py) — the
    Dolma/RedPajama-v2 'zlib filter': repetitive text compresses far
    better than prose, binary junk barely at all. One Arrow
    mapInPandas pass (a legitimate UDF boundary: DEFLATE has no JVM
    expression), zero shuffles. Rows-only (DuckDB has no DEFLATE) —
    property-gated in tests/test_compress.py."""
    from redshells_spark.text.compress import compression_signals

    return compression_signals(_t(spark, sf_dir, "documents"))


@q(
    "keyword_in_context",
    """WITH tok AS (
         SELECT doc_id,
                list_filter(string_split(lower(text), ' '), t -> t <> '') AS toks
         FROM documents),
       occ AS (
         SELECT doc_id, toks, generate_subscripts(toks, 1) - 1 AS pos, unnest(toks) AS token
         FROM tok)
       SELECT doc_id, CAST(pos AS BIGINT) AS pos,
              coalesce(array_to_string(toks[greatest(1, pos - 2) : pos], ' '), '') AS left_ctx,
              'spark' AS keyword,
              coalesce(array_to_string(toks[pos + 2 : pos + 4], ' '), '') AS right_ctx
       FROM occ WHERE token = 'spark'""",
)
def _keyword_in_context(spark, sf_dir):
    """KWIC concordance for 'spark' with a 3-token window each side
    (text/kwic.py): posexplode carrying the token array, context by
    F.slice on the same row — no self-join, shuffle-free, output
    bounded by match count."""
    from redshells_spark.text.kwic import keyword_in_context

    return keyword_in_context(_tokens(spark, sf_dir), "spark", window=3)


# ------------------------------------------------------- fuzzy name match


@q(
    "fuzzy_name_match",
    """WITH names AS (SELECT DISTINCT p_name AS name FROM part),
       b AS (SELECT name, string_split(name, ' ')[2] AS block
             FROM names)
       SELECT x.block AS block, x.name AS name_a, y.name AS name_b,
              CAST(levenshtein(x.name, y.name) AS BIGINT) AS lev
       FROM b x JOIN b y ON x.block = y.block AND x.name < y.name
       WHERE levenshtein(x.name, y.name) <= 3""",
)
def _fuzzy_name_match(spark, sf_dir):
    """Blocked fuzzy matching over part names (operators/fuzzy.py):
    dedupe to DISTINCT names first (the step that keeps a billion-row
    corpus's pairwise work on its million distinct strings), block on
    the SECOND name token, then JVM-codegen `levenshtein` ≤ 3
    inside blocks only — the Fellegi-Sunter blocking shape. The
    block-partitioned self-join shuffles on the blocking key, so cost
    is Σ block², never corpus²."""
    from redshells_spark.operators.fuzzy import fuzzy_blocked_matches

    part = _t(spark, sf_dir, "part")
    return fuzzy_blocked_matches(
        part,
        "p_name",
        "element_at(split(name, ' '), 2)",
        max_distance=3,
    )


# -------------------------------------------------------- token PMI


@q(
    "token_pmi_topk",
    f"""WITH {_TOK_SQL},
       n AS (SELECT CAST(count(*) AS BIGINT) AS n_tok FROM tok),
       uni AS (SELECT token, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY 1),
       prs AS (
         SELECT a.token AS tok_a, b.token AS tok_b
         FROM tok a JOIN tok b
           ON a.doc_id = b.doc_id AND b.pos = a.pos + 1 AND a.token < b.token
         UNION ALL
         SELECT b.token, a.token
         FROM tok a JOIN tok b
           ON a.doc_id = b.doc_id AND b.pos = a.pos + 1 AND b.token < a.token),
       co AS (SELECT tok_a, tok_b, CAST(count(*) AS BIGINT) AS c_ab
              FROM prs GROUP BY 1, 2),
       scored AS (
         SELECT co.tok_a, co.tok_b, co.c_ab,
                round(ln((CAST(co.c_ab AS DOUBLE) * n.n_tok)
                         / (CAST(ua.c AS DOUBLE) * ub.c)), 6) AS pmi
         FROM co
         JOIN uni ua ON ua.token = co.tok_a
         JOIN uni ub ON ub.token = co.tok_b, n
         WHERE co.c_ab >= 20)
       SELECT tok_a, tok_b, c_ab, pmi FROM (
         SELECT *, row_number() OVER (ORDER BY pmi DESC, tok_a ASC, tok_b ASC) AS rn
         FROM scored) WHERE rn <= 30""",
)
def _token_pmi_topk(spark, sf_dir):
    """Top-30 adjacent-token associations by pointwise mutual
    information (Church & Hanks 1990) — collocation mining, the
    lexical-association companion to association_rules' basket lift.
    Pairs are ADJACENT positions only (one self-join on (doc, pos+1) —
    token-volume linear, never doc²), unordered via the lexicographic
    swap; counts exact int64, PMI one fixed ln expression rounded
    after; the ranking window runs over the vocab²-bounded pair
    relation."""
    toks = _tokens(spark, sf_dir)
    flat = toks.select(
        "doc_id", F.posexplode("tokens").alias("pos0", "token")
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "token")
    n = flat.agg(F.count(F.lit(1)).cast("long").alias("n_tok"))
    uni = flat.groupBy("token").agg(F.count(F.lit(1)).cast("long").alias("c"))
    a = flat.select("doc_id", "pos", F.col("token").alias("ta"))
    b = flat.select(
        "doc_id", (F.col("pos") - 1).alias("pos"), F.col("token").alias("tb")
    )
    adj = a.join(b, ["doc_id", "pos"]).select(
        F.least("ta", "tb").alias("tok_a"), F.greatest("ta", "tb").alias("tok_b")
    ).filter(F.col("tok_a") != F.col("tok_b"))
    co = adj.groupBy("tok_a", "tok_b").agg(
        F.count(F.lit(1)).cast("long").alias("c_ab")
    ).filter(F.col("c_ab") >= 20)
    scored = (
        co.join(F.broadcast(uni.select(F.col("token").alias("tok_a"), F.col("c").alias("__ca"))), "tok_a")
        .join(F.broadcast(uni.select(F.col("token").alias("tok_b"), F.col("c").alias("__cb"))), "tok_b")
        .crossJoin(F.broadcast(n))
        .select(
            "tok_a",
            "tok_b",
            "c_ab",
            F.round(
                F.log(
                    (F.col("c_ab").cast("double") * F.col("n_tok"))
                    / (F.col("__ca").cast("double") * F.col("__cb"))
                ),
                6,
            ).alias("pmi"),
        )
    )
    w = Window.orderBy(F.col("pmi").desc(), F.col("tok_a").asc(), F.col("tok_b").asc())
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 30)
        .select("tok_a", "tok_b", "c_ab", "pmi")
    )


# ------------------------------------------------- code-switch flags

_CS_LANGS = {
    "de": ("der", "die", "das", "und", "ist", "nicht", "mit", "ein", "zu", "den"),
    "en": ("the", "and", "of", "to", "in", "is", "that", "with", "for", "it"),
    "es": ("el", "los", "las", "es", "no", "una", "por", "con", "para", "del"),
    "fr": ("le", "la", "les", "et", "est", "pas", "des", "une", "dans", "que"),
}


def _cs_oracle() -> str:
    def hits(slice_sql: str, lang: str) -> str:
        lst = ", ".join(f"'{w}'" for w in _CS_LANGS[lang])
        return f"len(list_filter({slice_sql}, t -> t IN ({lst})))"

    def argmax(prefix: str) -> str:
        g = f"greatest({prefix}_de, {prefix}_en, {prefix}_es, {prefix}_fr)"
        return f"""CASE WHEN {g} = 0 THEN 'und'
                WHEN {prefix}_de = {g} THEN 'de'
                WHEN {prefix}_en = {g} THEN 'en'
                WHEN {prefix}_es = {g} THEN 'es'
                ELSE 'fr' END"""

    h1 = "list_slice(toks, 1, len(toks) // 2)"
    h2 = "list_slice(toks, len(toks) // 2 + 1, len(toks))"
    hit_cols = ", ".join(
        f"{hits(h1, lang)} AS h1_{lang}, {hits(h2, lang)} AS h2_{lang}"
        for lang in sorted(_CS_LANGS)
    )
    return f"""WITH tok AS (
         SELECT doc_id,
                list_filter(string_split(lower(text), ' '), t -> t <> '') AS toks
         FROM documents),
       h AS (SELECT doc_id, {hit_cols} FROM tok WHERE len(toks) >= 4),
       l AS (SELECT doc_id, {argmax("h1")} AS lang_h1, {argmax("h2")} AS lang_h2
             FROM h)
       SELECT doc_id, lang_h1, lang_h2,
              CAST(CASE WHEN lang_h1 <> lang_h2 AND lang_h1 <> 'und'
                         AND lang_h2 <> 'und' THEN 1 ELSE 0 END AS BIGINT)
                  AS code_switch
       FROM l"""


@q("code_switch_flags", _cs_oracle())
def _code_switch_flags(spark, sf_dir):
    """Within-document code-switch detection: language-ID the first
    and second token halves independently (the same stopword-hit
    argmax detect_language uses, identical tie rules) and flag docs
    whose halves disagree with confident labels — the data-cleaning
    audit that catches concatenation artifacts and mixed-language
    scrapes which a whole-doc language filter waves through. One
    map-only pass: slices, filters, and the argmax are all codegen."""
    toks = _tokens(spark, sf_dir)
    half1 = F.slice(F.col("tokens"), 1, (F.size("tokens") / 2).cast("int"))
    half2 = F.slice(
        F.col("tokens"),
        (F.size("tokens") / 2).cast("int") + 1,
        F.size("tokens"),
    )

    def hits(col, lang):
        kws = _CS_LANGS[lang]
        return F.size(F.filter(col, lambda t: t.isin(*kws)))

    h = toks.filter(F.size("tokens") >= 4).select(
        "doc_id",
        *[hits(half1, lang).alias(f"h1_{lang}") for lang in sorted(_CS_LANGS)],
        *[hits(half2, lang).alias(f"h2_{lang}") for lang in sorted(_CS_LANGS)],
    )

    def argmax(prefix):
        g = F.greatest(*[F.col(f"{prefix}_{la}") for la in sorted(_CS_LANGS)])
        expr = F.when(g == 0, "und")
        for la in sorted(_CS_LANGS):
            expr = expr.when(F.col(f"{prefix}_{la}") == g, la)
        return expr

    l = h.select(
        "doc_id", argmax("h1").alias("lang_h1"), argmax("h2").alias("lang_h2")
    )
    return l.select(
        "doc_id",
        "lang_h1",
        "lang_h2",
        (
            (F.col("lang_h1") != F.col("lang_h2"))
            & (F.col("lang_h1") != "und")
            & (F.col("lang_h2") != "und")
        )
        .cast("long")
        .alias("code_switch"),
    )


# ------------------------------------------------- Heaps' law


@q(
    "heaps_law_fit",
    f"""WITH {_TOK_SQL},
       mx AS (SELECT max(doc_id) AS md FROM documents),
       tb AS (SELECT t.doc_id * 10 // (mx.md + 1) AS bucket, t.token
              FROM tok t CROSS JOIN mx),
       cnt AS (SELECT bucket, CAST(count(*) AS BIGINT) AS n_tok FROM tb GROUP BY 1),
       fst AS (SELECT token, CAST(min(bucket) AS BIGINT) AS fb FROM tb GROUP BY 1),
       vcb AS (SELECT fb AS bucket, CAST(count(*) AS BIGINT) AS n_new
               FROM fst GROUP BY 1),
       cum AS (SELECT c.bucket,
                      CAST(sum(c.n_tok) OVER (ORDER BY c.bucket ASC) AS BIGINT)
                        AS cum_tokens,
                      CAST(sum(coalesce(v.n_new, 0)) OVER (ORDER BY c.bucket ASC)
                        AS BIGINT) AS cum_vocab
               FROM cnt c LEFT JOIN vcb v USING (bucket)),
       pt AS (SELECT CAST(count(*) AS BIGINT) AS np,
                     sum(ln(CAST(cum_tokens AS DOUBLE))) AS sx,
                     sum(ln(CAST(cum_vocab AS DOUBLE))) AS sy,
                     sum(ln(CAST(cum_tokens AS DOUBLE))
                         * ln(CAST(cum_vocab AS DOUBLE))) AS sxy,
                     sum(ln(CAST(cum_tokens AS DOUBLE))
                         * ln(CAST(cum_tokens AS DOUBLE))) AS sxx
              FROM cum)
       SELECT CAST(cum.bucket AS BIGINT) AS bucket, cum.cum_tokens, cum.cum_vocab,
              round((CAST(np AS DOUBLE) * sxy - sx * sy)
                    / (CAST(np AS DOUBLE) * sxx - sx * sx), 6) AS heaps_beta,
              round(exp((sy - ((CAST(np AS DOUBLE) * sxy - sx * sy)
                               / (CAST(np AS DOUBLE) * sxx - sx * sx)) * sx)
                        / CAST(np AS DOUBLE)), 6) AS heaps_k
       FROM cum CROSS JOIN pt""",
)
def _heaps_law_fit(spark, sf_dir):
    """Heaps'-law fit V(n) = K * n^beta of vocabulary growth: docs are
    split into 10 ordered doc_id ranges, cumulative token totals and
    first-occurrence vocabulary counts per range are exact int64, and
    (beta, K) come from a 10-point log-log OLS — the corpus-growth
    profile that predicts vocab size (and tokenizer OOV pressure) at
    1000x the data from a prefix. Token totals and min-first-bucket
    are map-combinable; the only window runs over the 10-row bucket
    relation. Companion to vocab_coverage_curve / hill_tail_index."""
    toks = _tokens(spark, sf_dir)
    mx = toks.agg(F.max("doc_id").alias("md"))
    tb = toks.crossJoin(F.broadcast(mx)).select(
        F.expr("doc_id * 10 div (md + 1)").cast("long").alias("bucket"),
        F.explode("tokens").alias("token"),
    )
    cnt = tb.groupBy("bucket").agg(F.count(F.lit(1)).cast("long").alias("n_tok"))
    fst = tb.groupBy("token").agg(F.min("bucket").cast("long").alias("fb"))
    vcb = fst.groupBy(F.col("fb").alias("bucket")).agg(
        F.count(F.lit(1)).cast("long").alias("n_new")
    )
    w = Window.orderBy(F.col("bucket").asc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = (
        cnt.join(vcb, "bucket", "left")
        .select("bucket", "n_tok", F.coalesce("n_new", F.lit(0)).alias("n_new"))
        .select(
            "bucket",
            F.sum("n_tok").over(w).cast("long").alias("cum_tokens"),
            F.sum("n_new").over(w).cast("long").alias("cum_vocab"),
        )
    )
    lx = F.log(F.col("cum_tokens").cast("double"))
    ly = F.log(F.col("cum_vocab").cast("double"))
    pt = cum.agg(
        F.count(F.lit(1)).cast("long").alias("np"),
        F.sum(lx).alias("sx"),
        F.sum(ly).alias("sy"),
        F.sum(lx * ly).alias("sxy"),
        F.sum(lx * lx).alias("sxx"),
    )
    d = lambda c: F.col(c).cast("double")  # noqa: E731
    beta = (d("np") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        d("np") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return cum.crossJoin(F.broadcast(pt)).select(
        F.col("bucket").cast("long").alias("bucket"),
        "cum_tokens",
        "cum_vocab",
        F.round(beta, 6).alias("heaps_beta"),
        F.round(F.exp((F.col("sy") - beta * F.col("sx")) / d("np")), 6).alias(
            "heaps_k"
        ),
    )


# ------------------------------------------------- Good-Turing


@q(
    "good_turing_bigrams",
    f"""WITH {_TOK_SQL},
       bg AS (SELECT a.token || ' ' || b.token AS gram
              FROM tok a JOIN tok b
                ON a.doc_id = b.doc_id AND b.pos = a.pos + 1),
       c AS (SELECT gram, CAST(count(*) AS BIGINT) AS r FROM bg GROUP BY 1),
       nr AS (SELECT r, CAST(count(*) AS BIGINT) AS n_r FROM c GROUP BY 1),
       tot AS (SELECT CAST(sum(r * n_r) AS BIGINT) AS n_grams,
                      CAST(sum(CASE WHEN r = 1 THEN n_r ELSE 0 END) AS BIGINT)
                        AS n1
               FROM nr)
       SELECT CAST(a.r AS BIGINT) AS r, a.n_r,
              CAST(coalesce(b.n_r, 0) AS BIGINT) AS n_r1,
              round(CAST(a.r + 1 AS DOUBLE) * CAST(coalesce(b.n_r, 0) AS DOUBLE)
                    / CAST(a.n_r AS DOUBLE), 6) AS r_star,
              round(CAST(t.n1 AS DOUBLE) / CAST(t.n_grams AS DOUBLE), 6)
                AS p_unseen
       FROM nr a LEFT JOIN nr b ON b.r = a.r + 1 CROSS JOIN tot t
       WHERE a.r <= 10 ORDER BY a.r""",
)
def _good_turing_bigrams(spark, sf_dir):
    """Good-Turing adjusted counts r* = (r+1)·N_(r+1)/N_r for word
    bigrams (Good 1953) — the frequency-of-frequencies smoothing table
    an n-gram LM uses for unseen-mass estimation, with the leave-mass
    p0 = N_1/N. Bigrams come from one positional self-join (token-
    volume linear); everything downstream runs on the FREQUENCY-OF-
    FREQUENCIES level table (bounded by max gram count, a domain not a
    row count). All counts exact int64; the adjusted count and unseen
    mass are final one-shot ratios. Companion to kn_perplexity's
    Kneser-Ney table (text/ngram_lm.py)."""
    toks = _tokens(spark, sf_dir)
    flat = toks.select(
        "doc_id", F.posexplode("tokens").alias("pos0", "token")
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "token")
    a = flat.select("doc_id", "pos", F.col("token").alias("ta"))
    b = flat.select(
        "doc_id", (F.col("pos") - 1).alias("pos"), F.col("token").alias("tb")
    )
    bg = a.join(b, ["doc_id", "pos"]).select(
        F.concat(F.col("ta"), F.lit(" "), F.col("tb")).alias("gram")
    )
    c = bg.groupBy("gram").agg(F.count(F.lit(1)).cast("long").alias("r"))
    nr = c.groupBy("r").agg(F.count(F.lit(1)).cast("long").alias("n_r"))
    tot = nr.agg(
        F.sum(F.col("r") * F.col("n_r")).cast("long").alias("n_grams"),
        F.sum(F.when(F.col("r") == 1, F.col("n_r")).otherwise(0))
        .cast("long")
        .alias("n1"),
    )
    nxt = nr.select((F.col("r") - 1).alias("r"), F.col("n_r").alias("n_r1"))
    return (
        nr.filter(F.col("r") <= 10)
        .join(nxt, "r", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("r").cast("long"),
            "n_r",
            F.coalesce(F.col("n_r1"), F.lit(0)).cast("long").alias("n_r1"),
            F.round(
                (F.col("r") + 1).cast("double")
                * F.coalesce(F.col("n_r1"), F.lit(0)).cast("double")
                / F.col("n_r").cast("double"),
                6,
            ).alias("r_star"),
            F.round(
                F.col("n1").cast("double") / F.col("n_grams").cast("double"), 6
            ).alias("p_unseen"),
        )
    )


# ------------------------------------------------- Zipf fit


@q(
    "zipf_law_fit",
    f"""WITH {_TOK_SQL},
       c AS (SELECT token, CAST(count(*) AS BIGINT) AS freq FROM tok GROUP BY 1),
       top AS (SELECT token, freq, rnk FROM (
                 SELECT token, freq,
                        row_number() OVER (ORDER BY freq DESC, token ASC) AS rnk
                 FROM c) WHERE rnk <= 100),
       qx AS (SELECT CAST(floor(ln(CAST(rnk AS DOUBLE)) * 1000000
                                + CAST(0.5 AS DOUBLE)) AS BIGINT) AS lx,
                     CAST(floor(ln(CAST(freq AS DOUBLE)) * 1000000
                                + CAST(0.5 AS DOUBLE)) AS BIGINT) AS ly
              FROM top),
       s AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(lx) AS BIGINT) AS sx,
                    CAST(sum(ly) AS BIGINT) AS sy,
                    CAST(sum(lx * lx) AS BIGINT) AS sxx,
                    CAST(sum(lx * ly) AS BIGINT) AS sxy,
                    CAST(sum(ly * ly) AS BIGINT) AS syy
             FROM qx)
       SELECT n AS n_terms,
              round(CAST(n * sxy - sx * sy AS DOUBLE)
                    / CAST(n * sxx - sx * sx AS DOUBLE), 6) AS slope,
              round((CAST(sy AS DOUBLE)
                     - CAST(n * sxy - sx * sy AS DOUBLE)
                       / CAST(n * sxx - sx * sx AS DOUBLE)
                       * CAST(sx AS DOUBLE))
                    / CAST(n AS DOUBLE) / CAST(1000000 AS DOUBLE), 6)
                AS intercept_ln,
              round(CAST(n * sxy - sx * sy AS DOUBLE)
                    * CAST(n * sxy - sx * sy AS DOUBLE)
                    / (CAST(n * sxx - sx * sx AS DOUBLE)
                       * CAST(n * syy - sy * sy AS DOUBLE)), 6) AS r2
       FROM s""",
)
def _zipf_law_fit(spark, sf_dir):
    """Zipf rank-frequency fit (Zipf 1949): OLS slope of ln(freq) on
    ln(rank) over the top-100 vocabulary — the corpus-health power-law
    readout next to heaps_law_fit and hill_tail_index. The ln values
    are e6-quantized per term so the OLS moment sums are EXACT int64
    (the heaps-law idiom); slope/intercept/r2 are final one-shot double
    ratios of those integers. The ranking window runs over the
    vocab-bounded count relation, never the token stream."""
    toks = _tokens(spark, sf_dir)
    flat = toks.select("doc_id", F.explode("tokens").alias("token"))
    c = flat.groupBy("token").agg(F.count(F.lit(1)).cast("long").alias("freq"))
    w = Window.orderBy(F.col("freq").desc(), F.col("token").asc())
    top = c.withColumn("rnk", F.row_number().over(w)).filter(F.col("rnk") <= 100)
    qx = top.select(
        F.floor(F.log(F.col("rnk").cast("double")) * F.lit(1000000.0) + F.lit(0.5))
        .cast("long")
        .alias("lx"),
        F.floor(F.log(F.col("freq").cast("double")) * F.lit(1000000.0) + F.lit(0.5))
        .cast("long")
        .alias("ly"),
    )
    s = qx.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("lx").cast("long").alias("sx"),
        F.sum("ly").cast("long").alias("sy"),
        F.sum(F.col("lx") * F.col("lx")).cast("long").alias("sxx"),
        F.sum(F.col("lx") * F.col("ly")).cast("long").alias("sxy"),
        F.sum(F.col("ly") * F.col("ly")).cast("long").alias("syy"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    den = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    deny = (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    return s.select(
        F.col("n").alias("n_terms"),
        F.round(num / den, 6).alias("slope"),
        F.round(
            (F.col("sy").cast("double") - num / den * F.col("sx").cast("double"))
            / F.col("n").cast("double")
            / F.lit(1000000.0),
            6,
        ).alias("intercept_ln"),
        F.round(num * num / (den * deny), 6).alias("r2"),
    )


# --------------------------------------------- per-source token KL


@q(
    "source_token_kl",
    f"""WITH {_TOK_SQL},
       src AS (SELECT d.source, t.token
               FROM tok t JOIN documents d USING (doc_id)),
       cs AS (SELECT source, token, CAST(count(*) AS BIGINT) AS c_s
              FROM src GROUP BY 1, 2),
       ns AS (SELECT source, CAST(sum(c_s) AS BIGINT) AS n_s
              FROM cs GROUP BY 1),
       ct AS (SELECT token, CAST(count(*) AS BIGINT) AS c_t FROM src GROUP BY 1),
       nt AS (SELECT CAST(sum(c_t) AS BIGINT) AS n_t FROM ct),
       terms AS (SELECT cs.source,
                CAST(floor((CAST(cs.c_s AS DOUBLE) / CAST(ns.n_s AS DOUBLE))
                           * ln((CAST(cs.c_s AS DOUBLE) * CAST(nt.n_t AS DOUBLE))
                                / (CAST(ns.n_s AS DOUBLE) * CAST(ct.c_t AS DOUBLE)))
                           * CAST(1000000000 AS DOUBLE)
                           + CAST(0.5 AS DOUBLE)) AS BIGINT) AS term_e9
              FROM cs JOIN ns USING (source) JOIN ct USING (token)
              CROSS JOIN nt)
       SELECT s.source, n.n_s AS n_tokens,
              round(CAST(s.kl_e9 AS DOUBLE) / CAST(1000000000 AS DOUBLE), 6)
                AS kl_divergence
       FROM (SELECT source, CAST(sum(term_e9) AS BIGINT) AS kl_e9
             FROM terms GROUP BY 1) s
       JOIN ns n USING (source)""",
)
def _source_token_kl(spark, sf_dir):
    """Per-source token-distribution drift: KL(p_source || p_corpus)
    over the unigram vocabulary — the domain-shift readout a data-mix
    pipeline tracks per source next to psi_value_drift (PSI on values;
    this is its lexical twin). Each KL term p*ln(p/q) is one double
    expression over four exact int64 counts, e9-quantized BEFORE the
    per-source sum (vocab-bounded, <=|V| terms per source); zero-count
    tokens contribute nothing by construction since terms only exist
    for observed (source, token) pairs."""
    toks = _tokens(spark, sf_dir)
    docs = _t(spark, sf_dir, "documents").select("doc_id", "source")
    src = (
        toks.select("doc_id", F.explode("tokens").alias("token"))
        .join(docs, "doc_id")
        .select("source", "token")
    )
    # ONE fact aggregation: the (source, token) counts are
    # vocab x source bounded and the per-source totals, corpus token
    # counts, and grand total all fold from them — unpinned, ns/ct/nt
    # each re-ran the token explode + dim join (6 scans at the r8 audit)
    cs = (
        src.groupBy("source", "token")
        .agg(F.count(F.lit(1)).cast("long").alias("c_s"))
        .localCheckpoint(eager=True)
    )
    ns = cs.groupBy("source").agg(F.sum("c_s").cast("long").alias("n_s"))
    ct = cs.groupBy("token").agg(F.sum("c_s").cast("long").alias("c_t"))
    nt = ct.agg(F.sum("c_t").cast("long").alias("n_t"))
    p = F.col("c_s").cast("double") / F.col("n_s").cast("double")
    ratio = (F.col("c_s").cast("double") * F.col("n_t").cast("double")) / (
        F.col("n_s").cast("double") * F.col("c_t").cast("double")
    )
    terms = (
        cs.join(F.broadcast(ns), "source")
        .join(F.broadcast(ct), "token")
        .crossJoin(F.broadcast(nt))
        .select(
            "source",
            F.floor(p * F.log(ratio) * F.lit(1.0e9) + F.lit(0.5))
            .cast("long")
            .alias("term_e9"),
        )
    )
    kl = terms.groupBy("source").agg(F.sum("term_e9").cast("long").alias("kl_e9"))
    return kl.join(F.broadcast(ns), "source").select(
        "source",
        F.col("n_s").alias("n_tokens"),
        F.round(F.col("kl_e9").cast("double") / F.lit(1.0e9), 6).alias(
            "kl_divergence"
        ),
    )


# ------------------------------------------- Chao1 vocabulary richness


@q(
    "chao1_vocab_richness",
    """WITH tok AS (
         SELECT lang, unnest(list_filter(string_split(lower(text), ' '),
                                         t -> t <> '')) AS token
         FROM documents),
       tf AS (SELECT lang, token, CAST(count(*) AS BIGINT) AS c
              FROM tok GROUP BY 1, 2),
       fof AS (SELECT lang, c, CAST(count(*) AS BIGINT) AS f
               FROM tf GROUP BY 1, 2),
       s AS (SELECT lang,
                    CAST(sum(f) AS BIGINT) AS s_obs,
                    CAST(sum(CASE WHEN c = 1 THEN f ELSE 0 END) AS BIGINT)
                      AS f1,
                    CAST(sum(CASE WHEN c = 2 THEN f ELSE 0 END) AS BIGINT)
                      AS f2,
                    CAST(sum(c * f) AS BIGINT) AS n_tokens
             FROM fof GROUP BY 1)
       SELECT lang, s_obs, f1, f2, n_tokens,
              round(CAST(s_obs AS DOUBLE)
                    + CAST(f1 AS DOUBLE) * CAST(f1 - 1 AS DOUBLE)
                      / (CAST(2 AS DOUBLE) * CAST(f2 + 1 AS DOUBLE)), 4)
                AS chao1,
              round(CAST(1 AS DOUBLE)
                    - CAST(f1 AS DOUBLE) / CAST(n_tokens AS DOUBLE), 6)
                AS coverage
       FROM s ORDER BY lang""",
)
def _chao1_vocab_richness(spark, sf_dir):
    """Chao1 species-richness estimate of the unseen vocabulary per
    language (Chao 1984, bias-corrected form) plus the Good-Turing
    coverage estimate 1 - F1/N — the corpus-growth planning readout
    ("how much vocabulary is this corpus still missing?") that
    complements heaps_law_fit and good_turing_bigrams. Everything
    folds through two map-combined groupBys (term frequencies, then
    frequency-of-frequencies); counts are exact int64 and the Chao1 /
    coverage formulas are one final fixed IEEE tree per language."""
    toks = _tokens(spark, sf_dir)
    tok = toks.select("lang", F.explode("tokens").alias("token"))
    tf = tok.groupBy("lang", "token").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    fof = tf.groupBy("lang", "c").agg(F.count(F.lit(1)).cast("long").alias("f"))
    s = fof.groupBy("lang").agg(
        F.sum("f").cast("long").alias("s_obs"),
        F.sum(F.when(F.col("c") == 1, F.col("f")).otherwise(F.lit(0)))
        .cast("long")
        .alias("f1"),
        F.sum(F.when(F.col("c") == 2, F.col("f")).otherwise(F.lit(0)))
        .cast("long")
        .alias("f2"),
        F.sum(F.col("c") * F.col("f")).cast("long").alias("n_tokens"),
    )
    return s.select(
        "lang",
        "s_obs",
        "f1",
        "f2",
        "n_tokens",
        F.round(
            F.col("s_obs").cast("double")
            + F.col("f1").cast("double")
            * (F.col("f1") - 1).cast("double")
            / (F.lit(2.0) * (F.col("f2") + 1).cast("double")),
            4,
        ).alias("chao1"),
        F.round(
            F.lit(1.0) - F.col("f1").cast("double") / F.col("n_tokens").cast("double"),
            6,
        ).alias("coverage"),
    ).orderBy("lang")


# ------------------------------------------------ Yule's K diversity


@q(
    "yule_k_diversity",
    """WITH tok AS (
         SELECT lang, unnest(list_filter(string_split(lower(text), ' '),
                                         t -> t <> '')) AS token
         FROM documents),
       tf AS (SELECT lang, token, CAST(count(*) AS BIGINT) AS c
              FROM tok GROUP BY 1, 2),
       fof AS (SELECT lang, c, CAST(count(*) AS BIGINT) AS f
               FROM tf GROUP BY 1, 2),
       s AS (SELECT lang,
                    CAST(sum(f) AS BIGINT) AS vocab,
                    CAST(sum(c * f) AS BIGINT) AS n_tokens,
                    CAST(sum(c * c * f) AS BIGINT) AS sum_c2
             FROM fof GROUP BY 1)
       SELECT lang, n_tokens, vocab,
              round(CAST(10000 AS DOUBLE)
                    * CAST(sum_c2 - n_tokens AS DOUBLE)
                    / (CAST(n_tokens AS DOUBLE) * CAST(n_tokens AS DOUBLE)), 4)
                AS yule_k
       FROM s ORDER BY lang""",
)
def _yule_k_diversity(spark, sf_dir):
    """Yule's characteristic K (Yule 1944) per language — the
    repeat-rate lexical-diversity statistic that, unlike TTR, is
    length-invariant: K = 10^4 * (sum_f f^2*V_f - N)/N^2, entirely
    from the frequency-of-frequencies level table (the same relation
    Chao1 and Good-Turing consume), all sums exact int64 and one
    final double. High K = repetitive corpus slice — the quality
    signal used alongside gopher_repetition_battery."""
    toks = _tokens(spark, sf_dir)
    tok = toks.select("lang", F.explode("tokens").alias("token"))
    tf = tok.groupBy("lang", "token").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    fof = tf.groupBy("lang", "c").agg(F.count(F.lit(1)).cast("long").alias("f"))
    s = fof.groupBy("lang").agg(
        F.sum("f").cast("long").alias("vocab"),
        F.sum(F.col("c") * F.col("f")).cast("long").alias("n_tokens"),
        F.sum(F.col("c") * F.col("c") * F.col("f")).cast("long").alias("sum_c2"),
    )
    nd = F.col("n_tokens").cast("double")
    return s.select(
        "lang",
        "n_tokens",
        "vocab",
        F.round(
            F.lit(10000.0) * (F.col("sum_c2") - F.col("n_tokens")).cast("double")
            / (nd * nd),
            4,
        ).alias("yule_k"),
    ).orderBy("lang")


# ------------------------------------------------ token burstiness


@q(
    "token_burstiness_topk",
    """WITH tok AS (
         SELECT doc_id, unnest(list_filter(string_split(lower(text), ' '),
                                           t -> t <> '')) AS token
         FROM documents),
       s AS (SELECT token, CAST(count(*) AS BIGINT) AS tf,
                    CAST(count(DISTINCT doc_id) AS BIGINT) AS df
             FROM tok GROUP BY 1)
       SELECT token, tf, df,
              CAST(tf * 1000000 // df AS BIGINT) AS burstiness_e6
       FROM s WHERE df >= 20
       ORDER BY tf * 1000000 // df DESC, token ASC
       LIMIT 20""",
)
def _token_burstiness_topk(spark, sf_dir):
    """Token burstiness (Church & Gale 1995): mean occurrences per
    containing document tf/df, exported as an exact e6 integer
    division — bursty tokens (high tf/df) concentrate in few documents
    and are the ones dedup shingles and quality filters should weight;
    uniform tokens approach 1.0. One map-combined count plus one exact
    distinct-doc count per token; top-20 among df>=20 tokens with a
    full tie-break. Dimension-scale output at any corpus size."""
    toks = _tokens(spark, sf_dir)
    tok = toks.select("doc_id", F.explode("tokens").alias("token"))
    s = tok.groupBy("token").agg(
        F.count(F.lit(1)).cast("long").alias("tf"),
        F.countDistinct("doc_id").cast("long").alias("df"),
    )
    return (
        s.filter(F.col("df") >= 20)
        .select(
            "token",
            "tf",
            "df",
            F.expr("cast(tf * 1000000 div df as long)").alias("burstiness_e6"),
        )
        .orderBy(F.col("burstiness_e6").desc(), F.col("token").asc())
        .limit(20)
    )


# ------------------------------------------ source-pair EMD matrix


@q(
    "doc_length_emd_by_source",
    """WITH b AS (SELECT source, CAST(n_chars AS BIGINT) AS nc FROM documents),
       mm AS (SELECT CAST(min(nc) AS BIGINT) AS mn,
                     CAST(max(nc) AS BIGINT) AS mx FROM b),
       pt AS (SELECT source,
                     CAST((b.nc - mm.mn) * 10 // (mm.mx - mm.mn + 1) AS BIGINT)
                       AS bucket
              FROM b CROSS JOIN mm),
       g AS (SELECT DISTINCT bucket FROM pt),
       ns AS (SELECT source, CAST(count(*) AS BIGINT) AS n FROM pt GROUP BY 1),
       cb AS (SELECT source, bucket, CAST(count(*) AS BIGINT) AS c
              FROM pt GROUP BY 1, 2),
       grid AS (SELECT ns.source, ns.n, g.bucket,
                       CAST(coalesce(cb.c, 0) AS BIGINT) AS c
                FROM ns CROSS JOIN g
                LEFT JOIN cb ON cb.source = ns.source AND cb.bucket = g.bucket),
       cum AS (SELECT source, n, bucket,
                      CAST(sum(c) OVER (PARTITION BY source ORDER BY bucket ASC
                        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
               FROM grid),
       pr AS (SELECT a.source AS source_a, b2.source AS source_b,
                     a.n AS na, b2.n AS nb,
                     CAST(sum(abs(a.cum * b2.n - b2.cum * a.n)) AS BIGINT)
                       AS num
              FROM cum a JOIN cum b2
                ON a.bucket = b2.bucket AND a.source < b2.source
              GROUP BY 1, 2, 3, 4)
       SELECT source_a, source_b, na, nb,
              CAST(num * 1000000 // (na * nb * 9) AS BIGINT) AS emd_e6
       FROM pr ORDER BY source_a, source_b""",
)
def _doc_length_emd_by_source(spark, sf_dir):
    """Pairwise 1-D earth-mover distance between every source pair's
    document-length distributions over 10 global equal-width buckets —
    the corpus-mix drift matrix a training-data pipeline checks when a
    new crawl snapshot lands (which sources stopped looking alike?).
    Per-source decile cumsums are partitioned windows over a complete
    source x 10-bucket grid; each pair's EMD numerator is an exact
    int64 fold and the normalized distance an exact e6 integer
    division. Sources are domain-bounded (20 -> 190 pairs); fact-scale
    work is one map-combined groupBy of the documents scan."""
    d = _t(spark, sf_dir, "documents").select(
        "source", F.col("n_chars").cast("long").alias("nc")
    )
    mm = d.agg(
        F.min("nc").cast("long").alias("mn"), F.max("nc").cast("long").alias("mx")
    )
    pt = d.crossJoin(F.broadcast(mm)).select(
        "source",
        F.expr("cast((nc - mn) * 10 div (mx - mn + 1) as long)").alias("bucket"),
    )
    # ONE fact aggregation: the (source, bucket) contingency is
    # domain-bounded (sources x 10) and both the bucket domain and the
    # per-source totals derive from it — unpinned, g/ns/cb each re-ran
    # the documents scan + min-max probe (12 scans at the r8 audit)
    cb = (
        pt.groupBy("source", "bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .localCheckpoint(eager=True)
    )
    g = cb.select("bucket").distinct()
    ns = cb.groupBy("source").agg(F.sum("c").cast("long").alias("n"))
    grid = (
        ns.crossJoin(F.broadcast(g))
        .join(cb, ["source", "bucket"], "left")
        .select(
            "source",
            "n",
            "bucket",
            F.coalesce(F.col("c"), F.lit(0)).cast("long").alias("c"),
        )
    )
    wc = Window.partitionBy("source").orderBy(F.col("bucket").asc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = grid.select(
        "source", "n", "bucket", F.sum("c").over(wc).cast("long").alias("cum")
    )
    a = cum.select(
        F.col("source").alias("source_a"),
        F.col("n").alias("na"),
        "bucket",
        F.col("cum").alias("cuma"),
    )
    b2 = cum.select(
        F.col("source").alias("source_b"),
        F.col("n").alias("nb"),
        "bucket",
        F.col("cum").alias("cumb"),
    )
    pr = (
        a.join(b2, "bucket")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b", "na", "nb")
        .agg(
            F.sum(F.abs(F.col("cuma") * F.col("nb") - F.col("cumb") * F.col("na")))
            .cast("long")
            .alias("num")
        )
    )
    return pr.select(
        "source_a",
        "source_b",
        "na",
        "nb",
        F.expr("cast(num * 1000000 div (na * nb * 9) as long)").alias("emd_e6"),
    ).orderBy("source_a", "source_b")


# ------------------------------------------------ tokenizer OOV rate


@q(
    "vocab_oov_rate",
    f"""WITH {_VOCAB_SQL},
       tok AS (SELECT lang, unnest(list_filter(string_split(lower(text), ' '),
                                               t -> t <> '')) AS token
               FROM documents),
       j AS (SELECT tok.lang, tok.token,
                    CASE WHEN vocab.token IS NULL THEN 1 ELSE 0 END AS oov
             FROM tok LEFT JOIN vocab ON vocab.token = tok.token)
       SELECT lang, CAST(count(*) AS BIGINT) AS n_tokens,
              CAST(sum(oov) AS BIGINT) AS oov_tokens,
              CAST(sum(oov) * 1000000 // count(*) AS BIGINT) AS oov_rate_e6,
              CAST(count(DISTINCT CASE WHEN oov = 1 THEN token END) AS BIGINT)
                AS oov_types
       FROM j GROUP BY 1 ORDER BY lang""",
)
def _vocab_oov_rate(spark, sf_dir):
    """Out-of-vocabulary rate per language against the trained
    dictionary (the same 100-token vocab the tfidf family ships) —
    the tokenizer-coverage readout that decides whether a vocab needs
    retraining when corpus mix shifts. The vocab is a <=100-row
    broadcast; the per-language token/OOV counts are one map-combined
    groupBy plus one exact distinct count of OOV types. Rates are
    exact e6 integer divisions."""
    toks = _tokens(spark, sf_dir)
    tok = toks.select("lang", F.explode("tokens").alias("token"))
    v = _vocab(spark, sf_dir).select("token", F.lit(1).alias("in_v"))
    j = tok.join(F.broadcast(v), "token", "left").select(
        "lang",
        "token",
        F.when(F.col("in_v").isNull(), F.lit(1)).otherwise(F.lit(0)).alias("oov"),
    )
    return (
        j.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.sum("oov").cast("long").alias("oov_tokens"),
            F.expr("cast(sum(oov) * 1000000 div count(1) as long)").alias(
                "oov_rate_e6"
            ),
            F.countDistinct(F.when(F.col("oov") == 1, F.col("token")))
            .cast("long")
            .alias("oov_types"),
        )
        .orderBy("lang")
    )


# ------------------------------------------ bigram entropy rate


@q(
    "bigram_entropy_rate",
    """WITH tok AS (
         SELECT doc_id, lang,
                list_filter(string_split(lower(text), ' '), t -> t <> '') AS toks
         FROM documents),
       t2 AS (SELECT doc_id, lang, unnest(toks) AS token,
                     generate_subscripts(toks, 1) AS pos
              FROM tok),
       bg AS (SELECT lang,
                     token || '|' || lead(token) OVER (
                       PARTITION BY doc_id ORDER BY pos ASC) AS gram,
                     token AS head
              FROM t2 QUALIFY gram IS NOT NULL),
       cb AS (SELECT lang, gram, head, CAST(count(*) AS BIGINT) AS c
              FROM bg GROUP BY 1, 2, 3),
       ch AS (SELECT lang, head, CAST(sum(c) AS BIGINT) AS ch
              FROM cb GROUP BY 1, 2),
       nn AS (SELECT lang, CAST(sum(c) AS BIGINT) AS n FROM cb GROUP BY 1),
       tm AS (SELECT cb.lang,
                     CAST(floor(-(CAST(cb.c AS DOUBLE) / CAST(nn.n AS DOUBLE))
                          * ln(CAST(cb.c AS DOUBLE) / CAST(ch.ch AS DOUBLE))
                          * CAST(1000000000 AS DOUBLE)
                          + CAST(0.5 AS DOUBLE)) AS BIGINT) AS t_e9
              FROM cb
              JOIN ch ON ch.lang = cb.lang AND ch.head = cb.head
              JOIN nn ON nn.lang = cb.lang)
       SELECT tm.lang, nn.n AS n_bigrams,
              round(CAST(sum(tm.t_e9) AS DOUBLE)
                    / CAST(1000000000 AS DOUBLE), 6) AS h_cond,
              round(exp(CAST(sum(tm.t_e9) AS DOUBLE)
                        / CAST(1000000000 AS DOUBLE)), 4) AS perplexity
       FROM tm JOIN nn ON nn.lang = tm.lang
       GROUP BY 1, 2 ORDER BY tm.lang""",
)
def _bigram_entropy_rate(spark, sf_dir):
    """Conditional bigram entropy rate H(next|current) per language —
    the corpus predictability statistic behind perplexity-based
    quality filters (low-entropy slices are boilerplate; high-entropy
    ones are noise), computed as -sum p(xy) ln p(y|x) with each term
    e9-quantized over exact bigram/head counts before the
    vocabulary-bounded sum; the per-language perplexity exp(H) is the
    single final double. Complements token_pmi_topk (which ranks
    individual bigrams) with the corpus-level rate."""
    toks = _tokens(spark, sf_dir)
    t2 = toks.select(
        "doc_id", "lang", F.posexplode("tokens").alias("pos", "token")
    )
    wl = Window.partitionBy("doc_id").orderBy(F.col("pos").asc())
    bg = t2.select(
        "lang",
        F.concat(F.col("token"), F.lit("|"), F.lead("token").over(wl)).alias(
            "gram"
        ),
        F.col("token").alias("head"),
    ).filter(F.col("gram").isNotNull())
    cb = bg.groupBy("lang", "gram", "head").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    ch = cb.groupBy("lang", "head").agg(F.sum("c").cast("long").alias("ch"))
    nn = cb.groupBy("lang").agg(F.sum("c").cast("long").alias("n"))
    tm = (
        cb.join(ch, ["lang", "head"])
        .join(F.broadcast(nn), "lang")
        .select(
            "lang",
            F.floor(
                -(F.col("c").cast("double") / F.col("n").cast("double"))
                * F.log(F.col("c").cast("double") / F.col("ch").cast("double"))
                * F.lit(1000000000.0)
                + F.lit(0.5)
            )
            .cast("long")
            .alias("t_e9"),
        )
    )
    h = tm.groupBy("lang").agg(F.sum("t_e9").cast("long").alias("h_e9"))
    return (
        h.join(F.broadcast(nn), "lang")
        .select(
            "lang",
            F.col("n").alias("n_bigrams"),
            F.round(F.col("h_e9").cast("double") / F.lit(1000000000.0), 6).alias(
                "h_cond"
            ),
            F.round(
                F.exp(F.col("h_e9").cast("double") / F.lit(1000000000.0)), 4
            ).alias("perplexity"),
        )
        .orderBy("lang")
    )


# --------------------------------------------------- TextRank keywords


def _textrank_oracle_sql(iterations: int = 3) -> str:
    base = "((CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / (SELECT n FROM nn))"
    steps = []
    prev = "r0"
    for i in range(1, iterations + 1):
        steps.append(
            f"""rk{i} AS (SELECT e.dst AS node,
                     round({base} + CAST(0.85 AS DOUBLE) * sum(p.r / d.deg), 10) AS r
              FROM edges e JOIN {prev} p ON p.node = e.src JOIN deg d ON d.src = e.src
              GROUP BY e.dst)"""
        )
        prev = f"rk{i}"
    joined = ",\n       ".join(steps)
    return f"""WITH {_VOCAB_SQL}, {_TOK_SQL},
       vt AS (SELECT t.doc_id, t.pos, t.token
              FROM tok t JOIN vocab v ON v.token = t.token),
       e0 AS (SELECT DISTINCT a.token AS src, b.token AS dst
              FROM vt a JOIN vt b
                ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
              WHERE a.token <> b.token),
       edges AS (SELECT src, dst FROM e0 UNION SELECT dst, src FROM e0),
       deg AS (SELECT src, count(*)::DOUBLE AS deg FROM edges GROUP BY 1),
       nn AS (SELECT count(DISTINCT src)::DOUBLE AS n FROM edges),
       r0 AS (SELECT src AS node, CAST(1.0 AS DOUBLE) / (SELECT n FROM nn) AS r
              FROM (SELECT DISTINCT src FROM edges)),
       {joined}
       SELECT node AS token, r AS score,
              CAST(row_number() OVER (ORDER BY r DESC, node ASC) AS BIGINT)
                AS rank
       FROM {prev}
       QUALIFY row_number() OVER (ORDER BY r DESC, node ASC) <= 20"""


@q("textrank_keywords", _textrank_oracle_sql(3))
def _textrank_keywords(spark, sf_dir):
    """TextRank keyword extraction (Mihalcea & Tarau 2004): PageRank
    over the undirected co-occurrence graph of ADJACENT vocab tokens —
    the graph-text bridge that ranks tokens by centrality instead of
    frequency (tfidf_top_tokens' counterpart). The graph is
    vocabulary-bounded (≤ keep_n nodes regardless of corpus size), so
    the 3 power steps are a dimension-table iteration; the fact-scale
    work is the one adjacency scan the shingle pipeline already
    shapes. Same round-10 iterate and deg/teleport algebra as
    pagerank_copurchase; top-20 by (score desc, token asc)."""
    from redshells_spark.operators.graph import pagerank

    toks = _tokens(spark, sf_dir)
    vocab = _vocab(spark, sf_dir)
    # the vocabulary is keep_n-bounded — collect it once (codebook-
    # sized) and extract adjacency IN-ROW from the cached token
    # arrays: zip each token with its successor, keep pairs whose two
    # endpoints are both in vocab. Replaces the posexplode +
    # (doc, pos) self-join — two fact-scale exchanges — with a single
    # explode straight off the cache; adjacency stays defined on the
    # ORIGINAL token positions exactly as the join formulation had it.
    vset = sorted(r["token"] for r in vocab.select("token").collect())
    vlit = F.array(*[F.lit(t) for t in vset])
    ln = F.greatest(F.size("tokens") - 1, F.lit(0))
    zz = F.zip_with(
        F.slice(F.col("tokens"), 1, ln),
        F.slice(F.col("tokens"), 2, ln),
        lambda x, y: F.struct(x.alias("src"), y.alias("dst")),
    )
    e0 = (
        toks.select(F.explode(zz).alias("p"))
        .select("p.src", "p.dst")
        .filter(
            (F.col("src") != F.col("dst"))
            & F.array_contains(vlit, F.col("src"))
            & F.array_contains(vlit, F.col("dst"))
        )
        .distinct()
    )
    edges = e0.unionByName(
        e0.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct()
    pr = pagerank(
        edges,
        iterations=3,
        damping=0.85,
        assume_no_dangling=True,  # symmetrized: every node has out-degree
    )
    wr = Window.orderBy(F.col("rank").desc(), F.col("node").asc())
    return (
        pr.select(
            F.col("node").alias("token"),
            F.col("rank").alias("score"),
            F.row_number().over(wr).cast("long").alias("rank"),
        )
        .filter(F.col("rank") <= 20)
        .orderBy("rank")
    )
