"""Dedup: fingerprints, exact dedup, MinHash LSH, SimHash, n-gram and
containment Jaccard joins, near-dup components, span dedup,
decontamination, record linkage, and the LLM corpus composites built on
them.
"""

from __future__ import annotations

from redshells_spark.queries._shared import *  # noqa: F401,F403


@q(
    "minhash_signatures",
    f"""WITH {_VOCAB_SQL}, {_TOK_SQL}, {_SHINGLE_SQL}
       SELECT doc_id, CAST(j AS BIGINT) AS j, minhash FROM sigs""",
)
def _minhash_signatures(spark, sf_dir):
    from redshells_spark.dedup.minhash import minhash_signatures_from_wide

    sig = minhash_signatures_from_wide(_wide16(spark, sf_dir).drop("sz"), 16)
    return sig.select("doc_id", F.col("j").cast("long").alias("j"), "minhash")


@q(
    "minhash_near_dedup",
    f"""WITH {_VOCAB_SQL}, {_TOK_SQL}, {_SHINGLE_SQL},
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
         GROUP BY c.doc_id_0, c.doc_id_1)
       SELECT i.doc_id_0, i.doc_id_1,
              round(i.inter * 1.0 / (z0.sz + z1.sz - i.inter), 4) AS jaccard
       FROM inter i
       JOIN sz z0 ON z0.doc_id = i.doc_id_0
       JOIN sz z1 ON z1.doc_id = i.doc_id_1
       WHERE i.inter * 1.0 / (z0.sz + z1.sz - i.inter) >= 0.1""",
)
def _minhash_near_dedup(spark, sf_dir):
    out = _vpairs01(spark, sf_dir)
    return out.select("doc_id_0", "doc_id_1", _r4(F.col("jaccard"), "jaccard"))


@q(
    "near_dup_components",
    f"""WITH RECURSIVE {_VOCAB_SQL}, {_TOK_SQL}, {_SHINGLE_SQL},
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
         SELECT reach.id, e.dst FROM reach JOIN edges e ON e.src = reach.r)
       SELECT id AS doc_id, min(r) AS keep_id FROM reach GROUP BY id""",
)
def _near_dup_components(spark, sf_dir):
    """Drop policy over the near-dup graph: every doc labeled with its
    connected component's min id (dedup/minhash.py
    connected_components_dedup — hash-min + pointer doubling,
    checkpointed). Oracle: recursive-CTE transitive closure over the
    SAME pair set DuckDB already value-matches."""
    return _nd_components(spark, sf_dir)


@q(
    "incremental_near_dedup",
    f"""WITH {_VOCAB_SQL}, {_TOK_SQL}, {_SHINGLE_SQL},
       corpus_banded AS (
         SELECT doc_id, CAST(j // 4 AS INTEGER) AS band,
                md5(string_agg(CAST(minhash AS VARCHAR), ',' ORDER BY j ASC)) AS bucket
         FROM sigs WHERE doc_id < 250 AND CAST(j // 4 AS INTEGER) < 4
         GROUP BY doc_id, CAST(j // 4 AS INTEGER)),
       new_banded AS (
         SELECT doc_id, CAST(j // 4 AS INTEGER) AS band,
                md5(string_agg(CAST(minhash AS VARCHAR), ',' ORDER BY j ASC)) AS bucket
         FROM sigs WHERE doc_id >= 250 AND CAST(j // 4 AS INTEGER) < 4
         GROUP BY doc_id, CAST(j // 4 AS INTEGER)),
       cand AS (
         SELECT DISTINCT n.doc_id AS new_doc_id, c.doc_id AS corpus_doc_id
         FROM new_banded n JOIN corpus_banded c
           ON n.band = c.band AND n.bucket = c.bucket),
       est AS (
         SELECT cd.new_doc_id, cd.corpus_doc_id,
                avg(CASE WHEN sn.minhash = sc.minhash THEN 1.0 ELSE 0.0 END) AS est_jaccard
         FROM cand cd
         JOIN sigs sn ON sn.doc_id = cd.new_doc_id
         JOIN sigs sc ON sc.doc_id = cd.corpus_doc_id AND sc.j = sn.j
         GROUP BY cd.new_doc_id, cd.corpus_doc_id)
       SELECT new_doc_id, corpus_doc_id, round(est_jaccard, 4) AS est_jaccard
       FROM est WHERE est_jaccard >= 0.1""",
)
def _incremental_near_dedup(spark, sf_dir):
    """Delta-ingestion near-dedup (dedup/minhash.py
    minhash_dedup_against_index): docs ≥ 250 are the nightly batch,
    docs < 250 the indexed corpus; candidates via band-bucket
    equi-join against the index, scored by the signature-agreement
    Jaccard estimator — corpus text never re-read."""
    from redshells_spark.dedup.minhash import (
        minhash_band_index,
        minhash_dedup_against_index,
    )

    # the shared wide relation is per-doc, so doc-subset filters of it
    # are bit-identical to recomputing signatures on the subset
    wide = _wide16(spark, sf_dir).drop("sz")
    corpus_wide = wide.filter(F.col("doc_id") < 250)
    new_wide = wide.filter(F.col("doc_id") >= 250)
    index = minhash_band_index(corpus_wide, bands=4, rows_per_band=4)
    out = minhash_dedup_against_index(
        new_wide, index, corpus_wide, threshold=0.1, max_bucket_size=1_000_000
    )
    return out.select(
        "new_doc_id", "corpus_doc_id", _r4(F.col("est_jaccard"), "est_jaccard")
    )


@q(
    "decontaminate",
    f"""WITH {_VOCAB_SQL}, {_TOK_SQL},
       ids AS (
         SELECT tok.doc_id, tok.pos, v.token_id
         FROM tok JOIN vocab v ON tok.token = v.token),
       shingles AS (
         SELECT DISTINCT doc_id,
                ((token_id * 1000003 + lead(token_id, 1) OVER (PARTITION BY doc_id ORDER BY pos ASC)) % 2147483647
                  * 1000003 + lead(token_id, 2) OVER (PARTITION BY doc_id ORDER BY pos ASC)) % 2147483647 AS shingle
         FROM ids
         QUALIFY shingle IS NOT NULL),
       bench AS (SELECT DISTINCT shingle FROM shingles WHERE doc_id % 50 = 0),
       contaminated AS (
         SELECT DISTINCT s.doc_id FROM shingles s JOIN bench b ON s.shingle = b.shingle
         WHERE s.doc_id % 50 <> 0)
       SELECT d.doc_id, d.lang, d.source FROM documents d
       WHERE d.doc_id % 50 <> 0
         AND d.doc_id NOT IN (SELECT doc_id FROM contaminated)""",
)
def _decontaminate(spark, sf_dir):
    """Benchmark decontamination (GPT-3 appx C / Dolma-style): docs with
    doc_id % 50 == 0 play the eval benchmark; corpus docs sharing any
    token-id 3-gram shingle with it are dropped (dedup/decontaminate.py,
    broadcast semi-join — the corpus never shuffles)."""
    from redshells_spark.dedup.decontaminate import decontaminate
    from redshells_spark.dedup.minhash import doc_shingles

    docs = _t(spark, sf_dir, "documents")
    sh = doc_shingles(_tokens(spark, sf_dir), _vocab(spark, sf_dir), shingle_len=3)
    is_bench = F.col("doc_id") % 50 == 0
    corpus = docs.filter(~is_bench)
    kept = decontaminate(
        corpus, sh.filter(~is_bench), sh.filter(is_bench)
    )
    return kept.select("doc_id", "lang", "source")


@q(
    "duplicate_spans",
    f"""WITH {_VOCAB_SQL}, {_TOK_SQL},
       ids AS (
         SELECT tok.doc_id, tok.pos, v.token_id
         FROM tok JOIN vocab v ON tok.token = v.token),
       shingles AS (
         SELECT DISTINCT doc_id,
                (token_id * 1000003 + lead(token_id) OVER (PARTITION BY doc_id ORDER BY pos ASC)) % 2147483647 AS shingle
         FROM ids
         QUALIFY shingle IS NOT NULL),
       freq AS (SELECT shingle, count(*) AS n_docs FROM shingles GROUP BY shingle)
       SELECT s.doc_id,
              round(avg(CASE WHEN f.n_docs > 1 THEN 1.0 ELSE 0.0 END), 4) AS dup_fraction
       FROM shingles s JOIN freq f ON s.shingle = f.shingle
       GROUP BY s.doc_id""",
)
def _duplicate_spans(spark, sf_dir):
    """Per-doc duplicated-span fraction (Lee et al. 2021): share of a
    doc's distinct shingles that occur in >1 document
    (dedup/decontaminate.py:duplicate_span_fraction)."""
    from redshells_spark.dedup.decontaminate import duplicate_span_fraction

    sh = _shingles(spark, sf_dir)
    return duplicate_span_fraction(sh)


@q(
    "stratified_sample",
    """SELECT doc_id, lang FROM (
         SELECT doc_id, lang,
                row_number() OVER (
                  PARTITION BY lang
                  ORDER BY md5('7|' || CAST(doc_id AS VARCHAR)) ASC, doc_id ASC
                ) AS rn
         FROM documents)
       WHERE rn <= 40""",
)
def _stratified_sample(spark, sf_dir):
    """Exact per-language quota sampling with the portable md5 order
    (data/sampling.py:stratified_sample_exact — per-group counterpart
    of the reference's shuffle+head SampleData)."""
    from redshells_spark.data.sampling import stratified_sample_exact

    docs = _t(spark, sf_dir, "documents")
    out = stratified_sample_exact(docs, "lang", 40, "doc_id", seed=7)
    return out.select("doc_id", "lang")


@q(
    "domain_mix_weights",
    """WITH counts AS (
         SELECT source, count(*) AS n_rows FROM documents GROUP BY source),
       tot AS (SELECT sum(n_rows) AS total, count(*) AS n_groups FROM counts),
       ratios AS (
         SELECT source, n_rows,
                (1.0 / n_groups) / (n_rows * 1.0 / total) AS ratio
         FROM counts, tot)
       SELECT source, CAST(n_rows AS BIGINT) AS n_rows,
              round(ratio / (SELECT max(ratio) FROM ratios), 4) AS sample_prob
       FROM ratios""",
)
def _domain_mix_weights(spark, sf_dir):
    """Per-source downsampling probabilities toward a uniform domain
    mix (data/sampling.py:domain_mix_weights) — Pile/DoReMi-style
    static corpus reweighting, no upsampling."""
    from redshells_spark.data.sampling import domain_mix_weights

    docs = _t(spark, sf_dir, "documents")
    out = domain_mix_weights(docs, "source")
    return out.select("source", F.col("n_rows").cast("long").alias("n_rows"), "sample_prob")


@q(
    "pack_sequences",
    """WITH tc AS (
         SELECT doc_id, source,
                CAST(len(list_filter(string_split(lower(text), ' '), t -> t <> '')) AS BIGINT) AS n_tokens
         FROM documents)
       SELECT doc_id, source, n_tokens,
              CAST(floor((SUM(n_tokens) OVER (
                     PARTITION BY source ORDER BY doc_id ASC
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) - n_tokens) / 2000.0) AS BIGINT) AS chunk_id
       FROM tc""",
)
def _pack_sequences(spark, sf_dir):
    """Token-budget sequence packing per source shard
    (text/packing.py:pack_sequences): chunk = floor(tokens_before /
    budget) via one window cumsum — the streaming first-fit packers
    use, sharded so no global order exists."""
    from redshells_spark.text.packing import pack_sequences

    toks = _tokens(spark, sf_dir)
    docs = _t(spark, sf_dir, "documents").select("doc_id", "source")
    tc = toks.select("doc_id", F.size("tokens").cast("long").alias("n_tokens")).join(
        docs, on="doc_id"
    )
    out = pack_sequences(tc, budget=2000, partition_column="source")
    return out.select("doc_id", "source", "n_tokens", "chunk_id")


@q(
    "llm_corpus_pipeline",
    f"""WITH RECURSIVE {_VOCAB_SQL}, {_TOK_SQL}, {_SHINGLE_SQL},
       banded AS (
         SELECT doc_id, CAST(j // 4 AS INTEGER) AS band,
                md5(string_agg(CAST(minhash AS VARCHAR), ',' ORDER BY j ASC)) AS bucket
         FROM sigs WHERE CAST(j // 4 AS INTEGER) < 4
         GROUP BY doc_id, CAST(j // 4 AS INTEGER)),
       sized AS (
         SELECT * FROM (
           SELECT band, bucket, doc_id,
                  count(*) OVER (PARTITION BY band, bucket) AS bsz
           FROM banded) WHERE bsz <= 1000),
       cand AS (
         SELECT DISTINCT a.doc_id AS doc_id_0, b.doc_id AS doc_id_1
         FROM sized a JOIN sized b ON a.band = b.band AND a.bucket = b.bucket
         WHERE a.doc_id < b.doc_id),
       zz AS (SELECT doc_id, count(*) AS sz FROM shingles GROUP BY doc_id),
       inter AS (
         SELECT c.doc_id_0, c.doc_id_1, count(*) AS inter
         FROM cand c
         JOIN shingles s0 ON s0.doc_id = c.doc_id_0
         JOIN shingles s1 ON s1.doc_id = c.doc_id_1 AND s1.shingle = s0.shingle
         GROUP BY c.doc_id_0, c.doc_id_1),
       pairs AS (
         SELECT i.doc_id_0, i.doc_id_1 FROM inter i
         JOIN zz z0 ON z0.doc_id = i.doc_id_0
         JOIN zz z1 ON z1.doc_id = i.doc_id_1
         WHERE i.inter * 1.0 / (z0.sz + z1.sz - i.inter) >= 0.1),
       edges AS (
         SELECT doc_id_0 AS src, doc_id_1 AS dst FROM pairs
         UNION ALL SELECT doc_id_1, doc_id_0 FROM pairs),
       reach(id, r) AS (
         SELECT DISTINCT src, src FROM edges
         UNION
         SELECT reach.id, e.dst FROM reach JOIN edges e ON e.src = reach.r),
       comp AS (SELECT id AS doc_id, min(r) AS keep_id FROM reach GROUP BY id),
       lang AS (
         SELECT doc_id, CASE
             WHEN greatest(hits_de, hits_en, hits_es, hits_fr) = 0 THEN 'und'
             WHEN hits_de = greatest(hits_de, hits_en, hits_es, hits_fr) THEN 'de'
             WHEN hits_en = greatest(hits_de, hits_en, hits_es, hits_fr) THEN 'en'
             WHEN hits_es = greatest(hits_de, hits_en, hits_es, hits_fr) THEN 'es'
             ELSE 'fr' END AS lang_pred
         FROM (SELECT doc_id, {_LANG_HITS_SQL} FROM documents) h),
       qual AS (
         SELECT doc_id, CAST(round(
             (CASE WHEN n_tokens >= 10 AND n_tokens <= 100000 THEN 0.4 ELSE 0.0 END)
             + (CASE WHEN stop_hits / greatest(n_tokens, 1) >= 0.05 THEN 0.3 ELSE 0.0 END)
             + (CASE WHEN punct / greatest(n_chars, 1) <= 0.3 THEN 0.3 ELSE 0.0 END), 4) AS DOUBLE) AS quality,
             CAST(n_tokens AS BIGINT) AS n_tokens
         FROM (SELECT doc_id, length(text) AS n_chars,
                 CAST(len(list_filter(string_split(lower(text), ' '), t -> t <> '')) AS BIGINT) AS n_tokens,
                 CAST(len(list_filter(string_split(lower(text), ' '),
                      t -> t IN ('the','and','of','to','in','is','that','with','for','it'))) AS BIGINT) AS stop_hits,
                 length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')) AS punct
               FROM documents) b),
       survivors AS (
         SELECT d.doc_id, l.lang_pred, q.quality, q.n_tokens, md5(d.text) AS fp
         FROM documents d
         JOIN lang l ON l.doc_id = d.doc_id AND l.lang_pred = 'en'
         JOIN qual q ON q.doc_id = d.doc_id AND q.quality >= 0.7),
       exact_kept AS (
         SELECT * FROM (
           SELECT *, min(doc_id) OVER (PARTITION BY fp) AS keep
           FROM survivors) WHERE doc_id = keep)
       SELECT e.doc_id, e.lang_pred, e.quality, e.n_tokens
       FROM exact_kept e
       LEFT JOIN comp c ON c.doc_id = e.doc_id
       WHERE c.doc_id IS NULL OR c.keep_id = e.doc_id""",
)
def _llm_corpus_pipeline(spark, sf_dir):
    """End-to-end corpus cleaning, the composite a 100 TB training-data
    pipeline runs nightly: language filter → quality filter → exact
    dedup (md5 keep-first) → near-dup drop (MinHash LSH components,
    non-canonical members removed). Every stage is the already-
    oracle-verified operator; this query value-checks their
    composition."""
    docs = _t(spark, sf_dir, "documents")
    lang = detect_language(docs).select("doc_id", "lang_pred")
    qual = quality_score(docs).select(
        "doc_id", F.col("quality"), F.col("n_tokens").cast("long").alias("n_tokens")
    )
    survivors = (
        docs.select("doc_id", "text")
        .join(lang.filter(F.col("lang_pred") == "en"), on="doc_id")
        .join(qual.filter(F.col("quality") >= 0.7), on="doc_id")
        .withColumn("fp", F.md5("text"))
    )
    w = Window.partitionBy("fp")
    exact_kept = (
        survivors.withColumn("keep", F.min("doc_id").over(w))
        .filter(F.col("doc_id") == F.col("keep"))
        .drop("keep", "fp", "text")
    )
    # near-dup components over the full corpus (same graph the
    # near_dup_components query verifies); drop non-canonical members.
    # The production bucket-size guard (1000) is ON and mirrored by the
    # oracle's `sized` CTE — the unguarded variant went output-quadratic
    # on the factor-10 probe (25x wall; dense synthetic near-dup graph).
    comp = _nd_components(spark, sf_dir)
    non_canonical = comp.filter(F.col("doc_id") != F.col("keep_id")).select("doc_id")
    return exact_kept.join(non_canonical, on="doc_id", how="left_anti").select(
        "doc_id", "lang_pred", _r4(F.col("quality"), "quality"), "n_tokens"
    )


@q(
    "ngram_jaccard",
    """WITH tok AS (
         SELECT doc_id, source, unnest(toks) AS token, generate_subscripts(toks, 1) AS pos
         FROM (SELECT doc_id, source, list_filter(string_split(lower(text), ' '), t -> t <> '') AS toks
               FROM documents)),
       grams AS (
         SELECT DISTINCT doc_id, source,
                token || '␟' || lead(token) OVER (PARTITION BY doc_id ORDER BY pos ASC) AS gram
         FROM tok QUALIFY gram IS NOT NULL),
       sz AS (SELECT doc_id, count(*) AS sz FROM grams GROUP BY doc_id),
       pairs AS (
         SELECT DISTINCT a.doc_id AS doc_id_0, b.doc_id AS doc_id_1
         FROM (SELECT DISTINCT doc_id, source FROM grams) a
         JOIN (SELECT DISTINCT doc_id, source FROM grams) b
           ON a.source = b.source AND a.doc_id < b.doc_id),
       inter AS (
         SELECT p.doc_id_0, p.doc_id_1, count(*) AS inter
         FROM pairs p
         JOIN grams g0 ON g0.doc_id = p.doc_id_0
         JOIN grams g1 ON g1.doc_id = p.doc_id_1 AND g1.gram = g0.gram
         GROUP BY p.doc_id_0, p.doc_id_1)
       SELECT i.doc_id_0, i.doc_id_1,
              round(i.inter * 1.0 / (z0.sz + z1.sz - i.inter), 4) AS jaccard
       FROM inter i JOIN sz z0 ON z0.doc_id = i.doc_id_0
       JOIN sz z1 ON z1.doc_id = i.doc_id_1
       WHERE i.inter * 1.0 / (z0.sz + z1.sz - i.inter) >= 0.1""",
)
def _ngram_jaccard(spark, sf_dir):
    """Candidate pairs come from the SOURCE-BLOCKED exact prefix-filter
    join (dedup/ppjoin.py) at τ=1/10 — the prefix filter is exact at
    ANY threshold (only the prefix gets longer as τ drops), and the
    relation is same-source by definition so block equality composes
    into the candidate join for free: pairs are generated only where a
    prefix bigram is shared WITHIN a source, never |D|²/source and
    never the global shared-element fan-out. The output pair set is
    identical to the oracle's quadratic same-source universe. Threshold
    is the integer form inter·10 ≥ union ⟺ inter/union ≥ 0.1 exactly."""
    from redshells_spark.dedup.ppjoin import pairs_from_rank_sorted

    bp = pairs_from_rank_sorted(
        _gram_index(spark, sf_dir),
        threshold_num=1,
        threshold_den=10,
    )
    return bp.select(
        F.col("id_0").alias("doc_id_0"),
        F.col("id_1").alias("doc_id_1"),
        _r4(F.col("inter") / F.col("union_sz"), "jaccard"),
    )


# SimHash oracle: DuckDB recomputes the 60-bit portable signatures
# digit-by-digit from md5 hex (engine-independent), then mirrors the
# block-permutation candidate join and Hamming filter. All generated
# SQL below is pure int64 arithmetic — no engine hash involved.
_SIMHASH_HEX2INT = " + ".join(
    f"(instr('0123456789abcdef', substr(h16, {i + 1}, 1)) - 1) * {16 ** (14 - i)}"
    for i in range(15)
)
_SIMHASH_BITSUMS = ",\n                ".join(
    f"sum(CASE WHEN (h >> {b}) & 1 = 1 THEN tf ELSE -tf END) AS b{b}"
    for b in range(60)
)
_SIMHASH_PACK = " | ".join(
    f"(CASE WHEN b{b} > 0 THEN (1::BIGINT << {b}) ELSE 0::BIGINT END)"
    for b in range(60)
)


@q(
    "simhash_near_dup",
    f"""WITH {_TOK_SQL},
       tf AS (SELECT doc_id, token, count(*)::BIGINT AS tf
              FROM tok GROUP BY doc_id, token),
       h AS (SELECT doc_id, tf, ({_SIMHASH_HEX2INT}) AS h
             FROM (SELECT doc_id, tf, md5(token) AS h16 FROM tf)),
       bs AS (SELECT doc_id, {_SIMHASH_BITSUMS}
              FROM h GROUP BY doc_id),
       sig AS (SELECT doc_id, ({_SIMHASH_PACK}) AS simhash FROM bs),
       blk AS (SELECT doc_id, simhash, i AS block_idx,
                      (simhash >> (i * 6)) & 63 AS block_val
               FROM sig, (SELECT unnest(range(9)) AS i)),
       cand AS (SELECT DISTINCT l.doc_id AS doc_id_0, r.doc_id AS doc_id_1,
                       l.simhash AS sh0, r.simhash AS sh1
                FROM blk l JOIN blk r
                  ON l.block_idx = r.block_idx AND l.block_val = r.block_val
                 AND l.doc_id < r.doc_id)
       SELECT doc_id_0, doc_id_1, bit_count(xor(sh0, sh1))::BIGINT AS hamming
       FROM cand WHERE bit_count(xor(sh0, sh1)) <= 8""",
)
def _simhash_near_dup(spark, sf_dir):
    """Portable-hash simhash (md5-hex-derived 60-bit) so the full
    signature→candidates→Hamming pipeline is oracle-checkable; the
    xxhash64 default stays the engine hot path (same plan shape)."""
    sig = simhash_signatures(_tokens(spark, sf_dir), portable=True)
    out = simhash_near_dup_pairs(sig, max_hamming=8, bits=60)
    return out.select(
        "doc_id_0", "doc_id_1", F.col("hamming").cast("long").alias("hamming")
    )


@q(
    "cross_doc_line_dedup",
    """WITH t AS (SELECT doc_id,
                         list_filter(string_split(text, ' '), x -> x <> '') AS toks
                  FROM documents),
       b AS (SELECT doc_id, CAST(bi AS BIGINT) AS pos,
                    array_to_string(toks[bi * 8 + 1 : bi * 8 + 8], ' ') AS unit
             FROM (SELECT doc_id, toks, unnest(range(0, (len(toks) + 7) // 8)) AS bi
                   FROM t WHERE len(toks) > 0)),
       j AS (SELECT doc_id, pos, unit,
                    count(*) OVER (PARTITION BY md5(unit)) AS cnt,
                    row_number() OVER (PARTITION BY md5(unit)
                                       ORDER BY doc_id ASC, pos ASC) AS rn
             FROM b),
       k AS (SELECT doc_id, pos, unit, (cnt < 2 OR rn = 1) AS keep FROM j)
       SELECT doc_id, count(*)::BIGINT AS n_units,
              sum(CASE WHEN keep THEN 0 ELSE 1 END)::BIGINT AS n_dropped,
              coalesce(string_agg(CASE WHEN keep THEN unit END, ' '
                                  ORDER BY pos ASC), '') AS text
       FROM k GROUP BY doc_id""",
)
def _cross_doc_line_dedup(spark, sf_dir):
    """CCNet paragraph dedup (dedup/lines.py, Wenzek et al. 2020):
    hash every unit corpus-wide, keep only the globally-first
    occurrence of any repeated unit, reconstruct documents. ONE
    map-combined groupBy on the 32-byte unit hash + an equi-join back
    (groupBy+join, not a hash-partition window: a boilerplate unit in
    billions of docs stays a combinable aggregate row — skew-safe).
    The synthetic corpus has no newline structure, so units are
    non-overlapping 8-token blocks (block_units); real corpora use
    split_units('\\n')."""
    from redshells_spark.dedup.lines import block_units, cross_doc_unit_dedup

    docs = _t(spark, sf_dir, "documents")
    units = block_units(docs, block_tokens=8)
    return cross_doc_unit_dedup(units, min_occurrences=2)


@q(
    "source_overlap_matrix",
    """WITH fp AS (
         SELECT DISTINCT source,
                md5(trim(regexp_replace(regexp_replace(lower(text),
                    '[^a-z0-9\\s]', '', 'g'), '\\s+', ' ', 'g'))) AS fingerprint
         FROM documents),
       sz AS (SELECT source, count(*) AS n FROM fp GROUP BY 1),
       sh AS (SELECT a.source AS source_a, b.source AS source_b,
                     count(*) AS n_shared
              FROM fp a JOIN fp b
                ON a.fingerprint = b.fingerprint AND a.source < b.source
              GROUP BY 1, 2),
       pairs AS (SELECT sa.source AS source_a, sa.n AS n_a,
                        sb.source AS source_b, sb.n AS n_b
                 FROM sz sa, sz sb WHERE sa.source < sb.source)
       SELECT p.source_a, p.source_b,
              CAST(coalesce(sh.n_shared, 0) AS BIGINT) AS n_shared,
              CAST(p.n_a AS BIGINT) AS n_a,
              CAST(p.n_b AS BIGINT) AS n_b,
              CAST(coalesce(sh.n_shared, 0) AS DOUBLE)
                / (p.n_a + p.n_b - coalesce(sh.n_shared, 0)) AS jaccard
       FROM pairs p
       LEFT JOIN sh ON sh.source_a = p.source_a AND sh.source_b = p.source_b""",
)
def _source_overlap_matrix(spark, sf_dir):
    """Cross-source exact-duplicate leakage matrix (dedup/exact.py
    cross_source_overlap): which corpus sources copy from each other,
    on normalized-text fingerprints. The self-join runs on DISTINCT
    (source, 32-byte hash) rows so fan-out is bounded by the source
    count per hash, never corpus size; the full pair matrix is
    emitted (zero rows included) and the jaccard is one
    identical-operand IEEE division — full-precision export."""
    from redshells_spark.dedup.exact import cross_source_overlap

    docs = _t(spark, sf_dir, "documents")
    return cross_source_overlap(docs)


@q(
    "within_doc_token_dedup",
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
       e AS (SELECT doc_id, len(toks) AS n, unnest(range(1, len(toks) + 1)) AS pos, toks FROM t),
       x AS (SELECT doc_id, n, pos, toks[pos] AS unit FROM e),
       k AS (SELECT doc_id, n, pos, unit,
                    row_number() OVER (PARTITION BY doc_id, unit ORDER BY pos ASC) AS rn
             FROM x)
       SELECT doc_id, string_agg(unit, ' ' ORDER BY pos ASC) AS text,
              max(n)::BIGINT AS n_units, (max(n) - count(*))::BIGINT AS n_removed
       FROM k WHERE rn = 1 GROUP BY doc_id""",
)
def _within_doc_token_dedup(spark, sf_dir):
    """C4-style within-document dedup (text/chunking.py): drop
    repeated units keeping the first occurrence, rebuild the text in
    original order. Registered on tokens (the corpus has no newlines);
    the line variant is the same operator with unit_sep='\\n'."""
    from redshells_spark.text.chunking import dedup_within_doc

    return dedup_within_doc(_t(spark, sf_dir, "documents"))


@q(
    "minhash_dedup_eval",
    f"""WITH {_VOCAB_SQL}, {_TOK_SQL}, {_SHINGLE_SQL},
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
         SELECT s0.doc_id AS doc_id_0, s1.doc_id AS doc_id_1, count(*) AS inter
         FROM shingles s0 JOIN shingles s1
           ON s1.shingle = s0.shingle AND s0.doc_id < s1.doc_id
         GROUP BY 1, 2),
       truth AS (
         SELECT i.doc_id_0, i.doc_id_1
         FROM inter i
         JOIN sz z0 ON z0.doc_id = i.doc_id_0
         JOIN sz z1 ON z1.doc_id = i.doc_id_1
         WHERE 10 * i.inter >= (z0.sz + z1.sz - i.inter)),
       hit AS (SELECT count(*) AS n FROM cand c
               JOIN truth t ON t.doc_id_0 = c.doc_id_0 AND t.doc_id_1 = c.doc_id_1),
       nc AS (SELECT count(*) AS n FROM cand),
       nt AS (SELECT count(*) AS n FROM truth)
       SELECT CAST(nc.n AS BIGINT) AS n_candidates,
              CAST(nt.n AS BIGINT) AS n_truth,
              CAST(hit.n AS BIGINT) AS n_hits,
              CAST((2 * hit.n * 1000000 + nc.n) // (2 * nc.n) AS BIGINT) AS precision_e6,
              CAST((2 * hit.n * 1000000 + nt.n) // (2 * nt.n) AS BIGINT) AS recall_e6
       FROM nc, nt, hit""",
)
def _minhash_dedup_eval(spark, sf_dir):
    """Dedup-quality evaluation: precision/recall of the banded-LSH
    candidate set against EXACT shingle-Jaccard ≥ 0.1 ground truth
    (dedup/minhash.py candidates vs a shingle self-join). The ≥ t test
    is the integer comparison 10·|∩| ≥ |∪| and the exports exact
    (2a+b) div 2b ratios — no float anywhere, so the measured quality
    of the dedup tier is itself oracle-exact. The exact side is
    by-contract bounded (shingle co-occurrence join) — it's the
    measurement harness, not the production path; run it on samples
    at scale."""
    sh = _shingles(spark, sf_dir)
    cand = _cand44(spark, sf_dir).select("doc_id_0", "doc_id_1")
    sz = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    s0 = sh.select(F.col("doc_id").alias("doc_id_0"), "shingle")
    s1 = sh.select(F.col("doc_id").alias("doc_id_1"), "shingle")
    inter = (
        s0.join(s1, "shingle")
        .filter(F.col("doc_id_0") < F.col("doc_id_1"))
        .groupBy("doc_id_0", "doc_id_1")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    truth = (
        inter.join(sz.withColumnRenamed("doc_id", "doc_id_0").withColumnRenamed("sz", "sz0"), "doc_id_0")
        .join(sz.withColumnRenamed("doc_id", "doc_id_1").withColumnRenamed("sz", "sz1"), "doc_id_1")
        .filter(10 * F.col("inter") >= (F.col("sz0") + F.col("sz1") - F.col("inter")))
        .select("doc_id_0", "doc_id_1")
        # referenced by both the hit join and the n_truth count — pin it
        # so the shingle co-occurrence self-join (the expensive subtree)
        # runs once; output is the bounded >=0.1-Jaccard pair relation
        .localCheckpoint(eager=True)
    )
    hits = cand.join(truth, ["doc_id_0", "doc_id_1"]).agg(
        F.count(F.lit(1)).alias("n_hits")
    )
    counts = (
        cand.agg(F.count(F.lit(1)).alias("n_candidates"))
        .crossJoin(truth.agg(F.count(F.lit(1)).alias("n_truth")))
        .crossJoin(hits)
    )
    return counts.select(
        "n_candidates",
        "n_truth",
        "n_hits",
        F.expr("(2 * n_hits * 1000000 + n_candidates) div (2 * n_candidates)").alias("precision_e6"),
        F.expr("(2 * n_hits * 1000000 + n_truth) div (2 * n_truth)").alias("recall_e6"),
    )


@q(
    "repeated_span_dedup",
    f"""WITH {_TOK0_SQL},
       sh AS (
         SELECT doc_id, pos,
                md5(token || ' ' || lead(token, 1) OVER w
                          || ' ' || lead(token, 2) OVER w
                          || ' ' || lead(token, 3) OVER w) AS shingle
         FROM tok
         WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
         QUALIFY lead(token, 3) OVER w IS NOT NULL),
       dup AS (SELECT shingle FROM sh GROUP BY shingle HAVING count(*) >= 2),
       dpos AS (SELECT s.doc_id, s.pos FROM sh s JOIN dup USING (shingle)),
       isl AS (
         SELECT doc_id, pos,
                CASE WHEN max(pos + 3) OVER prev IS NULL
                       OR pos > max(pos + 3) OVER prev + 1
                     THEN 1 ELSE 0 END AS ni
         FROM dpos
         WINDOW prev AS (PARTITION BY doc_id ORDER BY pos
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
       isl2 AS (
         SELECT doc_id, pos,
                sum(ni) OVER (PARTITION BY doc_id ORDER BY pos) AS island
         FROM isl),
       spans AS (
         SELECT doc_id, island, min(pos) AS s, max(pos) + 3 AS e
         FROM isl2 GROUP BY doc_id, island),
       per AS (
         SELECT doc_id, count(*) AS n_spans,
                CAST(sum(e - s + 1) AS BIGINT) AS dup_tokens
         FROM spans GROUP BY doc_id),
       tot AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens FROM tok GROUP BY doc_id)
       SELECT t.doc_id, t.n_tokens,
              CAST(coalesce(p.n_spans, 0) AS BIGINT) AS n_spans,
              CAST(coalesce(p.dup_tokens, 0) AS BIGINT) AS dup_tokens,
              round(coalesce(p.dup_tokens, 0) / greatest(t.n_tokens, 1), 4) AS dup_fraction
       FROM tot t LEFT JOIN per p USING (doc_id)""",
)
def _repeated_span_dedup(spark, sf_dir):
    """Corpus-internal repeated-substring spans, Lee et al. 2022
    (arXiv:2107.06499): every 4-token shingle occurring >= 2 times
    corpus-wide marks its positions duplicated; maximal merged spans
    are reported per document (dedup/spans.py:repeated_span_report).
    Beyond-reference surface — the reference dedups whole docs only."""
    from redshells_spark.dedup.spans import repeated_span_report

    return repeated_span_report(
        _tokens(spark, sf_dir), shingle_len=4, min_count=2
    )


@q(
    "lsh_parameter_plan",
    """WITH d AS (
         SELECT CAST(b AS BIGINT) AS bands, CAST(128 // b AS BIGINT) AS rows_per_band
         FROM (SELECT unnest(generate_series(1, 128)) AS b)
         WHERE 128 % b = 0),
       s AS (
         SELECT bands, rows_per_band,
                pow(1.0 / bands, 1.0 / rows_per_band) AS thr,
                1.0 - pow(1.0 - pow(0.8, rows_per_band), bands) AS pt,
                1.0 - pow(1.0 - pow(0.4, rows_per_band), bands) AS pf,
                CAST(floor(abs(pow(1.0 / bands, 1.0 / rows_per_band) - 0.8) * 1000000 + 0.5) AS BIGINT) AS dist
         FROM d),
       m AS (
         SELECT s.*, min(dist) OVER () AS best_dist FROM s),
       m2 AS (
         SELECT m.*, max(CASE WHEN dist = best_dist THEN bands END) OVER () AS best_bands FROM m)
       SELECT bands, rows_per_band,
              round(thr, 4) AS threshold_est,
              round(pt, 4) AS p_at_target,
              round(1.0 - pt, 4) AS fn_at_target,
              round(pf, 4) AS fp_at_probe,
              (dist = best_dist AND bands = best_bands) AS selected
       FROM m2""",
)
def _lsh_parameter_plan(spark, sf_dir):
    """MMDS §3.4.3 S-curve planner: score every (bands, rows) split of
    a 128-perm MinHash signature and flag the factorization whose
    collision threshold (1/b)^(1/r) lands nearest the 0.8 target
    (dedup/lsh_plan.py:lsh_parameter_plan). Argmin compared in integer
    micro-units so engines never compare raw doubles."""
    from redshells_spark.dedup.lsh_plan import lsh_parameter_plan

    return lsh_parameter_plan(
        spark, n_perm=128, target_jaccard=0.8, fp_probe_jaccard=0.4
    )


@q(
    "contamination_spans",
    f"""WITH {_TOK0_SQL},
       srcmap AS (SELECT doc_id, source FROM documents),
       sh AS (
         SELECT doc_id, pos,
                md5(token || ' ' || lead(token, 1) OVER w
                          || ' ' || lead(token, 2) OVER w
                          || ' ' || lead(token, 3) OVER w) AS shingle
         FROM tok
         WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
         QUALIFY lead(token, 3) OVER w IS NOT NULL),
       bench AS (
         SELECT DISTINCT shingle
         FROM sh JOIN srcmap USING (doc_id) WHERE source = 'src0'),
       cpos AS (
         SELECT s.doc_id, s.pos
         FROM sh s JOIN srcmap m USING (doc_id)
         WHERE m.source <> 'src0'
           AND s.shingle IN (SELECT shingle FROM bench)),
       isl AS (
         SELECT doc_id, pos,
                CASE WHEN max(pos + 3) OVER prev IS NULL
                       OR pos > max(pos + 3) OVER prev + 1
                     THEN 1 ELSE 0 END AS ni
         FROM cpos
         WINDOW prev AS (PARTITION BY doc_id ORDER BY pos
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)),
       isl2 AS (
         SELECT doc_id, pos,
                sum(ni) OVER (PARTITION BY doc_id ORDER BY pos) AS island
         FROM isl),
       spans AS (
         SELECT doc_id, island, min(pos) AS s, max(pos) + 3 AS e
         FROM isl2 GROUP BY doc_id, island),
       per AS (
         SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans,
                CAST(sum(e - s + 1) AS BIGINT) AS leaked_tokens
         FROM spans GROUP BY doc_id),
       tot AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens
               FROM tok GROUP BY doc_id)
       SELECT p.doc_id, t.n_tokens, p.n_spans, p.leaked_tokens,
              round(p.leaked_tokens / greatest(t.n_tokens, 1), 4) AS leaked_fraction
       FROM per p JOIN tot t USING (doc_id)""",
)
def _contamination_spans(spark, sf_dir):
    """Span-level decontamination (GPT-3 appendix C, with positions):
    the exact token ranges where a corpus document reproduces a 4-gram
    of the held-out benchmark (source src0 stands in), via a broadcast
    semi-probe of the benchmark's shingles — the corpus is never
    shuffled (dedup/spans.py:contamination_span_report)."""
    from redshells_spark.dedup.spans import contamination_span_report

    docs = _tokens(spark, sf_dir)
    corpus = docs.filter(F.col("source") != "src0")
    bench = docs.filter(F.col("source") == "src0")
    return contamination_span_report(corpus, bench, shingle_len=4)


@q(
    "near_dup_canonical_pick",
    f"""WITH RECURSIVE {_VOCAB_SQL}, {_TOK_SQL}, {_COMPONENTS_SQL}, {_NTOK_SQL},
       lab AS (
         SELECT n.doc_id, n.n_tokens,
                CAST(coalesce(c.keep_id, n.doc_id) AS BIGINT) AS component
         FROM ntok n LEFT JOIN comp c USING (doc_id)),
       can AS (
         SELECT *,
                first_value(doc_id) OVER (
                  PARTITION BY component
                  ORDER BY n_tokens DESC, doc_id ASC
                  ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
                ) AS canonical_id
         FROM lab)
       SELECT doc_id, n_tokens, component,
              CAST(canonical_id AS BIGINT) AS canonical_id,
              CAST(CASE WHEN doc_id = canonical_id THEN 1 ELSE 0 END AS BIGINT) AS is_canonical
       FROM can""",
)
def _near_dup_canonical_pick(spark, sf_dir):
    """Keep-longest canonicalization over the near-dup graph: every
    doc labeled with its component and the component's most-token
    member (dedup/canonical.py canonical_pick — the CCNet keep-longest
    policy, vs the min-id drop near_dup_components reports). Bounded
    per-component windows; singleton docs are their own component."""
    from redshells_spark.dedup.canonical import canonical_pick

    return canonical_pick(_near_dup_labeled(spark, sf_dir), "n_tokens").select(
        "doc_id", "n_tokens", "component", "canonical_id", "is_canonical"
    )


# ------------------------------------------------------------ Min-K% Prob

_MINK_LM_SQL = """tok AS (
         SELECT doc_id, list_filter(string_split(lower(text), ' '), t -> t <> '') AS toks
         FROM documents),
       flat AS (
         SELECT doc_id, unnest(toks) AS token,
                generate_subscripts(toks, 1) AS pos
         FROM tok),
       prs AS (
         SELECT doc_id, pos,
                coalesce(lag(token) OVER (PARTITION BY doc_id ORDER BY pos ASC), '␟<s>') AS prev,
                token AS word
         FROM flat),
       bc AS (SELECT prev, word, count(*) AS n FROM prs GROUP BY 1, 2),
       ctx AS (SELECT prev, sum(n) AS c_prev, count(*) AS n1p_fwd FROM bc GROUP BY 1),
       cont AS (SELECT word, count(*) AS n1p_bwd FROM bc GROUP BY 1),
       ty AS (SELECT count(*) AS n_types FROM bc),
       sc AS (
         SELECT p.doc_id, p.pos,
                log2((greatest(bc.n - CAST(0.75 AS DOUBLE), CAST(0 AS DOUBLE))
                      + CAST(0.75 AS DOUBLE) * ctx.n1p_fwd
                        * (cont.n1p_bwd / ty.n_types))
                     / ctx.c_prev) AS lp
         FROM prs p
         JOIN bc USING (prev, word)
         JOIN ctx USING (prev)
         JOIN cont USING (word), ty)"""


@q(
    "min_k_prob_contamination",
    f"""WITH {_MINK_LM_SQL},
       ranked AS (
         SELECT doc_id, lp,
                row_number() OVER (PARTITION BY doc_id
                                   ORDER BY lp ASC, pos ASC) AS rn,
                count(*) OVER (PARTITION BY doc_id) AS n_scored
         FROM sc)
       SELECT doc_id,
              CAST(max(n_scored) AS BIGINT) AS n_scored,
              CAST(CAST(ceil(0.2 * max(n_scored)) AS BIGINT) AS BIGINT) AS k_min,
              round(avg(CASE WHEN rn <= CAST(ceil(0.2 * n_scored) AS BIGINT)
                             THEN lp END), 4) AS min_k_lp
       FROM ranked GROUP BY doc_id""",
)
def _min_k_prob_contamination(spark, sf_dir):
    """Min-K% Prob pretraining-data detection (Shi et al. 2024,
    "Detecting Pretraining Data from Large Language Models"): a
    document's membership signal is the mean log-probability of its
    LOWEST-20% scoring tokens under a reference LM — members lack the
    few very-improbable outlier tokens that fresh text has. Scored
    with the repo's interpolated KN bigram LM (text/ngram_lm.py, the
    same scorer behind kn_perplexity/ccnet buckets); per-doc bottom-k
    selection is one window with a (lp, pos) total-order tie-break, so
    both engines pick the identical token set. One explode + LM joins
    + one window — no shuffle carries text."""
    docs = _t(spark, sf_dir, "documents")
    lm = _kn_lm(spark, sf_dir)
    toks = docs.select(
        "doc_id", F.posexplode(space_tokens(F.col("text"))).alias("pos0", "word")
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "word")
    w_lag = Window.partitionBy("doc_id").orderBy("pos")
    prs = toks.withColumn(
        "prev", F.coalesce(F.lag("word").over(w_lag), F.lit("␟<s>"))
    )
    d = F.lit(0.75)
    p_cont = F.coalesce(F.col("n1p_bwd"), F.lit(0)) / F.lit(
        float(lm.n_bigram_types)
    )
    p = (
        F.greatest(F.coalesce(F.col("n"), F.lit(0)) - d, F.lit(0.0))
        + d * F.col("n1p_fwd") * p_cont
    ) / F.col("c_prev")
    sc = (
        prs.join(F.broadcast(lm.bigram_counts), ["prev", "word"])
        .join(F.broadcast(lm.context_stats), "prev")
        .join(F.broadcast(lm.continuation_counts), "word", "left")
        .select("doc_id", "pos", F.log2(p).alias("lp"))
    )
    w_rank = Window.partitionBy("doc_id").orderBy(
        F.col("lp").asc(), F.col("pos").asc()
    )
    w_all = Window.partitionBy("doc_id")
    ranked = sc.withColumn("rn", F.row_number().over(w_rank)).withColumn(
        "n_scored", F.count(F.lit(1)).over(w_all)
    )
    return ranked.groupBy("doc_id").agg(
        F.max("n_scored").cast("long").alias("n_scored"),
        F.ceil(0.2 * F.max("n_scored")).cast("long").alias("k_min"),
        F.round(
            F.avg(
                F.when(
                    F.col("rn") <= F.ceil(0.2 * F.col("n_scored")).cast("long"),
                    F.col("lp"),
                )
            ),
            4,
        ).alias("min_k_lp"),
    )


# ----------------------------------------- exact prefix-filter sim join


@session_memo
def _ppjoin_index(spark, sf_dir) -> tuple[DataFrame, int]:
    """→ (index, u): the prefix-filter join's shared,
    threshold-independent rank-sorted shingle index, pinned IN-SESSION
    only, and its distinct-element count u. Every fresh session
    recomputes it from the parquet inputs: no cross-run disk target,
    so a bench/oracle invocation never reads a precomputed
    intermediate (task.py's param-hash targets remain the pipeline
    feature — tests/test_r6c_ops.py::test_ppjoin_index_task_parity —
    but query paths do not use them).

    The ranks are dense 1..u, so the max rank of each set's last
    (highest-ranked) element IS u; it is observed during the job that
    materializes the pin, as ``pin_count`` observes its count. The pin
    is a persist, not a ``localCheckpoint``: the cached relation's
    measured size lets the planner pick broadcast joins up front, where
    the checkpoint's estimated size cost prefix_filter_jaccard 2 and
    containment_dedup_join 3 extra AQE jobs at sf0.01. Feeding u to
    the ppjoin calls switches verification to the inline bitset
    popcount path whenever u fits one int64 word (u ≤ BITSET_UNIVERSE;
    at sf0.1 the shingle universe is 931, so the measured-faster array
    path runs: u is vocabulary²-bounded by the keep_n=100 dictionary
    cap, not corpus-proportional, so a small-universe corpus flips to
    the bitset path automatically at any scale)."""
    from pyspark.sql import Observation
    from pyspark.storagelevel import StorageLevel

    from redshells_spark.dedup.ppjoin import build_rank_sorted_sets

    obs = Observation()
    index = (
        build_rank_sorted_sets(_shingles(spark, sf_dir), "doc_id", "shingle")
        .observe(obs, F.max(F.expr("__rk[size(__rk) - 1].__erk")).alias("u"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    index.count()  # materializes the pin; the observation rides along
    return index, int(obs.get["u"] or 0)


@q(
    "prefix_filter_jaccard",
    f"""WITH {_VOCAB_SQL}, {_TOK_SQL}, {_SHINGLE_SQL},
       freq AS (SELECT shingle AS el, count(*) AS f FROM shingles GROUP BY 1),
       ord AS (SELECT el, row_number() OVER (ORDER BY f ASC, el ASC) AS erk
               FROM freq),
       szs AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS sz
               FROM shingles GROUP BY 1),
       rk AS (
         SELECT s.doc_id, s.shingle AS el, z.sz,
                row_number() OVER (PARTITION BY s.doc_id
                                   ORDER BY o.erk ASC) AS pos
         FROM shingles s JOIN ord o ON o.el = s.shingle
         JOIN szs z USING (doc_id)),
       pre AS (SELECT doc_id, el, sz FROM rk
               WHERE pos <= sz - CAST((8 * sz + 9) // 10 AS BIGINT) + 1),
       cand AS (
         SELECT DISTINCT a.doc_id AS id0, b.doc_id AS id1,
                a.sz AS sz0, b.sz AS sz1
         FROM pre a JOIN pre b ON a.el = b.el
         WHERE a.doc_id < b.doc_id
           AND a.sz * 10 >= b.sz * 8 AND b.sz * 10 >= a.sz * 8),
       arrs AS (SELECT doc_id, list_sort(list(shingle)) AS arr
                FROM shingles GROUP BY 1),
       itr AS (
         SELECT c.id0, c.id1, c.sz0, c.sz1,
                CAST(len(list_intersect(a0.arr, a1.arr)) AS BIGINT) AS inter
         FROM cand c
         JOIN arrs a0 ON a0.doc_id = c.id0
         JOIN arrs a1 ON a1.doc_id = c.id1)
       SELECT id0 AS doc_id_0, id1 AS doc_id_1, inter,
              CAST(sz0 + sz1 - inter AS BIGINT) AS union_sz,
              CAST(inter * 10000 // CAST(sz0 + sz1 - inter AS BIGINT) AS BIGINT)
                  AS jac_e4
       FROM itr WHERE inter * 10 >= 8 * CAST(sz0 + sz1 - inter AS BIGINT)""",
)
def _prefix_filter_jaccard(spark, sf_dir):
    """EXACT set-similarity self-join at Jaccard >= 0.8 over bigram
    shingle sets by prefix filtering (PPJoin lineage — Chaudhuri et
    al. 2006, Xiao et al. 2008; dedup/ppjoin.py): sets ordered rarest-
    element-first must share a prefix element to clear the threshold,
    so the candidate join touches only rare elements + a length
    filter + Xiao's accumulated positional filter (applied per matched
    row AND per pair — the pair-level bound cut the verification input
    667k -> ~2k pairs at sf0.1), then exact intersection verification.
    No LSH false negatives — the exact counterpart to the minhash
    path, same (element -> doc) shuffle shape. All comparisons integer
    (ceil(t*n) = (8n+9) div 10; Jaccard as inter*10 >= 8*union); t=0.8
    is the dedup-grade threshold — and on this 31-token synthetic
    corpus the t=0.5 variant is output-bound (the token_jaccard_join
    corpus artifact), while t=0.8's short prefixes keep candidates
    ~linear. The rank-sorted per-doc index is threshold-free and
    shared across the ppjoin-family queries via the in-session cache
    (_ppjoin_index); every fresh session recomputes it from the
    parquet inputs."""
    from redshells_spark.dedup.ppjoin import pairs_from_rank_sorted

    index, u = _ppjoin_index(spark, sf_dir)
    out = pairs_from_rank_sorted(index, 8, 10, element_universe=u)
    return out.select(
        F.col("id_0").alias("doc_id_0"),
        F.col("id_1").alias("doc_id_1"),
        "inter",
        "union_sz",
        "jac_e4",
    )


# --------------------------------------------- dup-cluster histogram


@q(
    "dup_cluster_histogram",
    f"""WITH RECURSIVE {_VOCAB_SQL}, {_TOK_SQL}, {_COMPONENTS_SQL}, {_NTOK_SQL},
       lab AS (
         SELECT n.doc_id,
                CAST(coalesce(c.keep_id, n.doc_id) AS BIGINT) AS component
         FROM ntok n LEFT JOIN comp c USING (doc_id)),
       sizes AS (SELECT component, CAST(count(*) AS BIGINT) AS csize
                 FROM lab GROUP BY 1)
       SELECT csize AS cluster_size,
              CAST(count(*) AS BIGINT) AS n_clusters,
              CAST(count(*) * csize AS BIGINT) AS n_docs,
              CAST(count(*) * (csize - 1) AS BIGINT) AS n_dropped_at_keep1
       FROM sizes GROUP BY csize""",
)
def _dup_cluster_histogram(spark, sf_dir):
    """Near-dup cluster-size histogram — the dedup DIAGNOSTIC every
    corpus report leads with: how many clusters of each size, how many
    docs they hold, and how many a keep-one policy would drop. Reuses
    the exact component labeling near_dup_components value-matches
    (singletons included via the left join); the histogram itself is
    one component-bounded aggregate. At 100 TB the size distribution
    is the early-warning for template floods (one giant cluster) and
    boilerplate (a fat head of small clusters)."""
    lab = _near_dup_labeled(spark, sf_dir)
    sizes = lab.groupBy("component").agg(
        F.count(F.lit(1)).cast("long").alias("csize")
    )
    return sizes.groupBy(F.col("csize").alias("cluster_size")).agg(
        F.count(F.lit(1)).cast("long").alias("n_clusters"),
        (F.count(F.lit(1)) * F.first("csize")).cast("long").alias("n_docs"),
        (F.count(F.lit(1)) * (F.first("csize") - 1))
        .cast("long")
        .alias("n_dropped_at_keep1"),
    )


# ------------------------------------------------- containment join


@q(
    "containment_dedup_join",
    f"""WITH {_VOCAB_SQL}, {_TOK_SQL}, {_SHINGLE_SQL},
       freq AS (SELECT shingle AS el, count(*) AS f FROM shingles GROUP BY 1),
       ord AS (SELECT el, row_number() OVER (ORDER BY f ASC, el ASC) AS erk
               FROM freq),
       szs AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS sz
               FROM shingles GROUP BY 1),
       rk AS (
         SELECT s.doc_id, s.shingle AS el, z.sz,
                row_number() OVER (PARTITION BY s.doc_id
                                   ORDER BY o.erk ASC) AS pos
         FROM shingles s JOIN ord o ON o.el = s.shingle
         JOIN szs z USING (doc_id)),
       pre AS (SELECT doc_id, el, sz FROM rk
               WHERE pos <= sz - CAST((8 * sz + 9) // 10 AS BIGINT) + 1),
       idx AS (SELECT doc_id, el, sz FROM rk),
       cand AS (
         SELECT DISTINCT a.doc_id AS ida, b.doc_id AS idb,
                a.sz AS sza, b.sz AS szb
         FROM pre a JOIN idx b ON a.el = b.el
         WHERE a.doc_id <> b.doc_id AND b.sz * 10 >= a.sz * 8),
       arrs AS (SELECT doc_id, list_sort(list(shingle)) AS arr
                FROM shingles GROUP BY 1),
       itr AS (
         SELECT c.ida, c.idb, c.sza, c.szb,
                CAST(len(list_intersect(a0.arr, a1.arr)) AS BIGINT) AS inter
         FROM cand c
         JOIN arrs a0 ON a0.doc_id = c.ida
         JOIN arrs a1 ON a1.doc_id = c.idb)
       SELECT ida AS id_a, idb AS id_b, inter,
              CAST(sza AS BIGINT) AS size_a, CAST(szb AS BIGINT) AS size_b,
              CAST(inter * 10000 // sza AS BIGINT) AS cont_e4
       FROM itr WHERE inter * 10 >= 8 * sza""",
)
def _containment_dedup_join(spark, sf_dir):
    """EXACT asymmetric containment join |A∩B|/|A| >= 0.8 over bigram
    shingle sets — the 'onion-layer' dedup relation (quote /
    boilerplate inclusion) that symmetric Jaccard misses when
    |B| >> |A|. A-side prefix filtering against the FULL inverted
    index (Vernica et al. 2010 probe-index shape) with both of Xiao's
    positional bounds carried over at the containment alpha; exact
    array_intersect verification, no corpus-sized broadcast.
    Shares the in-session rank-sorted index with prefix_filter_jaccard
    (one shared index, two join semantics).
    dedup/ppjoin.py:containment_pairs_from_rank_sorted; the oracle
    replays candidate generation WITHOUT the positional prunes (a
    sound superset — the exact final filter equalizes), so a hash
    MATCH also certifies the prunes lose no qualifying pair."""
    return _containment_pairs(spark, sf_dir)


@session_memo
def _containment_pairs(spark, sf_dir):
    """The verified UNFLOORED τ=0.8 containment relation over the
    shared rank-sorted shingle index, cached per (session, sf): the
    floored registry entry is EXACTLY this relation filtered on
    size_a (the min-|A| floor is a probe-side pre-filter, not an
    approximation — see containment_pairs_from_rank_sorted), so both
    entries share one candidate join + verification. Passes the
    measured element universe for the adaptive bitset gate (at sf0.1
    u = 931 exceeds the single-word auto gate, so the measured-faster
    positional array path runs; a u ≤ 64 corpus flips to the inline
    popcount verify — see dedup/ppjoin.py:_containment_bitmask)."""
    from redshells_spark.dedup.ppjoin import containment_pairs_from_rank_sorted

    index, u = _ppjoin_index(spark, sf_dir)
    return containment_pairs_from_rank_sorted(
        index, 8, 10, element_universe=u
    ).cache()


# candidate CTEs identical to minhash_near_dedup's oracle
_CAND_SQL = """banded AS (
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
       sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS sz
              FROM shingles GROUP BY doc_id),
       inter AS (
         SELECT c.doc_id_0, c.doc_id_1, CAST(count(*) AS BIGINT) AS inter
         FROM cand c
         JOIN shingles s0 ON s0.doc_id = c.doc_id_0
         JOIN shingles s1 ON s1.doc_id = c.doc_id_1 AND s1.shingle = s0.shingle
         GROUP BY c.doc_id_0, c.doc_id_1),
       exact AS (
         SELECT c.doc_id_0, c.doc_id_1,
                CAST(coalesce(i.inter, 0) * 1000000
                     // (z0.sz + z1.sz - coalesce(i.inter, 0)) AS BIGINT)
                  AS exact_e6
         FROM cand c
         LEFT JOIN inter i ON i.doc_id_0 = c.doc_id_0
                          AND i.doc_id_1 = c.doc_id_1
         JOIN sz z0 ON z0.doc_id = c.doc_id_0
         JOIN sz z1 ON z1.doc_id = c.doc_id_1)"""


# ---------------------------------------- MinHash estimate calibration


@q(
    "minhash_estimate_calibration",
    f"""WITH {_VOCAB_SQL}, {_TOK_SQL}, {_SHINGLE_SQL},
       {_CAND_SQL},
       agree AS (
         SELECT c.doc_id_0, c.doc_id_1,
                CAST(sum(CASE WHEN g0.minhash = g1.minhash THEN 1 ELSE 0 END)
                     AS BIGINT) AS agree16
         FROM cand c
         JOIN sigs g0 ON g0.doc_id = c.doc_id_0
         JOIN sigs g1 ON g1.doc_id = c.doc_id_1 AND g1.j = g0.j
         GROUP BY 1, 2),
       pairs AS (
         SELECT a.agree16, e.exact_e6,
                CAST(a.agree16 * 1000000 // 16 AS BIGINT) AS est_e6
         FROM agree a
         JOIN exact e ON e.doc_id_0 = a.doc_id_0 AND e.doc_id_1 = a.doc_id_1)
       SELECT agree16 AS est_sixteenths,
              CAST(count(*) AS BIGINT) AS n_pairs,
              CAST(sum(exact_e6) // count(*) AS BIGINT) AS mean_exact_e6,
              CAST(sum(abs(est_e6 - exact_e6)) // count(*) AS BIGINT)
                AS mean_abs_err_e6
       FROM pairs GROUP BY 1 ORDER BY 1""",
)
def _minhash_estimate_calibration(spark, sf_dir):
    """Calibration of the 16-hash MinHash Jaccard estimator against
    the EXACT shingle Jaccard, per estimate bucket, over the LSH
    candidate pairs the dedup pipeline actually scores — the empirical
    companion to lsh_parameter_plan's theory: is agree/16 biased, and
    by how much, where the threshold sits? Signature agreement counts,
    exact intersections, and both means are exact int64 (missing
    intersections coalesce to 0 — a bucket-collision pair can share no
    shingle). Candidate-bounded throughout; the output is 17 rows at
    any corpus size."""
    sh = _shingles(spark, sf_dir)
    cand = _cand44(spark, sf_dir)
    # signature agreement IN-ROW: each doc's 16 minhashes ride as one
    # array and agree16 is a 16-element zip per candidate pair — the
    # long-form alternative (unpivot to (doc, j, minhash), join the
    # candidate relation at x16 cardinality twice, group back per
    # pair) re-shuffles 16 rows per candidate to compute what two
    # array columns already hold. Same exact counts (the oracle's
    # per-j CASE sum), three fewer exchanges.
    sig_arr = F.array(*[F.col(f"mh{j}") for j in range(16)])
    w = _wide16(spark, sf_dir)
    s0 = w.select(F.col("doc_id").alias("doc_id_0"), sig_arr.alias("__s0"))
    s1 = w.select(F.col("doc_id").alias("doc_id_1"), sig_arr.alias("__s1"))
    agree = (
        cand.join(s0, "doc_id_0")
        .join(s1, "doc_id_1")
        .select(
            "doc_id_0",
            "doc_id_1",
            F.expr(
                "aggregate(zip_with(__s0, __s1, (x, y) -> IF(x = y, 1L, 0L)),"
                " 0L, (acc, v) -> acc + v)"
            ).alias("agree16"),
        )
    )
    # exact side in array form (see _dedup_method_agreement): a
    # bucket-collision pair can share no shingle — array_intersect
    # yields inter = 0 for those naturally, matching the oracle's
    # coalesce(inter, 0)
    sharr = _sharr(spark, sf_dir).select(
        "doc_id", F.col("__arr").alias("arr"), F.col("sz").cast("long").alias("sz")
    )
    exact = (
        cand.join(
            sharr.select(
                F.col("doc_id").alias("doc_id_0"),
                F.col("arr").alias("a0"),
                F.col("sz").alias("sz0"),
            ),
            "doc_id_0",
        )
        .join(
            sharr.select(
                F.col("doc_id").alias("doc_id_1"),
                F.col("arr").alias("a1"),
                F.col("sz").alias("sz1"),
            ),
            "doc_id_1",
        )
        .withColumn("inter", F.size(F.array_intersect("a0", "a1")).cast("long"))
        .select(
            "doc_id_0",
            "doc_id_1",
            F.expr(
                "cast(inter * 1000000 div (sz0 + sz1 - inter) as long)"
            ).alias("exact_e6"),
        )
    )
    pairs = agree.join(exact, ["doc_id_0", "doc_id_1"]).select(
        "agree16",
        "exact_e6",
        F.expr("cast(agree16 * 1000000 div 16 as long)").alias("est_e6"),
    )
    return (
        pairs.groupBy(F.col("agree16").alias("est_sixteenths"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.expr("cast(sum(exact_e6) div count(1) as long)").alias(
                "mean_exact_e6"
            ),
            F.expr(
                "cast(sum(abs(est_e6 - exact_e6)) div count(1) as long)"
            ).alias("mean_abs_err_e6"),
        )
        .orderBy("est_sixteenths")
    )


# ------------------------------------------ dedup method agreement


@q(
    "dedup_method_agreement",
    f"""WITH {_VOCAB_SQL}, {_TOK_SQL}, {_SHINGLE_SQL},
       {_CAND_SQL},
       src AS (SELECT doc_id, source FROM documents),
       a_pairs AS (
         SELECT e.doc_id_0, e.doc_id_1, s0.source
         FROM exact e
         JOIN src s0 ON s0.doc_id = e.doc_id_0
         JOIN src s1 ON s1.doc_id = e.doc_id_1 AND s1.source = s0.source
         WHERE e.exact_e6 >= 500000),
       tok2 AS (
         SELECT doc_id, source, token,
                row_number() OVER (PARTITION BY doc_id ORDER BY pos ASC) AS p
         FROM (SELECT t.doc_id, s.source, t.token, t.pos
               FROM tok t JOIN src s ON s.doc_id = t.doc_id)),
       grams AS (
         SELECT DISTINCT doc_id, source,
                token || '|' || lead(token) OVER (
                  PARTITION BY doc_id ORDER BY p ASC) AS gram
         FROM tok2 QUALIFY gram IS NOT NULL),
       gsz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS sz
               FROM grams GROUP BY 1),
       guniv AS (
         SELECT a.doc_id AS doc_id_0, b.doc_id AS doc_id_1, a.source
         FROM (SELECT DISTINCT doc_id, source FROM grams) a
         JOIN (SELECT DISTINCT doc_id, source FROM grams) b
           ON a.source = b.source AND a.doc_id < b.doc_id),
       ginter AS (
         SELECT p.doc_id_0, p.doc_id_1, CAST(count(*) AS BIGINT) AS inter
         FROM guniv p
         JOIN grams g0 ON g0.doc_id = p.doc_id_0
         JOIN grams g1 ON g1.doc_id = p.doc_id_1 AND g1.gram = g0.gram
         GROUP BY 1, 2),
       b_pairs AS (
         SELECT p.doc_id_0, p.doc_id_1, p.source
         FROM guniv p
         JOIN ginter i ON i.doc_id_0 = p.doc_id_0 AND i.doc_id_1 = p.doc_id_1
         JOIN gsz z0 ON z0.doc_id = p.doc_id_0
         JOIN gsz z1 ON z1.doc_id = p.doc_id_1
         WHERE i.inter * 1000000 // (z0.sz + z1.sz - i.inter) >= 500000),
       u AS (SELECT doc_id_0, doc_id_1, source,
                    CAST(max(in_a) AS BIGINT) AS in_a,
                    CAST(max(in_b) AS BIGINT) AS in_b
             FROM (SELECT doc_id_0, doc_id_1, source, 1 AS in_a, 0 AS in_b
                   FROM a_pairs
                   UNION ALL
                   SELECT doc_id_0, doc_id_1, source, 0, 1 FROM b_pairs)
             GROUP BY 1, 2, 3)
       SELECT source,
              CAST(sum(in_a) AS BIGINT) AS n_minhash,
              CAST(sum(in_b) AS BIGINT) AS n_ngram,
              CAST(sum(in_a * in_b) AS BIGINT) AS n_both,
              CAST(count(*) AS BIGINT) AS n_union,
              CAST(sum(in_a * in_b) * 1000000 // count(*) AS BIGINT)
                AS agreement_e6
       FROM u GROUP BY 1 ORDER BY source""",
)
def _dedup_method_agreement(spark, sf_dir):
    """Pair-set agreement between the engine's two word-level near-dup
    definitions, per source: (A) MinHash-LSH candidates verified by
    exact shingle Jaccard >= 0.5, restricted to same-source pairs, and
    (B) word-bigram Jaccard >= 0.5 with candidates from the exact
    prefix-filter join (dedup/ppjoin.py — no false negatives at any
    threshold), so side B is candidate-bounded instead of joining the
    full same-source pair universe. The report a dedup owner reads
    before swapping methods: where do they disagree, and does one
    dominate? Every membership is an exact e6-threshold decision; the
    union/intersection counts fold from one max-flag groupBy. The
    source lookups are plain shuffle joins — nothing
    documents-proportional is ever broadcast (the oracle keeps the
    quadratic guniv form; DuckDB verifies the same pair set)."""
    toks = _tokens(spark, sf_dir)
    src = _t(spark, sf_dir, "documents").select("doc_id", "source")
    # shingles feed 4 branches (signatures, sizes, both verify sides) —
    # cache so the shingle hash runs once (llm_corpus_pipeline idiom)
    sh = _shingles(spark, sf_dir)
    cand = _cand44(spark, sf_dir)
    # exact verification in array form: per-doc shingle arrays joined
    # to the candidate pairs, |A∩B| = one int array_intersect per pair
    # (no exploded pair×shingle shuffle, no post-join groupBy)
    sharr = _sharr(spark, sf_dir).select(
        "doc_id", F.col("__arr").alias("arr"), F.col("sz").cast("long").alias("sz")
    )
    exact = (
        cand.join(
            sharr.select(
                F.col("doc_id").alias("doc_id_0"),
                F.col("arr").alias("a0"),
                F.col("sz").alias("sz0"),
            ),
            "doc_id_0",
        )
        .join(
            sharr.select(
                F.col("doc_id").alias("doc_id_1"),
                F.col("arr").alias("a1"),
                F.col("sz").alias("sz1"),
            ),
            "doc_id_1",
        )
        .withColumn("inter", F.size(F.array_intersect("a0", "a1")).cast("long"))
        .filter(F.expr("inter * 1000000 div (sz0 + sz1 - inter) >= 500000"))
        .select("doc_id_0", "doc_id_1")
    )
    a_pairs = (
        exact.join(
            src.select(F.col("doc_id").alias("doc_id_0"), F.col("source").alias("src0")),
            "doc_id_0",
        )
        .join(
            src.select(F.col("doc_id").alias("doc_id_1"), F.col("source").alias("src1")),
            "doc_id_1",
        )
        .filter(F.col("src0") == F.col("src1"))
        .select("doc_id_0", "doc_id_1", F.col("src0").alias("source"))
    )
    # word-bigram side (the ngram_jaccard relation, exact e6): candidate
    # pairs come from the SOURCE-BLOCKED prefix-filter join — exact at
    # τ=0.5, integer threshold (inter·10 ≥ 5·union ⟺
    # inter·1e6 div union ≥ 5e5), with block equality composed into the
    # candidate join (the relation is same-source by definition, so
    # blocking is free exactness-wise and multiplies the candidate
    # reduction — critical when the bigram universe is small and
    # frequency pruning alone degenerates). Output is bit-identical to
    # the oracle's quadratic guniv form.
    from redshells_spark.dedup.ppjoin import pairs_from_rank_sorted

    # the shared blocked bigram index (_gram_index) feeds both this
    # query and ngram_jaccard; word_ngrams in the index is a narrow
    # array expression — per-doc distinct bigrams with NO window
    # shuffle and NO distinct shuffle (the gram separator differs from
    # the oracle's '|' but set identity is unaffected: tokens carry
    # neither glyph). collapse_identical stays OFF here: bigram sets
    # are large and nearly unique, so grouping costs more than it saves
    # (measured 3.3s plain vs 8.8s collapsed at sf0.1).
    bp = pairs_from_rank_sorted(
        _gram_index(spark, sf_dir),
        threshold_num=5,
        threshold_den=10,
    )
    b_pairs = bp.select(
        F.col("id_0").alias("doc_id_0"),
        F.col("id_1").alias("doc_id_1"),
        F.col("block").alias("source"),
    )
    u = (
        a_pairs.select(
            "doc_id_0", "doc_id_1", "source", F.lit(1).alias("in_a"), F.lit(0).alias("in_b")
        )
        .unionAll(
            b_pairs.select(
                "doc_id_0", "doc_id_1", "source", F.lit(0).alias("in_a"), F.lit(1).alias("in_b")
            )
        )
        .groupBy("doc_id_0", "doc_id_1", "source")
        .agg(
            F.max("in_a").cast("long").alias("in_a"),
            F.max("in_b").cast("long").alias("in_b"),
        )
    )
    return (
        u.groupBy("source")
        .agg(
            F.sum("in_a").cast("long").alias("n_minhash"),
            F.sum("in_b").cast("long").alias("n_ngram"),
            F.sum(F.col("in_a") * F.col("in_b")).cast("long").alias("n_both"),
            F.count(F.lit(1)).cast("long").alias("n_union"),
            F.expr(
                "cast(sum(in_a * in_b) * 1000000 div count(1) as long)"
            ).alias("agreement_e6"),
        )
        .orderBy("source")
    )


# ------------------------------------------ Fellegi-Sunter weights


@q(
    "fellegi_sunter_weights",
    """WITH n AS (SELECT DISTINCT p_name AS name FROM part),
       b AS (SELECT name, string_split(name, ' ')[2] AS blk,
                    length(name) AS len,
                    string_split(name, ' ')[1] AS adj,
                    length(regexp_replace(string_split(name, ' ')[1],
                                          '[^aeiou]', '', 'g')) AS vc
             FROM n),
       p AS (SELECT a.name AS na, b2.name AS nb,
                    CAST(levenshtein(a.name, b2.name) <= 3 AS INT) AS is_m,
                    CAST(a.len = b2.len AS INT) AS f_len,
                    CAST(a.vc = b2.vc AS INT) AS f_first,
                    CAST(levenshtein(a.adj, b2.adj) <= 2 AS INT) AS f_last
             FROM b a JOIN b b2 ON a.blk = b2.blk AND a.name < b2.name),
       agg AS (SELECT CAST(sum(is_m) AS BIGINT) AS n_m,
                      CAST(sum(1 - is_m) AS BIGINT) AS n_u,
                      CAST(sum(is_m * f_len) AS BIGINT) AS m_len,
                      CAST(sum((1 - is_m) * f_len) AS BIGINT) AS u_len,
                      CAST(sum(is_m * f_first) AS BIGINT) AS m_first,
                      CAST(sum((1 - is_m) * f_first) AS BIGINT) AS u_first,
                      CAST(sum(is_m * f_last) AS BIGINT) AS m_last,
                      CAST(sum((1 - is_m) * f_last) AS BIGINT) AS u_last
               FROM p),
       f AS (SELECT 'equal_length' AS field, n_m, n_u,
                    CAST(m_len * 1000000 // n_m AS BIGINT) AS m_e6,
                    CAST(u_len * 1000000 // n_u AS BIGINT) AS u_e6
             FROM agg
             UNION ALL
             SELECT 'same_vowel_count', n_m, n_u,
                    CAST(m_first * 1000000 // n_m AS BIGINT),
                    CAST(u_first * 1000000 // n_u AS BIGINT)
             FROM agg
             UNION ALL
             SELECT 'adj_lev_le2', n_m, n_u,
                    CAST(m_last * 1000000 // n_m AS BIGINT),
                    CAST(u_last * 1000000 // n_u AS BIGINT)
             FROM agg)
       SELECT field, n_m, n_u, m_e6, u_e6,
              CASE WHEN m_e6 > 0 AND u_e6 > 0
                   THEN round(ln(CAST(m_e6 AS DOUBLE) / CAST(u_e6 AS DOUBLE)),
                              6) END AS log_weight
       FROM f ORDER BY field""",
)
def _fellegi_sunter_weights(spark, sf_dir):
    """Fellegi-Sunter record-linkage field weights (1969) estimated on
    the blocked part-name pairs fuzzy_name_match scores: the match
    class is the block pairs within edit distance 3 (the query's own
    match definition), the non-match class the rest of the block, and
    for each comparison field (equal length / same adjective vowel
    count / adjective edit distance <= 2) the m- and u-probabilities
    are exact e6 ratios with
    log(m/u) — the per-field agreement weight a linkage scorer sums.
    NULL-guarded when a field never agrees in a class. Pairwise work
    is Σ block² over DISTINCT names (the fuzzy_name_match bound)."""
    part = _t(spark, sf_dir, "part")
    n = part.select(F.col("p_name").alias("name")).distinct()
    adj = F.element_at(F.split(F.col("name"), " "), 1)
    b = n.select(
        "name",
        F.element_at(F.split(F.col("name"), " "), 2).alias("blk"),
        F.length("name").alias("len"),
        adj.alias("adj"),
        F.length(F.regexp_replace(adj, "[^aeiou]", "")).alias("vc"),
    ).localCheckpoint(eager=True)  # distinct names + blocking features;
    # both self-join sides consume it
    a = b.select(
        F.col("name").alias("na"), F.col("blk"), F.col("len").alias("len_a"),
        F.col("vc").alias("vc_a"), F.col("adj").alias("adj_a"),
    )
    b2 = b.select(
        F.col("name").alias("nb"), F.col("blk"), F.col("len").alias("len_b"),
        F.col("vc").alias("vc_b"), F.col("adj").alias("adj_b"),
    )
    p = (
        a.join(b2, "blk")
        .filter(F.col("na") < F.col("nb"))
        .select(
            (F.levenshtein("na", "nb") <= 3).cast("int").alias("is_m"),
            (F.col("len_a") == F.col("len_b")).cast("int").alias("f_len"),
            (F.col("vc_a") == F.col("vc_b")).cast("int").alias("f_first"),
            (F.levenshtein("adj_a", "adj_b") <= 2).cast("int").alias("f_last"),
        )
    )
    agg = p.agg(
        F.sum("is_m").cast("long").alias("n_m"),
        F.sum(F.lit(1) - F.col("is_m")).cast("long").alias("n_u"),
        F.sum(F.col("is_m") * F.col("f_len")).cast("long").alias("m_len"),
        F.sum((F.lit(1) - F.col("is_m")) * F.col("f_len")).cast("long").alias("u_len"),
        F.sum(F.col("is_m") * F.col("f_first")).cast("long").alias("m_first"),
        F.sum((F.lit(1) - F.col("is_m")) * F.col("f_first"))
        .cast("long")
        .alias("u_first"),
        F.sum(F.col("is_m") * F.col("f_last")).cast("long").alias("m_last"),
        F.sum((F.lit(1) - F.col("is_m")) * F.col("f_last"))
        .cast("long")
        .alias("u_last"),
    ).localCheckpoint(eager=True)  # 1 row; the 3-field union read it
    # three times, re-running the blocked pair join each time
    rows = []
    for fname, mcol, ucol in (
        ("equal_length", "m_len", "u_len"),
        ("same_vowel_count", "m_first", "u_first"),
        ("adj_lev_le2", "m_last", "u_last"),
    ):
        rows.append(
            agg.select(
                F.lit(fname).alias("field"),
                "n_m",
                "n_u",
                F.expr(f"cast({mcol} * 1000000 div n_m as long)").alias("m_e6"),
                F.expr(f"cast({ucol} * 1000000 div n_u as long)").alias("u_e6"),
            )
        )
    f = rows[0].unionAll(rows[1]).unionAll(rows[2])
    return f.select(
        "field",
        "n_m",
        "n_u",
        "m_e6",
        "u_e6",
        F.when(
            (F.col("m_e6") > 0) & (F.col("u_e6") > 0),
            F.round(
                F.log(F.col("m_e6").cast("double") / F.col("u_e6").cast("double")),
                6,
            ),
        ).alias("log_weight"),
    ).orderBy("field")


# ------------------------------------------------ floored containment


@q(
    "containment_dedup_floor",
    f"""WITH {_VOCAB_SQL}, {_TOK_SQL}, {_SHINGLE_SQL},
       freq AS (SELECT shingle AS el, count(*) AS f FROM shingles GROUP BY 1),
       ord AS (SELECT el, row_number() OVER (ORDER BY f ASC, el ASC) AS erk
               FROM freq),
       szs AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS sz
               FROM shingles GROUP BY 1),
       rk AS (
         SELECT s.doc_id, s.shingle AS el, z.sz,
                row_number() OVER (PARTITION BY s.doc_id
                                   ORDER BY o.erk ASC) AS pos
         FROM shingles s JOIN ord o ON o.el = s.shingle
         JOIN szs z USING (doc_id)),
       pre AS (SELECT doc_id, el, sz FROM rk
               WHERE sz >= 40
                 AND pos <= sz - CAST((8 * sz + 9) // 10 AS BIGINT) + 1),
       idx AS (SELECT doc_id, el, sz FROM rk),
       cand AS (
         SELECT DISTINCT a.doc_id AS ida, b.doc_id AS idb,
                a.sz AS sza, b.sz AS szb
         FROM pre a JOIN idx b ON a.el = b.el
         WHERE a.doc_id <> b.doc_id AND b.sz * 10 >= a.sz * 8),
       arrs AS (SELECT doc_id, list_sort(list(shingle)) AS arr
                FROM shingles GROUP BY 1),
       itr AS (
         SELECT c.ida, c.idb, c.sza, c.szb,
                CAST(len(list_intersect(a0.arr, a1.arr)) AS BIGINT) AS inter
         FROM cand c
         JOIN arrs a0 ON a0.doc_id = c.ida
         JOIN arrs a1 ON a1.doc_id = c.idb)
       SELECT ida AS id_a, idb AS id_b, inter,
              CAST(sza AS BIGINT) AS size_a, CAST(szb AS BIGINT) AS size_b,
              CAST(inter * 10000 // sza AS BIGINT) AS cont_e4
       FROM itr WHERE inter * 10 >= 8 * sza""",
)
def _containment_dedup_floor(spark, sf_dir):
    """containment_dedup_join with the min-|A| floor ON (|A| >= 40,
    around the corpus median shingle-set size): tiny sets are
    contained in almost everything — a 3-shingle set clears tau=0.8
    inside any superset of 3 of its shingles — so at corpus scale the
    A-side floor is what bounds the output away from |tiny|x|corpus|.
    The floor is a pre-filter on the probe side, not an approximation:
    the output is exactly the containment relation restricted to
    |A| >= 40, verified against the same positional-prune-free oracle
    superset. Because the floor is that exact restriction, this entry
    reads the session-shared unfloored relation
    (_containment_pairs) and filters size_a — one candidate
    join + verification for both containment entries. The scale path
    (probe-side pre-filter via min_size_a, which SKIPS the tiny-A
    work instead of discarding it) stays in
    dedup/ppjoin.py:containment_pairs_from_rank_sorted, pinned
    equal-by-construction in tests/test_r8_ops.py."""

    return _containment_pairs(spark, sf_dir).filter(F.col("size_a") >= 40)
