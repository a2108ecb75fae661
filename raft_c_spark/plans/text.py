"""Driver-facing text-analysis queries over ``documents``, each with a
formula-mirrored DuckDB oracle (ASCII regex classes behave identically
in Java regex and RE2; counts are ints; doubles are derived from ints
with the same operand order — bit-identical across engines)."""

from __future__ import annotations

from pyspark.sql import functions as F

from raft_c_spark.functions.diskcache import data_cache_key
from raft_c_spark.functions.exact import dec, sql_dec
from raft_c_spark.operators import text
from raft_c_spark.operators.text import STOPWORDS
from raft_c_spark.sources.testdata import load_table


def q_text_analyze(spark, sf_dir):
    """Full one-pass text enrichment (token counts, ratios, lang id,
    quality, fingerprint) — no shuffle, scan-speed at any scale."""
    docs = load_table(spark, sf_dir, "documents")
    return text.analyze(docs).select(
        "doc_id",
        "n_tokens",
        "n_bpe_tokens",
        "punct_ratio",
        "non_ascii_ratio",
        "pred_lang",
        "quality",
        "fingerprint",
    )


def q_text_lang_profile(spark, sf_dir):
    """Aggregate profile per predicted language; quality averaged via
    round→decimal→exact-sum (plans/exact.py pattern for computed
    doubles)."""
    docs = load_table(spark, sf_dir, "documents")
    ana = text.analyze(docs)
    q4 = dec(F.round(F.col("quality"), 4), "8,4")
    return (
        ana.groupBy("pred_lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            (F.sum(q4).cast("double") / F.count(F.lit(1))).alias("avg_quality"),
        )
        .orderBy("pred_lang")
    )


CLEAN_MIN_QUALITY = 0.5
CLEAN_MIN_TOKENS = 20
CLEAN_LANGS = ("en", "de", "es", "fr", "zh")
#: SQL literal list interpolated into the oracle (the oracle once
#: hard-coded the list, so editing CLEAN_LANGS silently
#: diverged the Spark filter from the replay)
_CLEAN_LANGS_SQL = ", ".join(f"'{l}'" for l in CLEAN_LANGS)


def q_text_clean_corpus(spark, sf_dir):
    """The corpus-cleaning pass a training pipeline runs before
    anything else: keep docs with a confident language, enough tokens,
    and quality over the bar — then drop exact-content duplicates
    (min doc_id survives per fingerprint). Pure filter + one hash
    aggregate: scan-speed, map-side combined, linear at any scale."""
    docs = load_table(spark, sf_dir, "documents")
    ana = text.analyze(docs).filter(
        (F.col("quality") >= CLEAN_MIN_QUALITY)
        & (F.col("n_tokens") >= CLEAN_MIN_TOKENS)
        & F.col("pred_lang").isin(*CLEAN_LANGS)
    )
    return (
        ana.groupBy("fingerprint")
        .agg(
            F.min("doc_id").alias("doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
        .select("doc_id", "fingerprint", "n_copies")
    )


def q_text_redact_pii(spark, sf_dir):
    """PII redaction pass: per-doc email/url/phone counts plus an md5
    of the redacted text (the fingerprint proves byte-identical
    redaction against the oracle without hauling full text through
    the compare)."""
    docs = load_table(spark, sf_dir, "documents")
    red = text.redact_pii(docs)
    return red.select(
        "doc_id",
        F.col("n_emails").cast("long").alias("n_emails"),
        F.col("n_urls").cast("long").alias("n_urls"),
        F.col("n_phones").cast("long").alias("n_phones"),
        F.md5(F.col("clean_text").cast("binary")).alias("clean_fp"),
    )


def q_text_tfidf_terms(spark, sf_dir):
    """Top-5 tf-idf terms per document (see
    text.tfidf_top_terms for the determinism contract and the
    three-shuffle scale shape)."""
    docs = load_table(spark, sf_dir, "documents")
    return text.tfidf_top_terms(docs, "doc_id", "text", k=5)


HH_N = 2
HH_K = 50
CHUNK_TOKENS = 32
CHUNK_STRIDE = 24


def q_text_heavy_hitters(spark, sf_dir):
    """Corpus-wide top-50 bigrams (see text.heavy_hitter_ngrams for
    the TakeOrdered scale shape and the deterministic tie-break)."""
    docs = load_table(spark, sf_dir, "documents")
    return text.heavy_hitter_ngrams(docs, "doc_id", "text", n=HH_N, k=HH_K)


def q_text_chunks(spark, sf_dir):
    """Overlapping token-window chunking (32-token chunks, stride 24)
    — context-window prep; chunk text is proven byte-identical to the
    oracle via md5 fingerprints."""
    docs = load_table(spark, sf_dir, "documents")
    return text.chunk_documents(
        docs, "doc_id", "text", chunk=CHUNK_TOKENS, stride=CHUNK_STRIDE
    )


def q_text_repetition(spark, sf_dir):
    """Per-document duplicated token/bigram/trigram fractions — the
    Gopher-style repetition quality filter (see
    text.repetition_metrics for the zero-shuffle scale shape)."""
    docs = load_table(spark, sf_dir, "documents")
    return text.repetition_metrics(docs, "doc_id", "text")


WINNOW_K = 8
WINNOW_W = 4


def q_text_winnow(spark, sf_dir):
    """Winnowing fingerprints (MOSS, SIGMOD'03): rolling k-gram
    hashes → rightmost-min per window — the rolling-hash document
    fingerprint set, summarized as count + ordered digest (see
    text.winnow_fingerprints)."""
    docs = load_table(spark, sf_dir, "documents")
    return text.winnow_fingerprints(
        docs, "doc_id", "text", k=WINNOW_K, w=WINNOW_W
    )


QUERIES = {
    "text_analyze": q_text_analyze,
    "text_lang_profile": q_text_lang_profile,
    "text_clean_corpus": q_text_clean_corpus,
    "text_redact_pii": q_text_redact_pii,
    "text_tfidf_terms": q_text_tfidf_terms,
    "text_heavy_hitters": q_text_heavy_hitters,
    "text_chunks": q_text_chunks,
    "text_repetition": q_text_repetition,
    "text_winnow": q_text_winnow,
}


def _sw_sql(lang: str) -> str:
    pat = r"\b(" + "|".join(STOPWORDS[lang]) + r")\b"
    return f"len(regexp_extract_all(lower(text), '{pat}'))"


_N_TOKENS = r"len(regexp_extract_all(text, '\S+'))"
_N_BPE = r"len(regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9\s]'))"
_PUNCT = (
    r"CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS DOUBLE)"
    r" / greatest(length(text), 1)"
)
_NON_ASCII = (
    "CAST(length(regexp_replace(text,"
    " '[\\t\\n\\r -~]', '', 'g')) AS DOUBLE)"
    " / greatest(length(text), 1)"
)
_BEST = (
    f"greatest({_sw_sql('en')}, {_sw_sql('de')}, {_sw_sql('es')}, {_sw_sql('fr')})"
)
_PRED_LANG = f"""
    CASE WHEN {_NON_ASCII} > 0.3 THEN 'zh'
         WHEN {_BEST} = 0 THEN 'unknown'
         WHEN {_sw_sql('en')} = {_BEST} THEN 'en'
         WHEN {_sw_sql('de')} = {_BEST} THEN 'de'
         WHEN {_sw_sql('es')} = {_BEST} THEN 'es'
         ELSE 'fr' END
"""
_TOTAL_SW = " + ".join(_sw_sql(lang) for lang in STOPWORDS)
_QUALITY = f"""
    0.4 * least(CAST(length(text) AS DOUBLE) / 400.0, 1.0)
    + 0.3 * (1.0 - least(({_PUNCT}) * 5.0, 1.0))
    + 0.3 * least(CAST({_TOTAL_SW} AS DOUBLE) * 8.0 / greatest({_N_TOKENS}, 1), 1.0)
"""
_FINGERPRINT = r"md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))))"

_ANALYZE_SQL = f"""
    SELECT doc_id,
           {_N_TOKENS} AS n_tokens,
           {_N_BPE} AS n_bpe_tokens,
           {_PUNCT} AS punct_ratio,
           {_NON_ASCII} AS non_ascii_ratio,
           {_PRED_LANG} AS pred_lang,
           {_QUALITY} AS quality,
           {_FINGERPRINT} AS fingerprint
    FROM documents
"""

_PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z][A-Za-z]+"
_PII_URL = r"https?://[^\s]+"
_PII_PHONE = r"\+[0-9][0-9 ()-]{6,}[0-9]"
_PII_CLEAN = (
    f"regexp_replace(regexp_replace(regexp_replace(text,"
    f" '{_PII_EMAIL}', '<EMAIL>', 'g'),"
    f" '{_PII_URL}', '<URL>', 'g'),"
    f" '{_PII_PHONE}', '<PHONE>', 'g')"
)


#: winnowing oracle: identical rolling-hash formula (power-of-B
#: literals baked from operators.text), same rightmost-min window
#: rule, same count+digest summary
_WLEN = "LEAST(4, len(hs))"
_WIN = f"hs[p : p + {_WLEN} - 1]"
_WINNOW_SQL = f"""
    WITH t AS (
        SELECT doc_id,
               lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))) AS t
        FROM documents
    ),
    c AS (
        SELECT doc_id,
               [unicode(t[i:i])::BIGINT FOR i IN range(1, length(t) + 1)] AS cps
        FROM t
    ),
    h AS (
        SELECT doc_id,
               [list_sum([cps[i + j - 1] * ([623063367, 336663071, 168429323,
                          67503107, 16974593, 66049, 257, 1])[j]
                          FOR j IN range(1, 8 + 1)]) % 2147483647
                FOR i IN range(1, greatest(len(cps) - 7, 1) + 1)
                IF i + 7 <= len(cps)] AS hs
        FROM c
    ),
    sel AS (
        -- (pos, fp) packed into one BIGINT (pos*2^31 + fp, both < 2^31):
        -- struct lists cannot be list_distinct'ed, and the composite
        -- sorts in the same (pos, fp) order as the Spark side
        SELECT doc_id,
               list_sort(list_distinct(
                   [(p + {_WLEN} - list_position(
                         list_reverse({_WIN}), list_min({_WIN})))::BIGINT
                      * 2147483648 + list_min({_WIN})::BIGINT
                    FOR p IN range(1, greatest(len(hs) - 3, 1) + 1)
                    IF p + {_WLEN} - 1 <= len(hs) AND {_WLEN} >= 1]
               )) AS sel
        FROM h
    )
    SELECT doc_id,
           len(sel)::BIGINT AS n_fps,
           md5(array_to_string(
               list_transform(sel, s ->
                   (s // 2147483648) || ':' || (s % 2147483648)), ',')) AS fp_digest
    FROM sel
"""

ORACLES = {
    "text_analyze": _ANALYZE_SQL,
    "text_redact_pii": f"""
        SELECT doc_id,
               len(regexp_extract_all(text, '{_PII_EMAIL}')) AS n_emails,
               len(regexp_extract_all(text, '{_PII_URL}')) AS n_urls,
               len(regexp_extract_all(text, '{_PII_PHONE}')) AS n_phones,
               md5({_PII_CLEAN}) AS clean_fp
        FROM documents
    """,
    "text_clean_corpus": f"""
        SELECT MIN(doc_id) AS doc_id,
               fingerprint,
               COUNT(*) AS n_copies
        FROM ({_ANALYZE_SQL})
        WHERE quality >= {CLEAN_MIN_QUALITY}
          AND n_tokens >= {CLEAN_MIN_TOKENS}
          AND pred_lang IN ({_CLEAN_LANGS_SQL})
        GROUP BY fingerprint
    """,
    "text_lang_profile": f"""
        SELECT pred_lang,
               COUNT(*) AS n_docs,
               CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
               CAST(SUM({sql_dec('round(quality, 4)', '8,4')}) AS DOUBLE)
                   / COUNT(*) AS avg_quality
        FROM ({_ANALYZE_SQL})
        GROUP BY pred_lang
    """,
    "text_heavy_hitters": f"""
        WITH t AS (
            SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
            FROM documents
        ),
        g AS (
            SELECT doc_id, unnest(list_transform(
                list_filter(
                    generate_series(1, greatest(len(toks) - {HH_N - 1}, 1)),
                    i -> i + {HH_N - 1} <= len(toks)),
                i -> array_to_string(list_slice(toks, i, i + {HH_N - 1}), ' ')
            )) AS ngram
            FROM t
        ),
        pg AS (SELECT doc_id, ngram, COUNT(*) AS n FROM g GROUP BY doc_id, ngram)
        SELECT ngram,
               CAST(SUM(n) AS BIGINT) AS n_total,
               COUNT(*) AS n_docs
        FROM pg GROUP BY ngram
        ORDER BY n_total DESC, ngram
        LIMIT {HH_K}
    """,
    "text_repetition": """
        WITH t AS (
            SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
            FROM documents
        ),
        g AS (
            SELECT doc_id, toks,
                   list_transform(list_filter(
                       generate_series(1, greatest(len(toks) - 1, 1)),
                       i -> i + 1 <= len(toks)),
                       i -> array_to_string(list_slice(toks, i, i + 1), ' ')
                   ) AS g2,
                   list_transform(list_filter(
                       generate_series(1, greatest(len(toks) - 2, 1)),
                       i -> i + 2 <= len(toks)),
                       i -> array_to_string(list_slice(toks, i, i + 2), ' ')
                   ) AS g3
            FROM t
        )
        SELECT doc_id,
               len(toks) AS n_tokens,
               CASE WHEN len(toks) > 0
                    THEN CAST(len(toks) - len(list_distinct(toks)) AS DOUBLE)
                         / len(toks) ELSE 0.0 END AS dup_word_frac,
               CASE WHEN len(g2) > 0
                    THEN CAST(len(g2) - len(list_distinct(g2)) AS DOUBLE)
                         / len(g2) ELSE 0.0 END AS dup_bigram_frac,
               CASE WHEN len(g3) > 0
                    THEN CAST(len(g3) - len(list_distinct(g3)) AS DOUBLE)
                         / len(g3) ELSE 0.0 END AS dup_trigram_frac
        FROM g
    """,
    "text_winnow": _WINNOW_SQL,
    "text_chunks": rf"""
        WITH t AS (
            SELECT doc_id, regexp_extract_all(text, '\S+') AS toks
            FROM documents
        ),
        s AS (
            SELECT doc_id,
                   toks,
                   list_filter(
                       generate_series(0, greatest(
                           (len(toks) - {CHUNK_TOKENS} + {CHUNK_STRIDE - 1})
                               // {CHUNK_STRIDE}, 0)),
                       j -> j * {CHUNK_STRIDE} < len(toks)) AS idxs
            FROM t
        ),
        c AS (
            SELECT doc_id, unnest(list_transform(idxs, j -> {{
                       'idx': j,
                       'txt': array_to_string(
                           list_slice(toks, j * {CHUNK_STRIDE} + 1,
                                      j * {CHUNK_STRIDE} + {CHUNK_TOKENS}), ' ')
                   }})) AS u
            FROM s
        )
        SELECT doc_id,
               u.idx AS chunk_idx,
               u.idx * {CHUNK_STRIDE} AS start_tok,
               len(regexp_extract_all(u.txt, '\S+')) AS n_chunk_tokens,
               md5(u.txt) AS chunk_fp
        FROM c
    """,
    "text_tfidf_terms": """
        WITH toks AS (
            SELECT doc_id AS doc, unnest(
                regexp_extract_all(lower(text), '[a-z0-9]+')) AS term
            FROM documents
        ),
        tf AS (
            SELECT doc, term, COUNT(*) AS tf
            FROM toks GROUP BY doc, term
        ),
        dfreq AS (
            SELECT term, COUNT(*) AS df_t FROM tf GROUP BY term
        ),
        n AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM documents)
        SELECT doc AS doc_id, term, tf, df_t, rank
        FROM (
            SELECT doc, term, tf, df_t,
                   row_number() OVER (
                       PARTITION BY doc
                       ORDER BY tf * ln(CAST(n_docs AS DOUBLE) / df_t) DESC,
                                term
                   ) AS rank
            FROM tf JOIN dfreq USING (term) CROSS JOIN n
        )
        WHERE rank <= 5
    """,
}


def q_text_lm_score(spark, sf_dir):
    """Bigram-LM cross-entropy fluency score per document (CCNet-style
    corpus self-scoring) — see text.ngram_lm_score for the two-count
    + two-natural-key-join scale shape and the decimal-quantized-log
    determinism contract."""
    docs = load_table(spark, sf_dir, "documents")
    return text.ngram_lm_score(
        docs, "doc_id", "text",
        cache_key=data_cache_key(sf_dir, "documents"),
    )


QUERIES["text_lm_score"] = q_text_lm_score

ORACLES["text_lm_score"] = """
    WITH t AS (
        SELECT doc_id,
               regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
        FROM documents
    ),
    o AS (
        SELECT doc_id, bg['w1'] AS w1, bg['w2'] AS w2
        FROM (
            SELECT doc_id,
                   unnest(list_transform(
                       list_filter(
                           generate_series(1, greatest(len(toks) - 1, 1)),
                           i -> i + 1 <= len(toks)),
                       i -> struct_pack(w1 := toks[i], w2 := toks[i + 1])
                   )) AS bg
            FROM t
        )
    ),
    c12 AS (SELECT w1, w2, COUNT(*) AS c12 FROM o GROUP BY 1, 2),
    c1 AS (SELECT w1, COUNT(*) AS c1 FROM o GROUP BY 1),
    v AS (SELECT COUNT(DISTINCT w2) AS v FROM o)
    SELECT o.doc_id AS doc_id,
           COUNT(*) AS n_bigrams,
           CAST(SUM(CAST(round(
               -log2(CAST(c12 + 1 AS DOUBLE) / CAST(c1 + v AS DOUBLE)),
               8) AS DECIMAL(18,8))) AS DOUBLE) / COUNT(*) AS xent
    FROM o
    JOIN c12 USING (w1, w2)
    JOIN c1 USING (w1)
    CROSS JOIN v
    GROUP BY o.doc_id
"""


def q_text_gopher_rules(spark, sf_dir):
    """Gopher heuristic quality gate (Rae et al. 2021 §A1.1): the five
    standard rule booleans + the conjunction, one map-only codegen
    projection over the scan — see operators.text.gopher_rules.
    min_words lowered to 10 for the short synthetic docs (the default
    50 is the paper's web-page threshold)."""
    from raft_c_spark.operators.text import gopher_rules

    docs = load_table(spark, sf_dir, "documents")
    return gopher_rules(docs, min_words=10)


QUERIES["text_gopher_rules"] = q_text_gopher_rules

ORACLES["text_gopher_rules"] = r"""
    WITH m AS (
        SELECT doc_id,
               len(regexp_extract_all(text, '\S+')) AS n_words,
               length(regexp_replace(text, '\s+', '', 'g')) AS wchars,
               len(regexp_extract_all(text, '#|\.\.\.')) AS symbols,
               len(regexp_extract_all(text, '(^|\s)\S*[A-Za-z]\S*'))
                   AS alpha_words,
               len(regexp_extract_all(lower(text),
                   '\b(the|be|to|of|and|that|have|with)\b')) AS sw_hits
        FROM documents
    ),
    r AS (
        SELECT doc_id,
               CAST(n_words AS BIGINT) AS n_words,
               round(CAST(wchars AS DOUBLE) / greatest(n_words, 1), 6)
                   AS mean_word_len,
               n_words >= 10 AND n_words <= 100000 AS rule_word_count,
               CAST(wchars AS DOUBLE) / greatest(n_words, 1) >= 3.0
                   AND CAST(wchars AS DOUBLE) / greatest(n_words, 1) <= 10.0
                   AS rule_mean_word_len,
               CAST(symbols AS DOUBLE) / greatest(n_words, 1) <= 0.1
                   AS rule_symbol_ratio,
               CAST(alpha_words AS DOUBLE) / greatest(n_words, 1) >= 0.8
                   AS rule_alpha_words,
               sw_hits >= 2 AS rule_stopwords
        FROM m
    )
    SELECT doc_id, n_words, mean_word_len, rule_word_count,
           rule_mean_word_len, rule_symbol_ratio, rule_alpha_words,
           rule_stopwords,
           rule_word_count AND rule_mean_word_len AND rule_symbol_ratio
               AND rule_alpha_words AND rule_stopwords AS passes_gopher
    FROM r
"""


#: eval/benchmark slice for the overlap-ratio decontamination query —
#: disjoint from DSIR_TARGET_SOURCES (src0/src1) so the two "special
#: slice" queries don't shadow each other
OVERLAP_EVAL_SOURCES = ("src18", "src19")
OVERLAP_N = 3  # 13 in production; the synthetic docs are short
OVERLAP_THRESHOLD = 0.5


def q_ds_contamination_overlap(spark, sf_dir):
    """GPT-3-style benchmark decontamination by n-gram overlap ratio:
    fraction of each training doc's distinct 3-grams occurring in the
    held-out eval slice, flagged above 50% — see
    operators.text.ngram_overlap_contamination for the broadcast
    key-set shape."""
    docs = load_table(spark, sf_dir, "documents")
    is_eval = F.col("source").isin(*OVERLAP_EVAL_SOURCES)
    return text.ngram_overlap_contamination(
        docs.filter(~is_eval),
        docs.filter(is_eval),
        "doc_id",
        "text",
        n=OVERLAP_N,
        threshold=OVERLAP_THRESHOLD,
    )


QUERIES["ds_contamination_overlap"] = q_ds_contamination_overlap

ORACLES["ds_contamination_overlap"] = rf"""
    WITH tr AS (
        SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
        FROM documents
        WHERE source NOT IN {OVERLAP_EVAL_SOURCES!r}
    ),
    ev AS (
        SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
        FROM documents
        WHERE source IN {OVERLAP_EVAL_SOURCES!r}
    ),
    tg AS (
        SELECT DISTINCT doc_id,
               array_to_string(
                   list_slice(toks, i, i + {OVERLAP_N - 1}), ' ') AS gram
        FROM tr, unnest(generate_series(1, len(toks) - {OVERLAP_N - 1}))
                 AS u(i)
        WHERE len(toks) >= {OVERLAP_N}
    ),
    eg AS (
        SELECT DISTINCT
               array_to_string(
                   list_slice(toks, i, i + {OVERLAP_N - 1}), ' ') AS gram
        FROM ev, unnest(generate_series(1, len(toks) - {OVERLAP_N - 1}))
                 AS u(i)
        WHERE len(toks) >= {OVERLAP_N}
    ),
    s AS (
        SELECT t.doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_grams,
               CAST(SUM(CASE WHEN e.gram IS NOT NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_hit
        FROM tg t LEFT JOIN eg e USING (gram)
        GROUP BY t.doc_id
    )
    SELECT doc_id, n_grams, n_hit,
           round(CAST(n_hit AS DOUBLE) / n_grams, 8) AS overlap_ratio,
           CAST(n_hit AS DOUBLE) / n_grams > {OVERLAP_THRESHOLD}
               AS contaminated
    FROM s
"""


#: collocation constants shared query↔oracle so editing either cannot
#: desync them
COLLOC_MIN_COUNT = 5
COLLOC_K = 50


def q_text_collocations(spark, sf_dir):
    """Top-k PMI bigram collocations — see text.collocations for the
    fixed-IEEE-op-order determinism contract and the two-aggregate /
    vocab-shaped-join scale shape."""
    docs = load_table(spark, sf_dir, "documents")
    return text.collocations(
        docs, min_count=COLLOC_MIN_COUNT, k=COLLOC_K
    )


QUERIES["text_collocations"] = q_text_collocations

# the PMI operand chain matches the operator's op order exactly:
# (c_ab/B) / ((c_a/T) * (c_b/T)) — every divide/multiply one IEEE
# rounding — then one ln rounded to 8 decimals; totals are computed
# from the same per-doc token arrays (B counts len-1 per doc with
# >= 2 tokens).
ORACLES["text_collocations"] = f"""
    WITH base AS (
        SELECT regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
        FROM documents
    ),
    stats AS (
        SELECT SUM(len(toks)) AS t_tokens,
               SUM(greatest(len(toks) - 1, 0)) AS b_pairs
        FROM base
    ),
    uni AS (
        SELECT w, COUNT(*) AS c_w
        FROM (SELECT unnest(toks) AS w FROM base) GROUP BY w
    ),
    bi AS (
        SELECT b.w1, b.w2, COUNT(*) AS c_ab FROM (
            SELECT unnest(list_transform(range(1, len(toks)),
                i -> struct_pack(w1 := toks[i], w2 := toks[i+1]))) AS b
            FROM base WHERE len(toks) >= 2
        ) GROUP BY b.w1, b.w2
        HAVING COUNT(*) >= {COLLOC_MIN_COUNT}
    )
    SELECT bi.w1, bi.w2,
           CAST(c_ab AS BIGINT) AS n_pair,
           CAST(u1.c_w AS BIGINT) AS n_w1,
           CAST(u2.c_w AS BIGINT) AS n_w2,
           round(ln((CAST(c_ab AS DOUBLE) / b_pairs)
                 / ((CAST(u1.c_w AS DOUBLE) / t_tokens)
                    * (CAST(u2.c_w AS DOUBLE) / t_tokens))), 8) AS pmi
    FROM bi
    JOIN uni u1 ON u1.w = bi.w1
    JOIN uni u2 ON u2.w = bi.w2
    CROSS JOIN stats
    ORDER BY pmi DESC, w1 ASC, w2 ASC
    LIMIT {COLLOC_K}
"""


# --- per-language unigram KL (oracle compare:
# tests/test_entry_contract.py::test_query_matches_oracle[ds_lang_kl]) --


def q_ds_lang_kl(spark, sf_dir):
    """Per-language unigram KL divergence vs the corpus distribution
    — see text.lang_unigram_kl for the quantized-log determinism
    contract and the single-consumer-per-aggregate scale shape."""
    docs = load_table(spark, sf_dir, "documents")
    return text.lang_unigram_kl(docs)


QUERIES["ds_lang_kl"] = q_ds_lang_kl


# op order mirrors the operator exactly: p_lw = c_lw/t_l and
# p_w = c_w/t are single IEEE divisions of exact ints, each word's
# p_lw*ln(p_lw/p_w) term quantizes to DECIMAL(18,8) before the
# per-language sum; language/corpus totals come from the same
# no-explode per-doc length sums.
LANG_KL_ORACLE_SQL = """
    WITH tagged AS (
        SELECT lang, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
        FROM documents
    ),
    lw AS (
        SELECT lang, w, COUNT(*) AS c_lw
        FROM (SELECT lang, unnest(toks) AS w FROM tagged)
        GROUP BY lang, w
    ),
    word_tot AS (
        SELECT w, COUNT(*) AS c_w
        FROM (SELECT unnest(toks) AS w FROM tagged) GROUP BY w
    ),
    lang_tot AS (
        SELECT lang, SUM(len(toks)) AS t_l FROM tagged GROUP BY lang
    ),
    corpus_tot AS (SELECT SUM(len(toks)) AS t FROM tagged),
    per_lang AS (
        SELECT lw.lang,
               CAST(COUNT(*) AS BIGINT) AS n_types,
               round(CAST(SUM(CAST(round(
                   (CAST(c_lw AS DOUBLE) / t_l)
                   * ln((CAST(c_lw AS DOUBLE) / t_l)
                        / (CAST(c_w AS DOUBLE) / t)), 8)
                 AS DECIMAL(18,8))) AS DOUBLE), 8) AS kl_nats
        FROM lw
        JOIN word_tot USING (w)
        JOIN lang_tot ON lang_tot.lang = lw.lang
        CROSS JOIN corpus_tot
        GROUP BY lw.lang, t_l
    )
    -- left join from the totals so a zero-token language (nothing
    -- for the [a-z0-9]+ tokenizer) emits n_tokens=0 / kl_nats=NULL
    -- instead of vanishing, mirroring the operator
    SELECT lang_tot.lang,
           CAST(t_l AS BIGINT) AS n_tokens,
           CAST(COALESCE(n_types, 0) AS BIGINT) AS n_types,
           kl_nats
    FROM lang_tot
    LEFT JOIN per_lang ON per_lang.lang = lang_tot.lang
    ORDER BY lang_tot.lang
"""

ORACLES["ds_lang_kl"] = LANG_KL_ORACLE_SQL


def q_ds_ccnet_buckets(spark, sf_dir):
    """CCNet perplexity bucketing: bigram-LM score per doc, per-lang
    exact-percentile cuts at 0.25/0.75, per (lang, bucket) counts +
    median/min/max — see operators.text.ccnet_perplexity_buckets."""
    docs = load_table(spark, sf_dir, "documents")
    return text.ccnet_perplexity_buckets(
        docs, cache_key=data_cache_key(sf_dir, "documents")
    )


QUERIES["ds_ccnet_buckets"] = q_ds_ccnet_buckets

ORACLES["ds_ccnet_buckets"] = f"""
    WITH w AS ({ORACLES["text_lm_score"]}),
    s AS (
        SELECT w.doc_id, w.xent, d.lang
        FROM w JOIN documents d USING (doc_id)
    ),
    c AS (
        SELECT lang,
               quantile_cont(xent, 0.25) AS cut_lo,
               quantile_cont(xent, 0.75) AS cut_hi
        FROM s GROUP BY lang
    ),
    b AS (
        SELECT s.lang,
               CASE WHEN s.xent <= c.cut_lo THEN 'head'
                    WHEN s.xent <= c.cut_hi THEN 'middle'
                    ELSE 'tail' END AS bucket,
               s.xent
        FROM s JOIN c USING (lang)
    )
    SELECT lang, bucket,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           quantile_cont(xent, 0.5) AS median_xent,
           min(xent) AS min_xent,
           max(xent) AS max_xent
    FROM b GROUP BY lang, bucket
"""


def q_ds_ccnet_buckets_approx(spark, sf_dir):
    """The percentile_approx (GK sketch) path of the CCNet cuts, made
    executable + rank-certified (the 100 TB swap
    was prose; this runs it). Emits per-lang exact doc counts plus
    booleans certifying each approx cut's rank interval sits inside
    the sketch's own ±1/accuracy (+2/N slack) error band — sketch
    VALUES are engine-specific, so the certified contract is what
    crosses the driver hash. See text.ccnet_buckets_approx_certify."""
    docs = load_table(spark, sf_dir, "documents")
    return text.ccnet_buckets_approx_certify(
        docs, cache_key=data_cache_key(sf_dir, "documents")
    )


QUERIES["ds_ccnet_buckets_approx"] = q_ds_ccnet_buckets_approx

# the oracle replays the exact per-language counts and expects every
# certification boolean TRUE: a GK sketch drifting outside its own
# rank-error contract (or a band-arithmetic bug) surfaces as a driver
# hash mismatch — the ev_approx_profile in-error-band pattern
ORACLES["ds_ccnet_buckets_approx"] = f"""
    WITH w AS ({ORACLES["text_lm_score"]}),
    s AS (
        SELECT w.doc_id, d.lang
        FROM w JOIN documents d USING (doc_id)
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           TRUE AS cut_lo_in_band,
           TRUE AS cut_hi_in_band
    FROM s GROUP BY lang
    ORDER BY lang
"""


#: BM25 retrieval query — fixed bag-of-words query over the corpus
#: (terms chosen from the synthetic vocabulary; the operator handles
#: arbitrary term lists)
BM25_TERMS = ["vector", "stream", "merge", "window"]
BM25_K = 20


def q_text_bm25_topk(spark, sf_dir):
    """BM25 top-k retrieval for a fixed query — see text.bm25_topk
    for the quantized-idf determinism contract and the
    matched-tokens-only shuffle / TakeOrderedAndProject scale shape."""
    docs = load_table(spark, sf_dir, "documents")
    return text.bm25_topk(docs, BM25_TERMS, k=BM25_K)


QUERIES["text_bm25_topk"] = q_text_bm25_topk

# constants are CAST(... AS DOUBLE) so DuckDB's decimal literals don't
# produce exact-decimal intermediates where Spark computes in doubles
# (tf*2.2 exact-decimal→double differs from double-tf*2.2 in the last
# ulp); the final score is rounded to 8 decimals on both engines
# because a scale-16 decimal→double cast is not correctly rounded in
# every engine.
#: the IN-list and LIMIT interpolate from BM25_TERMS/BM25_K (sorted,
#: matching the operator's own term normalization) so editing either
#: constant cannot desync query from oracle
_BM25_IN = ",".join(f"'{t}'" for t in sorted(set(BM25_TERMS)))

ORACLES["text_bm25_topk"] = f"""
    WITH base AS (
        SELECT doc_id AS doc,
               regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
        FROM documents
    ),
    matched AS (
        SELECT doc, len(toks) AS dl,
               unnest(list_filter(toks, t -> t IN
                   ({_BM25_IN}))) AS term
        FROM base
    ),
    tf AS (
        SELECT doc, dl, term, COUNT(*) AS tf
        FROM matched GROUP BY doc, dl, term
    ),
    dfreq AS (SELECT term, COUNT(*) AS df_t FROM tf GROUP BY term),
    stats AS (
        SELECT COUNT(*) AS n_docs, SUM(len(toks)) AS dl_total FROM base
    ),
    scored AS (
        SELECT doc,
            CAST(round(ln(CAST(1.0 AS DOUBLE)
                + (n_docs - df_t + CAST(0.5 AS DOUBLE))
                  / (df_t + CAST(0.5 AS DOUBLE))), 8) AS DECIMAL(18,8))
          * CAST(round((tf * CAST(2.2 AS DOUBLE))
                / (tf + CAST(1.2 AS DOUBLE)
                   * (CAST(1.0 AS DOUBLE) - CAST(0.75 AS DOUBLE)
                      + CAST(0.75 AS DOUBLE) * dl
                        / (CAST(dl_total AS DOUBLE) / n_docs))),
                 8) AS DECIMAL(18,8)) AS s
        FROM tf JOIN dfreq USING (term) CROSS JOIN stats
    )
    SELECT doc AS doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_terms,
           round(CAST(SUM(s) AS DOUBLE), 8) AS score
    FROM scored GROUP BY doc
    ORDER BY score DESC, doc
    LIMIT {BM25_K}
"""


def q_text_char_entropy(spark, sf_dir):
    """Per-document character-level Shannon entropy — see
    text.char_entropy for the quantized-log determinism contract and
    the two-aggregate, join-free scale shape."""
    docs = load_table(spark, sf_dir, "documents")
    return text.char_entropy(docs).orderBy("doc_id")


QUERIES["text_char_entropy"] = q_text_char_entropy

ORACLES["text_char_entropy"] = """
    WITH base AS (
        SELECT doc_id AS doc, length(text) AS n,
               unnest(string_split(text, '')) AS ch
        FROM documents
    ),
    counts AS (
        SELECT doc, n, ch, COUNT(*) AS cnt
        FROM base WHERE ch <> '' GROUP BY doc, n, ch
    )
    SELECT doc AS doc_id,
           n AS n_chars_counted,
           CAST(COUNT(*) AS BIGINT) AS n_distinct_chars,
           round(CAST(SUM(CAST(round(
               -(CAST(cnt AS DOUBLE) / n)
               * log2(CAST(cnt AS DOUBLE) / n), 8) AS DECIMAL(18,8)))
             AS DOUBLE), 8) AS entropy_bits
    FROM counts GROUP BY doc, n
    ORDER BY doc
"""


# --- vocabulary growth + per-doc novelty -----------------------------------

NOVELTY_N = 3


def q_text_vocab_growth(spark, sf_dir):
    """Per-source type-token audit with the Heaps'-law exponent — see
    text.vocab_growth for the quantized-log determinism contract and
    the two-aggregate vocab-bounded scale shape."""
    docs = load_table(spark, sf_dir, "documents")
    return text.vocab_growth(docs)


QUERIES["text_vocab_growth"] = q_text_vocab_growth

# op order mirrors the operator: ttr is one IEEE division rounded to
# 8; heaps_beta quantizes EACH ln to 8 decimals before dividing
ORACLES["text_vocab_growth"] = """
    WITH base AS (
        SELECT source AS grp,
               regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
        FROM documents
    ),
    tot AS (
        SELECT grp, SUM(len(toks)) AS n_tokens, COUNT(*) AS n_docs
        FROM base GROUP BY grp
    ),
    ty AS (
        SELECT grp, COUNT(DISTINCT w) AS n_types
        FROM (SELECT grp, unnest(toks) AS w FROM base) GROUP BY grp
    )
    SELECT tot.grp AS source,
           CAST(n_docs AS BIGINT) AS n_docs,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(COALESCE(n_types, 0) AS BIGINT) AS n_types,
           CASE WHEN n_tokens > 0
                THEN round(CAST(n_types AS DOUBLE) / n_tokens, 8)
           END AS ttr,
           CASE WHEN n_tokens > 1
                THEN round(round(ln(CAST(n_types AS DOUBLE)), 8)
                           / round(ln(CAST(n_tokens AS DOUBLE)), 8), 8)
           END AS heaps_beta
    FROM tot LEFT JOIN ty ON ty.grp = tot.grp
    ORDER BY source
"""


def q_text_novelty(spark, sf_dir):
    """Per-document first-seen-gram fraction (marginal contribution)
    — see text.novelty for the map-side-distinct + min-doc aggregate
    scale shape and the 128-bit gram-hash collision stance."""
    docs = load_table(spark, sf_dir, "documents")
    return text.novelty(docs, n=NOVELTY_N)


QUERIES["text_novelty"] = q_text_novelty

# string grams in the oracle vs 128-bit hashes in the engine —
# identical counts up to hash collisions (detected as a driver
# mismatch, the dedup-family stance)
ORACLES["text_novelty"] = f"""
    WITH base AS (
        SELECT doc_id,
               regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
        FROM documents
    ),
    grams AS (
        SELECT DISTINCT doc_id, g FROM (
            SELECT doc_id, unnest(list_transform(
                list_filter(
                    generate_series(1, greatest(len(toks) - {NOVELTY_N - 1}, 1)),
                    i -> i + {NOVELTY_N - 1} <= len(toks)),
                i -> array_to_string(
                    list_slice(toks, i, i + {NOVELTY_N - 1}), ' ')
            )) AS g
            FROM base WHERE len(toks) >= {NOVELTY_N}
        )
    ),
    first AS (SELECT g, MIN(doc_id) AS first_doc FROM grams GROUP BY g),
    sc AS (
        SELECT grams.doc_id, COUNT(*) AS n_grams,
               SUM(CASE WHEN first_doc = grams.doc_id THEN 1 ELSE 0 END)
                   AS n_first
        FROM grams JOIN first USING (g) GROUP BY grams.doc_id
    )
    SELECT d.doc_id,
           CAST(COALESCE(n_grams, 0) AS BIGINT) AS n_grams,
           CAST(COALESCE(n_first, 0) AS BIGINT) AS n_first,
           CASE WHEN n_grams > 0
                THEN round(CAST(n_first AS DOUBLE) / n_grams, 8)
           END AS novelty
    FROM documents d LEFT JOIN sc ON sc.doc_id = d.doc_id
    ORDER BY d.doc_id
"""


# --- zlib compression ratio (oracle compare:
# tests/test_entry_contract.py::test_query_matches_oracle[text_compression];
# an unknown corpus: test_compression_unknown_corpus_errors_loudly) -----

#: documents-corpus fingerprint — a cheap exact-integer aggregate both
#: engines compute identically, keying the ground-truth parquet rows
#: the way the IVF oracle keys its corpora. (Bound note: the i64 sum
#: is safe to ~10^12 corpus rows at these id/length magnitudes.)
DOCS_FP_SQL = (
    "SELECT CAST(SUM(doc_id * 1000003 + length(text)) AS BIGINT) "
    "FROM documents"
)

COMPRESSION_LEVEL = 6
COMPRESSION_GT_VERSION = 1


def _docs_corpus_paths() -> list[str]:
    import os

    roots = [
        "/root/testdata/sf0.001",
        "/root/testdata/sf0.01",
        "/root/testdata/sf0.1",
    ]
    return [
        os.path.join(r, "documents.parquet")
        for r in roots
        if os.path.exists(os.path.join(r, "documents.parquet"))
    ]


def _compression_expected_rows() -> list[dict]:
    """Pure-python replay (pyarrow + zlib — no Spark) of the operator
    over every registered documents corpus, tagged by fingerprint."""
    import zlib

    import pyarrow.parquet as pq

    rows: list[dict] = []
    for path in _docs_corpus_paths():
        t = pq.read_table(path, columns=["doc_id", "text"])
        ids = t.column("doc_id").to_pylist()
        texts = t.column("text").to_pylist()
        fp = sum(
            i * 1000003 + len((x or "").encode("utf-8"))
            for i, x in zip(ids, texts)
        )
        # NB: DuckDB length(text) counts CHARACTERS; the synthetic
        # corpora are ASCII so chars == utf-8 bytes — asserted here so
        # a non-ASCII regeneration fails loudly instead of desyncing
        # the fingerprint
        assert all((x or "").isascii() for x in texts), path
        for i, x in zip(ids, texts):
            b = (x or "").encode("utf-8")
            c = len(zlib.compress(b, COMPRESSION_LEVEL))
            rows.append(
                {
                    "corpus_fp": fp,
                    "doc_id": i,
                    "n_bytes": len(b),
                    "n_compressed": c,
                    "ratio": round(c / len(b), 8) if b else None,
                }
            )
    return rows


def compression_expected_parquet_path() -> str:
    import pyarrow as pa

    from raft_c_spark.plans.multimodal import _ground_truth_parquet

    return _ground_truth_parquet(
        f"compression_expected_v{COMPRESSION_GT_VERSION}"
        f"_l{COMPRESSION_LEVEL}.parquet",
        _compression_expected_rows,
        [
            ("corpus_fp", pa.int64()),
            ("doc_id", pa.int64()),
            ("n_bytes", pa.int64()),
            ("n_compressed", pa.int64()),
            ("ratio", pa.float64()),
        ],
    )


def q_text_compression(spark, sf_dir):
    """Per-doc zlib compressibility quality signal — see
    text.compression_ratio for the pure-python-replay oracle
    treatment and the Arrow-kernel scan-cost-class scale shape."""
    docs = load_table(spark, sf_dir, "documents")
    return text.compression_ratio(docs, level=COMPRESSION_LEVEL)


def compression_oracle_sql() -> str:
    gt = f"read_parquet('{compression_expected_parquet_path()}')"
    return f"""
        SELECT doc_id, n_bytes, n_compressed, ratio
        FROM {gt} WHERE corpus_fp = ({DOCS_FP_SQL})
        UNION ALL
        SELECT CAST(error('no compression ground truth for this '
                          'documents corpus; add its sf dir to '
                          'plans/text._docs_corpus_paths') AS BIGINT),
               NULL, NULL, NULL
        WHERE NOT EXISTS (
            SELECT 1 FROM {gt} WHERE corpus_fp = ({DOCS_FP_SQL})
        )
        ORDER BY doc_id
    """


QUERIES["text_compression"] = q_text_compression
ORACLES["text_compression"] = compression_oracle_sql()
