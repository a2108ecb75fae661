"""Text-analysis operators for large-scale training-data pipelines:
language ID, quality scoring, token counting, document fingerprinting.

All pure-column expressions (JVM-side, whole-stage codegen — no Python
UDFs in the hot path): at 100 TB these run at parquet-scan speed with
full predicate pushdown upstream.

Cross-engine determinism (for the DuckDB oracle): ASCII-only regex
classes (identical semantics in Java regex and RE2), integer counts,
and double arithmetic on those ints — no float-accumulation anywhere.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from raft_c_spark.functions.diskcache import cached_parquet
from raft_c_spark.functions.metabound import _widen

# The per-row-heavy operators below scan through ``_widen``: a small
# local file set reads as one task, and widening it only changes row
# placement, never values. Every consumer is a per-row projection or a
# key-grouped aggregate (the family's DECIMAL-quantization rule makes
# every sum order-independent), so results are identical either way.

#: small per-language stopword probes (word-boundary matched, lowercased)
STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "is", "in"],
    "de": ["der", "die", "und", "nicht", "ist", "ein"],
    "es": ["el", "la", "los", "que", "y", "de"],
    "fr": ["le", "les", "des", "est", "et", "une"],
}

TOKEN_PATTERN = r"[A-Za-z0-9]+|[^A-Za-z0-9\s]"  # BPE-ish: words + punct marks


def whitespace_token_count(col: Column) -> Column:
    """Whitespace-delimited token count; 0 for empty/blank text."""
    return F.regexp_count(col, F.lit(r"\S+"))


def regex_token_count(col: Column) -> Column:
    """BPE-ish token count: alnum runs + individual punctuation."""
    return F.regexp_count(col, F.lit(TOKEN_PATTERN))


def non_ascii_ratio(col: Column) -> Column:
    """Fraction of characters outside ASCII (CJK etc.). The kept
    class is printable ASCII PLUS tab/newline/CR:
    without the whitespace controls, a tab-indented or line-broken
    pure-ASCII doc read as >30% "non-ASCII" and tripped the CJK gate
    in lang_id."""
    non_ascii = F.length(F.regexp_replace(col, "[\t\n\r -~]", ""))
    return non_ascii.cast("double") / F.greatest(F.length(col), F.lit(1))


def punct_ratio(col: Column) -> Column:
    punct = F.regexp_count(col, F.lit(r"[^A-Za-z0-9\s]"))
    return punct.cast("double") / F.greatest(F.length(col), F.lit(1))


def stopword_count(col: Column, lang: str) -> Column:
    pat = r"\b(" + "|".join(STOPWORDS[lang]) + r")\b"
    return F.regexp_count(F.lower(col), F.lit(pat))


def lang_id(col: Column) -> Column:
    """Heuristic language ID: CJK-density → zh, else stopword-probe
    argmax with fixed precedence (en > de > es > fr > unknown) for
    deterministic ties."""
    s = {lang: stopword_count(col, lang) for lang in STOPWORDS}
    best = F.greatest(*s.values())
    return (
        F.when(non_ascii_ratio(col) > 0.3, F.lit("zh"))
        .when(best == 0, F.lit("unknown"))
        .when(s["en"] == best, F.lit("en"))
        .when(s["de"] == best, F.lit("de"))
        .when(s["es"] == best, F.lit("es"))
        .otherwise(F.lit("fr"))
    )


def quality_score(col: Column) -> Column:
    """[0,1] heuristic quality: length target + low punctuation noise +
    stopword density (any language). Deterministic double arithmetic
    over integer counts."""
    length_score = F.least(F.length(col).cast("double") / F.lit(400.0), F.lit(1.0))
    punct_noise = F.least(punct_ratio(col) * F.lit(5.0), F.lit(1.0))
    total_sw = sum(stopword_count(col, lang) for lang in STOPWORDS)
    sw_density = F.least(
        total_sw.cast("double") * F.lit(8.0)
        / F.greatest(whitespace_token_count(col), F.lit(1)),
        F.lit(1.0),
    )
    return (
        F.lit(0.4) * length_score
        + F.lit(0.3) * (F.lit(1.0) - punct_noise)
        + F.lit(0.3) * sw_density
    )


def fingerprint(col: Column) -> Column:
    """Deterministic document fingerprint: md5 over the
    whitespace-normalized, lowercased text (near-dup-stable for pure
    formatting changes)."""
    norm = F.lower(F.trim(F.regexp_replace(col, r"\s+", " ")))
    return F.md5(norm.cast("binary"))


#: PII patterns kept to constructs with identical semantics in Java
#: regex and RE2 (character classes, greedy quantifiers — no
#: backrefs/lookaround), so the redaction is engine-reproducible
PII_PATTERNS = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z][A-Za-z]+",
    "url": r"https?://[^\s]+",
    "phone": r"\+[0-9][0-9 ()-]{6,}[0-9]",
}


def redact_pii(df: DataFrame, text_col: str = "text") -> DataFrame:
    """PII scrub — the pre-training redaction pass: replace emails,
    URLs and international-format phone numbers with typed placeholder
    tokens, and count each. Pure column expressions (scan-speed, no
    shuffle, no UDF); patterns applied email → url → phone so counts
    refer to the original text and replacements cannot cascade."""
    c = F.col(text_col)
    out = _widen(df)
    for kind, pat in PII_PATTERNS.items():
        out = out.withColumn(
            f"n_{kind}s", F.size(F.regexp_extract_all(c, F.lit(pat), F.lit(0)))
        )
    clean = c
    for kind, pat in PII_PATTERNS.items():
        clean = F.regexp_replace(clean, pat, f"<{kind.upper()}>")
    return out.withColumn("clean_text", clean)


def analyze(df: DataFrame, text_col: str = "text") -> DataFrame:
    """One-pass enrichment with every text metric — single projection,
    no shuffle (``_widen`` adds one only where the local scan
    cannot parallelize at all)."""
    df = _widen(df)
    c = F.col(text_col)
    return df.select(
        "*",
        whitespace_token_count(c).alias("n_tokens"),
        regex_token_count(c).alias("n_bpe_tokens"),
        punct_ratio(c).alias("punct_ratio"),
        non_ascii_ratio(c).alias("non_ascii_ratio"),
        lang_id(c).alias("pred_lang"),
        quality_score(c).alias("quality"),
        fingerprint(c).alias("fingerprint"),
    )


def heavy_hitter_ngrams(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 2,
    k: int = 50,
) -> DataFrame:
    """Corpus-wide top-k word n-grams — the vocabulary/contamination
    scan of a corpus pipeline (boilerplate detection, benchmark-leak
    probes run on exactly this shape).

    Exact, not sketched: per-doc gram counts first (map-side combine
    on the (doc, ngram) aggregate), then one gram-keyed aggregate, then
    a global top-k that Spark executes as TakeOrdered (per-partition
    heap + driver merge of k rows — no global sort shuffle). Ties are
    totally ordered by (count desc, ngram asc), so the k-boundary is
    deterministic across engines and partitionings. N-gram generation
    is ``_word_ngrams`` — the single shared generator every gram
    consumer (decontamination, bloom, this) uses, so a tokenization
    fix lands everywhere at once (this body once duplicated it
    verbatim).
    """
    grams = _word_ngrams(_widen(df), id_col, text_col, n).withColumnRenamed(
        "gram", "ngram"
    )
    per_doc = grams.groupBy("doc", "ngram").agg(F.count(F.lit(1)).alias("n"))
    return (
        per_doc.groupBy("ngram")
        .agg(
            F.sum("n").alias("n_total"),
            F.count(F.lit(1)).alias("n_docs"),
        )
        .orderBy(F.desc("n_total"), F.asc("ngram"))
        .limit(k)
    )


def chunk_documents(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk: int = 32,
    stride: int = 24,
) -> DataFrame:
    """Split each document's token stream into fixed-size overlapping
    chunks (context-window prep for training). Chunk j covers tokens
    [j*stride, j*stride + chunk); the last start is the first one whose
    chunk reaches the end of the doc, so no chunk is a strict subset of
    its predecessor; empty documents yield no chunks.

    Zero-shuffle scale shape: tokenize → per-row higher-order
    transform → posexplode, all inside one projection (whole-stage
    codegen, no UDF, no aggregation). Row growth is bounded by
    ~len/stride per doc and stays distributed. The chunk text itself
    leaves the operator only as an md5 fingerprint — at 100 TB the
    rechunked corpus would be written straight to parquet, never
    hauled to a driver."""
    if not 0 < stride <= chunk:
        raise ValueError("require 0 < stride <= chunk")
    toks = F.regexp_extract_all(F.col(text_col), F.lit(r"\S+"), F.lit(0))
    # NOT _widen: chunking is emit-heavy, not expression-heavy —
    # an interleaved A/B read the widen exchange as a wash (1.06×)
    # and reverting keeps the operator's zero-Exchange plan pin.
    base = df.select(F.col(id_col).alias("_id"), toks.alias("toks"))
    n_starts_m1 = F.greatest(
        F.floor((F.size("toks") - chunk + (stride - 1)) / stride).cast("int"),
        F.lit(0),
    )
    idxs = F.filter(
        F.sequence(F.lit(0), n_starts_m1),
        lambda j: (j * stride) < F.size("toks"),
    )
    chunks = F.transform(
        idxs, lambda j: F.concat_ws(" ", F.slice("toks", j * stride + 1, chunk))
    )
    out = base.select(
        "_id", F.posexplode(chunks).alias("chunk_idx", "chunk_text")
    )
    return out.select(
        F.col("_id").alias(id_col),
        "chunk_idx",
        (F.col("chunk_idx") * stride).alias("start_tok"),
        whitespace_token_count(F.col("chunk_text")).alias("n_chunk_tokens"),
        F.md5(F.col("chunk_text").cast("binary")).alias("chunk_fp"),
    )


def tfidf_top_terms(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
) -> DataFrame:
    """Top-k terms per document by tf-idf (idf = ln(N/df)) — the
    keyword-extraction pass of a corpus pipeline.

    Determinism contract: ln() is ranking-only (libm last-ulp
    differences between engines cannot reorder terms whose (tf, df)
    inputs differ — the score gap is ≥ ~tf/df, many orders of
    magnitude above 1 ulp; equal inputs give equal scores and fall to
    the term tie-break). Output columns are ints/strings only.

    Scale shape: tokenize → one (doc, term) count aggregate → a
    term-keyed doc-frequency aggregate REUSED from the tf frame (no
    second corpus scan) → shuffle join on term (vocabulary grows with
    the corpus — never broadcast) → per-doc top-k window. Three
    shuffles total, all on natural keys, no driver materialization.
    """
    from pyspark.sql import Window

    # NOT _widen: an interleaved A/B measured the widen
    # exchange 1.89× SLOWER here — the cost sits in the window/join
    # stages after the tf aggregate, not the tokenize, and the extra
    # round-robin exchange of raw text only added overhead.
    # ALSO measured and rejected: tf.persist() + eager count so
    # dfreq's derivation stops re-running the tokenize — interleaved
    # A/B read min 2.15 → 3.52 s, CPU 2.9 → 6.8: materializing the
    # (doc, term) frame costs more than the second tokenize pass at
    # bench scale (and at 100 TB tf is ~token-stream-sized, so the
    # persist is no bargain there either).
    toks = df.select(
        F.col(id_col).alias("doc"),
        F.explode(
            F.expr(f"regexp_extract_all(lower({text_col}), '[a-z0-9]+', 0)")
        ).alias("term"),
    )
    tf = toks.groupBy("doc", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df_t"))
    n_docs = df.select(F.countDistinct(F.col(id_col)).alias("n_docs"))
    scored = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn(
            "score",
            F.col("tf")
            * F.log(F.col("n_docs").cast("double") / F.col("df_t")),
        )
    )
    w = Window.partitionBy("doc").orderBy(F.desc("score"), F.asc("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col("doc").alias(id_col),
            "term",
            "tf",
            "df_t",
            "rank",
        )
    )


def _word_ngrams(
    df: DataFrame, id_col: str, text_col: str, n: int
) -> DataFrame:
    """(doc, gram) word n-grams (with per-doc repeats) — JVM
    higher-order transform over the token array; the ONE shared gram
    generator (heavy_hitter_ngrams, decontaminate, bloom all consume
    it; docs shorter than n yield no grams)."""
    toks = F.regexp_extract_all(
        F.lower(F.col(text_col)), F.lit("[a-z0-9]+"), F.lit(0)
    )
    base = df.select(F.col(id_col).alias("doc"), toks.alias("toks"))
    idxs = F.filter(
        F.sequence(F.lit(1), F.greatest(F.size("toks") - (n - 1), F.lit(1))),
        lambda i: (i + (n - 1)) <= F.size("toks"),
    )
    return base.select(
        "doc",
        F.explode(
            F.transform(idxs, lambda i: F.concat_ws(" ", F.slice("toks", i, n)))
        ).alias("gram"),
    )


def _estimated_bytes(df: DataFrame) -> int:
    """Catalyst's logical-plan size estimate (file statistics — no
    job runs). Unknown stats report as huge, which safely disables
    size-gated broadcasts."""
    try:
        size = df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        # py4j hands scala.math.BigInt back as a Python int on this
        # build; older bridges return the object (needs toString)
        return int(size if isinstance(size, int) else size.toString())
    except Exception:
        return 1 << 62


def decontaminate(
    train: DataFrame,
    eval_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
    broadcast_max_eval_bytes: int = 64 << 20,
) -> DataFrame:
    """Benchmark decontamination: training documents sharing any word
    n-gram with the eval/benchmark set, with the count of distinct
    shared grams — the overlap filter every serious pretraining
    pipeline runs before training (the classic form checks 8-13-gram
    collisions against held-out benchmarks).

    Scale shape: the eval side is benchmarks — thousands of docs
    against a 100 TB corpus — so its distinct gram set broadcasts.
    The gate is the eval side's *byte* size from Catalyst file
    statistics (zero jobs at plan time; a byte gate also catches the
    few-huge-docs corpus a row-count gate would wave through —
    ~64 MB of raw text bounds the gram-string set at a few hundred
    MB). Above the gate no hint is planted and AQE picks the join
    strategy from the gram set's measured runtime size. The training
    side streams tokenize → explode → broadcast-hash join at scan
    parallelism with NO pre-shuffle: the join acts as a map-side
    filter, and only the surviving (rare) hit rows shuffle into the
    final distinct-gram count. Never all-pairs, no driver
    materialization.
    """
    eval_grams = (
        _word_ngrams(eval_df, id_col, text_col, n).select("gram").distinct()
    )
    right = eval_grams
    if _estimated_bytes(eval_df) <= broadcast_max_eval_bytes:
        right = F.broadcast(eval_grams)
    return (
        _word_ngrams(_widen(train), id_col, text_col, n)
        .join(right, "gram")
        .groupBy("doc")
        .agg(F.count_distinct(F.col("gram")).alias("overlap_grams"))
        .select(F.col("doc").alias(id_col), "overlap_grams")
    )


def repetition_metrics(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Intra-document repetition (the Gopher/MassiveText quality
    rules, adapted to single-line docs): fraction of duplicated
    tokens / bigrams / trigrams per document. High repetition marks
    boilerplate and degenerate generations — a standard pre-training
    quality filter.

    Zero-shuffle scale shape: tokenize + gram windows + distinct
    counts are all JVM higher-order functions in one codegen stage —
    runs at scan speed like the rest of the text-analysis family.
    Every fraction is (int - int) / int — one IEEE division of exact
    integers, bit-identical in the DuckDB oracle."""
    toks = F.regexp_extract_all(
        F.lower(F.col(text_col)), F.lit("[a-z0-9]+"), F.lit(0)
    )
    base = _widen(df).select(F.col(id_col), toks.alias("toks"))

    def grams(n: int) -> F.Column:
        if n == 1:
            return F.col("toks")
        idxs = F.filter(
            F.sequence(F.lit(1), F.greatest(F.size("toks") - (n - 1), F.lit(1))),
            lambda i: (i + (n - 1)) <= F.size("toks"),
        )
        return F.transform(idxs, lambda i: F.concat_ws(" ", F.slice("toks", i, n)))

    # materialize each gram array once: higher-order lambdas evaluate
    # interpreted, and referencing grams(n) from both size() and
    # array_distinct() in one projection rebuilds the array twice
    staged = base.select(
        F.col(id_col),
        F.col("toks").alias("g1"),
        grams(2).alias("g2"),
        grams(3).alias("g3"),
    )
    cols = [F.col(id_col), F.size("g1").alias("n_tokens")]
    for g, name in (("g1", "dup_word_frac"), ("g2", "dup_bigram_frac"), ("g3", "dup_trigram_frac")):
        total, distinct = F.size(g), F.size(F.array_distinct(g))
        cols.append(
            F.when(
                total > 0, (total - distinct).cast("double") / total
            ).otherwise(F.lit(0.0)).alias(name)
        )
    return staged.select(*cols)


#: winnowing constants: polynomial rolling-hash base/modulus (Rabin-
#: Karp over codepoints), engine-portable integer arithmetic
WINNOW_B = 257
WINNOW_M = (1 << 31) - 1


def _winnow_packed(text: str, k: int, w: int) -> "np.ndarray":
    """The winnowing kernel math, importable for direct property
    tests: sorted distinct selected fingerprints packed as
    pos·2³¹ + hash (1-based positions)."""
    import numpy as np

    pw_arr = [pow(WINNOW_B, k - 1 - j, WINNOW_M) for j in range(k)]
    from raft_c_spark.functions.norm import norm_ascii_ws

    # ASCII-whitespace normalization — must match the SQL
    # lower(trim(regexp_replace(text, '\\s+', ' '))) exactly
    # (functions/norm.py)
    norm = norm_ascii_ws(text)
    cps = np.frombuffer(norm.encode("utf-32-le"), dtype=np.uint32).astype(
        np.int64
    )
    if len(cps) < k:
        return np.empty(0, dtype=np.int64)
    sw = np.lib.stride_tricks.sliding_window_view(cps, k)
    # cp < 2²¹ and pw < 2³¹ → every product < 2⁵², k-sum < 2⁵⁵
    hs = (sw * np.asarray(pw_arr, dtype=np.int64)).sum(axis=1) % WINNOW_M
    wlen = min(w, len(hs))
    wv = np.lib.stride_tricks.sliding_window_view(hs, wlen)
    mins = wv.min(axis=1)
    # rightmost occurrence of the min (winnowing tie rule): argmin of
    # the reversed window finds it from the right
    ridx = wlen - 1 - np.argmin(wv[:, ::-1], axis=1)
    pos = np.arange(len(wv), dtype=np.int64) + ridx + 1  # 1-based
    return np.unique(pos * (np.int64(1) << 31) + mins)


def winnow_fingerprints(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    w: int = 4,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken,
    SIGMOD'03 — the MOSS algorithm): polynomial rolling hashes of
    char k-grams, then per window of ``w`` consecutive hashes select
    the RIGHTMOST minimum; the distinct selected (position, hash)
    pairs are the document's fingerprint set. Guarantees a match for
    any shared substring of length ≥ k + w - 1 while storing ~2/(w+1)
    of the hashes.

    Output per doc: the fingerprint count and an md5 digest of the
    ordered "pos:hash" pairs (compact, fully deterministic);
    ``_winnow_packed`` is the same selection for one text. Docs
    shorter than k fingerprint as the empty set.

    Scale shape: one narrow Arrow kernel pass (mapInPandas) — text
    in, fingerprints out, no shuffle; the rolling hashes and window
    minima vectorize per document (sliding_window_view), which beats
    the equivalent JVM higher-order-lambda expression tree ~10x
    (nested lambdas run interpreted per element). The hash is
    h(i) = Σ cp(i+j)·B^(k-1-j) mod M with B=257, M=2³¹-1: every term
    < 2⁵³ in int64, and the identical formula runs in the DuckDB
    oracle (list comprehensions + the same power-of-B literals)."""
    import hashlib

    import pandas as pd

    def kernel(batches):
        mask = (1 << 31) - 1
        for pdf in batches:
            out_doc, out_n, out_dig = [], [], []
            for doc, t in zip(pdf[id_col], pdf[text_col]):
                sel = _winnow_packed(t, k, w)
                src = ",".join(f"{int(v) >> 31}:{int(v) & mask}" for v in sel)
                out_doc.append(doc)
                out_n.append(len(sel))
                out_dig.append(hashlib.md5(src.encode()).hexdigest())
            yield pd.DataFrame(
                {id_col: out_doc, "n_fps": out_n, "fp_digest": out_dig}
            )

    return _widen(df.select(F.col(id_col), F.col(text_col))).mapInPandas(
        kernel, f"{id_col} long, n_fps long, fp_digest string"
    )


# ---------------------------------------------------------------- bloom

BLOOM_M_BITS = 1 << 20  # 128 KB filter
BLOOM_K = 5  # hash functions


def _bloom_hashes(gram_col: Column) -> tuple[Column, Column]:
    """Two independent 60-bit md5 halves of a gram — the
    Kirsch-Mitzenmacher double-hashing basis (pos_j = (h1 + j·h2)
    mod m; every term stays < 5·2⁶⁰, no int64 overflow) AND the
    gram's compact identity downstream (distinct counts run on the
    hash pair, so gram strings never leave the tokenize stage). The
    identical formulas run in the DuckDB oracle."""
    md5 = F.md5(gram_col.cast("binary"))
    h1 = F.conv(F.substring(md5, 1, 15), 16, 10).cast("long")
    h2 = F.conv(F.substring(md5, 17, 15), 16, 10).cast("long")
    return h1, h2


def _bloom_positions(gram_col: Column, m_bits: int, k: int) -> Column:
    """The ``k`` bloom bit positions of a gram (see _bloom_hashes)."""
    h1, h2 = _bloom_hashes(gram_col)
    return F.array(
        *[(h1 + F.lit(j) * h2) % F.lit(m_bits) for j in range(k)]
    )


def bloom_decontaminate(
    train: DataFrame,
    eval_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
    m_bits: int = BLOOM_M_BITS,
    k: int = BLOOM_K,
    max_eval_bytes: int = 64 << 20,
) -> DataFrame:
    """Bloom-filter decontamination: the broadcast-compact-filter
    alternative to ``decontaminate``'s gram join. The eval/benchmark
    gram set is folded into an m-bit bloom filter ONCE (here 128 KB —
    vs hundreds of MB for the raw gram strings), the filter ships to
    every executor as a broadcast variable, and the training side
    streams through a vectorized bit-probe kernel — no join, no
    shuffle until the (rare) surviving hits aggregate per doc. This is
    the shape that wins when even the distinct eval gram set is too
    big to hash-join cheaply but the *filter* still fits in L2.

    Same output contract as decontaminate (doc_id, flagged_grams),
    with bloom semantics: flagged_grams counts distinct grams the
    filter ACCEPTS, i.e. true overlaps plus the filter's deterministic
    false positives. Because positions are md5-derived (no RNG), the
    DuckDB oracle reproduces the exact same filter — including its
    false positives — via a position-subset replay, so the operator is
    hash-verifiable end to end.

    Past the tokenize stage a gram exists only as its two 60-bit md5
    halves: the kernel derives bit positions from the two ints (so
    the Arrow transfer carries 3 longs per gram, not the string + a
    position array), and the distinct hit count runs on the hash
    pair — identical to a string count up to md5 collisions, which
    the oracle replays identically.

    The eval side must be bounded (it is benchmarks, not corpus):
    above ``max_eval_bytes`` of file statistics this raises rather
    than building a filter whose positions no longer fit the driver.
    """
    import numpy as np

    est = _estimated_bytes(eval_df)
    if est >= (1 << 62):
        # no file statistics (in-memory relation / exotic source):
        # fall back to a bounded row probe — ~1k text bytes/row keeps
        # the same order of gate
        cap_rows = max_eval_bytes // 1024
        est = eval_df.limit(cap_rows + 1).count() * 1024
    if est > max_eval_bytes:
        raise ValueError(
            f"eval side estimates {est} bytes > {max_eval_bytes}; "
            "a benchmark set should be small - raise max_eval_bytes "
            "only if the driver can hold the position set"
        )
    eval_pos = (
        _word_ngrams(eval_df, id_col, text_col, n)
        .select(F.explode(_bloom_positions(F.col("gram"), m_bits, k)).alias("pos"))
        .distinct()
    )
    pos = np.array([r["pos"] for r in eval_pos.collect()], dtype=np.int64)
    bits = np.zeros(m_bits // 8, dtype=np.uint8)
    if len(pos):
        np.bitwise_or.at(
            bits, pos // 8, (1 << (pos % 8)).astype(np.uint8)
        )
    # saturation gate: the byte gate above bounds the
    # eval TEXT, not the filter's fill — a 10 MB eval set (~2M
    # distinct 5-grams) saturates a 2^20-bit filter to fpr ≈ 1 and
    # every training gram gets "flagged", silently. fill = fraction
    # of set bits; fpr ≈ fill^k, so fill 0.5 → ~3% at k=5. Beyond
    # that the output is noise: fail loudly with the m_bits to use.
    fill = float(np.unpackbits(bits).sum()) / m_bits
    if fill > 0.5:
        need = 1 << int(math.ceil(math.log2(len(pos) * 3)))
        raise ValueError(
            f"bloom filter saturated: {fill:.0%} of {m_bits} bits set "
            f"(fpr ≈ {fill**k:.1%}) — the eval gram set needs a larger "
            f"filter; pass m_bits >= {need}"
        )
    bc = train.sparkSession.sparkContext.broadcast(bits)

    h1, h2 = _bloom_hashes(F.col("gram"))
    grams = _word_ngrams(_widen(train), id_col, text_col, n).select(
        "doc", h1.alias("h1"), h2.alias("h2")
    )

    def kernel(batches):
        bf = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            a = pdf["h1"].to_numpy(dtype=np.int64)
            b = pdf["h2"].to_numpy(dtype=np.int64)
            hit = np.ones(len(a), dtype=bool)
            for j in range(k):
                p = (a + j * b) % m_bits
                hit &= ((bf[p // 8] >> (p % 8).astype(np.uint8)) & 1).astype(
                    bool
                )
            yield pdf.loc[hit, ["doc", "h1", "h2"]]

    return (
        grams.mapInPandas(kernel, "doc long, h1 long, h2 long")
        .groupBy("doc")
        .agg(
            F.count_distinct(F.col("h1"), F.col("h2")).alias(
                "flagged_grams"
            )
        )
        .select(F.col("doc").alias(id_col), "flagged_grams")
    )


# ----------------------------------------------------- quality model

QC_WEIGHT_MOD = 2001  # integer weights in [-1000, 1000]


def quality_classifier(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Hashed-feature linear quality scorer — the fasttext-style
    model-scoring shape every corpus-filtering pipeline runs: token
    unigram + bigram features, a weight per feature looked up by
    feature HASH (no vocabulary table), mean weight as the document
    score. Weights here are hash-initialized integers in [-1000,1000]
    (a deterministic stand-in for trained parameters, like the fake
    embedding kernel); with a real model the hash indexes a broadcast
    weight vector instead and nothing else changes.

    Scale shape: tokenize → explode → one map-side-combined aggregate;
    all expressions JVM-side (md5/conv/higher-order), zero Python in
    the hot path, one shuffle keyed by doc. The per-doc sum is an
    INTEGER (order-independent — float accumulation would be
    partitioning-dependent), divided once at the end, which is what
    makes the score hash-verifiable cross-engine."""
    toks = F.regexp_extract_all(
        F.lower(F.col(text_col)), F.lit("[a-z0-9]+"), F.lit(0)
    )
    base = _widen(df).select(F.col(id_col).alias("doc"), toks.alias("toks"))
    bigram_idx = F.filter(
        F.sequence(F.lit(1), F.greatest(F.size("toks") - 1, F.lit(1))),
        lambda i: (i + 1) <= F.size("toks"),
    )
    bigrams = F.transform(
        bigram_idx, lambda i: F.concat_ws(" ", F.slice("toks", i, 2))
    )
    feats = base.select(
        "doc", F.explode(F.concat(F.col("toks"), bigrams)).alias("feat")
    )
    w = (
        F.conv(
            F.substring(F.md5(F.col("feat").cast("binary")), 1, 15), 16, 10
        ).cast("long")
        % F.lit(QC_WEIGHT_MOD)
        - F.lit(1000)
    )
    return (
        feats.select("doc", w.alias("w"))
        .groupBy("doc")
        .agg(
            F.count(F.lit(1)).alias("n_feats"),
            F.sum("w").alias("wsum"),
        )
        .select(
            F.col("doc").alias(id_col),
            "n_feats",
            (F.col("wsum") / (F.lit(1000.0) * F.col("n_feats"))).alias(
                "score"
            ),
        )
    )


def ngram_lm_score(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    cache_key: str | None = None,
) -> DataFrame:
    """Bigram language-model cross-entropy per document — the
    CCNet-style fluency filter (Wenzek et al. 2020): train an add-one
    smoothed word-bigram LM on the corpus itself, score each document
    by its mean bits-per-bigram under that LM; high cross-entropy =
    unusual token transitions = boilerplate/gibberish candidates.

    P(w2|w1) = (c(w1,w2) + 1) / (c(w1·) + V), where c(w1·) counts w1
    as a bigram context and V is the distinct-successor vocabulary.
    score = mean over the doc's bigrams of -log2 P.

    Determinism contract: counts are integers; (c12+1)/(c1+V) is one
    IEEE division of exact doubles; log2 of that may differ from the
    oracle's libm in the last ulp, so each bigram's bits value is
    rounded to 8 decimals and cast to DECIMAL(18,8) BEFORE the per-doc
    sum (exact, order-independent — functions/exact.py rule), and the
    final mean is one double division.

    Scale shape: tokenize → map-side bigram transform (no
    posexplode+window — zero shuffle to form bigrams) → ONE
    map-side-combined count aggregate keyed by (w1,w2); the context
    counts c(w1·) and the vocabulary V then REDUCE the c12 frame
    (vocabulary-sized) instead of re-shuffling the occurrence stream,
    and the per-bigram bits attach to c12 and are PERSISTED +
    broadcast under the measured row cap (natural-key equi-join
    fallback above) — so the corpus-sized occurrence stream shuffles
    exactly once (the c12 partial aggregate) plus the final per-doc
    aggregate. Version history, both caught by soak: v1 re-parsed the
    text four times (12× at 10× data, 5k→50k window); v2 fixed that
    by CACHING the occurrence frame, which a 500k-doc window then
    measured as the new bottleneck (33 M (doc,w1,w2) string rows in
    storage memory — cache write + eviction thrash beat the cost of
    the codegen re-parse it saved). v3 recomputes the explode for the
    scoring pass (two text parses total — scan-bound) and persists
    only the vocabulary-sized bits frame: 150k 27.3 → 13.5 s, 500k
    >90 → 20.6 s, sub-linear at 3.3× data. No driver
    materialization, no Python in the hot path.

    Lifecycle note: construction is EAGER (the
    measured-cap ``count()`` on the bits frame, and on a cache-miss
    the ``cached_parquet`` write, run jobs at build time) and the
    bits frame stays persisted for the session; the registry's
    per-query ``clearCache()`` releases it between driver queries —
    long-lived library sessions should clear/unpersist between
    corpora. ``cache_key`` MUST uniquely fingerprint the exact input
    frame (rows and columns, e.g. via ``data_cache_key`` on the
    backing file), not merely name the corpus: a filtered/transformed
    ``df`` reusing a corpus-level key silently returns the cached
    full-corpus scores.
    """
    key = None if cache_key is None else f"lmscore_{cache_key}_{id_col}_{text_col}_v1"

    def build():
        toks = F.regexp_extract_all(
            F.lower(F.col(text_col)), F.lit("[a-z0-9]+"), F.lit(0)
        )
        # NOT _widen: occ has two heavy consumers (the c12 aggregate
        # and the scoring join) — the multi-consumer shape an
        # interleaved A/B measured the widen LOSING on every time (tfidf
        # 1.89×, collocations 1.31×, lang_kl 2.07×, vocab_growth 1.91×);
        # the registered query's warm path is disk-cached anyway.
        base = df.select(F.col(id_col).alias("doc"), toks.alias("toks"))
        idxs = F.filter(
            F.sequence(F.lit(1), F.greatest(F.size("toks") - 1, F.lit(1))),
            lambda i: (i + 1) <= F.size("toks"),
        )
        occ = base.select(
            "doc",
            F.explode(
                F.transform(
                    idxs,
                    lambda i: F.struct(
                        F.element_at("toks", i).alias("w1"),
                        F.element_at("toks", i + 1).alias("w2"),
                    ),
                )
            ).alias("bg"),
        ).select("doc", F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
        # occ is deliberately NOT cached: the scoring pass recomputes the
        # codegen tokenize+explode (scan-bound) — see version history in
        # the docstring; only the vocabulary-sized bits frame persists
        c12 = occ.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
        # context counts and vocabulary REDUCE the (vocabulary-sized) c12
        # frame — c(w1·) = Σ_w2 c12(w1,w2), V = |distinct w2 in c12| —
        # instead of re-aggregating the occurrence stream
        c1 = c12.groupBy("w1").agg(F.sum("c12").alias("c1"))
        vocab = c12.select(F.countDistinct("w2").alias("v"))
        bits = -F.log2(
            (F.col("c12") + F.lit(1)).cast("double")
            / (F.col("c1") + F.col("v")).cast("double")
        )
        from pyspark.storagelevel import StorageLevel

        from raft_c_spark.operators.dedup import _BROADCAST_MAX_BANDED_ROWS

        bgbits = (
            c12.join(c1, ["w1"])
            .crossJoin(F.broadcast(vocab))
            .select(
                "w1", "w2",
                F.round(bits, 8).cast("decimal(18,8)").alias("bits"),
            )
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        side = bgbits
        if bgbits.count() <= _BROADCAST_MAX_BANDED_ROWS:
            side = F.broadcast(bgbits)
        return (
            occ.join(side, ["w1", "w2"])
            .groupBy("doc")
            .agg(
                F.count(F.lit(1)).alias("n_bigrams"),
                (F.sum("bits").cast("double") / F.count(F.lit(1))).alias("xent"),
            )
            .select(F.col("doc").alias(id_col), "n_bigrams", "xent")
        )

    return cached_parquet(df.sparkSession, key, build)


def gopher_rules(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_ratio: float = 0.1,
    min_alpha_word_ratio: float = 0.8,
    min_stopword_hits: int = 2,
) -> DataFrame:
    """Gopher-style heuristic document filters (Rae et al., "Scaling
    Language Models: ... Gopher", arXiv 2112.11446 §A1.1 — public):
    per-document rule booleans plus the conjunction, the standard
    pre-training quality gate applied before model-based scoring.
    Rules (thresholds parameterized, defaults per the paper):

    - word count within [min_words, max_words]
    - mean word length within [min_mean_word_len, max_mean_word_len]
    - symbol-to-word ratio (``#`` and ``...``) <= max_symbol_ratio
    - fraction of words containing >= 1 alphabetic char
      >= min_alpha_word_ratio
    - >= min_stopword_hits occurrences from a fixed English stopword
      probe (the paper uses {the, be, to, of, and, that, have, with})

    Scale shape: every rule is a codegen column expression over one
    scan — map-only, zero shuffles, zero Python. At 100 TB this runs
    at scan parallelism and fuses into whatever projection follows.
    """
    words = whitespace_token_count(F.col(text_col))
    n_chars_in_words = F.length(
        F.regexp_replace(F.col(text_col), r"\s+", "")
    )
    mean_wl = n_chars_in_words.cast("double") / F.greatest(words, F.lit(1))
    symbols = F.regexp_count(F.col(text_col), F.lit(r"#|\.\.\.")).cast(
        "double"
    )
    alpha_words = F.regexp_count(
        F.col(text_col), F.lit(r"(^|\s)\S*[A-Za-z]\S*")
    )
    gopher_sw = r"\b(the|be|to|of|and|that|have|with)\b"
    sw_hits = F.regexp_count(F.lower(F.col(text_col)), F.lit(gopher_sw))
    df = _widen(df)
    r_words = (words >= min_words) & (words <= max_words)
    r_wordlen = (mean_wl >= min_mean_word_len) & (
        mean_wl <= max_mean_word_len
    )
    r_symbol = (symbols / F.greatest(words, F.lit(1))) <= max_symbol_ratio
    r_alpha = (
        alpha_words.cast("double") / F.greatest(words, F.lit(1))
    ) >= min_alpha_word_ratio
    r_stop = sw_hits >= min_stopword_hits
    return df.select(
        F.col(id_col),
        words.cast("long").alias("n_words"),
        F.round(mean_wl, 6).alias("mean_word_len"),
        r_words.alias("rule_word_count"),
        r_wordlen.alias("rule_mean_word_len"),
        r_symbol.alias("rule_symbol_ratio"),
        r_alpha.alias("rule_alpha_words"),
        r_stop.alias("rule_stopwords"),
        (r_words & r_wordlen & r_symbol & r_alpha & r_stop).alias(
            "passes_gopher"
        ),
    )


def ngram_overlap_contamination(
    df: DataFrame,
    eval_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 13,
    threshold: float = 0.5,
) -> DataFrame:
    """Benchmark decontamination by n-gram OVERLAP RATIO (the GPT-3
    appendix-C / Brown et al. 2020 method — public): for every
    training document, the fraction of its DISTINCT word n-grams that
    also occur anywhere in the eval corpus; documents above
    ``threshold`` are flagged. Complements the exact-membership
    ``decontaminate`` / ``bloom_decontaminate`` (those ask "does any
    eval gram appear"; this measures HOW contaminated a doc is, the
    signal used to drop vs trim).

    Scale shape: a document's grams all live in its own token array,
    so the per-doc DISTINCT happens MAP-SIDE (``array_distinct`` over
    the gram-hash structs inside the projection) — a 500k-doc soak
    measured the first version's global ``distinct()`` on
    (doc, gram) pushing the full 30 M-row train gram stream through a
    shuffle that partial aggregation couldn't shrink (rows already
    ~unique); this shape shuffles NOTHING on the train side except
    the final per-doc counts, which partial-aggregate to ~one row per
    doc before the exchange because exploded gram rows stay in their
    parent's partition. The eval key set is deduped the same way then
    globally distinct'd (small) and broadcast under the gram-bound
    cap (persisted + exact-count fallback above — see the lifecycle
    note). Heavy gram strings never leave the map side — only 16 B
    hash pairs travel.
    Caveat: ``array_distinct`` is quadratic within one row; for
    mega-documents chunk upstream (the 100 TB pipelines do anyway).

    Lifecycle note: the broadcast
    decision uses a CHEAP upper bound first — distinct eval grams ≤
    total eval grams = Σ_doc max(0, tokens − n + 1), measured by one
    map-side tokenize-and-count aggregate over the eval slice only
    (regexp + array size per row; no hash, no explode, no distinct,
    no shuffle beyond the 1-row agg). An earlier version bounded via
    ``sum(length(text))`` instead, but compared CHARACTERS against
    the 4M ROW cap (a unit conflation — any eval slice
    over ~4 MB of text missed the lazy path even though its distinct
    gram count was far under the cap); the gram-count probe is in
    the cap's own unit and ~chars/(2·avg-token-len) tighter, so
    realistic multi-MB eval suites stay lazy. When the bound clears
    the cap (the common case: eval sets are small by construction),
    the expensive side of the operator is LAZY — the eval key set is
    deduped inside the broadcast-exchange build at execution time and
    nothing persists. Only when the bound exceeds the cap does the
    operator fall back to the eager behavior, at the price of BOTH
    probes (bound scan + an eager exact ``count()`` on the distinct
    key set, persisted for the session — the registry's per-query
    ``clearCache()`` releases it; long-lived library sessions should
    clear/unpersist between corpora), broadcast under the cap,
    shuffle equi-join above it.
    """
    if n < 1:
        raise ValueError("n must be >= 1")
    from raft_c_spark.operators.dedup import _BROADCAST_MAX_BANDED_ROWS

    def gram_sets(frame: DataFrame, idc, txt) -> DataFrame:
        toks = F.regexp_extract_all(
            F.lower(F.col(txt)), F.lit("[a-z0-9]+"), F.lit(0)
        )
        base = _widen(
            frame.select(F.col(idc).alias("doc"), toks.alias("toks"))
        ).filter(F.size("toks") >= n)
        g = F.transform(
            F.sequence(F.lit(1), F.size("toks") - (n - 1)),
            lambda i: F.concat_ws(" ", F.slice("toks", i, n)),
        )
        hs = F.array_distinct(
            F.transform(
                g,
                lambda s: F.struct(
                    F.xxhash64(s).alias("h1"),
                    F.xxhash64(s, F.lit(1)).alias("h2"),
                ),
            )
        )
        return base.select("doc", F.explode(hs).alias("h")).select(
            "doc",
            F.col("h.h1").alias("h1"),
            F.col("h.h2").alias("h2"),
        )

    eval_keys = (
        gram_sets(eval_df, id_col, text_col)
        .select("h1", "h2")
        .distinct()
    )
    eval_toks = F.regexp_extract_all(
        F.lower(F.col(text_col)), F.lit("[a-z0-9]+"), F.lit(0)
    )
    gram_bound = eval_df.agg(
        F.sum(
            F.greatest(F.size(eval_toks) - F.lit(n - 1), F.lit(0))
        )
    ).collect()[0][0]
    if (gram_bound or 0) <= _BROADCAST_MAX_BANDED_ROWS:
        side = F.broadcast(eval_keys)
    else:
        from pyspark.storagelevel import StorageLevel

        eval_keys = eval_keys.persist(StorageLevel.MEMORY_AND_DISK)
        side = eval_keys
        if eval_keys.count() <= _BROADCAST_MAX_BANDED_ROWS:
            side = F.broadcast(eval_keys)
    train = gram_sets(df, id_col, text_col)
    hit = side.withColumn("hit", F.lit(1))
    scored = (
        train.join(hit, ["h1", "h2"], "left")
        .groupBy("doc")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(F.coalesce(F.col("hit"), F.lit(0))).alias("n_hit"),
        )
    )
    ratio = F.col("n_hit").cast("double") / F.col("n_grams")
    return scored.select(
        F.col("doc").alias(id_col),
        F.col("n_grams").cast("long").alias("n_grams"),
        F.col("n_hit").cast("long").alias("n_hit"),
        F.round(ratio, 8).alias("overlap_ratio"),
        (ratio > threshold).alias("contaminated"),
    )


def ccnet_perplexity_buckets(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    lang_col: str = "lang",
    lo: float = 0.25,
    hi: float = 0.75,
    cache_key: str | None = None,
) -> DataFrame:
    """CCNet-style perplexity bucketing (Wenzek et al. LREC'20 —
    public): score every document with the corpus-trained bigram LM
    (``ngram_lm_score``), cut each language's score distribution at
    the ``lo``/``hi`` exact percentiles, and report per
    (lang, bucket) counts and score spread — head (fluent) / middle /
    tail (gibberish), the partition CCNet uses to keep head+middle
    for pre-training. 0.25/0.75 instead of the paper's tertiles: both
    fractions are exactly representable doubles, so the interpolated
    cut is bit-identical across engines.

    Scale shape: LM scoring is the lm_score plan (two map-side-
    combined count aggregates + natural-key joins); the cut table is
    one exact-percentile aggregate keyed by language — languages are
    a bounded, small set, and the L-row cut table broadcasts back.
    The bucket median uses the same exact-percentile path —
    deterministic where a bucket avg over doubles would be partition-
    order-dependent. Exact percentiles hold whole groups: this is the
    audit-scale companion, swap percentile→percentile_approx at
    100 TB (the ev_approx_profile pattern).
    """
    scored = ngram_lm_score(df, id_col, text_col, cache_key=cache_key).join(
        df.select(F.col(id_col), F.col(lang_col).alias("lang")), [id_col]
    )
    cuts = scored.groupBy("lang").agg(
        F.expr(f"percentile(xent, {lo})").alias("cut_lo"),
        F.expr(f"percentile(xent, {hi})").alias("cut_hi"),
    )
    bucketed = scored.join(F.broadcast(cuts), ["lang"]).withColumn(
        "bucket",
        F.when(F.col("xent") <= F.col("cut_lo"), F.lit("head"))
        .when(F.col("xent") <= F.col("cut_hi"), F.lit("middle"))
        .otherwise(F.lit("tail")),
    )
    return (
        bucketed.groupBy("lang", "bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.expr("percentile(xent, 0.5)").alias("median_xent"),
            F.min("xent").alias("min_xent"),
            F.max("xent").alias("max_xent"),
        )
        .orderBy("lang", "bucket")
    )


def ccnet_buckets_approx_certify(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    lang_col: str = "lang",
    lo: float = 0.25,
    hi: float = 0.75,
    accuracy: int = 1000,
    cache_key: str | None = None,
) -> DataFrame:
    """The 100 TB path of :func:`ccnet_perplexity_buckets`, made
    executable and certified (the exact-percentile
    operator documented "swap percentile→percentile_approx at 100 TB"
    as prose; this runs the swap and MEASURES it): per language, the
    ``lo``/``hi`` cuts come from ``percentile_approx`` (Greenwald-
    Khanna sketch — bounded memory per group, the aggregate that
    survives groups too large to hold whole), and the output
    certifies each approx cut sits inside the exact rank-error band.

    Contract (the ev_approx_profile pattern): sketch values are
    engine-specific, so the emitted columns are engine-stable — the
    exact per-language doc count plus one boolean per cut certifying
    the GK RANK contract directly: the cut value's rank interval
    ``[count(xent < cut) + 1, count(xent <= cut)]`` must intersect
    ``[(q − ε_eff)·N, (q + ε_eff)·N]`` with ``ε_eff = 1/accuracy +
    2/N`` (GK guarantees rank error ≤ 1/accuracy; the 2/N slack
    absorbs the one-rank boundary conventions on small groups). The
    DuckDB oracle replays the exact counts and expects every boolean
    TRUE — a sketch drifting out of its own error contract is a
    detected driver mismatch, and no interpolation convention enters
    (ranks are counted, not interpolated).

    Scale shape: pass 1 is ONE ``percentile_approx`` aggregate keyed
    by language (bounded sketch memory per group — the aggregate that
    survives groups too large to hold whole; exact ``percentile``
    holds the whole group); pass 2 re-reads the cached score frame
    and counts rows under each cut via the broadcast L-row cut table.
    No global sort anywhere (the plan pin). At 100 TB pass 2 is the
    certification harness and drops away with it; pass 1 IS the
    production plan.
    """
    scored = ngram_lm_score(df, id_col, text_col, cache_key=cache_key).join(
        df.select(F.col(id_col), F.col(lang_col).alias("lang")), [id_col]
    )
    cuts = scored.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.expr(
            f"percentile_approx(xent, array({lo!r}, {hi!r}), {accuracy})"
        ).alias("ap"),
    )
    x = F.col("xent")
    counted = (
        scored.join(F.broadcast(cuts), ["lang"])
        .groupBy("lang", "n_docs")
        .agg(
            F.sum((x <= F.col("ap")[0]).cast("long")).alias("le_lo"),
            F.sum((x < F.col("ap")[0]).cast("long")).alias("lt_lo"),
            F.sum((x <= F.col("ap")[1]).cast("long")).alias("le_hi"),
            F.sum((x < F.col("ap")[1]).cast("long")).alias("lt_hi"),
        )
    )
    n = F.col("n_docs").cast("double")
    eps = F.lit(1.0 / accuracy) + F.lit(2.0) / n

    def in_band(q: float, tag: str):
        # rank interval [lt+1, le] must intersect [(q-eps)N, (q+eps)N]
        return (F.col(f"le_{tag}") >= (F.lit(q) - eps) * n) & (
            (F.col(f"lt_{tag}") + F.lit(1)) <= (F.lit(q) + eps) * n
        )

    return (
        counted.select(
            "lang",
            F.col("n_docs").cast("long").alias("n_docs"),
            in_band(lo, "lo").alias("cut_lo_in_band"),
            in_band(hi, "hi").alias("cut_hi_in_band"),
        )
        .orderBy("lang")
    )


def bm25_topk(
    df: DataFrame,
    query_terms: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 20,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """BM25 ranked retrieval over the corpus for one bag-of-words
    query (Robertson & Zaragoza 2009, the Lucene ``1 + (N-df+0.5)/
    (df+0.5)`` idf variant) — the retrieval primitive data-curation
    pipelines use for targeted corpus search and retrieval-based
    decontamination review. Returns the top-``k`` documents by
    summed per-term score with the matched-term count.

    Determinism contract: ``ln()`` appears ONLY in the per-term idf —
    at most ``len(query_terms)`` distinct values per corpus — each
    rounded to 8 decimals and cast to DECIMAL(18,8) (the lm-score
    quantized-log rule). The tf-saturation factor is pure IEEE
    arithmetic on exact ints plus one corpus-average double (division
    and multiplication are correctly rounded, hence engine-identical)
    and is likewise quantized; the per-(doc,term) product then stays
    DECIMAL (exact in both engines at scale 16) so the per-doc sum is
    order-independent. The final decimal→double cast is NOT correctly
    rounded in every engine at scale 16 (DuckDB converts via
    int128·10⁻¹⁶ — two roundings), so the emitted score is rounded to
    8 decimals after the cast and the ranking orders by that rounded
    value (ties fall to doc id).

    Scale shape: tokenize + filter-to-query-terms MAP-SIDE (the
    exploded stream carries only matching tokens — a few terms out of
    the corpus vocabulary, so shuffle volume is a tiny fraction of the
    token stream); ONE map-side-combined (doc,term) count aggregate;
    per-term document frequencies REDUCE that tf frame (≤ |terms|
    rows, broadcast by construction); corpus N/avgdl is a 1-row
    broadcast crossJoin; the final top-k is TakeOrderedAndProject —
    never a corpus-wide sort. No Python in the hot path, no driver
    materialization.
    """
    if not query_terms:
        raise ValueError("query_terms must be non-empty")
    terms = sorted({t.lower() for t in query_terms})
    toks = F.regexp_extract_all(
        F.lower(F.col(text_col)), F.lit("[a-z0-9]+"), F.lit(0)
    )
    terms_arr = F.array(*[F.lit(t) for t in terms])
    # NOT _widen: two consumers (matched + the corpus-stats agg)
    # re-execute the lineage; an interleaved A/B read the widen
    # 2.2× slower (epoch-noisy reps, but both clean samples agreed).
    base = df.select(F.col(id_col).alias("doc"), toks.alias("toks"))
    matched = base.select(
        "doc",
        F.size("toks").alias("dl"),
        F.explode(
            F.filter("toks", lambda t: F.array_contains(terms_arr, t))
        ).alias("term"),
    )
    tf = matched.groupBy("doc", "dl", "term").agg(
        F.count(F.lit(1)).alias("tf")
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df_t"))
    stats = base.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size("toks")).alias("dl_total"),
    )
    avgdl = F.col("dl_total").cast("double") / F.col("n_docs")
    idf = F.round(
        F.log(
            F.lit(1.0)
            + (F.col("n_docs") - F.col("df_t") + F.lit(0.5))
            / (F.col("df_t") + F.lit(0.5))
        ),
        8,
    ).cast("decimal(18,8)")
    tfpart = F.round(
        (F.col("tf") * F.lit(k1 + 1.0))
        / (
            F.col("tf")
            + F.lit(k1)
            * (F.lit(1.0) - F.lit(b) + F.lit(b) * F.col("dl") / avgdl)
        ),
        8,
    ).cast("decimal(18,8)")
    scored = (
        tf.join(F.broadcast(dfreq), ["term"])
        .crossJoin(F.broadcast(stats))
        .select("doc", "term", (idf * tfpart).alias("s"))
    )
    return (
        scored.groupBy("doc")
        .agg(
            F.count(F.lit(1)).alias("n_terms"),
            F.round(F.sum("s").cast("double"), 8).alias("score"),
        )
        .orderBy(F.desc("score"), F.asc("doc"))
        .limit(k)
        .select(F.col("doc").alias(id_col), "n_terms", "score")
    )


def char_entropy(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document character-level Shannon entropy (bits/char) — the
    information-theoretic quality signal that flags low-entropy
    repetition (template spam, padded boilerplate) and high-entropy
    garbage (binary spill, encoding damage) that ratio rules miss.
    Documents with empty text yield no row (no distribution to
    measure).

    Determinism contract: character counts are exact ints; p = cnt/n
    is one correctly-rounded IEEE division; each character's
    ``-p*log2(p)`` term is rounded to 8 decimals and cast to
    DECIMAL(18,8) BEFORE the per-doc sum (the lm-score quantized-log
    rule — exact, order-independent). The exact sum has scale 8, but
    a decimal→double cast is not correctly rounded in every engine,
    so the emitted value is re-rounded to 8 decimals after the cast —
    snapping both engines to the sum's exact decimal digits.

    Scale shape: map-side char explode (n_chars rows — the same cost
    class as the char-gram dedup pipelines, scan-shaped) into ONE
    map-side-combined (doc, char) count aggregate (partial combine
    collapses each partition's stream to ≤ alphabet rows per doc),
    then one per-doc aggregate. The doc length rides along from the
    projection (functionally dependent on doc) — no join, no window,
    no Python.
    """
    # NOT _widen: the char explode multiplies rows ~300× before
    # the (doc, char) aggregate, so the exchange already parallelizes
    # the heavy phase; an interleaved A/B read the widen at
    # 1.09× (slower).
    base = df.select(
        F.col(id_col).alias("doc"),
        F.length(F.col(text_col)).cast("long").alias("n"),
        F.explode(F.split(F.col(text_col), "")).alias("ch"),
    ).filter(F.col("ch") != "")
    counts = base.groupBy("doc", "n", "ch").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    p = F.col("cnt").cast("double") / F.col("n")
    term = F.round(-p * F.log2(p), 8).cast("decimal(18,8)")
    return (
        counts.select("doc", "n", term.alias("term"))
        .groupBy("doc", "n")
        .agg(
            F.count(F.lit(1)).alias("n_distinct_chars"),
            F.round(F.sum("term").cast("double"), 8).alias("entropy_bits"),
        )
        .select(
            F.col("doc").alias(id_col),
            F.col("n").alias("n_chars_counted"),
            "n_distinct_chars",
            "entropy_bits",
        )
    )


def lang_unigram_kl(
    df: DataFrame,
    text_col: str = "text",
    lang_col: str = "lang",
) -> DataFrame:
    """Per-language unigram-distribution KL divergence from the whole
    corpus, ``KL(P_lang ‖ P_corpus) = Σ_w p_lw · ln(p_lw / p_w)`` —
    the mixture diagnostic data-balancing pipelines read before
    reweighting (a language/domain slice with high KL shifts the
    corpus distribution most per token; DoReMi-style reweighting and
    CCNet's per-language handling both start from this quantity).
    Well-defined without smoothing because every language's support
    is a subset of the corpus support (p_w > 0 wherever p_lw > 0).

    Tokenizer restriction: tokens are ``[a-z0-9]+``
    runs of the lowercased text — the engine-wide Latin-alphanumeric
    tokenizer every text operator shares. A language whose documents
    contain NO such runs (actual zh/ja/ko text, pure-symbol docs)
    therefore has zero tokens and no distribution to diverge; it is
    NOT silently dropped — the output carries its row with
    ``n_tokens = 0``, ``n_types = 0`` and ``kl_nats = NULL`` (KL of
    an empty distribution is undefined, and a 0-token language is
    exactly what a data-balancing pass needs to notice).

    Determinism contract: token counts are exact ints; p_lw and p_w
    are single correctly-rounded IEEE divisions; each word's
    ``p_lw · ln(p_lw / p_w)`` term computes in the fixed op order
    (divide, divide, divide, ln, multiply), is rounded to 8 decimals
    and cast to DECIMAL(18,8) BEFORE the per-language sum (the
    quantized-log rule — exact, order-independent), and the emitted
    value re-rounds to 8 after the final cast.

    Scale shape: ONE map-side-combined (lang, word) count aggregate
    and ONE word count aggregate over the token stream (each with a
    single consumer — the collocations in-code note measured Spark
    re-executing a heavy aggregate's lineage once PER consumer, so
    this shape never fans an exploded aggregate out); language and
    corpus token totals come from cheap no-explode per-doc length
    aggregates (exact: Σ size(toks) per lang ≡ Σ c_lw); n_types
    falls out of the final L-row aggregate for free. The V-row word
    table joins the (lang, word) frame as a vocab-shaped equi-join
    (both sides aggregates — never token streams), the L-row totals
    broadcast; the output is L rows. No Python, no window.
    """
    toks = F.regexp_extract_all(
        F.lower(F.col(text_col)), F.lit("[a-z0-9]+"), F.lit(0)
    )
    # NOT _widen: four aggregate consumers re-execute the lineage
    # (the collocations single-consumer rule) and an interleaved
    # A/B measured the widen exchange 2.07× SLOWER end-to-end.
    # ALSO measured and rejected: persisting the (lang, word)
    # aggregate and DERIVING word/lang/corpus totals from it by exact
    # integer sums (tokenize once instead of 4×) — interleaved A/B
    # read min 1.66 → 3.58 s, CPU 4.3 → 8.6: at bench scale the
    # eager persist + extra join cost more than three cheap
    # re-tokenizations. At true corpus scale the derived shape wins
    # (one text pass); revisit if the driver's scaling run shows the
    # tokenize passes binding.
    tagged = df.select(F.col(lang_col).alias("lang"), toks.alias("toks"))
    lw = (
        tagged.select("lang", F.explode("toks").alias("w"))
        .groupBy("lang", "w")
        .agg(F.count(F.lit(1)).alias("c_lw"))
    )
    word_tot = (
        tagged.select(F.explode("toks").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c_w"))
    )
    lang_tot = tagged.groupBy("lang").agg(
        F.sum(F.size("toks")).alias("t_l")
    )
    corpus_tot = tagged.agg(F.sum(F.size("toks")).alias("t"))
    p_lw = F.col("c_lw").cast("double") / F.col("t_l")
    p_w = F.col("c_w").cast("double") / F.col("t")
    term = F.round(p_lw * F.log(p_lw / p_w), 8).cast("decimal(18,8)")
    per_lang = (
        lw.join(word_tot, "w")
        .join(F.broadcast(lang_tot), "lang")
        .crossJoin(F.broadcast(corpus_tot))
        .select("lang", term.alias("term"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_types"),
            F.round(F.sum("term").cast("double"), 8).alias("kl_nats"),
        )
    )
    # left join from the L-row totals frame so a zero-token language
    # (nothing for the [a-z0-9]+ tokenizer — see the docstring's
    # restriction note) surfaces as an n_tokens=0 / kl_nats=NULL row
    # instead of vanishing through an inner join; both
    # sides are L-row aggregates, the join is broadcast-trivial.
    return (
        lang_tot.join(per_lang, "lang", "left")
        .select(
            "lang",
            F.col("t_l").cast("long").alias("n_tokens"),
            F.coalesce(F.col("n_types"), F.lit(0))
            .cast("long")
            .alias("n_types"),
            "kl_nats",
        )
        .orderBy("lang")
    )


def collocations(
    df: DataFrame,
    text_col: str = "text",
    min_count: int = 5,
    k: int = 50,
) -> DataFrame:
    """Top-``k`` bigram collocations ranked by pointwise mutual
    information (Church & Hanks 1990, the standard phrase-mining /
    multi-word-expression statistic) — the corpus-analysis primitive
    that surfaces 'new york'-style units for tokenizer vocab review
    and template detection. ``pmi = ln(p(ab) / (p(a)·p(b)))`` with
    ``p(ab) = c_ab/B`` over adjacent in-document pairs and
    ``p(w) = c_w/T`` over the token stream; pairs rarer than
    ``min_count`` are dropped first (PMI is notoriously unstable on
    hapax pairs — the filter is part of the method, not an
    optimization).

    Determinism contract: counts are exact ints; the PMI operand is
    built by a FIXED chain of correctly-rounded IEEE ops
    ``(c_ab/B) / ((c_a/T) * (c_b/T))`` (each division/multiply is a
    single rounding, engine-identical when the op order matches —
    the bm25 tf-part rule); ``ln`` appears once per emitted pair and
    is rounded to 8 decimals (the quantized-log rule). Ranking orders
    by the rounded value with (w1, w2) ties.

    Scale shape: tokenize map-side; ONE map-side-combined unigram
    count aggregate and ONE bigram count aggregate whose key is the
    FIXED-WIDTH hash pair (xxhash64 of each word — measured 1.3-1.4×
    cheaper than the string-pair key in a fixed-thread CPU A/B; see
    the in-code note), with the words and their counts recovered
    from the vocab-sized unigram table by the two long-keyed
    equi-joins; adjacent pairs come from a per-doc array transform —
    no self-join; corpus totals T and B from a third, no-explode
    per-doc length aggregate (measured cheaper than deriving them
    from the uni/bi aggregates, whose heavy lineage Spark re-executes
    per consumer — see the in-code note); the min_count filter
    shrinks the pair frame BEFORE any join; the totals are a 1-row
    broadcast crossJoin; the final top-k is TakeOrderedAndProject —
    never a vocab-wide sort.
    """
    if min_count < 1:
        raise ValueError("min_count must be >= 1")
    toks = F.regexp_extract_all(
        F.lower(F.col(text_col)), F.lit("[a-z0-9]+"), F.lit(0)
    )
    # NOT _widen: three consumers each re-execute the lineage (see
    # the stats note below), and an interleaved A/B measured the
    # widen exchange 1.31× SLOWER end-to-end.
    base = df.select(toks.alias("toks"))
    # totals come from a SEPARATE per-doc stats aggregate on purpose:
    # deriving T = Σ c_w / B = Σ c_ab from the uni/bi aggregates reads
    # as "one less corpus scan" but measured 3× SLOWER at sf0.1
    # (0.88 → 2.4 s warm) — Spark does not reuse the aggregate
    # exchanges across the join and stats consumers, so that shape
    # re-executes the heavy explode+aggregate lineage per consumer,
    # while this stats pass is a cheap no-explode length aggregate
    stats = base.agg(
        F.sum(F.size("toks")).alias("t_tokens"),
        F.sum(F.greatest(F.size("toks") - 1, F.lit(0))).alias("b_pairs"),
    )
    uni = (
        base.select(F.explode("toks").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c_w"))
    )
    # The pair count keys on (xxhash64(w1), xxhash64(w2)) — fixed-width
    # longs — NOT on the two word strings: a fixed-thread (local[4])
    # CPU-time A/B at 50k and 150k soak docs measured the hashed key
    # ~1.3-1.4× cheaper end-to-end than the string-pair key (19.6 vs
    # 28.0 JVM-CPU-s at 150k; 11.6 vs 15.3 at 50k), and it follows
    # the engine-wide gram rule: heavy strings die on the map side,
    # only 16-byte keys reach the exchange, and the words (plus
    # their counts) come back from the vocab-sized unigram table on
    # the same two joins that were already there — now long-keyed.
    # (The 50k→150k wall brackets that first flagged this operator
    # were a different beast: a local[32] memory-bandwidth convoy on
    # an oversubscribed host — same query at local[4] reads 4.7 s /
    # 19.6 CPU-s at 150k, sub-linear vs 50k — documented in
    # SCALING.md.) Contract: two DISTINCT words colliding on
    # xxhash64 would merge pair rows (~V²/2⁶⁵ expected collisions —
    # negligible at any real vocabulary, the 128-bit-gram stance of
    # the dedup family). A collision would additionally desync this
    # plan from the string-keyed DuckDB oracle (merged pair counts +
    # a fanned-out unigram join), so the failure mode is a DETECTED
    # driver hash mismatch, never a silently-wrong accepted result.
    pairs = F.transform(
        F.sequence(F.lit(1), F.size("toks") - 1),
        lambda i: F.struct(
            F.xxhash64(F.element_at("toks", i)).alias("h1"),
            F.xxhash64(F.element_at("toks", i + 1)).alias("h2"),
        ),
    )
    bi = (
        base.filter(F.size("toks") >= 2)
        .select(F.explode(pairs).alias("p"))
        .select(F.col("p.h1").alias("h1"), F.col("p.h2").alias("h2"))
        .groupBy("h1", "h2")
        .agg(F.count(F.lit(1)).alias("c_ab"))
        .filter(F.col("c_ab") >= min_count)
    )
    uh = uni.select(F.xxhash64("w").alias("h"), "w", "c_w")
    j = (
        bi.join(
            uh.select(
                F.col("h").alias("h1"),
                F.col("w").alias("w1"),
                F.col("c_w").alias("c_w1"),
            ),
            "h1",
        )
        .join(
            uh.select(
                F.col("h").alias("h2"),
                F.col("w").alias("w2"),
                F.col("c_w").alias("c_w2"),
            ),
            "h2",
        )
        .crossJoin(F.broadcast(stats))
    )
    p_ab = F.col("c_ab").cast("double") / F.col("b_pairs")
    p_a = F.col("c_w1").cast("double") / F.col("t_tokens")
    p_b = F.col("c_w2").cast("double") / F.col("t_tokens")
    pmi = F.round(F.log(p_ab / (p_a * p_b)), 8)
    return (
        j.select(
            "w1",
            "w2",
            F.col("c_ab").cast("long").alias("n_pair"),
            F.col("c_w1").cast("long").alias("n_w1"),
            F.col("c_w2").cast("long").alias("n_w2"),
            pmi.alias("pmi"),
        )
        .orderBy(F.desc("pmi"), F.asc("w1"), F.asc("w2"))
        .limit(k)
    )


def vocab_growth(
    df: DataFrame,
    group_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Per-group type-token audit with the Heaps'-law exponent
    estimate ``beta = ln(V) / ln(N)`` (Heaps 1978; V distinct word
    types over N tokens — sub-linear vocabulary growth is the
    signature of natural language, and a source whose beta sits far
    off the corpus band is template spam, boilerplate, or
    machine-generated filler — the per-source triage data-curation
    pipelines run before mixing).

    Determinism contract: N and V are exact ints; ttr = V/N is ONE
    correctly-rounded IEEE division, rounded to 8; beta quantizes
    EACH ln to 8 decimals before the division (the engine's
    quantized-log rule), then rounds the quotient to 8. Groups with
    zero tokens emit NULL ttr/beta (nothing to divide); a group of
    exactly one token emits NULL beta (ln N = 0).

    Scale shape: ONE map-side-combined (group, word) count aggregate
    collapses the token stream to the per-group vocabulary (bounded
    by Zipf saturation, the collocations soak evidence), a second
    ~vocab-sized aggregate reduces it to one row per group, and the
    no-explode token totals come from per-doc array lengths — single
    consumer per aggregate (the collocations lineage rule). Output is
    G rows; no window, no join wider than the G-row totals broadcast.
    """
    toks = F.regexp_extract_all(
        F.lower(F.col(text_col)), F.lit("[a-z0-9]+"), F.lit(0)
    )
    # NOT _widen: two aggregate consumers re-execute the lineage
    # and the (grp, word) exchange already parallelizes the heavy
    # phase; an interleaved A/B measured the widen 1.91× SLOWER.
    base = df.select(F.col(group_col).alias("grp"), toks.alias("toks"))
    types = (
        base.select("grp", F.explode("toks").alias("w"))
        .groupBy("grp", "w")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("grp")
        .agg(F.count(F.lit(1)).alias("n_types"))
    )
    totals = base.groupBy("grp").agg(
        F.sum(F.size("toks")).alias("n_tokens"),
        F.count(F.lit(1)).alias("n_docs"),
    )
    ln_v = F.round(F.log(F.col("n_types").cast("double")), 8)
    ln_n = F.round(F.log(F.col("n_tokens").cast("double")), 8)
    return (
        totals.join(types, "grp", "left")
        .select(
            F.col("grp").alias(group_col),
            F.col("n_docs").cast("long").alias("n_docs"),
            F.col("n_tokens").cast("long").alias("n_tokens"),
            F.coalesce("n_types", F.lit(0)).cast("long").alias("n_types"),
            F.when(
                F.col("n_tokens") > 0,
                F.round(
                    F.col("n_types").cast("double") / F.col("n_tokens"), 8
                ),
            ).alias("ttr"),
            F.when(F.col("n_tokens") > 1, F.round(ln_v / ln_n, 8)).alias(
                "heaps_beta"
            ),
        )
        .orderBy(group_col)
    )


def novelty(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
) -> DataFrame:
    """Per-document novelty: the fraction of the document's DISTINCT
    word n-grams whose corpus-wide FIRST occurrence (minimum doc id)
    is this document — the marginal-contribution score curation
    pipelines rank by when trimming a corpus (a doc whose grams all
    appeared earlier adds nothing; the dedup-impact complement at
    gram rather than document granularity).

    Determinism contract: counts are exact ints over 128-bit gram
    hashes (the family's 2^-128 collision stance — a cross-gram
    collision would desync from the string-keyed oracle and surface
    as a detected driver mismatch); novelty = ONE correctly-rounded
    IEEE division, rounded to 8 decimals. Docs with fewer than ``n``
    tokens have no grams and emit 0/0 with NULL novelty.

    Scale shape: per-doc distinct grams are computed
    MAP-SIDE (``array_distinct`` inside the projection — the overlap
    decontamination shape); the first-occurrence table is ONE
    map-side-combined min(doc) aggregate on the 16 B hash pair (a hot
    boilerplate gram collapses per map task — never a window). The
    two per-doc counts then come WITHOUT any vocab-sized join:
    ``n_grams`` is a direct per-doc count of the gram stream (partial
    combine collapses each doc's grams map-side — ~one row per doc
    crosses the exchange), and ``n_first`` is a per-``first_doc``
    count over the first-occurrence AGGREGATE itself —
    ``first_doc = d`` already means "a gram of d whose first corpus
    occurrence is d", so re-joining the vocab frame against the full
    gram stream (the earlier shape: a shuffle-hash equi-join pushing
    the whole corpus-vocabulary-sized stream through a second
    exchange) only re-derived information the aggregate already
    held. The two doc-sized count frames meet in a doc-keyed join.
    No driver materialization, no broadcast cap to fall off, and the
    heaviest exchange of the old plan (the vocab join probe) is gone.
    """
    if n < 1:
        raise ValueError("n must be >= 1")
    toks = F.regexp_extract_all(
        F.lower(F.col(text_col)), F.lit("[a-z0-9]+"), F.lit(0)
    )
    base = _widen(df).select(F.col(id_col).alias("doc"), toks.alias("toks"))
    g = F.transform(
        F.sequence(F.lit(1), F.size("toks") - (n - 1)),
        lambda i: F.concat_ws(" ", F.slice("toks", i, n)),
    )
    hs = F.array_distinct(
        F.transform(
            g,
            lambda s: F.struct(
                F.xxhash64(s).alias("h1"),
                F.xxhash64(s, F.lit(1)).alias("h2"),
            ),
        )
    )
    grams = (
        base.filter(F.size("toks") >= n)
        .select("doc", F.explode(hs).alias("h"))
        .select("doc", F.col("h.h1").alias("h1"), F.col("h.h2").alias("h2"))
    )
    # n_first per doc = |{grams whose corpus-wide min(doc) is doc}| —
    # countable DIRECTLY from the first-occurrence aggregate (each of
    # its rows is one distinct gram; first_doc names the doc it is
    # novel for). The earlier shape instead equi-joined this
    # corpus-VOCABULARY-sized frame back against the full gram stream
    # (shuffle_hash-hinted because Catalyst's Generate-stats estimate
    # once broadcast the 2.4M-row aggregate — one 250 s heap
    # detonation in a 5k→50k soak, see SCALING.md); dropping the
    # join removes that entire exchange AND the mis-estimate hazard.
    firsts = (
        grams.groupBy("h1", "h2")
        .agg(F.min("doc").alias("first_doc"))
        .groupBy("first_doc")
        .agg(F.count(F.lit(1)).alias("n_first"))
        .withColumnRenamed("first_doc", "doc")
    )
    per_doc = grams.groupBy("doc").agg(F.count(F.lit(1)).alias("n_grams"))
    scored = per_doc.join(firsts, "doc", "left").select(
        "doc",
        "n_grams",
        F.coalesce("n_first", F.lit(0)).alias("n_first"),
    )
    return (
        df.select(F.col(id_col).alias("doc"))
        .join(scored, "doc", "left")
        .select(
            F.col("doc").alias(id_col),
            F.coalesce("n_grams", F.lit(0)).cast("long").alias("n_grams"),
            F.coalesce("n_first", F.lit(0)).cast("long").alias("n_first"),
            F.when(
                F.col("n_grams") > 0,
                F.round(
                    F.col("n_first").cast("double") / F.col("n_grams"), 8
                ),
            ).alias("novelty"),
        )
        .orderBy(id_col)
    )


def compression_ratio(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    level: int = 6,
) -> DataFrame:
    """Per-document zlib compressibility — the classic cheap quality
    signal (Gopher's repetition family / RedPajama-class pipelines
    drop documents whose bytes compress too well: boilerplate,
    templates and generated filler sit far below natural text's
    ~0.3-0.6 DEFLATE ratio, and incompressible blobs sit near 1.0).
    Emits (id, n_bytes, n_compressed, ratio) with NULL ratio for
    empty documents.

    Determinism contract: zlib with a FIXED level is deterministic
    for a given zlib build; the repo's oracle treatment is therefore
    the pure-python-replay ground-truth parquet (the IVF pattern) —
    the replay runs the same interpreter's zlib, so the comparison is
    bit-exact within the container and a library-version change
    surfaces as a loud ground-truth mismatch, never silent drift.
    ratio is ONE IEEE division rounded to 8 decimals.

    Scale shape: one narrow Arrow kernel (mapInPandas) over the scan
    — per-row work is C-speed DEFLATE on the document bytes, no
    shuffle, no join, no state; output is id + three ints/doubles, so
    the text dies inside the kernel's input batch. The multimodal
    decode cost class: linear in corpus bytes at scan parallelism.
    """
    import pandas as pd

    # derive the id field's type from the input schema (a hardcoded
    # 'long' breaks non-long ids), and below the id Series converts
    # to a positional array before assembly — mixing an
    # arbitrarily-indexed pandas Series with plain lists would align
    # by index and silently misalign rows
    id_type = df.schema[id_col].dataType.simpleString()
    out_schema = (
        f"{id_col} {id_type}, n_bytes long, n_compressed long, ratio double"
    )
    src = df.select(F.col(id_col), F.col(text_col))

    def kernel(batches):
        import zlib

        for pdf in batches:
            if not len(pdf):
                continue
            raw = [t.encode("utf-8") if t is not None else b"" for t in pdf[text_col]]
            n = [len(b) for b in raw]
            comp = [len(zlib.compress(b, level)) for b in raw]
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].to_numpy(),
                    "n_bytes": n,
                    "n_compressed": comp,
                    "ratio": [
                        round(c / b, 8) if b else None
                        for b, c in zip(n, comp)
                    ],
                }
            )

    return src.mapInPandas(kernel, out_schema).orderBy(id_col)
