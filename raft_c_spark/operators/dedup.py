"""Deduplication operators for training-data pipelines: exact,
n-gram Jaccard, MinHash+LSH, SimHash, embedding-cosine near-dup.

Scale design (100 TB corpora):
- exact dedup is one hash-aggregate on a fingerprint — the canonical
  map-side-combine shuffle, linear and skew-tolerant;
- pairwise Jaccard is quadratic and exists as the *verifier* and the
  small-scale baseline; the scale path is MinHash+LSH: candidate
  generation is an equi-join on (band, band_hash) — only colliding
  docs meet, so cost tracks true-duplicate density, not n²;
- exact Jaccard on hot shingles (stop-trigrams) avoids the plain
  shingle equi-join, whose cost is Σ df²: a bitmap popcount for small
  vocabularies, prefix-filter candidates otherwise;
- exact paths are built-in expressions + joins (JVM codegen);
  minhash signatures are a *narrow* vectorized Arrow kernel (text in,
  signature out — no shuffle until banding).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from raft_c_spark.functions.diskcache import cached_parquet
from raft_c_spark.functions.metabound import _widen

# Mersenne prime 2^31-1: universal-hash modulus for MinHash
# permutations (h_i(x) = (a_i*x + b_i) mod p). 31-bit domain keeps
# every intermediate product < 2^62, inside int64 under ANSI mode
# (a 61-bit prime would overflow h*a); 31-bit minhash collision noise
# is negligible next to the k=64-permutation estimation error.
_MERSENNE_P = (1 << 31) - 1

# Broadcast-hint row caps. Hints pin a broadcast hash join where AQE's
# static estimates flap (observed: SMJ picked for the banded self-join,
# 3-4x slower) — but a hint on a corpus-sized frame is a forced
# driver-side materialization that cannot survive a 100 TB corpus, so
# every hint below is conditional on a measured row count (the frames
# are cached and counted anyway for plan-reuse reasons).
_BROADCAST_MAX_BANDED_ROWS = 4_000_000  # (doc, band, bucket) ≈ 20 B/row

#: vocabulary cap of ngram_jaccard_pairs' bitmap strategy: a larger
#: char-gram vocabulary takes the prefix strategy
_MAX_BITMAP_SHINGLES = 65536
#: byte cap on the bitmap mask frame for the above-numpy-cap theta
#: join's broadcast hint; beyond it ngram_jaccard_pairs
#: falls back to the prefix strategy
_BITMAP_BROADCAST_BYTES = 400 << 20
# Verify-path crossover, measured on row-grouped corpora (an earlier
# measurement that pushed this to 800k was taken on single-row-group
# parquet where the equi-join fallback silently ran in ONE task — see
# metabound._widen): the broadcast pack pays an O(n_docs) driver-side
# toPandas + matrix rebuild regardless of candidate volume, while the
# equi-join verify costs ~O(candidates) distributed. Measured min-of-2
# at 68k candidates: 5k docs 1.6s bcast / 1.9s join; 150k 5.6 / 4.8;
# 500k 20.9 / 9.9 — crossover ≈ 50k docs.
_BROADCAST_MAX_SIG_ROWS = 50_000


def char_shingles(df: DataFrame, id_col: str, text_col: str, n: int = 3) -> DataFrame:
    """Distinct character n-gram shingles per document, lowercased,
    whitespace-normalized. Column-expression sliding window (sequence +
    transform + explode) — no UDF."""
    norm = F.lower(F.trim(F.regexp_replace(F.col(text_col), r"\s+", " ")))
    shingles = F.expr(
        f"transform(sequence(1, greatest(length(_norm) - {n - 1}, 0)),"
        f" i -> substring(_norm, i, {n}))"
    )
    return (
        df.select(F.col(id_col).alias("doc"), norm.alias("_norm"))
        .select("doc", F.explode(shingles).alias("shingle"))
        .distinct()
    )


def word_shingles(df: DataFrame, id_col: str, text_col: str, n: int = 3) -> DataFrame:
    """Distinct word n-gram shingles per document (lowercased,
    whitespace-split) — the standard unit for corpus-scale Jaccard
    dedup (Gopher/MassiveText-style n-gram overlap): the shingle
    universe is ~vocab^n, so prefix filtering keeps its selectivity
    at any corpus size, unlike character n-grams whose few-thousand-
    entry universe saturates every candidate join. Column-expression
    sliding window — no UDF."""
    toks = F.split(F.lower(F.trim(F.regexp_replace(F.col(text_col), r"\s+", " "))), " ")
    # guarded index list: sequence(1, 0) would DESCEND ([1, 0]) for
    # docs shorter than n words, so clamp to 1 and filter instead
    grams = F.expr(
        f"transform(filter(sequence(1, greatest(size(_toks) - {n - 1}, 1)),"
        f" i -> i + {n - 1} <= size(_toks)),"
        f" i -> concat_ws(' ', slice(_toks, i, {n})))"
    )
    return (
        df.select(F.col(id_col).alias("doc"), toks.alias("_toks"))
        .select("doc", F.explode(grams).alias("shingle"))
        .distinct()
    )


def exact_duplicates(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Exact-content duplicate groups: normalize → group → keep groups
    with >1 member. Output: (content_key, dup_count, keep_id) where
    keep_id is the smallest id (the survivor a dedup pass would keep)."""
    norm = F.lower(F.trim(F.regexp_replace(F.col(text_col), r"\s+", " ")))
    return (
        df.select(F.col(id_col).alias("doc"), norm.alias("content"))
        .groupBy("content")
        .agg(
            F.count(F.lit(1)).alias("dup_count"),
            F.min("doc").alias("keep_id"),
        )
        .filter(F.col("dup_count") > 1)
    )


def dedup_exact(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Return the deduplicated frame: one survivor (min id) per exact
    normalized content.

    Scale shape (this was once the package's last
    ``Window.partitionBy`` over an unbounded-cardinality key, and the
    worst kind: the partition key was the FULL normalized text, so a
    boilerplate document duplicated millions of times at 100 TB both
    shuffled its whole text per copy and landed every copy in ONE
    window partition). Now: survivor ids via one map-side-combined
    ``min(id)`` aggregate on a 128-bit content hash — a hot content
    collapses to one row per map task before the shuffle and only
    16 B keys travel. The join-back is
    tiered: under the measured row cap the DUP GROUPS ONLY (count
    > 1) broadcast into a LEFT join — unique contents are their own
    survivors and never consult the join, so the cap applies to
    duplicated contents, not distinct ones (one to two decades more
    headroom than an all-survivors broadcast). Above even that,
    a composite (content-key, id) bloom prefilters the full-row
    probe stream map-side before the exact shuffle equi-join (where
    AQE skew-splits) — the keep-test is sparse on the composite even
    though the join key alone is dense, so the dup factor never
    reaches the exchange; see the in-code regime note for where the
    bloom tier wins (network exchanges) and loses (local[*]). Same
    2^-128 collision convention as every hashed dedup path.

    Lifecycle note: construction is EAGER — the
    measured-cap ``count()`` runs a Spark job when the result frame
    is *built* (the A/B'd lazy alternatives, AQE-only broadcast and
    recompute-on-join, measured 1.8x/5-6x slower) — and the groups
    frame stays persisted for the session because the returned plan
    reads it. The registry's per-query ``clearCache()`` hygiene
    releases it between driver queries; a long-lived library session
    calling this across many corpora should call
    ``spark.catalog.clearCache()`` (or unpersist) between corpora."""
    norm = F.lower(F.trim(F.regexp_replace(F.col(text_col), r"\s+", " ")))
    hashed = df.withColumn("_h1", F.xxhash64(norm)).withColumn(
        "_h2", F.xxhash64(norm, F.lit(1))
    )
    from pyspark.storagelevel import StorageLevel

    groups = (
        hashed.groupBy("_h1", "_h2")
        .agg(
            F.min(F.col(id_col)).alias("_keep"),
            F.count(F.lit(1)).alias("_c"),
        )
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # the broadcast side is the DUP GROUPS ONLY (count > 1), not every
    # distinct content. A unique content is its own survivor by
    # construction, so rows that miss the dup set pass with NO join
    # output columns consulted — a broadcast LEFT join + null-or-keep
    # filter, all codegen. That
    # both shrinks the broadcast (dup groups ≪ distinct contents in
    # any real corpus) and moves the over-cap cliff from "> 4M
    # distinct contents" (any billion-doc corpus) to "> 4M distinct
    # DUPLICATED contents" — one to two decades higher for web-scale
    # dup profiles.
    dups = groups.filter(F.col("_c") > 1).select("_h1", "_h2", "_keep")
    n_dup = dups.count()
    if n_dup <= _BROADCAST_MAX_BANDED_ROWS:
        return (
            hashed.join(F.broadcast(dups), ["_h1", "_h2"], "left")
            .filter(
                F.col("_keep").isNull()
                | (F.col(id_col) == F.col("_keep"))
            )
            .drop("_h1", "_h2", "_keep")
        )
    # Above even the dup-group cap (> 4M distinct duplicated
    # contents): the keep-test is sparse on the COMPOSITE
    # (content-key, id) — exactly one row per group passes — even
    # though the equi-join key alone is dense, so bloom the composite
    # over ALL groups' (key, keep) pairs (unique rows hash their own
    # id and always pass) and prefilter the full-row probe stream
    # map-side to ~survivors + ~1% false positives BEFORE the exact
    # shuffle join; FPs and composite-hash collisions die in the
    # id == keep filter, so the result is bit-identical to the
    # broadcast path (pinned by test_dedup_exact_bloom_fallback_exact).
    # Regime note (measured, see SCALING.md): on
    # local[32] this tier LOSES to the bare equi-join (~30x at 450k
    # rows) because a local shuffle is ~a memcpy while the probe
    # kernel pays the full text stream through Arrow both ways — the
    # bloom is a NETWORK-exchange optimization: it removes the
    # (dup_factor - 1)/dup_factor share of full-document bytes from
    # the exchange at the price of a node-local Arrow pass, the right
    # trade on a real cluster where exchange bytes hit network + disk
    # and the corpora this operator exists for are dup-heavy.
    n_surv = groups.count()
    probe = hashed.withColumn(
        "_b1", F.xxhash64("_h1", "_h2", F.col(id_col))
    ).withColumn(
        "_b2", F.xxhash64("_h1", "_h2", F.col(id_col), F.lit(1))
    )
    keys = groups.select(
        F.xxhash64("_h1", "_h2", "_keep").alias("_b1"),
        F.xxhash64("_h1", "_h2", "_keep", F.lit(1)).alias("_b2"),
    )
    pre = _bloom_prefilter(
        probe,
        keys,
        n_surv,
        probe_cols=("_b1", "_b2"),
        key_cols=("_b1", "_b2"),
    ).drop("_b1", "_b2")
    return (
        pre.join(groups.select("_h1", "_h2", "_keep"), ["_h1", "_h2"])
        .filter(F.col(id_col) == F.col("_keep"))
        .drop("_h1", "_h2", "_keep")
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.6,
    unit: str = "char",
    cache_key: str | None = None,
) -> DataFrame:
    """All document pairs (a < b) with n-gram Jaccard ≥ threshold.
    Exact result; the physical strategy adapts to the corpus:

    - **bitmap** (char grams, integral ids, vocabulary ≤
      ``_MAX_BITMAP_SHINGLES``): each doc's
      shingle set becomes a fixed-width bit vector computed in ONE
      narrow Arrow kernel pass (text in → mask out, no explode, no
      shuffle); |A∩B| is AND+popcount on a broadcast nested-loop
      self-join. O(n²·words) with tiny constants — the right tool for
      low-vocabulary corpora where every shingle is hot and any
      join-based candidate generation degenerates to ≈all-pairs
      (measured: the driver corpus has 377 distinct trigrams with
      median df 1062/5000 docs).
    - **prefix** (everything else — large vocabularies, word grams,
      string ids): AllPairs-
      style prefix filtering. Shingles get a global rarity order (df
      ascending); a doc with |A| shingles only needs its
      |A|-⌈t·|A|⌉+1 *rarest* shingles as join keys — any partner with
      J ≥ t must share one of them (if the whole intersection sat in
      the remaining ⌈t·|A|⌉-1 suffix shingles it would be too small).
      Candidates = prefix ⋈ prefix (both sides indexed by prefix
      only, per the published AllPairs index), verified with an
      exact set intersection. Everything is equi-joins + aggregates —
      linear shuffles, no all-pairs, no driver-side state: the shape
      that survives 100 TB (where natural-text vocab far exceeds any
      bitmap cap).

    Both agree exactly with ``_jaccard_join``, the plain shingle
    equi-join counting |A∩B| per pair, which the tests keep as the
    independent reference.

    ``unit`` picks the shingle alphabet: ``"char"`` n-grams (the
    reference-style fuzzy unit; universe ≤ charset^n, a few thousand
    entries) or ``"word"`` n-grams (the corpus-dedup standard;
    universe ~vocab^n). The choice decides the scale story: a 10×
    soak (5k→50k docs, 13k distinct trigrams) measured BOTH join
    strategies super-linear on char shingles — with a few-thousand-
    entry universe every shingle is hot and candidate generation
    saturates toward all-pairs no matter how it is expressed, so
    exact char-gram Jaccard is inherently ~quadratic and the bitmap
    branch (the fastest quadratic: one popcount pass, tiny constants)
    is the right executor at ANY doc count. Word shingles keep the
    prefix filter selective at scale (near-linear in the same soak);
    corpus-scale exact dedup should use ``unit="word"``, and the
    sub-quadratic char-similarity tool is ``minhash_lsh_pairs``.

    The bitmap branch probes the vocabulary size with a single
    capped distinct (≤ cap+1 rows collected); word grams skip the
    probe (their universe never fits)."""
    if unit not in ("char", "word"):
        raise ValueError(f"unit must be 'char' or 'word', got {unit!r}")
    spark = df.sparkSession
    pair_key = None
    if cache_key is not None:
        # pair-level cache, the same stored-derived-column pattern as
        # minhash_lsh_pairs: the verified pair frame persists per
        # (corpus, columns, params) so repeat runs read a tiny parquet
        # instead of re-running the all-pairs/prefix verify. Both
        # strategies are exact, so the one they pick is not part of
        # the key.
        thr = str(threshold).replace(".", "p")
        pair_key = (
            f"ngrampairs_{cache_key}_{id_col}_{text_col}_n{n}_t{thr}"
            f"_{unit}_v1"
        )

    def build():
        # the bitmap kernels pack ids as int64; the prefix join
        # handles any id type
        if unit == "char" and df.schema[
            id_col
        ].dataType.simpleString() in ("bigint", "int"):
            # one text-parse pass: per-doc shingle-code arrays, cached —
            # the vocab probe and the mask build both read from it. With
            # cache_key the code arrays persist per corpus (the
            # stored-column layout: shingle codes computed at ingest,
            # reused by every dedup run — same pattern as the minhash
            # signature store)
            codes = cached_parquet(
                spark,
                None if cache_key is None
                else f"ngramcodes_{cache_key}_{id_col}_{text_col}_n{n}_v1",
                lambda: _doc_codes(df, id_col, text_col, n),
            ).cache()
            codes.count()
            vocab = _collect_vocab_codes(codes, _MAX_BITMAP_SHINGLES)
            pairs = (
                _jaccard_bitmap(codes, vocab, threshold)
                if vocab is not None
                else None
            )
            if pairs is not None:
                return pairs
            codes.unpersist()
        # with cache_key the (doc, shingle) relation persists per corpus
        # — the same stored-column layout as the code arrays above: the
        # text parse + distinct is paid once, every later run starts at
        # the ranking joins
        return _jaccard_prefix(
            _shingles(df, id_col, text_col, n, unit, cache_key), threshold
        )

    return cached_parquet(spark, pair_key, build)


def _shingles(
    df: DataFrame, id_col: str, text_col: str, n: int, unit: str,
    cache_key: str | None,
) -> DataFrame:
    """The (doc, shingle) relation of ``unit`` n-grams, persisted per
    corpus under ``cache_key``."""
    shingle_fn = word_shingles if unit == "word" else char_shingles
    return cached_parquet(
        df.sparkSession,
        None if cache_key is None
        else f"{unit}shingles_{cache_key}_{id_col}_{text_col}_n{n}_v1",
        lambda: shingle_fn(df, id_col, text_col, n),
    )


def ngram_containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.8,
    unit: str = "word",
    cache_key: str | None = None,
) -> DataFrame:
    """All ordered pairs (a, b), a ≠ b, with n-gram containment
    |A∩B| / |A| ≥ threshold — the asymmetric near-dup relation exact
    Jaccard misses: a short document quoted or embedded inside a much
    longer one scores J = |A|/|B| ≈ 0 but containment ≈ 1. The
    quote/subset detector of a corpus dedup pass (direction matters:
    a is the contained doc, b the container).

    Candidate generation is the prefix filter on the CONTAINED side
    only: a pair at C ≥ t shares one of A's |A| − ⌈t·|A|⌉ + 1 rarest
    shingles, but the container side cannot be pruned (any superset
    qualifies regardless of B's size), so probes join the FULL
    (doc, shingle) relation — the published containment/subset-join
    shape (AllPairs adapted to asymmetric thresholds). A size guard
    (|B| ≥ t·|A|·1 requires nothing; only |B| ≥ ⌈t·|A|⌉ elements in
    total) prunes before the distinct. Verify is one exact
    array_intersect per candidate. Everything is equi-joins + hash
    aggregates keyed by shingle/doc — linear shuffles, no all-pairs,
    the shape that survives 100 TB on word grams.

    Determinism: counts are integers; containment is one int/int IEEE
    division — bit-identical in any engine."""
    if unit not in ("char", "word"):
        raise ValueError(f"unit must be 'char' or 'word', got {unit!r}")
    pair_key = None
    if cache_key is not None:
        thr = str(threshold).replace(".", "p")
        pair_key = (
            f"containpairs_{cache_key}_{id_col}_{text_col}_n{n}_t{thr}"
            f"_{unit}_v1"
        )
    return cached_parquet(
        df.sparkSession,
        pair_key,
        lambda: _containment_pairs(
            _shingles(df, id_col, text_col, n, unit, cache_key), threshold
        ),
    )


def _containment_pairs(sh: DataFrame, t: float) -> DataFrame:
    """Verified containment pairs over a (doc, shingle) relation."""
    sh = sh.cache()
    dfreq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("_df"))
    w_rank = Window.partitionBy("doc").orderBy("_df", "shingle")
    ranked = (
        sh.join(dfreq, "shingle")
        .withColumn("_rank", F.row_number().over(w_rank))
        .withColumn("sz", F.count(F.lit(1)).over(Window.partitionBy("doc")))
    )
    probes = ranked.filter(
        F.col("_rank") <= F.col("sz") - F.ceil(F.lit(t) * F.col("sz")) + 1
    ).select(F.col("doc").alias("a"), "shingle", F.col("sz").alias("sz_a"))
    full = ranked.select(
        F.col("doc").alias("b"), "shingle", F.col("sz").alias("sz_b")
    )
    cand = (
        probes.join(full, "shingle")
        .filter(
            (F.col("a") != F.col("b"))
            # the container must hold at least ⌈t·|A|⌉ shingles at all
            & (F.col("sz_b").cast("double") >= F.lit(t) * F.col("sz_a"))
        )
        .select("a", "b")
        .distinct()
    )
    docsets = sh.groupBy("doc").agg(
        F.collect_list("shingle").alias("shset"),
        F.count(F.lit(1)).alias("sz"),
    )
    da = docsets.select(
        F.col("doc").alias("a"), F.col("shset").alias("sa"),
        F.col("sz").alias("sz_a"),
    )
    db = docsets.select(F.col("doc").alias("b"), F.col("shset").alias("sb"))
    common = F.size(F.array_intersect("sa", "sb"))
    return (
        cand.join(da, "a")
        .join(db, "b")
        .withColumn("common", common.cast("long"))
        .withColumn(
            "containment",
            F.col("common").cast("double") / F.col("sz_a"),
        )
        .filter(F.col("containment") >= t)
        .select("a", "b", "common", F.col("sz_a").cast("long").alias("sz_a"),
                "containment")
    )


def _doc_codes(df: DataFrame, id_col: str, text_col: str, n: int) -> DataFrame:
    """(doc, codes) — per-doc distinct shingle codes in one vectorized
    Arrow pass over the text; docs with no shingles are dropped (they
    can appear in no pair)."""
    import pandas as pd

    def kernel(batches):
        for pdf in batches:
            out_doc, out_codes = [], []
            for doc, text in zip(pdf[id_col], pdf[text_col]):
                ids = _shingle_codes(text, n)
                if len(ids):
                    out_doc.append(doc)
                    out_codes.append([int(c) for c in ids])
            yield pd.DataFrame({"doc": out_doc, "codes": out_codes})

    return _widen(df.select(F.col(id_col), F.col(text_col))).mapInPandas(
        kernel, "doc long, codes array<long>"
    )


def _collect_vocab_codes(codes: DataFrame, cap: int):
    """Sorted distinct shingle-code table if it has ≤ cap entries,
    else None. Reads the cached per-doc code arrays (a JVM explode +
    distinct over longs — no re-parse); limit(cap+1) returns the
    complete set exactly when fewer than cap+1 rows come back."""
    import numpy as np

    rows = (
        codes.select(F.explode("codes").alias("code"))
        .distinct()
        .limit(cap + 1)
        .collect()
    )
    if len(rows) > cap:
        return None
    return np.sort(np.array([r["code"] for r in rows], dtype=np.int64))


def _jaccard_bitmap(codes: DataFrame, vocab_codes, threshold: float) -> DataFrame:
    """Bitmap all-pairs verify: per-doc (sz, mask) computed from the
    cached code arrays (searchsorted against the vocab code table →
    OR into 63-bit words), then a broadcast NLJ with a size prefilter
    and an unrolled AND+popcount."""
    import numpy as np
    import pandas as pd

    # 63 usable bits per long: bit 63 would need an unsigned cast
    n_words = (len(vocab_codes) + 62) // 63

    def kernel(batches):
        for pdf in batches:
            out_doc, out_sz, out_mask = [], [], []
            for doc, ids in zip(pdf["doc"], pdf["codes"]):
                ids = np.asarray(ids, dtype=np.int64)
                idx = np.searchsorted(vocab_codes, ids)
                mask = np.zeros(n_words, dtype=np.int64)
                np.bitwise_or.at(
                    mask, idx // 63, np.int64(1) << (idx % 63).astype(np.int64)
                )
                out_doc.append(doc)
                out_sz.append(len(ids))
                out_mask.append([int(w) for w in mask])
            yield pd.DataFrame(
                {"doc": out_doc, "sz": out_sz, "mask": out_mask}
            )

    masks = codes.mapInPandas(kernel, "doc long, sz long, mask array<long>")
    # masks feeds both sides of the pair scan: materialize the cache
    # first or the kernel runs twice
    masks = masks.cache()
    n_docs = masks.count()
    if n_docs <= _BROADCAST_MAX_SIG_ROWS:
        return _bitmap_pairs_numpy(masks, n_words, threshold)
    # the pair scan below is a theta join (size prefilter + a < b):
    # its only distributed form broadcasts the mask frame. Gate the
    # hint by the frame's actual bytes (the hint was once
    # unconditional in the ABOVE-cap branch — at 500k docs × 1041
    # mask words that forced a ~4 GB driver materialization, the
    # exact failure the module header says every hint must be gated
    # against). Beyond the cap, exact bitmap Jaccard is the wrong
    # tool: return None and the caller falls back to the prefix
    # strategy.
    if n_docs * (n_words * 8 + 24) > _BITMAP_BROADCAST_BYTES:
        masks.unpersist()
        return None
    n_part = codes.sparkSession.sparkContext.defaultParallelism
    a = masks.repartition(n_part).select(
        F.col("doc").alias("a"), F.col("sz").alias("sz_a"), F.col("mask").alias("ma")
    )
    b = masks.select(
        F.col("doc").alias("b"), F.col("sz").alias("sz_b"), F.col("mask").alias("mb")
    )
    t = F.lit(threshold)
    # unrolled popcount sum: left-associative like the equivalent fold,
    # but whole-stage-codegen-able with no per-pair lambda machinery —
    # this inner expression runs O(n²) times
    common = None
    for w in range(n_words):
        term = F.bit_count(
            F.element_at("ma", w + 1).bitwiseAND(F.element_at("mb", w + 1))
        )
        common = term if common is None else common + term
    return (
        a.join(
            F.broadcast(b),
            # size prefilter: jaccard ≥ t forces t·|B| ≤ |A| ≤ |B|/t
            (F.col("a") < F.col("b"))
            & (F.col("sz_a").cast("double") >= t * F.col("sz_b"))
            & (F.col("sz_b").cast("double") >= t * F.col("sz_a")),
        )
        .withColumn("common", common)
        .withColumn(
            "jaccard",
            F.col("common").cast("double")
            / (F.col("sz_a") + F.col("sz_b") - F.col("common")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("a", "b", "jaccard")
    )


def _bitmap_pairs_numpy(masks: DataFrame, n_words: int, threshold: float) -> DataFrame:
    """Blocked numpy all-pairs over the bitmask matrix (broadcast
    variable): AND + 16-bit-LUT popcount, vectorized over (block ×
    corpus) — replaces the broadcast NLJ whose per-pair popcount
    expression runs ~10x slower. Same exact semantics: integer common
    counts, double division, a < b."""
    import numpy as np
    import pandas as pd

    pdf = masks.toPandas()
    ids = pdf["doc"].to_numpy(dtype=np.int64)
    sz = pdf["sz"].to_numpy(dtype=np.int64)
    mm = np.array([np.asarray(m, dtype=np.int64) for m in pdf["mask"]])
    order = np.argsort(ids)
    ids, sz, mm = ids[order], sz[order], mm[order].astype(np.uint64)
    bc = masks.sparkSession.sparkContext.broadcast((ids, sz, mm))
    n = len(ids)
    # bound the (chunk × corpus × words) AND block to ~32 MB
    chunk = max(1, (4 << 20) // max(n * n_words, 1))

    def kernel(batches):
        bids, bsz, bmm = bc.value
        lut = np.array(
            [bin(i).count("1") for i in range(1 << 16)], dtype=np.uint16
        )
        for pdf_b in batches:
            probe = pdf_b["doc"].to_numpy(dtype=np.int64)
            for s in range(0, len(probe), chunk):
                a = probe[s : s + chunk]
                ia = np.searchsorted(bids, a)
                anded = bmm[ia][:, None, :] & bmm[None, :, :]
                common = (
                    lut[anded.view(np.uint16).reshape(len(a), len(bids), -1)]
                    .sum(axis=2)
                    .astype(np.int64)
                )
                union = bsz[ia][:, None] + bsz[None, :] - common
                jacc = common / union
                pi, ci = np.nonzero(
                    (jacc >= threshold) & (a[:, None] < bids[None, :])
                )
                yield pd.DataFrame(
                    {"a": a[pi], "b": bids[ci], "jaccard": jacc[pi, ci]}
                )

    probe = _widen(masks.select(F.col("doc")))
    return probe.mapInPandas(kernel, "a long, b long, jaccard double")


def _jaccard_prefix(sh: DataFrame, threshold: float) -> DataFrame:
    """Exact Jaccard pairs via prefix-filter candidate generation
    (AllPairs/PPJoin family — public algorithm, Bayardo et al. WWW'07).
    Every stage is an equi-join or hash aggregate: linear shuffles
    keyed by shingle/doc, no broadcast of corpus-sized frames."""
    t = threshold
    sh = sh.cache()
    dfreq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("_df"))
    w_rank = Window.partitionBy("doc").orderBy("_df", "shingle")
    ranked = (
        sh.join(dfreq, "shingle")
        .withColumn("_rank", F.row_number().over(w_rank))
        .withColumn("sz", F.count(F.lit(1)).over(Window.partitionBy("doc")))
    )
    # prefix length |A| - ceil(t·|A|) + 1: the globally rarest shingles
    prefix = ranked.filter(
        F.col("_rank") <= F.col("sz") - F.ceil(F.lit(t) * F.col("sz")) + 1
    ).select(
        F.col("doc").alias("pa"),
        "shingle",
        F.col("sz").alias("psz"),
        F.col("_rank").alias("pra"),
    )
    docsets = sh.groupBy("doc").agg(
        F.collect_list("shingle").alias("shset"),
        F.count(F.lit(1)).alias("sz"),
    )
    # candidate generation joins prefix ⋈ PREFIX — the AllPairs index
    # holds only prefix features and probes also come from prefixes
    # (Bayardo et al. WWW'07 §3): any pair at J ≥ t shares a shingle
    # within both prefixes, and the candidate count drops from
    # Σ_g df_prefix(g)·df(g) to Σ_g df_prefix(g)² — on a 50k-doc
    # Zipfian soak corpus that was the difference between 388s
    # (prefix⋈full) and near-linear scaling
    pb = prefix.select(
        F.col("pa").alias("doc"),
        "shingle",
        F.col("psz").alias("sz"),
        F.col("pra").alias("prb"),
    )
    # required overlap α = ceil(t/(1+t)·(|A|+|B|)); a shared shingle at
    # rarity-rank i in A and j in B bounds the overlap from above by
    # 1 + min(|A|−i, |B|−j) (both sets are sorted by the same global
    # rarity order, so everything before the shared shingle on either
    # side is disjoint from the other's remainder). Dropping join rows
    # whose bound can't reach α is PPJoin's positional filter (Xiao et
    # al. WWW'08 §3) — codegen-stage arithmetic that prunes candidates
    # BEFORE the distinct's shuffle and the set-intersection verify;
    # integer bound ≥ real α ⟺ bound ≥ ceil(α), so the unceiled
    # comparison is exact. Output is unchanged (verify is exact);
    # pinned by the strategy-agreement tests.
    overlap_bound = (
        F.least(F.col("psz") - F.col("pra"), F.col("sz") - F.col("prb"))
        + F.lit(1)
    )
    cand = (
        prefix.join(pb, "shingle")
        .filter(
            (F.col("pa") != F.col("doc"))
            # J ≥ t forces t·|B| ≤ |A| ≤ |B|/t
            & (F.col("psz").cast("double") >= F.lit(t) * F.col("sz"))
            & (F.col("sz").cast("double") >= F.lit(t) * F.col("psz"))
            & (
                overlap_bound.cast("double")
                >= F.lit(t / (1.0 + t)) * (F.col("psz") + F.col("sz"))
            )
        )
        .select(
            F.least("pa", "doc").alias("a"),
            F.greatest("pa", "doc").alias("b"),
        )
        .distinct()
    )
    da = docsets.select(
        F.col("doc").alias("a"), F.col("shset").alias("sa"), F.col("sz").alias("sz_a")
    )
    db = docsets.select(
        F.col("doc").alias("b"), F.col("shset").alias("sb"), F.col("sz").alias("sz_b")
    )
    common = F.size(F.array_intersect("sa", "sb"))
    return (
        cand.join(da, "a")
        .join(db, "b")
        .withColumn("common", common)
        .withColumn(
            "jaccard",
            F.col("common").cast("double")
            / (F.col("sz_a") + F.col("sz_b") - F.col("common")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("a", "b", "jaccard")
    )


def _jaccard_join(sh: DataFrame, threshold: float) -> DataFrame:
    """Exact Jaccard pairs by a plain shingle equi-join counting |A∩B|
    per pair (Σ df² cost on hot shingles): no query runs it; the tests
    compare the bitmap and prefix strategies against it."""
    sh = sh.cache()
    sizes = sh.groupBy("doc").agg(F.count(F.lit(1)).alias("sz"))
    a = sh.select(F.col("doc").alias("a"), "shingle")
    b = sh.select(F.col("doc").alias("b"), "shingle")
    common = (
        a.join(b, "shingle")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    sa = sizes.select(F.col("doc").alias("a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("doc").alias("b"), F.col("sz").alias("sz_b"))
    return (
        common.join(F.broadcast(sa), "a")
        .join(F.broadcast(sb), "b")
        .withColumn(
            "jaccard",
            F.col("common").cast("double")
            / (F.col("sz_a") + F.col("sz_b") - F.col("common")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("a", "b", "jaccard")
    )


_CODE_M = 0x110000  # unicode codepoint space: 3 cps → unique int64


def _shingle_codes(text: str, n: int) -> "np.ndarray":
    """Distinct char-n-gram codes of a normalized text as a sorted
    int64 array. Normalization matches char_shingles (lowercase,
    whitespace collapsed). n=3 packs three codepoints into one int64
    (a perfect hash, vectorized); other n md5-hash per shingle."""
    import hashlib

    import numpy as np

    from raft_c_spark.functions.norm import norm_ascii_ws

    # ASCII-whitespace normalization — must match the SQL
    # lower(trim(regexp_replace(text, '\\s+', ' '))) exactly
    # (functions/norm.py)
    norm = norm_ascii_ws(text)
    if len(norm) < n:
        return np.empty(0, dtype=np.int64)
    if n == 3:
        cps = np.frombuffer(norm.encode("utf-32-le"), dtype=np.uint32).astype(
            np.int64
        )
        ids = cps[:-2] * (_CODE_M * _CODE_M) + cps[1:-1] * _CODE_M + cps[2:]
    else:
        ids = np.array(
            [
                int.from_bytes(
                    hashlib.md5(norm[i : i + n].encode()).digest()[:8], "big"
                )
                >> 1  # keep positive in int64
                for i in range(len(norm) - n + 1)
            ],
            dtype=np.int64,
        )
    return np.unique(ids)


def minhash_perms(num_perm: int) -> tuple[list[int], list[int]]:
    """The affine-permutation constants (aᵢ, bᵢ) mod the Mersenne
    prime — plain integer arithmetic (no RNG state, no engine-specific
    hash), so an external oracle can bake the same constants into SQL
    and reproduce signatures bit-for-bit."""
    a = [
        ((2 * i + 1) * 0x9E3779B97F4A7C15 % _MERSENNE_P) or 1
        for i in range(num_perm)
    ]
    b = [
        (i * 0xC2B2AE3D27D4EB4F + 0x165667B19E3779F9) % _MERSENNE_P
        for i in range(num_perm)
    ]
    return a, b


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_perm: int = 64,
) -> DataFrame:
    """MinHash signature per document: shingles → k universal affine
    permutations mod a 31-bit Mersenne prime → min per permutation;
    signature is an array<long>.

    Signature computation is embarrassingly parallel per document, so
    it runs as a **narrow** Arrow kernel (mapInPandas): no explode, no
    distinct, no shuffle — text in, a num_perm-long signature out.
    That is also the 100 TB shape: signatures stream out of the scan
    at input parallelism and only the (doc, signature) rows (tiny)
    continue into banding. Shingles for n=3 pack three codepoints into
    one int (a perfect hash); other n md5-hash within the kernel.
    Normalization matches char_shingles (lowercase, whitespace
    collapsed)."""
    import numpy as np
    import pandas as pd

    pa, pb = minhash_perms(num_perm)
    a = np.array(pa, dtype=np.int64)
    b = np.array(pb, dtype=np.int64)

    def kernel(batches):
        for pdf in batches:
            sigs = []
            for text in pdf[text_col]:
                ids = _shingle_codes(text, n) % _MERSENNE_P
                if not len(ids):
                    sigs.append([int(_MERSENNE_P)] * num_perm)
                    continue
                # (n_shingles, num_perm): ids*a ≤ 2^31·2^31 < 2^63, safe
                m = (ids[:, None] * a[None, :]) % _MERSENNE_P
                m = (m + b[None, :]) % _MERSENNE_P
                sigs.append([int(v) for v in m.min(axis=0)])
            yield pd.DataFrame({"doc": pdf[id_col], "signature": sigs})

    return _widen(df.select(F.col(id_col), F.col(text_col))).mapInPandas(
        kernel, "doc long, signature array<long>"
    )


def _signatures(
    df: DataFrame, cache_key: str | None, id_col: str, text_col: str, n: int,
    num_perm: int,
) -> DataFrame:
    """:func:`minhash_signatures`, persisted once per (cache_key,
    params) when ``cache_key`` is given — the stored-column layout the
    100 TB path uses (signatures computed at ingest, reused by every
    dedup run), same pattern as similarity.lsh_index / ivf lists. The
    key folds in every signature-affecting parameter (shingle width
    ``n``, permutation count, algorithm version) so a caller reusing a
    corpus key with different params can never read stale state."""
    return cached_parquet(
        df.sparkSession,
        None if cache_key is None
        else f"minhash_{cache_key}_{id_col}_{text_col}_n{n}_p{num_perm}_v1",
        lambda: minhash_signatures(df, id_col, text_col, n, num_perm),
    )


def _band_frame(sig: DataFrame, bands: int, rows_per_band: int) -> DataFrame:
    """(doc, band, bucket) — one xxhash64 bucket per signature band."""
    band_cols = [
        F.struct(
            F.lit(b).alias("band"),
            F.xxhash64(
                *[
                    F.col("signature")[i]
                    for i in range(b * rows_per_band, (b + 1) * rows_per_band)
                ]
            ).alias("bucket"),
        )
        for b in range(bands)
    ]
    return sig.select(
        "doc", F.explode(F.array(*band_cols)).alias("bb")
    ).select("doc", "bb.band", "bb.bucket")


def _est_jaccard_joined(
    cand: DataFrame,
    sig_a: DataFrame,
    sig_b: DataFrame,
    num_perm: int,
    threshold: float,
) -> DataFrame:
    """Corpus-scale signature verify: equi-join the endpoint
    signatures onto the candidates (linear shuffles keyed by doc id),
    then count equal components in an Arrow-batched numpy kernel.
    Replaced a 64-term when/element_at column chain that dropped out
    of whole-stage codegen and ran interpreted — a 500k-doc soak
    measured that chain turning the above-cap step into a 7× cliff.
    ``sig_a``/``sig_b`` must be (a|b, sig_a|sig_b) frames."""
    import numpy as np
    import pandas as pd

    joined = cand.join(sig_a, "a").join(sig_b, "b")

    def kernel(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            sa = np.stack([np.asarray(s, dtype=np.int64) for s in pdf["sig_a"]])
            sb = np.stack([np.asarray(s, dtype=np.int64) for s in pdf["sig_b"]])
            est = (sa == sb).sum(axis=1) / float(num_perm)
            keep = est >= threshold
            yield pd.DataFrame(
                {
                    "a": pdf["a"].to_numpy(dtype=np.int64)[keep],
                    "b": pdf["b"].to_numpy(dtype=np.int64)[keep],
                    "est_jaccard": est[keep],
                }
            )

    return joined.select("a", "b", "sig_a", "sig_b").mapInPandas(
        kernel, "a long, b long, est_jaccard double"
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_perm: int = 64,
    bands: int = 8,
    threshold: float = 0.5,
    cache_key: str | None = None,
) -> DataFrame:
    """Near-duplicate pairs via banded MinHash LSH.

    bands=8 × rows=8 over 64 perms → collision prob ≈ 1-(1-j^8)^8
    (≈0.99 at j=0.9, ≈0.25 at j=0.6): tuned for the ≥0.8 near-dup
    regime — fewer, longer bands collapse the candidate set on
    high-baseline-similarity corpora (4-row bands admitted >50% of all
    pairs on the synthetic corpus; 8-row bands cut that ~5x with
    recall 1.0 on true ≥0.8 pairs). Candidates = docs sharing any
    band bucket (equi-join on band id + band hash — the scale path:
    shuffle keyed by bucket, never all-pairs); candidates are then
    *verified* with estimated jaccard = fraction of equal signature
    components, filtered at ``threshold``."""
    # pair-level cache: the *verified* pair frame is persisted per
    # (corpus, params) alongside the signatures, so pipelines that
    # compose pair generation (dedup_minhash_lsh, dedup_best_survivor)
    # run the banded join + verify once per corpus instead of once per
    # caller. Same stored-derived-column pattern as the signatures;
    # bench.py wipes the cache before pass 1 and records cold times
    # separately, so the benchmark never mistakes a hit for the cost.
    pair_key = None
    if cache_key is not None:
        thr = str(threshold).replace(".", "p")
        # id_col/text_col are output-affecting (two callers sharing a
        # corpus cache_key but selecting different columns must not
        # share a pair frame) — diskcache's contract requires every
        # such parameter in the key
        pair_key = (
            f"minhashpairs_{cache_key}_{id_col}_{text_col}"
            f"_n{n}_p{num_perm}_b{bands}_t{thr}_v1"
        )

    def build():
        sig = _signatures(df, cache_key, id_col, text_col, n, num_perm)
        return _lsh_pairs(sig, sig, True, num_perm, bands, threshold)

    return cached_parquet(df.sparkSession, pair_key, build)


def minhash_lsh_pairs_between(
    new_df: DataFrame,
    corpus_df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_perm: int = 64,
    bands: int = 8,
    threshold: float = 0.5,
    corpus_cache_key: str | None = None,
    pair_cache_key: str | None = None,
) -> DataFrame:
    """Incremental near-dup dedup: (new doc, corpus doc) pairs with
    estimated Jaccard ≥ threshold — the production shape where each
    incoming crawl batch is deduplicated AGAINST the standing corpus
    rather than within itself. It runs the same banding, candidate
    join and verify as :func:`minhash_lsh_pairs` (one shared body),
    but candidates come from a band-bucket equi-join BETWEEN the two
    signature frames, so cost tracks the batch size and the collision
    density, never the corpus pair count.

    100 TB shape: the corpus signatures are a stored column
    (``corpus_cache_key`` persists them; at ingest they'd be written
    alongside the text), each batch computes only its own signatures,
    and the join broadcasts the corpus's banded frame when it is under
    the row cap, else the batch's when that one is. Returns (a=new id,
    b=corpus id, est_jaccard); ids may overlap between frames (they
    are different tables), so no cross-frame id ordering is assumed.

    ``pair_cache_key`` persists the *verified* pair frame (the same
    stored-derived-column pattern as :func:`minhash_lsh_pairs`); the
    caller's key must identify BOTH input frames (e.g. encode the
    batch/corpus split), since the function cannot fingerprint them.
    """
    pair_key = None
    if pair_cache_key is not None:
        thr = str(threshold).replace(".", "p")
        pair_key = (
            f"minhashpairsbtw_{pair_cache_key}_{id_col}_{text_col}"
            f"_n{n}_p{num_perm}_b{bands}_t{thr}_v1"
        )
    return cached_parquet(
        new_df.sparkSession,
        pair_key,
        lambda: _lsh_pairs(
            minhash_signatures(new_df, id_col, text_col, n, num_perm),
            _signatures(
                corpus_df, corpus_cache_key, id_col, text_col, n, num_perm
            ),
            False, num_perm, bands, threshold,
        ),
    )


def _lsh_pairs(
    sig_x: DataFrame,
    sig_y: DataFrame,
    self_join: bool,
    num_perm: int,
    bands: int,
    threshold: float,
) -> DataFrame:
    """(a, b, est_jaccard): the docs of two (doc, signature) frames
    that share a band bucket, verified at ``threshold``. A self-join
    (``self_join``, with ``sig_y`` the same frame as ``sig_x``) keeps
    a < b and caches, counts and packs its one frame once."""
    sig_x = sig_x.cache()
    sig_y = sig_x if self_join else sig_y.cache()
    # eager materialization: each signature frame feeds banding and
    # the verify; without forcing the cache first, AQE races the
    # branches and computes the full signature pipeline repeatedly.
    # The counts also price the broadcast hints.
    n_x = sig_x.count()
    n_y = n_x if self_join else sig_y.count()
    rows_per_band = num_perm // bands
    banded_x = _band_frame(sig_x, bands, rows_per_band)
    banded_y = banded_x if self_join else _band_frame(sig_y, bands, rows_per_band)
    x, y = banded_x.alias("x"), banded_y.alias("y")
    # size-conditional broadcast of a (docs × bands)-row banded frame:
    # below the cap the hint pins a broadcast hash join (AQE sometimes
    # flaps to a 3-4x-slower sort-merge plan); above it on both sides
    # the join shuffles on (band, bucket) — the scale shape
    if n_y * bands <= _BROADCAST_MAX_BANDED_ROWS:
        y = F.broadcast(y)
    elif n_x * bands <= _BROADCAST_MAX_BANDED_ROWS:
        x = F.broadcast(x)
    on = (F.col("x.band") == F.col("y.band")) & (
        F.col("x.bucket") == F.col("y.bucket")
    )
    if self_join:
        on = on & (F.col("x.doc") < F.col("y.doc"))
    cand = (
        x.join(y, on)
        .select(F.col("x.doc").alias("a"), F.col("y.doc").alias("b"))
        .distinct()
    )
    if (n_x if self_join else n_x + n_y) <= _BROADCAST_MAX_SIG_ROWS:
        # verify in one vectorized numpy pass with the signature
        # matrices as a broadcast variable (n_docs × num_perm longs —
        # 100 MB at the cap): integer equality counts, no float-order
        # concerns. The per-row column-expression alternative (a
        # 64-term when-chain over element_at pairs) drops out of
        # whole-stage codegen and runs ~15 µs/row interpreted.
        import numpy as np
        import pandas as pd

        def pack(sig):
            spdf = sig.toPandas()
            ids = spdf["doc"].to_numpy(dtype=np.int64)
            sm = np.array(
                [np.asarray(s, dtype=np.int64) for s in spdf["signature"]]
            )
            order = np.argsort(ids)
            return ids[order], sm[order]

        packed_x = pack(sig_x)
        bc = sig_x.sparkSession.sparkContext.broadcast(
            (packed_x, packed_x if self_join else pack(sig_y))
        )

        def kernel(batches):
            (aids, asm), (bids, bsm) = bc.value
            for pdf in batches:
                if not len(pdf):
                    continue
                a = pdf["a"].to_numpy(dtype=np.int64)
                b = pdf["b"].to_numpy(dtype=np.int64)
                est = (
                    asm[np.searchsorted(aids, a)]
                    == bsm[np.searchsorted(bids, b)]
                ).sum(axis=1) / float(num_perm)
                keep = est >= threshold
                yield pd.DataFrame(
                    {"a": a[keep], "b": b[keep], "est_jaccard": est[keep]}
                )

        return cand.mapInPandas(kernel, "a long, b long, est_jaccard double")

    # corpus-scale fallback: equi-joins on doc id (linear shuffles) +
    # Arrow-kernel equal-component count
    siga = sig_x.select(F.col("doc").alias("a"), F.col("signature").alias("sig_a"))
    sigb = sig_y.select(F.col("doc").alias("b"), F.col("signature").alias("sig_b"))
    return _est_jaccard_joined(cand, siga, sigb, num_perm, threshold)


#: SimHash width. 60 bits = 15 hex digits of md5 — md5 is the one
#: hash both Spark and DuckDB compute identically, which makes the
#: whole simhash pipeline oracle-replicable (the previous xxhash64
#: token hash had no DuckDB equivalent, forcing a rows-only check).
SIMHASH_BITS = 60

#: weight cap for the integer-idf vote weights: weights are
#: min(cap, floor(log2(N/df))+1), i.e. {1, 2} — tokens present in
#: more than half the corpus vote with half weight. Measured sweep
#: (soak corpora, planted ≥0.9-Jaccard near-dups): cap=1 (unweighted)
#: leaves quadratic background (0.23% of ALL pairs within h≤6 at 500k
#: docs ⇒ ~580M output pairs); cap=2 collapses background ~2000×
#: (h≤6 density 0.23% → 0.00012%) at 100% soak recall@h10; cap≥3
#: over-disperses true pairs (recall@h10 drops below 0.8 on the
#: driver's 31-word-vocab corpus).
SIMHASH_WEIGHT_CAP = 2


def simhash60(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """60-bit idf-weighted SimHash per document over BPE-ish tokens:
    per-bit majority vote of md5-derived token hashes, each vote
    weighted by tf × capped-integer-idf — as bit-position aggregates:
    one (doc, tok) tf aggregate → per-bit weighted sums → reassemble.
    Near-dup candidates are docs at small hamming distance.

    Why weighted (Charikar's simhash takes per-feature weights; Manku
    et al., WWW'07, weigh web-page features by idf): with unweighted
    ±1 votes on short Zipfian documents the high-df head tokens
    dominate every document's votes, so fingerprints of UNRELATED
    docs cluster — measured on the 500k-doc soak corpus (50-word
    docs, 5k-word Zipf vocab): 0.23% of ALL pairs landed within
    hamming ≤ 6 (~580M output pairs — quadratic in the corpus, no
    candidate blocking can beat output size) and 48.9k docs shared
    one 15-bit chunk value. Down-weighting the head lets the
    doc-specific tail drive the bits: same corpus, weighted, measures
    ~0.00012% background at h ≤ 6 and 14× fewer chunk-join candidates
    while planted near-dups stay in range (see SIMHASH_WEIGHT_CAP).

    Determinism contract (hash-oracled in DuckDB): token hash = first
    15 hex digits of md5, ``CAST('0x' || substr(md5(tok),1,15) AS
    BIGINT)``; weight = ``least(length(bin(N div df)), cap)`` =
    min(cap, floor(log2(N/df))+1) (N = distinct ids in the input
    frame, df = distinct docs containing the token) — integer
    division and binary-string length are bit-identical across
    engines, so vote sums are exact integers with no libm/float-order
    hazard."""
    tokens = _widen(df.select(F.col(id_col).alias("doc"), F.col(text_col))).select(
        "doc",
        F.explode(
            F.expr(
                f"regexp_extract_all(lower({text_col}),"
                r" '[a-z0-9]+|[^a-z0-9\\s]', 0)"
            )
        ).alias("tok"),
    )
    # ONE map-side-combined (doc, tok) tf aggregate feeds everything:
    # df_t (a tok-keyed rollup of it — Zipf's law makes distinct
    # tokens orders of magnitude fewer than occurrences, so that
    # shuffle is tiny) and the vote stream (±tf·w per (doc, tok) —
    # identical to voting per occurrence). md5 is hashed on the
    # vocabulary rollup, not the token stream. No broadcast hint on
    # the join: text vocabulary is unbounded at 100 TB, and AQE
    # converts to broadcast at runtime whenever the vocab side is
    # small. The per-bit votes then flow into ONE map-side-combined
    # aggregate — the shuffle carries 60 partial sums per
    # (partition, doc), not token rows.
    tf = tokens.groupBy("doc", "tok").agg(F.count(F.lit(1)).alias("tf"))
    n_docs = df.select(F.countDistinct(F.col(id_col)).alias("n_docs"))
    vocab = (
        tf.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("df_t"))
        .crossJoin(F.broadcast(n_docs))
        .select(
            "tok",
            F.conv(F.substring(F.md5(F.col("tok").cast("binary")), 1, 15), 16, 10)
            .cast("long")
            .alias("h"),
            # capped integer idf — engine-portable, no floats
            F.least(
                F.length(F.conv(F.expr("n_docs div df_t"), 10, 2)),
                F.lit(SIMHASH_WEIGHT_CAP),
            )
            .cast("long")
            .alias("w"),
        )
    )
    hashed = tf.join(vocab, "tok").select(
        "doc", "h", (F.col("tf") * F.col("w")).alias("v")
    )
    one = F.lit(1).cast("long")
    bit_sums = [
        F.sum(
            F.when(
                F.col("h").bitwiseAND(F.shiftleft(one, i)) != 0, F.col("v")
            ).otherwise(-F.col("v"))
        ).alias(f"b{i}")
        for i in range(SIMHASH_BITS)
    ]
    agg = hashed.groupBy("doc").agg(*bit_sums)
    sim = None
    for i in range(SIMHASH_BITS):
        bit = F.when(F.col(f"b{i}") > 0, F.shiftleft(one, i)).otherwise(
            F.lit(0).cast("long")
        )
        sim = bit if sim is None else sim.bitwiseOR(bit)
    return agg.select("doc", sim.alias("simhash"))


def simhash_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 8,
    cache_key: str | None = None,
    n_chunks: int = 4,
) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance, with pigeonhole
    chunk blocking. CONTRACT (explicit — this is a
    blocked candidate set, not an exhaustive scan): the 60-bit hash
    splits into ``n_chunks`` equal chunks and candidates are pairs
    sharing ≥ 1 exact chunk, so the output is COMPLETE for
    hamming ≤ n_chunks − 1 (pigeonhole) and best-effort above —
    with the default 4 chunks, a hamming-5 pair that differs in every
    chunk is (correctly, by this contract) absent. Callers needing
    completeness at the default max_hamming=8 pass ``n_chunks=10``
    (any divisor of 60; more chunks = shorter keys = denser buckets,
    the standard recall/cost dial). Scale path: equi-join per chunk,
    never all-pairs.

    ``cache_key`` persists the (doc, simhash) signature frame AND the
    verified pair frame per corpus (same stored-column layout as the
    minhash signatures/pairs) — the md5 vocabulary hashing that makes
    the signatures oracle-replicable, and the chunk self-join, are
    paid once per corpus, not per run."""
    if SIMHASH_BITS % n_chunks:
        raise ValueError(f"n_chunks must divide {SIMHASH_BITS}")
    chunk_bits = SIMHASH_BITS // n_chunks
    spark = df.sparkSession
    pair_key = None
    if cache_key is not None:
        # pair-level cache (same pattern as minhash_lsh_pairs): repeat
        # runs skip the chunk self-join entirely
        pair_key = (
            f"simhashpairs{SIMHASH_BITS}_{cache_key}_{id_col}_{text_col}"
            f"_h{max_hamming}_c{n_chunks}"
            f"_w{SIMHASH_WEIGHT_CAP}_v3"  # v3: tf×capped-idf votes
        )

    def build():
        sig = cached_parquet(
            spark,
            None if cache_key is None
            else f"simhash{SIMHASH_BITS}_{cache_key}_{id_col}_{text_col}"
            f"_w{SIMHASH_WEIGHT_CAP}_v3",
            lambda: simhash60(df, id_col, text_col),
        ).cache()
        chunks = sig.select(
            "doc",
            "simhash",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(c).alias("chunk"),
                            F.shiftrightunsigned("simhash", chunk_bits * c)
                            .bitwiseAND(F.lit((1 << chunk_bits) - 1))
                            .alias("key"),
                        )
                        for c in range(n_chunks)
                    ]
                )
            ).alias("cc"),
        ).select("doc", "simhash", "cc.chunk", "cc.key")
        cand = (
            chunks.alias("x")
            .join(
                chunks.alias("y"),
                (F.col("x.chunk") == F.col("y.chunk"))
                & (F.col("x.key") == F.col("y.key"))
                & (F.col("x.doc") < F.col("y.doc")),
            )
            .select(
                F.col("x.doc").alias("a"),
                F.col("y.doc").alias("b"),
                F.col("x.simhash").alias("ha"),
                F.col("y.simhash").alias("hb"),
            )
        )
        # hamming filter BEFORE the dedup-distinct: a pair sharing k
        # chunks appears k times in the join output, and on corpora whose
        # simhashes cluster the raw candidate stream is enormous (a
        # 500k-doc soak counted 4.1e9 candidate rows) — filtering inside the
        # join's output stage keeps all of that in codegen and lets only
        # true near-dup pairs (×multiplicity ≤ n_chunks) reach the distinct's
        # shuffle, instead of shuffling every candidate first
        hamming = F.bit_count(F.col("ha").bitwiseXOR(F.col("hb")))
        return (
            cand.withColumn("hamming", hamming)
            .filter(F.col("hamming") <= max_hamming)
            .select("a", "b", "hamming")
            .distinct()
        )

    return cached_parquet(spark, pair_key, build)


def connected_components(
    pairs: DataFrame,
    a_col: str = "a",
    b_col: str = "b",
    max_iter: int = 50,
    driver_max_edges: int = 2_000_000,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Connected components over an undirected pair graph — the
    clustering step every dedup pipeline runs after pair generation
    (pairs → clusters → one survivor per cluster). Returns
    (doc, component) for every doc appearing in a pair, where
    ``component`` is the smallest doc id in its component.

    Iterative min-label propagation: each round every node takes the
    minimum label over its closed neighborhood — one equi-join + one
    hash aggregate per round, linear shuffles keyed by doc id, no
    driver-side graph state. Rounds needed = graph diameter; near-dup
    clusters are clique-like so 2-4 rounds converge. The same loop
    runs at 100 TB with persisted frames; for adversarial chain-shaped
    graphs the alternating large-star/small-star formulation (Kiveris
    et al., "Connected Components in MapReduce and Beyond", SoCC'14 —
    public algorithm) caps rounds at O(log n) with the identical
    join+aggregate building blocks.

    Deterministic (min is order-independent), so exact pair inputs
    yield an oracle-checkable result (recursive-CTE reachability).

    Below ``driver_max_edges`` the pair list collapses driver-side
    with a union-find instead (near-dup pair graphs are vastly smaller
    than their corpora — 2M edges ≈ 32 MB — and a linear α(n) pass
    beats rounds of tiny distributed jobs); the iterative dataflow is
    the path for graphs that outgrow one machine."""
    e = pairs.select(
        F.col(a_col).cast("long").alias("src"),
        F.col(b_col).cast("long").alias("dst"),
    ).cache()
    # count first, collect second: a limit().collect() probe would run
    # the (expensive) pair job incrementally on 1, then 4, ... tasks
    n_pairs = e.count()
    if 0 < n_pairs <= driver_max_edges:
        head = e.collect()
        e.unpersist()
        return _components_union_find(pairs.sparkSession, head)
    edges = e.union(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct()
    edges = edges.cache()
    n_edges = edges.count()
    e.unpersist()
    # right-size the per-round shuffles: a tiny graph over the session
    # default (32+) partitions pays round-count × task-scheduling
    # overhead for nothing; at corpus scale this keeps the default
    p = max(2, min(edges.sparkSession.sparkContext.defaultParallelism,
                   n_edges // 100_000 + 2))
    edges = edges.repartition(p, "dst")
    # lineage truncation per round: an iterative dataflow grows its
    # logical plan linearly, and Catalyst re-analyzes the whole tree
    # every round — by ~15 rounds planning itself OOMs. Truncating
    # keeps each round's plan constant-size (the standard Pregel-style
    # loop discipline). Two flavors:
    # - default: localCheckpoint — executor-local blocks, fastest, but
    #   lost on executor failure (fine in local mode / short loops);
    # - checkpoint_dir given: RELIABLE checkpoints to that directory
    #   (HDFS/S3 path on a cluster) — per-round state survives
    #   executor loss, the right setting for a 100 TB cluster run.
    if checkpoint_dir is not None:
        # NOTE: sc.setCheckpointDir mutates SparkContext-global state.
        # The prior dir is restored after the loop (below) so unrelated
        # checkpoint() users are unaffected past this call; the
        # per-round checkpoint files themselves are only auto-deleted
        # when spark.cleaner.referenceTracking.cleanCheckpoints=true —
        # cluster deployments should enable that or prune the
        # directory out-of-band (each round leaves one ≤|labels|-sized
        # parquet-like RDD dump otherwise).
        sc = pairs.sparkSession.sparkContext
        prior_ckpt_dir = sc.getCheckpointDir()
        sc.setCheckpointDir(checkpoint_dir)

        def _truncate(df: DataFrame) -> DataFrame:
            return df.checkpoint(eager=True)
    else:

        def _truncate(df: DataFrame) -> DataFrame:
            return df.localCheckpoint(eager=True)

    try:
        labels = _truncate(
            edges.select(F.col("src").alias("doc"))
            .distinct()
            .withColumn("label", F.col("doc"))
        )
        for _ in range(max_iter):
            nbr_min = (
                edges.join(
                    labels.select(
                        F.col("doc").alias("dst"), F.col("label").alias("dst_label")
                    ),
                    "dst",
                )
                .groupBy("src")
                .agg(F.min("dst_label").alias("nbr_label"))
                .select(F.col("src").alias("doc"), "nbr_label")
            )
            stepped = labels.join(nbr_min, "doc", "left").select(
                "doc",
                F.least(
                    F.col("label"), F.coalesce("nbr_label", F.col("label"))
                ).alias("label"),
            )
            # pointer jumping: label ← label[label]. Neighbor-min alone
            # needs diameter rounds (a hop per round); following the
            # label's own label doubles the reach each round → O(log d)
            # rounds total, the shortcutting step of the MapReduce CC
            # algorithms (Kiveris et al.)
            new_labels = (
                stepped.alias("x")
                .join(
                    stepped.select(
                        F.col("doc").alias("label"), F.col("label").alias("label2")
                    ).alias("y"),
                    "label",
                    "left",
                )
                .select(
                    "doc",
                    F.coalesce("label2", F.col("label")).alias("label"),
                )
            )
            new_labels = _truncate(new_labels)
            n_changed = (
                new_labels.alias("n")
                .join(labels.alias("o"), "doc")
                .filter(F.col("n.label") != F.col("o.label"))
                .count()
            )
            labels = new_labels
            if n_changed == 0:
                break
        edges.unpersist()
    finally:
        # restore the caller's checkpoint dir even when the loop
        # raises (global-state hygiene; a None prior dir cannot be
        # restored through setCheckpointDir, which is the API's limit)
        if checkpoint_dir is not None and prior_ckpt_dir is not None:
            sc.setCheckpointDir(prior_ckpt_dir)
    return labels.select("doc", F.col("label").alias("component"))


def _components_union_find(spark, edge_rows) -> DataFrame:
    """Driver-side union-find over a collected edge list (path
    compression + union by smaller-min-wins), returned as the same
    (doc, component) frame the distributed loop produces."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for r in edge_rows:
        ra, rb = find(int(r["src"])), find(int(r["dst"]))
        if ra != rb:
            # min id becomes the root → component label = min member
            if ra < rb:
                parent[rb] = ra
            else:
                parent[ra] = rb
    out = [(n, find(n)) for n in parent]
    # this path only runs for graphs the driver already collected
    # (≤ driver_max_edges ⇒ ≤ 2·driver_max_edges nodes ≈ 64 MB), and
    # a driver-built frame carries no stats — without the hint every
    # downstream comp-map join plans as a sort-merge join. The
    # distributed loop's output stays unhinted (its map can be
    # arbitrarily large; AQE decides there).
    return spark.createDataFrame(
        out, "doc long, component long"
    ).hint("broadcast")


def embedding_neardup_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.95,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (a < b, cosine ≥
    threshold). Exact all-pairs — inherently O(n²); this is the
    small-scale baseline / verifier. The 100 TB path is
    ``similarity.lsh_bucketed_pairs`` (hyperplane-LSH bucket join +
    exact-cosine verify), tested against this operator on planted
    duplicates in tests/test_text_similarity.py.

    Physical strategy: below the broadcast cap (and with integral
    ids) each partition scores a block of probe rows against the
    broadcast corpus matrix in numpy — dots accumulated dimension-by-
    dimension, bit-identical to the SQL fold — replacing a broadcast
    NLJ whose 128-element_at cosine expression drops out of codegen.
    Above the cap: partitioned cartesian with a zip_with fold —
    still O(n²) work (that is what "exact all-pairs" means) but no
    driver-side corpus materialization."""
    from raft_c_spark.operators.similarity import (
        _VERIFY_BROADCAST_BYTES,
        _corpus_pack,
        vec_dim,
        with_norm,
    )

    import numpy as np
    import pandas as pd

    dim = vec_dim(df, vec_col)
    n = df.count()
    integral = df.schema[id_col].dataType.simpleString() in ("bigint", "int")
    if integral and n * dim * 8 <= _VERIFY_BROADCAST_BYTES:
        bc = df.sparkSession.sparkContext.broadcast(
            _corpus_pack(df, id_col, vec_col)
        )
        # bound the (chunk × corpus) cosine block to ~64 MB
        chunk = max(1, (8 << 20) // max(n, 1))

        def kernel(batches):
            ids, m, norms = bc.value
            for pdf in batches:
                probe = pdf["a"].to_numpy(dtype=np.int64)
                for s in range(0, len(probe), chunk):
                    a = probe[s : s + chunk]
                    ia = np.searchsorted(ids, a)
                    acc = np.zeros((len(a), len(ids)))
                    for i in range(m.shape[1]):
                        acc += np.outer(m[ia, i], m[:, i])
                    cos = acc / np.outer(norms[ia], norms)
                    pi, ci = np.nonzero(
                        (cos >= threshold) & (a[:, None] < ids[None, :])
                    )
                    yield pd.DataFrame(
                        {"a": a[pi], "b": ids[ci], "cosine": cos[pi, ci]}
                    )

        probe = _widen(df.select(F.col(id_col).alias("a")))
        return probe.mapInPandas(kernel, "a long, b long, cosine double")

    v = with_norm(df, id_col, vec_col, dim)
    return _blocked_exact_pairs(v, dim, n, threshold)


def _blocked_exact_pairs(
    v: DataFrame,
    dim: int,
    n: int,
    threshold: float,
    block_bytes: int = 32 << 20,
) -> DataFrame:
    """Exact all-pairs cosine above the broadcast cap: block-pair
    decomposition. Rows hash into B blocks sized so one block's
    matrix is ~``block_bytes``; every unordered block pair (pa ≤ pb)
    becomes one task whose rows arrive via two equi-joins against a
    tiny broadcast (pa, pb) frame, and the task scores its two blocks
    with the same dimension-by-dimension numpy accumulation as the
    under-cap kernel (identical fp-add order → identical cosines).

    Work stays O(n²·dim) — that is what exact all-pairs means — but
    the physical plan is broadcast-join + one shuffle of n·(B+1)/2
    replicated rows + embarrassingly-parallel numpy blocks: no
    CartesianProduct, no per-pair interpreted fold, no driver-side
    corpus. B grows as √(total work) per block budget, so executor
    memory stays flat at any n."""
    import math

    import numpy as np
    import pandas as pd

    spark = v.sparkSession
    B = int(max(2, math.ceil(n * dim * 8 / block_bytes)))
    id_t = v.schema["doc"].dataType.simpleString()
    blocked = v.withColumn(
        "blk", F.pmod(F.xxhash64(F.col("doc")), F.lit(B)).cast("int")
    )
    pair_rows = [(i, j) for i in range(B) for j in range(i, B)]
    pairs_all = spark.createDataFrame(pair_rows, "pa int, pb int")
    pairs_off = pairs_all.filter(F.col("pa") < F.col("pb"))
    side_a = F.broadcast(pairs_all).join(
        blocked.withColumnRenamed("blk", "pa"), "pa"
    ).select("pa", "pb", F.lit("a").alias("side"), "doc", "vec", "norm")
    # diagonal block-pairs (pa == pb) self-score their 'a' rows, so
    # the 'b' side ships only off-diagonal pairs — no double shuffle
    side_b = F.broadcast(pairs_off).join(
        blocked.withColumnRenamed("blk", "pb"), "pb"
    ).select("pa", "pb", F.lit("b").alias("side"), "doc", "vec", "norm")
    work = side_a.unionByName(side_b)

    def kernel(key, pdf):
        pa, pb = key
        rows_a = pdf[pdf["side"] == "a"]
        ids_a = rows_a["doc"].to_numpy()
        if len(ids_a) == 0:
            return pd.DataFrame({"a": [], "b": [], "cosine": []})
        ma = np.stack(rows_a["vec"].to_numpy()).astype(np.float64)
        na = rows_a["norm"].to_numpy(dtype=np.float64)
        if pa == pb:
            ids_b, mb, nb = ids_a, ma, na
        else:
            rows_b = pdf[pdf["side"] == "b"]
            ids_b = rows_b["doc"].to_numpy()
            if len(ids_b) == 0:
                return pd.DataFrame({"a": [], "b": [], "cosine": []})
            mb = np.stack(rows_b["vec"].to_numpy()).astype(np.float64)
            nb = rows_b["norm"].to_numpy(dtype=np.float64)
        acc = np.zeros((len(ids_a), len(ids_b)))
        for i in range(dim):
            acc += np.outer(ma[:, i], mb[:, i])
        cos = acc / np.outer(na, nb)
        xi, yi = np.nonzero((cos >= threshold) & (ids_a[:, None] < ids_b[None, :]))
        out = pd.DataFrame(
            {"a": ids_a[xi], "b": ids_b[yi], "cosine": cos[xi, yi]}
        )
        if pa != pb:
            # hash-blocking doesn't align with id order: pairs where
            # the pb-side id is the smaller one live here too
            xj, yj = np.nonzero(
                (cos >= threshold) & (ids_a[:, None] > ids_b[None, :])
            )
            out = pd.concat(
                [
                    out,
                    pd.DataFrame(
                        {"a": ids_b[yj], "b": ids_a[xj], "cosine": cos[xj, yj]}
                    ),
                ],
                ignore_index=True,
            )
        return out

    return work.groupBy("pa", "pb").applyInPandas(
        kernel, f"a {id_t}, b {id_t}, cosine double"
    )


def _bloom_prefilter(
    probe: DataFrame,
    keys: DataFrame,
    n_keys: int,
    probe_cols: tuple[str, str] = ("h1", "h2"),
    key_cols: tuple[str, str] = ("h1", "h2"),
) -> DataFrame:
    """Filter ``probe`` rows to those whose 128-bit key (columns
    ``probe_cols``) is PROBABLY in ``keys`` (columns ``key_cols``) —
    the map-side prefilter for a measured-cap join-back whose key set
    outgrew the broadcast cap (false positives pass through to the
    exact equi-join that follows; false negatives are impossible, so
    results are exact). The column pairs are parameters because
    the sparse test is not always the join key itself: dedup_exact's
    keep-test is sparse on the COMPOSITE (content-key, id) even
    though its equi-join key alone is dense, so its bloom columns are
    derived composite hashes while the spans pipeline blooms its join
    key directly.

    The double-hash k=2 bloom is sized at ~10 bits/key (power of two,
    ≥ 2^24) → ~1% FPR. Build is DISTRIBUTED: each partition folds its
    keys into one m/8-byte partial bitmap inside a single Arrow pass
    (accumulating across the partition's batches, one output row per
    partition), the driver ORs the ~P partials, and the final bitmap
    ships as a spark broadcast into a vectorized probe kernel — the
    keys themselves never reach the driver, and the driver/executor
    cost is m/8 bytes regardless of key count. At corpus scales where
    even the bitmap won't broadcast, shard the key space and run the
    join per shard — this helper raises the cliff by ~100x, it does
    not pretend to remove it."""
    import math

    import numpy as np
    import pandas as pd

    m_bits = 1 << max(24, math.ceil(math.log2(max(n_keys, 1) * 10)))
    mask = m_bits - 1
    n_bytes = m_bits // 8

    def build(batches):
        bits = np.zeros(n_bytes, dtype=np.uint8)
        for pdf in batches:
            if not len(pdf):
                continue
            for col in key_cols:
                p = pdf[col].to_numpy(dtype=np.int64).astype(np.uint64) & mask
                np.bitwise_or.at(bits, p >> 3, (1 << (p & 7)).astype(np.uint8))
        yield pd.DataFrame({"bits": [bits.tobytes()]})

    # coalesce the key frame before the fold: each partition yields one
    # m/8-byte partial, so P partials reach the driver — under the
    # driver's 200-shuffle-partition session an uncoalesced fold would
    # ship 200 × 16 MB ≈ 3 GB for the 1.5M-doc corpus; 16 partitions
    # cap the transfer at ~256 MB while keeping the fold parallel
    partials = keys.select(*key_cols).coalesce(16).mapInPandas(
        build, "bits binary"
    ).collect()
    bits = np.zeros(n_bytes, dtype=np.uint8)
    for r in partials:
        bits |= np.frombuffer(r["bits"], dtype=np.uint8)
    bc = probe.sparkSession.sparkContext.broadcast(bits.tobytes())
    cols = probe.columns
    schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in probe.schema.fields
    )

    def kernel(batches):
        arr = np.frombuffer(bc.value, dtype=np.uint8)
        for pdf in batches:
            if not len(pdf):
                continue
            keep = np.ones(len(pdf), dtype=bool)
            for col in probe_cols:
                p = pdf[col].to_numpy(dtype=np.int64).astype(np.uint64) & mask
                bit = (
                    arr[(p >> 3).astype(np.int64)]
                    >> (p & 7).astype(np.uint8)
                ) & 1
                keep &= bit == 1
            yield pdf.loc[keep, cols]

    return probe.mapInPandas(kernel, schema)


def repeated_substring_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_len: int = 40,
    min_count: int = 2,
    cache_key: str | None = None,
) -> DataFrame:
    """Exact repeated-substring spans (the ExactSubstr dedup of Lee et
    al., "Deduplicating Training Data Makes Language Models Better",
    ACL'22 — public paper): every maximal interval of a document
    covered by length-``min_len`` substrings that occur ≥
    ``min_count`` times ANYWHERE in the corpus (including within the
    same document). Pipelines cut these spans out of training text
    rather than dropping whole documents.

    Shape: position-gram explode → corpus-wide occurrence count via a
    map-side-combined aggregate on a 128-bit gram hash, with the
    c ≥ ``min_count`` key set persisted + joined back (broadcast
    under a measured row cap so the probe stream never shuffles,
    shuffle equi-join above) → per-doc gaps-and-islands merge
    (two window passes over positions, partitioned by doc). Nothing
    quadratic. The aggregate is the default because
    it is skew-immune: the former ``Window.partitionBy(gram)`` put
    every occurrence of a hot boilerplate gram into ONE partition —
    a scale-killer on Zipfian 100 TB text — whereas partial
    aggregation reduces a hot gram to one (h1, h2, count) row per map
    task before the shuffle. Counting on the 128-bit hash instead of
    the raw string keeps the shuffled rows narrow; a collision needs
    two distinct grams agreeing on both independent xxhash64 values
    (~2^-128 per pair — no observed effect at any tested scale).

    Lifecycle note: building the plan is EAGER (the measured-cap
    count materializes the repeated-key aggregate) and the key set
    stays persisted for the session so the returned plan can read it
    — the registry's per-query ``clearCache()`` hygiene releases it
    between driver queries; long-lived library sessions calling this
    over many corpora should ``spark.catalog.clearCache()`` (or
    unpersist) between corpora themselves.

    ``cache_key`` contract: the key must uniquely
    fingerprint the EXACT input frame — rows and columns, e.g.
    ``data_cache_key`` over the backing file — not merely name the
    corpus. The disk cache keys only on (cache_key, params); a caller
    reusing a corpus-level key with a filtered/transformed ``df``
    silently reads back the full-corpus spans.
    """
    # ``cache_key`` persists the span frame per corpus (the lm-score/
    # DSIR pattern): the spans are consumed by BOTH the span-report
    # query and cut_repeated_spans — sharing one materialization
    # halves the pipeline's bench cost and at 100 TB spans are a
    # stored column computed once per corpus version anyway.
    key = None
    if cache_key is not None:
        key = (
            f"spans_{cache_key}_{id_col}_{text_col}"
            f"_L{min_len}_c{min_count}_v1"
        )

    def build():
        L = min_len
        norm = F.lower(F.trim(F.regexp_replace(F.col(text_col), r"\s+", " ")))
        base = (
            _widen(df.select(F.col(id_col).alias("doc"), norm.alias("t")))
            .filter(F.length("t") >= L)
        )
        grams = base.select(
            "doc",
            F.explode(
                F.expr(
                    f"transform(sequence(1, length(t) - {L - 1}),"
                    f" i -> struct(i as pos, substring(t, i, {L}) as gram))"
                )
            ).alias("pg"),
        ).select("doc", F.col("pg.pos").cast("long").alias("pos"), "pg.gram")
        # 128-bit gram key: two independent xxhash64 values; the heavy gram
        # string never leaves the map side.
        hashed = grams.select(
            "doc",
            "pos",
            F.xxhash64("gram").alias("h1"),
            F.xxhash64("gram", F.lit(1)).alias("h2"),
        )
        from pyspark.storagelevel import StorageLevel

        # the repeated-key set (16 B/row) is PERSISTED so the measured-cap
        # count does not recompute the aggregate for the join build side,
        # then broadcast under the cap — which keeps the 13M-row-per-50k-
        # docs probe stream from ever shuffling. The three shapes were
        # measured at the 50k soak corpus: eager-count without persist
        # 7.6 s (aggregate runs twice), AQE-decided join 21-27 s (AQE
        # converts to broadcast but only after the SMJ-planned probe
        # exchange has already written all 13M rows), persist+count+
        # broadcast 4.1-4.5 s. Above the cap the persisted set feeds the
        # shuffle equi-join (never a window) — the scale fallback;
        # MEMORY_AND_DISK so a genuinely huge set spills instead of
        # evicting. The probe side recomputes the explode rather than
        # caching it — CPU-cheap codegen vs pinning a corpus-sized gram
        # frame in storage memory.
        rep = (
            hashed.groupBy("h1", "h2")
            .agg(F.count(F.lit(1)).alias("c"))
            .filter(F.col("c") >= min_count)
            .select("h1", "h2")
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        n_rep = rep.count()
        if n_rep <= _BROADCAST_MAX_BANDED_ROWS:
            hits = hashed.join(F.broadcast(rep), ["h1", "h2"]).select(
                "doc", "pos"
            )
        else:
            # caught by the 500k→1.5M-doc soak: at 1.5M docs the repeated
            # key set crossed the broadcast cap (7.1M keys vs 4M) and the
            # bare equi-join fallback shuffled the ENTIRE ~450M-row probe
            # stream — 9.7x raw at 3x data. Hits are sparse (most grams are
            # unique), so a broadcast bloom over the repeated keys filters
            # the probe MAP-SIDE down to ~hits + ~1% false positives
            # before the exact equi-join; the bloom's bitmap is built
            # distributed (one partial bitmap per partition, OR'd on the
            # driver — never the keys themselves) and costs m/8 bytes
            # regardless of key count. FPs only add join input, never
            # results — the equi-join stays exact.
            pre = _bloom_prefilter(hashed, rep, n_rep)
            hits = pre.join(rep, ["h1", "h2"]).select("doc", "pos")
        w_prev = (
            Window.partitionBy("doc")
            .orderBy("pos")
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        w_run = (
            Window.partitionBy("doc")
            .orderBy("pos")
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        flagged = hits.withColumn(
            "prev_end", F.max(F.col("pos") + L).over(w_prev)
        ).withColumn(
            "new_island",
            F.when(
                F.col("prev_end").isNull() | (F.col("pos") > F.col("prev_end")),
                F.lit(1),
            ).otherwise(F.lit(0)),
        )
        islands = flagged.withColumn("island", F.sum("new_island").over(w_run))
        return (
            islands.groupBy("doc", "island")
            .agg(
                F.min("pos").alias("span_start"),
                (F.max("pos") + F.lit(L)).alias("span_end"),
                F.count(F.lit(1)).alias("n_grams"),
            )
            .select(
                F.col("doc").alias(id_col),
                F.col("span_start").cast("long").alias("span_start"),
                F.col("span_end").cast("long").alias("span_end"),
                F.col("n_grams").cast("long").alias("n_grams"),
            )
        )

    return cached_parquet(df.sparkSession, key, build)


def segment_dedup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    seg_tokens: int = 12,
) -> DataFrame:
    """Segment-level exact dedup: cut every document into
    non-overlapping ``seg_tokens``-word segments, keep only the FIRST
    corpus-wide occurrence of each distinct segment (ordered by
    (doc, position)), and reassemble the surviving segments into a
    cleaned text. This is the line/paragraph dedup stage of C4 and
    CCNet (Raffel et al. JMLR'20 §2.2 "three-sentence span" dedup,
    Wenzek et al. LREC'20 per-paragraph hash dedup — public papers)
    generalized to token windows, since not every corpus carries
    newline structure; a real deployment passes its own segmenter
    upstream and this operator dedups whatever segments arrive.

    Scale shape: segments are a map-side posexplode hashed to a
    128-bit xxhash64 key — the payload string never leaves its map
    task. The first-occurrence winners come from ONE map-side-combined
    ``min(struct(doc, pos))`` aggregate (partial aggregation reduces a
    hot boilerplate segment — the Zipfian hazard at 100 TB — to one
    candidate row per map task before the shuffle; never a
    ``Window.partitionBy(segment)``). The key insight that removes the
    whole keep-test join the first version had: the winner rows ARE
    the kept occurrences, so the kept position lists come from a
    second narrow aggregate keyed by doc (ints only), and the cleaned
    text is rebuilt from the ORIGINAL token arrays in one unique-key
    equi-join back onto the corpus — the text payload crosses exactly
    one shuffle and no measured-cap/broadcast machinery is needed at
    all. (A 500k-doc soak caught the join version super-linear:
    8.4 M seg strings through an SMJ; this shape re-measured linear.)
    """
    if seg_tokens < 1:
        raise ValueError("seg_tokens must be >= 1")
    k = seg_tokens
    toks = F.regexp_extract_all(F.col(text_col), F.lit(r"\S+"), F.lit(0))
    base = _widen(
        df.select(F.col(id_col).alias("doc"), toks.alias("toks"))
    )
    n_segs = F.ceil(F.size("toks") / F.lit(k)).cast("int")
    segs = F.transform(
        F.sequence(F.lit(0), n_segs - 1),
        lambda j: F.concat_ws(" ", F.slice("toks", j * k + 1, k)),
    )
    hashed = (
        base.filter(F.size("toks") > 0)
        .select("doc", F.posexplode(segs).alias("pos", "seg"))
        .select(
            "doc",
            F.col("pos").cast("long").alias("pos"),
            F.xxhash64("seg").alias("h1"),
            F.xxhash64("seg", F.lit(1)).alias("h2"),
        )
    )
    kept = (
        hashed.groupBy("h1", "h2")
        .agg(F.min(F.struct("doc", "pos")).alias("first"))
        .groupBy(F.col("first.doc").alias("doc"))
        .agg(
            F.sort_array(F.collect_list(F.col("first.pos"))).alias(
                "kept_pos"
            ),
            F.count(F.lit(1)).alias("n_kept"),
        )
    )
    # left join: a doc whose every segment first occurred elsewhere
    # keeps nothing (null kept list → empty text); zero-token docs
    # have no segments and pass through the same branch
    joined = base.join(kept, ["doc"], "left")
    clean = F.concat_ws(
        " ",
        F.transform(
            F.coalesce("kept_pos", F.expr("array()").cast("array<long>")),
            lambda j: F.concat_ws(
                " ", F.slice("toks", (j * k + 1).cast("int"), k)
            ),
        ),
    )
    return joined.select(
        F.col("doc").alias(id_col),
        clean.alias("clean_text"),
        F.when(F.size("toks") > 0, F.ceil(F.size("toks") / F.lit(k)))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("n_segments"),
        F.coalesce("n_kept", F.lit(0)).cast("long").alias("n_kept"),
    )


def cut_repeated_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_len: int = 40,
    min_count: int = 2,
    cache_key: str | None = None,
) -> DataFrame:
    """The REMOVAL half of ExactSubstr dedup (Lee et al. ACL'22 cut
    the repeated spans out of the training text rather than dropping
    documents): stitch each document back together from the gaps
    between its :func:`repeated_substring_spans` intervals. Output is
    the cleaned NORMALIZED text (the spans are char offsets into the
    whitespace-collapsed lowercased form — same contract as the spans
    operator) plus per-doc removal stats; documents with no repeated
    spans pass through with their normalized text intact.

    Scale shape: the spans pipeline is the skew-immune aggregate plan;
    the stitch itself is one aggregate keyed by doc (spans per doc are
    BOUNDED by len/min_len — maximal islands can't overlap) followed
    by a map-side ``F.aggregate`` fold over the sorted span list. No
    window over any unbounded key, no Python."""
    L = min_len
    norm = F.lower(F.trim(F.regexp_replace(F.col(text_col), r"\s+", " ")))
    base = df.select(F.col(id_col).alias("doc"), norm.alias("t"))
    spans = repeated_substring_spans(
        df, id_col, text_col, L, min_count, cache_key=cache_key
    )
    sp = spans.groupBy(F.col(id_col).alias("doc")).agg(
        F.array_sort(
            F.collect_list(F.struct("span_start", "span_end"))
        ).alias("sp"),
        F.count(F.lit(1)).alias("n_spans"),
        F.sum(F.col("span_end") - F.col("span_start")).alias("cut_chars"),
    )
    joined = base.join(sp, ["doc"], "left")
    # fold: acc = (next position to copy from, text built so far);
    # each span appends the gap before it and jumps past the span
    stitched = F.aggregate(
        F.coalesce(
            "sp",
            F.expr(
                "array()"
            ).cast("array<struct<span_start:bigint,span_end:bigint>>"),
        ),
        F.struct(
            F.lit(1).cast("long").alias("pos"), F.lit("").alias("txt")
        ),
        lambda acc, s: F.struct(
            s["span_end"].alias("pos"),
            F.concat(
                acc["txt"],
                F.expr("t").substr(
                    acc["pos"], (s["span_start"] - acc["pos"]).cast("int")
                ),
            ).alias("txt"),
        ),
        lambda acc: F.concat(
            acc["txt"], F.substring(F.col("t"), acc["pos"], 2**30)
        ),
    )
    return joined.select(
        F.col("doc").alias(id_col),
        stitched.alias("clean_text"),
        F.coalesce("n_spans", F.lit(0)).cast("long").alias("n_spans"),
        F.coalesce("cut_chars", F.lit(0)).cast("long").alias(
            "n_chars_removed"
        ),
    )


def cluster_impact(
    components: DataFrame,
    docs: DataFrame,
    id_col: str = "doc_id",
    weight_col: str = "n_chars",
) -> DataFrame:
    """Dedup impact report over a (doc, component) clustering: the
    cluster-size histogram with the document and weight volume a
    keep-one-survivor pass would remove — the planning artifact that
    answers "what does near-dup dedup buy on this corpus" BEFORE
    paying for the removal pass.

    Survivor convention: the component label itself (the smallest doc
    id in the cluster — first-occurrence-wins, the same convention as
    segment dedup), so ``removable = total_weight − survivor's
    weight`` is fully determined by the clustering. Documents in no
    pair never enter the components frame and contribute zero removal
    by definition.

    Returns one row per cluster size: (cluster_size, n_clusters,
    docs_removable, weight_removable), ordered by cluster_size.
    Integer-only output — no float determinism surface at all.

    Scale shape: one unique-key equi-join (components ⋈ docs
    projection — both sides doc-keyed; AQE broadcasts the smaller),
    then TWO map-side-combined aggregates whose cardinality only
    shrinks: per-component (≤ docs rows in, one row per cluster out)
    then per-size (≤ distinct sizes rows — dozens). Nothing here can
    dominate the pair generation upstream.
    """
    sized = components.join(
        docs.select(
            F.col(id_col).alias("doc"), F.col(weight_col).alias("w")
        ),
        ["doc"],
    )
    per_comp = sized.groupBy("component").agg(
        F.count(F.lit(1)).alias("sz"),
        F.sum("w").alias("total_w"),
        F.sum(
            F.when(F.col("doc") == F.col("component"), F.col("w")).otherwise(
                F.lit(0)
            )
        ).alias("kept_w"),
    )
    return (
        per_comp.groupBy("sz")
        .agg(
            F.count(F.lit(1)).alias("n_clusters"),
            F.sum(F.col("sz") - F.lit(1)).alias("docs_removable"),
            F.sum(F.col("total_w") - F.col("kept_w")).alias(
                "weight_removable"
            ),
        )
        .select(
            F.col("sz").cast("long").alias("cluster_size"),
            "n_clusters",
            F.col("docs_removable").cast("long").alias("docs_removable"),
            F.col("weight_removable")
            .cast("long")
            .alias("weight_removable"),
        )
        .orderBy("cluster_size")
    )
