"""Driver-facing deduplication queries over ``documents`` and
``embeddings``.

Oracle coverage: every query here is hash-oracled. The sketch-based
ops (MinHash-LSH, SimHash, hyperplane-LSH) are deterministic by
construction — affine permutations mod a Mersenne prime, md5-derived
token hashes, integer-hash hyperplanes — so the DuckDB oracle
recomputes the *same signatures bit-for-bit* and replays banding /
chunk-blocking / bucket-join semantics in SQL (band buckets compare
the signature tuples directly where Spark equi-joins on their
xxhash64, equivalent up to 64-bit hash collisions). Their *recall*
against exact Jaccard/cosine is separately pinned in
tests/test_dedup.py / tests/test_text_similarity.py.
"""

from __future__ import annotations

from raft_c_spark.functions.diskcache import data_cache_key
from raft_c_spark.operators import dedup
from raft_c_spark.sources.testdata import load_table

JACCARD_THRESHOLD = 0.8
COSINE_THRESHOLD = 0.30  # driver embeddings are random; ~top-of-distribution


def q_dedup_exact_groups(spark, sf_dir):
    """Exact-content groups (normalized text): survivor id + group
    size. One hash aggregate — the linear-scale dedup primitive."""
    docs = load_table(spark, sf_dir, "documents")
    from pyspark.sql import functions as F

    norm = F.lower(F.trim(F.regexp_replace(F.col("text"), r"\s+", " ")))
    return (
        docs.select(F.col("doc_id"), F.md5(norm.cast("binary")).alias("content_key"))
        .groupBy("content_key")
        .agg(
            F.count(F.lit(1)).alias("dup_count"),
            F.min("doc_id").alias("keep_id"),
        )
    )


def q_dedup_ngram_jaccard(spark, sf_dir):
    """Exact 3-gram Jaccard near-dup pairs at ≥ 0.8 — the quadratic
    baseline/verifier (the scale path is the LSH variant below)."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.ngram_jaccard_pairs(
        docs, "doc_id", "text", n=3, threshold=JACCARD_THRESHOLD,
        cache_key=data_cache_key(sf_dir, "documents"),
    )


def q_dedup_minhash_lsh(spark, sf_dir):
    """MinHash(64)+LSH(8 bands of 8 rows) near-dup candidates at estimated
    jaccard ≥ 0.8 — the 100 TB path (bucket-join, not all-pairs).
    Hash-oracled: the DuckDB oracle rebuilds the same signatures from
    the shared affine-permutation constants; recall vs exact Jaccard
    additionally tested in tests/test_dedup.py."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.minhash_lsh_pairs(
        docs, "doc_id", "text", n=3, num_perm=64, bands=8,
        threshold=JACCARD_THRESHOLD,
        cache_key=data_cache_key(sf_dir, "documents"),
    )


def q_dedup_simhash(spark, sf_dir):
    """SimHash-60 near-dup pairs at hamming ≤ 6 with 15-bit-chunk
    blocking. Hash-oracled: md5-derived token hashes are identical in
    DuckDB."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.simhash_pairs(
        docs, "doc_id", "text", max_hamming=6,
        cache_key=data_cache_key(sf_dir, "documents"),
    )


def q_dedup_embedding(spark, sf_dir):
    """Embedding-cosine near-dup pairs ≥ 0.30 (driver embeddings are
    random vectors — no planted dups, so the threshold sits at the top
    of the cosine distribution). Cosine is a sequential double fold —
    mirrored exactly by the oracle's list comprehension."""
    emb = load_table(spark, sf_dir, "embeddings")
    return dedup.embedding_neardup_pairs(
        emb, "vec_id", "embedding", threshold=COSINE_THRESHOLD
    )


def q_dedup_embedding_lsh(spark, sf_dir):
    """Hyperplane-LSH embedding pair-dedup — the 100 TB path (bucket
    equi-join candidates + exact-cosine verify; never all-pairs).
    Driver embeddings are uniform-random (near-orthogonal, max pair
    cosine ≈ 0.60, no planted near-dups) — a hostile regime for LSH —
    so the query runs at 0.40 (920 true pairs at sf0.1) with short
    signatures: per-pair recall ≈ 1-(1-0.63⁴)¹² ≈ 0.87. The
    operator's real win region (threshold ≥ 0.9, bits=10, recall
    ≈ 0.97 with far fewer candidates) is recall-pinned against exact
    all-pairs on planted duplicates in tests/test_text_similarity.py.
    Hash-oracled: the hyperplanes are integer-hash-derived (no RNG),
    so the DuckDB oracle regenerates them exactly in HUGEINT
    arithmetic and replays the bucket join + cosine verify."""
    from raft_c_spark.operators import similarity

    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.lsh_bucketed_pairs(
        emb, "vec_id", "embedding", threshold=0.40, bits=4, tables=12,
    )


def q_dedup_components(spark, sf_dir):
    """Near-dup clusters: connected components over the MinHash-LSH
    document pair graph — the step after pair generation in every
    dedup pipeline (cluster → keep one survivor per component).

    The pair input is the scale path (banded bucket equi-join +
    signature verify, same operator/params/cache as
    ``dedup_minhash_lsh``, measured 1.4× per 10× data in the 10×
    scaling soak), NOT the exact embedding all-pairs baseline: the soak
    measured that input at 15.2× per 10× — quadratic pair generation
    dominates long before clustering does. The clustering itself is
    linear in edges (min-label propagation, joins + aggregates only).
    The exact-pair composition stays as a pytest ground-truth
    cross-check (tests/test_sampling.py), and the shared pair-frame
    cache means this query, ``dedup_minhash_lsh`` and
    ``dedup_best_survivor`` run the banded join once per corpus.

    Deterministic end to end (affine-permutation signatures, min-label
    fixpoint), so the oracle replays pair generation in SQL and
    recomputes clustering as recursive-CTE reachability."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.minhash_lsh_pairs(
        docs, "doc_id", "text", n=3, num_perm=64, bands=8,
        threshold=JACCARD_THRESHOLD,
        cache_key=data_cache_key(sf_dir, "documents"),
    )
    return dedup.connected_components(pairs)


QUERIES = {
    "dedup_exact_groups": q_dedup_exact_groups,
    "dedup_ngram_jaccard": q_dedup_ngram_jaccard,
    "dedup_minhash_lsh": q_dedup_minhash_lsh,
    "dedup_simhash": q_dedup_simhash,
    "dedup_embedding": q_dedup_embedding,
    "dedup_embedding_lsh": q_dedup_embedding_lsh,
    "dedup_components": q_dedup_components,
}

_NORM = r"lower(trim(regexp_replace(text, '\s+', ' ', 'g')))"

_SHINGLES = f"""
    SELECT DISTINCT doc_id AS doc, s AS shingle FROM (
        SELECT doc_id,
               unnest([substring(t, i, 3)
                       FOR i IN range(1, greatest(length(t) - 1, 1))]) AS s
        FROM (SELECT doc_id, {_NORM} AS t FROM documents)
    )
"""

_DOT = (
    "list_sum([CAST(va.embedding[i] AS DOUBLE) * CAST(vb.embedding[i] AS DOUBLE)"
    " FOR i IN range(1, len(va.embedding) + 1)])"
)
_NORM_A = (
    "sqrt(list_sum([CAST(va.embedding[i] AS DOUBLE) * CAST(va.embedding[i] AS DOUBLE)"
    " FOR i IN range(1, len(va.embedding) + 1)]))"
)
_NORM_B = (
    "sqrt(list_sum([CAST(vb.embedding[i] AS DOUBLE) * CAST(vb.embedding[i] AS DOUBLE)"
    " FOR i IN range(1, len(vb.embedding) + 1)]))"
)

ORACLES = {
    "dedup_exact_groups": f"""
        SELECT md5({_NORM}) AS content_key,
               COUNT(*) AS dup_count,
               MIN(doc_id) AS keep_id
        FROM documents
        GROUP BY content_key
    """,
    "dedup_ngram_jaccard": f"""
        WITH sh AS ({_SHINGLES}),
        sizes AS (SELECT doc, COUNT(*) AS sz FROM sh GROUP BY doc),
        common AS (
            SELECT x.doc AS a, y.doc AS b, COUNT(*) AS c
            FROM sh x JOIN sh y ON x.shingle = y.shingle AND x.doc < y.doc
            GROUP BY x.doc, y.doc
        )
        SELECT a, b,
               CAST(c AS DOUBLE) / (sa.sz + sb.sz - c) AS jaccard
        FROM common
        JOIN sizes sa ON sa.doc = a
        JOIN sizes sb ON sb.doc = b
        WHERE CAST(c AS DOUBLE) / (sa.sz + sb.sz - c) >= {JACCARD_THRESHOLD}
    """,
    "dedup_embedding": f"""
        SELECT va.vec_id AS a, vb.vec_id AS b,
               {_DOT} / ({_NORM_A} * {_NORM_B}) AS cosine
        FROM embeddings va, embeddings vb
        WHERE va.vec_id < vb.vec_id
          AND {_DOT} / ({_NORM_A} * {_NORM_B}) >= {COSINE_THRESHOLD}
    """,
}


def _components_oracle(pairs_sql: str) -> str:
    """Recursive-CTE reachability over a replayed pair SQL:
    min-over-reachable equals the min-label-propagation fixpoint the
    Spark operator computes. ``pairs_sql`` must yield (a, b, ...)."""
    return f"""
        WITH RECURSIVE pairs AS (
            SELECT a, b FROM ({pairs_sql})
        ),
        edges AS (
            SELECT a AS src, b AS dst FROM pairs
            UNION
            SELECT b AS src, a AS dst FROM pairs
        ),
        reach AS (
            SELECT src, dst FROM edges
            UNION
            SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
        )
        SELECT src AS doc, LEAST(src, MIN(dst)) AS component
        FROM reach GROUP BY src
    """


def _minhash_oracle(cand_pred: str = "x.doc < y.doc") -> str:
    """DuckDB replication of minhash_lsh_pairs: same normalization as
    _NORM, the same 3-codepoint perfect-hash shingle codes, the same
    (aᵢ, bᵢ) affine permutations (baked as literals from
    dedup.minhash_perms — single source of truth), banding by direct
    8-tuple comparison (Spark equi-joins on xxhash64 of the tuple —
    identical up to 64-bit hash collisions), then the same
    equal-components/64 estimate. Validated bit-exact against the
    Spark kernel at sf0.001/sf0.01 (tests/test_entry_contract.py).
    ``cand_pred`` restricts the candidate join (the default is the
    self-join's a<b ordering; the incremental variant passes a
    cross-corpus split predicate instead)."""
    num_perm, bands = 64, 8
    rows = num_perm // bands
    pa, pb = dedup.minhash_perms(num_perm)
    perm_values = ", ".join(
        f"({i}, {pa[i]}, {pb[i]})" for i in range(num_perm)
    )
    p = (1 << 31) - 1
    m = 0x110000
    return f"""
WITH perms(i, a, b) AS (VALUES {perm_values}),
docs_norm AS (
  SELECT doc_id AS doc, {_NORM} AS t FROM documents
),
codes AS (
  SELECT DISTINCT doc, c AS code FROM (
    SELECT doc, unnest([
        unicode(t[i:i])::BIGINT * {m * m}
      + unicode(t[i + 1:i + 1])::BIGINT * {m}
      + unicode(t[i + 2:i + 2])::BIGINT
      FOR i IN range(1, greatest(length(t) - 1, 1))]) AS c
    FROM docs_norm)
),
sigs AS (
  SELECT d.doc, p.i,
         COALESCE(MIN((((c.code % {p}) * p.a) % {p} + p.b) % {p}), {p}) AS v
  FROM docs_norm d CROSS JOIN perms p
  LEFT JOIN codes c ON c.doc = d.doc
  GROUP BY d.doc, p.i
),
bands AS (
  SELECT doc, i // {rows} AS band, list(v ORDER BY i) AS key
  FROM sigs GROUP BY doc, i // {rows}
),
cand AS (
  SELECT DISTINCT x.doc AS a, y.doc AS b
  FROM bands x JOIN bands y
    ON x.band = y.band AND x.key = y.key AND {cand_pred}
)
SELECT c.a, c.b,
       SUM(CASE WHEN sa.v = sb.v THEN 1 ELSE 0 END) / {num_perm}.0 AS est_jaccard
FROM cand c
JOIN sigs sa ON sa.doc = c.a
JOIN sigs sb ON sb.doc = c.b AND sb.i = sa.i
GROUP BY c.a, c.b
HAVING est_jaccard >= {JACCARD_THRESHOLD}
"""


def _simhash_oracle() -> str:
    """DuckDB replication of simhash_pairs: same tokenizer regex, the
    same 60-bit md5-derived token hash (15 hex digits — md5 is
    engine-portable), tf×capped-idf WEIGHTED per-bit majority vote
    (integer weight least(length(bin(N // df)), cap) — exact in both
    engines, no libm), 15-bit chunk blocking, hamming via
    bit_count(xor)."""
    nbits = dedup.SIMHASH_BITS
    chunk_bits = nbits // 4
    cap = dedup.SIMHASH_WEIGHT_CAP
    return f"""
WITH toks AS (
  SELECT doc_id AS doc,
         unnest(regexp_extract_all(lower(text), '[a-z0-9]+|[^a-z0-9\\s]')) AS tok
  FROM documents
),
tf AS (
  SELECT doc, tok, COUNT(*) AS tf FROM toks GROUP BY doc, tok
),
dfreq AS (
  SELECT tok, COUNT(*) AS df_t FROM tf GROUP BY tok
),
ndocs AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM documents),
th AS (
  SELECT t.doc, CAST('0x' || substr(md5(t.tok), 1, 15) AS BIGINT) AS h,
         t.tf * LEAST(CAST(length(bin(nd.n_docs // d.df_t)) AS BIGINT), {cap}) AS v
  FROM tf t JOIN dfreq d USING (tok) CROSS JOIN ndocs nd
),
bitsums AS (
  SELECT doc, bi.i, SUM(CASE WHEN (h >> bi.i) & 1 = 1 THEN v ELSE -v END) AS s
  FROM th CROSS JOIN (SELECT unnest(range(0, {nbits})) AS i) bi
  GROUP BY doc, bi.i
),
sims AS (
  SELECT doc, SUM(CASE WHEN s > 0 THEN (1::BIGINT << i) ELSE 0 END)::BIGINT AS simhash
  FROM bitsums GROUP BY doc
),
chunks AS (
  SELECT doc, simhash, ci.c,
         (simhash >> ({chunk_bits} * ci.c)) & {(1 << chunk_bits) - 1} AS key
  FROM sims CROSS JOIN (SELECT unnest(range(0, 4)) AS c) ci
),
cand AS (
  SELECT DISTINCT x.doc AS a, y.doc AS b, x.simhash AS ha, y.simhash AS hb
  FROM chunks x JOIN chunks y ON x.c = y.c AND x.key = y.key AND x.doc < y.doc
)
SELECT a, b, CAST(bit_count(xor(ha, hb)) AS INTEGER) AS hamming
FROM cand WHERE bit_count(xor(ha, hb)) <= 6
"""


def _embedding_lsh_oracle() -> str:
    """DuckDB replication of similarity.lsh_bucketed_pairs(threshold=
    0.40, bits=4, tables=12): hyperplane weights regenerated from the
    same md5 string key (plane_weight_sql — bit-identical to
    _hyperplane), sign-of-dot signatures, bucket join,
    sequential-fold cosine verify ≥ threshold (the Spark verify kernel
    accumulates dimension-by-dimension in the same order)."""
    from raft_c_spark.operators.similarity import plane_weight_sql

    bits, tables, dim = 4, 12, 64
    return f"""
WITH pl AS (
  SELECT t.t, b.b, j.j,
         {plane_weight_sql('t.t', 'b.b', 'j.j')} AS w
  FROM (SELECT unnest(range(0, {tables})) AS t) t
  CROSS JOIN (SELECT unnest(range(0, {bits})) AS b) b
  CROSS JOIN (SELECT unnest(range(0, {dim})) AS j) j
),
planes AS (
  SELECT t, b, list(w ORDER BY j) AS pw FROM pl GROUP BY t, b
),
sigs AS (
  SELECT e.vec_id AS doc, p.t,
         SUM(CASE WHEN list_sum([CAST(e.embedding[i] AS DOUBLE) * p.pw[i]
                                 FOR i IN range(1, {dim} + 1)]) > 0
                  THEN (1::BIGINT << p.b) ELSE 0 END) AS sig
  FROM embeddings e CROSS JOIN planes p
  GROUP BY e.vec_id, p.t
),
cand AS (
  SELECT DISTINCT x.doc AS a, y.doc AS b
  FROM sigs x JOIN sigs y ON x.t = y.t AND x.sig = y.sig AND x.doc < y.doc
),
v AS (
  SELECT vec_id, embedding,
         sqrt(list_sum([CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)
                        FOR i IN range(1, len(embedding) + 1)])) AS nrm
  FROM embeddings
),
scored AS (
  SELECT c.a, c.b,
         list_sum([CAST(va.embedding[i] AS DOUBLE) * CAST(vb.embedding[i] AS DOUBLE)
                   FOR i IN range(1, len(va.embedding) + 1)]) / (va.nrm * vb.nrm)
         AS cosine
  FROM cand c JOIN v va ON va.vec_id = c.a JOIN v vb ON vb.vec_id = c.b
)
SELECT a, b, cosine FROM scored WHERE cosine >= 0.40
"""


ORACLES["dedup_minhash_lsh"] = _minhash_oracle()
ORACLES["dedup_simhash"] = _simhash_oracle()
ORACLES["dedup_embedding_lsh"] = _embedding_lsh_oracle()
# components over the MinHash-LSH pair graph: the clustering oracle
# wraps the same replayed pair SQL the dedup_minhash_lsh oracle
# validates
ORACLES["dedup_components"] = _components_oracle(_minhash_oracle())


SEG_TOKENS = 3  # the synthetic corpus has no newline/paragraph
# structure and a small vocabulary, so 3-word segments give a real
# duplication rate (~19% at sf0.01) — a production corpus would pass
# paragraph-sized segments


def q_dedup_segments(spark, sf_dir):
    """Segment-level exact dedup (C4 three-sentence-span / CCNet
    paragraph-hash dedup, generalized to token windows): keep the
    first corpus-wide occurrence of every distinct 3-word segment and
    reassemble each document's surviving text. See
    operators.dedup.segment_dedup for the skew-immune aggregate +
    measured-cap broadcast shape."""
    from raft_c_spark.operators.dedup import segment_dedup

    docs = load_table(spark, sf_dir, "documents")
    return segment_dedup(docs, "doc_id", "text", seg_tokens=SEG_TOKENS)


QUERIES["dedup_segments"] = q_dedup_segments

ORACLES["dedup_segments"] = rf"""
    WITH t AS (
        SELECT doc_id, regexp_extract_all(text, '\S+') AS toks
        FROM documents
    ),
    seg AS (
        SELECT doc_id, j AS pos,
               array_to_string(
                   list_slice(toks, j * {SEG_TOKENS} + 1,
                              j * {SEG_TOKENS} + {SEG_TOKENS}), ' ') AS seg
        FROM t, unnest(generate_series(
                 0, CAST(ceil(len(toks) / {SEG_TOKENS}.0) AS INT) - 1)
             ) AS u(j)
        WHERE len(toks) > 0
    ),
    keep AS (
        SELECT doc_id, pos, seg,
               row_number() OVER (
                   PARTITION BY seg ORDER BY doc_id, pos) AS rn
        FROM seg
    ),
    agg AS (
        SELECT doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_segments,
               CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_kept,
               coalesce(string_agg(CASE WHEN rn = 1 THEN seg END, ' '
                                   ORDER BY pos), '') AS clean_text
        FROM keep GROUP BY doc_id
    )
    SELECT t.doc_id,
           coalesce(a.clean_text, '') AS clean_text,
           coalesce(a.n_segments, 0) AS n_segments,
           coalesce(a.n_kept, 0) AS n_kept
    FROM t LEFT JOIN agg a USING (doc_id)
"""


def q_dedup_impact_report(spark, sf_dir):
    """Dedup planning report: cluster-size histogram of the MinHash
    near-dup components with the doc/char volume a keep-the-smallest-
    id survivor pass would remove — integer-only output, shares the
    banded pair-frame cache with dedup_minhash_lsh/components/
    best_survivor (one pair generation per corpus). See
    dedup.cluster_impact for the two-shrinking-aggregates scale
    shape."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.minhash_lsh_pairs(
        docs, "doc_id", "text", n=3, num_perm=64, bands=8,
        threshold=JACCARD_THRESHOLD,
        cache_key=data_cache_key(sf_dir, "documents"),
    )
    comps = dedup.connected_components(pairs)
    return dedup.cluster_impact(comps, docs)


QUERIES["dedup_impact_report"] = q_dedup_impact_report

ORACLES["dedup_impact_report"] = f"""
    WITH comp AS ({_components_oracle(_minhash_oracle())}),
    sized AS (
        SELECT c.doc, c.component, d.n_chars AS w
        FROM comp c JOIN documents d ON c.doc = d.doc_id
    ),
    per_comp AS (
        SELECT component,
               COUNT(*) AS sz,
               SUM(w) AS total_w,
               SUM(CASE WHEN doc = component THEN w ELSE 0 END) AS kept_w
        FROM sized GROUP BY component
    )
    SELECT CAST(sz AS BIGINT) AS cluster_size,
           CAST(COUNT(*) AS BIGINT) AS n_clusters,
           CAST(SUM(sz - 1) AS BIGINT) AS docs_removable,
           CAST(SUM(total_w - kept_w) AS BIGINT) AS weight_removable
    FROM per_comp GROUP BY sz
    ORDER BY cluster_size
"""
