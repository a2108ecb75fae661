"""Similarity search over embedding columns (array<float>).

- ``cosine_topk``: brute-force exact top-k — the baseline and the
  verifier. One scan, no shuffle for a single query (the query vector
  is a literal folded into codegen); per-batch queries broadcast the
  query set.
- ``lsh_bucketed_topk``: random-hyperplane LSH — the 100 TB path:
  candidates come from an equi-join on bucket signature, so cost
  scales with bucket density, not corpus size. Probing multiple
  signatures (multi-probe) trades recall for speed.

All dot products are built-in higher-order functions (zip_with +
aggregate over doubles, sequential fold — deterministic), no UDFs.
"""

from __future__ import annotations

import math
import os

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from raft_c_spark.functions.metabound import _widen
from raft_c_spark.sources.parquet import fingerprint, read_parquet


#: session-lifetime memo of embedding dimensionality per source-file
#: set: (sorted input files + their fingerprints, vec_col,
#: exprId-normalized analyzed-plan fingerprint) → dim. vec_dim is a
#: schema-class property (every well-formed corpus has one dim —
#: with_norm's guard rejects ragged columns), but Spark cannot answer
#: it from the parquet schema (array<float> carries no length), so
#: each caller paid a first() probe JOB per invocation — five
#: sim/dedup queries × 0.2-0.8 s of pure job overhead at bench scale
#: (driver actions in the query path). Two
#: hardenings: (1) memoization is SKIPPED unless every input file has
#: a fingerprint — a URI form that is not local (s3://, hdfs://)
#: would otherwise stat as a constant (-1,-1) and a path
#: overwritten mid-session could keep returning a stale dim; (2) the
#: key carries a plan fingerprint (analyzed plan with `#<exprId>`
#: tokens stripped — exprIds differ across invocations of the same
#: query), so a frame DERIVING a same-named vector column of a
#: different length over the same files (slice/pad/transform) can
#: never hit another derivation's entry.
_DIM_MEMO: dict[tuple, int] = {}

_EXPR_ID_RE = None  # compiled lazily; module avoids import-time re cost


def _plan_fingerprint(df: DataFrame) -> str | None:
    global _EXPR_ID_RE
    if _EXPR_ID_RE is None:
        import re

        _EXPR_ID_RE = re.compile(r"#\d+")
    try:
        plan = df._jdf.queryExecution().analyzed().toString()
    except Exception:
        return None
    return _EXPR_ID_RE.sub("", plan)


def vec_dim(df: DataFrame, vec_col: str) -> int:
    key = None
    try:
        files = df.inputFiles()
    except Exception:
        files = []
    if files:
        stats = []
        for f in sorted(files):
            stamp = fingerprint(f)
            if stamp is None:
                # unresolvable stat → no invalidation signal → never
                # memoize; probe as before
                stats = None
                break
            stats.append((f, stamp))
        fp = _plan_fingerprint(df)
        if stats is not None and fp is not None:
            key = (tuple(stats), vec_col, fp)
            hit = _DIM_MEMO.get(key)
            if hit is not None:
                return hit
    d = df.select(F.size(vec_col)).first()[0]
    if key is not None:
        _DIM_MEMO[key] = d
    return d


def dot_fold(va, vb) -> Column:
    """Σ va[i]·vb[i] as a sequential zip_with/aggregate fold — the
    same left-associative float addition order as the SQL oracle's
    list_sum, but with a constant-size expression tree: a
    2·dim-element_at unrolled chain takes seconds of janino compile
    time and can drop the stage out of whole-stage codegen entirely
    (measured ~8x slower end-to-end at dim=64 — which is why the
    unrolled builder this module once carried was deleted rather than
    kept as an attractive nuisance)."""
    return F.aggregate(
        F.zip_with(va, vb, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _vec_norm_exprs(
    vec_col: str, id_col: str, dim: int | None
) -> tuple[Column, Column]:
    """The (vec, norm) column expressions of :func:`with_norm` —
    float→double cast transform, optional length guard, and the
    sequential-fold norm — factored out so rerank paths can apply the
    IDENTICAL arithmetic to a raw vector column fetched by a
    candidate join (norm computed on matches only, not the whole
    corpus; per-row values are bit-identical: same cast, same guard,
    same fold order). Guard scope on those rerank paths is therefore
    NARROWER than with_norm over the full corpus: only rows fetched
    as candidates are length-validated (see the note in
    knn_join_lsh)."""
    vec = F.expr(f"transform({vec_col}, x -> cast(x as double))")
    if dim is not None:
        # the guard is folded INTO the vec expression (a dropped
        # side-column gets pruned by Catalyst and the raise never
        # fires): every consumer of vec/norm forces the check
        msg = F.concat(
            F.lit(f"vector length != dim={dim} for "),
            F.col(id_col).cast("string"),
        )
        vec = F.when(F.size(vec) == F.lit(dim), vec).otherwise(
            F.array(F.raise_error(msg).cast("double"))
        )
    return vec, F.sqrt(dot_fold(vec, vec))


def with_norm(
    df: DataFrame, id_col: str, vec_col: str, dim: int | None = None
) -> DataFrame:
    """Project to (doc, vec: array<double>, norm). Casting float→double
    once up front keeps later arithmetic deterministic. When ``dim``
    is given, every vector's length is validated against it (fail
    fast with the offending doc id — the parameter was once
    accepted by every caller and silently ignored, so a
    ragged embedding column surfaced as a wrong dot product or a deep
    numpy shape error instead of this message)."""
    vec, norm = _vec_norm_exprs(vec_col, id_col, dim)
    return df.select(
        F.col(id_col).alias("doc"), vec.alias("vec"), norm.alias("norm")
    )


def quantize_int8(
    df: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Per-vector int8 scalar quantization — the compression pass an
    embedding store runs before ANN indexing (4× smaller than float32,
    SIMD-friendly dot products downstream).

    q_i = round(x_i · 127/max|x|), per-vector scale; an all-zero
    vector quantizes to all zeros (scale 0). Deterministic across
    engines: float32→double promotion is exact, max/abs/divide/round
    are single IEEE ops, and round-half-away-from-zero matches between
    Spark (HALF_UP on doubles) and the DuckDB oracle (C round).

    Zero-shuffle scale shape: one per-row higher-order transform in a
    single codegen stage. The quantized vector itself is summarized to
    scalars (sum/min/max + an md5 over the comma-joined ints) so the
    result frame is compact; a production pipeline would instead write
    the int8 column straight back to parquet."""
    emb = F.col(vec_col)
    maxabs = F.array_max(F.transform(emb, lambda x: F.abs(x.cast("double"))))
    base = df.select(
        F.col(id_col).alias("vec_id"), emb.alias("_v"), maxabs.alias("_maxabs")
    )
    scale = F.when(F.col("_maxabs") > 0, F.lit(127.0) / F.col("_maxabs")).otherwise(
        F.lit(0.0)
    )
    withq = base.select(
        "vec_id",
        scale.alias("scale"),
        F.transform(
            F.col("_v"), lambda x: F.round(x.cast("double") * scale).cast("int")
        ).alias("_q"),
    )
    q = F.col("_q")
    return withq.select(
        "vec_id",
        F.size(q).alias("dim"),
        "scale",
        F.aggregate(
            q, F.lit(0).cast("long"), lambda acc, x: acc + x.cast("long")
        ).alias("q_sum"),
        F.array_min(q).alias("q_min"),
        F.array_max(q).alias("q_max"),
        F.md5(
            F.concat_ws(",", F.transform(q, lambda v: v.cast("string"))).cast(
                "binary"
            )
        ).alias("q_fp"),
    )


# Cap on the corpus vector matrix (rows·dim·8 B) below which pair
# verification ships the matrix as a Spark broadcast variable and runs
# a vectorized numpy kernel — the manual analog of a broadcast hash
# join. Above it the verify falls back to equi-joins that shuffle on
# doc id (the corpus-scale shape). 400 MB: a 500k-doc soak
# measured the old 100 MB cap turning a 3.3× data step into a
# 15× cost step the moment the matrix crossed it (102 MB at 200k
# 64-dim vectors) — a torrent broadcast of a few hundred MB is cheap
# next to shuffling every candidate pair with two vectors attached.
_VERIFY_BROADCAST_BYTES = 400 << 20


def _corpus_pack(df: DataFrame, id_col: str, vec_col: str):
    """Driver-side (ids, matrix, norms) pack of the corpus, sorted by
    id for searchsorted lookup. Norms use the same per-dimension
    sequential accumulation as the SQL fold — bit-identical doubles."""
    import numpy as np

    pdf = df.select(F.col(id_col).alias("i"), F.col(vec_col).alias("v")).toPandas()
    ids = pdf["i"].to_numpy(dtype=np.int64)
    m = np.array([np.asarray(v, dtype=np.float64) for v in pdf["v"]])
    order = np.argsort(ids)
    ids, m = ids[order], m[order]
    return ids, m, _seq_norms(m)


def _seq_norms(m: "np.ndarray") -> "np.ndarray":
    """sqrt(Σ v[i]²) accumulated dimension-by-dimension — the exact
    floating-point sum order of a sequential fold (DuckDB list_sum /
    F.aggregate), vectorized across rows."""
    import numpy as np

    acc = np.zeros(len(m))
    for i in range(m.shape[1]):
        acc += m[:, i] * m[:, i]
    return np.sqrt(acc)


def verify_pairs_cosine(
    cand: DataFrame,
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float,
    dim: int,
    n_rows: int,
) -> DataFrame:
    """Exact-cosine verification of candidate (a, b) pairs.

    Small corpora (matrix ≤ 100 MB, integral ids): the corpus rides
    along as a Spark broadcast variable and each partition verifies its
    pairs in one vectorized numpy pass — dots accumulated dimension-
    by-dimension so every double is bit-identical to the sequential
    fold the SQL oracle computes (np dot/einsum would reassociate).
    Measured ~4x faster than the equivalent join + per-row column
    expression (the 128-element_at tree drops out of whole-stage
    codegen).

    Large corpora: two equi-joins on doc id against the normed vector
    frame with a zip_with/aggregate fold — linear shuffles, no
    driver-side materialization."""
    import numpy as np
    import pandas as pd

    integral = df.schema[id_col].dataType.simpleString() in ("bigint", "int")
    if integral and n_rows * dim * 8 <= _VERIFY_BROADCAST_BYTES:
        bc = df.sparkSession.sparkContext.broadcast(
            _corpus_pack(df, id_col, vec_col)
        )

        def kernel(batches):
            ids, m, norms = bc.value
            for pdf in batches:
                if not len(pdf):
                    continue
                a = pdf["a"].to_numpy(dtype=np.int64)
                b = pdf["b"].to_numpy(dtype=np.int64)
                ia = np.searchsorted(ids, a)
                ib = np.searchsorted(ids, b)
                acc = np.zeros(len(a))
                for i in range(m.shape[1]):
                    acc += m[ia, i] * m[ib, i]
                cos = acc / (norms[ia] * norms[ib])
                keep = cos >= threshold
                yield pd.DataFrame(
                    {"a": a[keep], "b": b[keep], "cosine": cos[keep]}
                )

        return cand.mapInPandas(kernel, "a long, b long, cosine double")

    # corpus-scale path: two equi-joins gather the endpoint vectors
    # (linear shuffles keyed by doc id), then an Arrow-batched kernel
    # computes the cosine with the same dimension-at-a-time float64
    # accumulation as the broadcast kernel and the SQL fold. This
    # replaced a zip_with/aggregate column fold that ran interpreted
    # at ~15 µs/row — on a 500k-doc soak the fold made crossing
    # the broadcast cap a 15× cliff; the Arrow kernel shrinks the
    # above-cap step to the shuffle cost alone.
    v = with_norm(df, id_col, vec_col, dim)
    va = v.select(
        F.col("doc").alias("a"), F.col("vec").alias("va"), F.col("norm").alias("na")
    )
    vb = v.select(
        F.col("doc").alias("b"), F.col("vec").alias("vb"), F.col("norm").alias("nb")
    )
    joined = cand.join(va, "a").join(vb, "b")

    def kernel(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            ma = np.stack([np.asarray(x, dtype=np.float64) for x in pdf["va"]])
            mb = np.stack([np.asarray(x, dtype=np.float64) for x in pdf["vb"]])
            acc = np.zeros(len(ma))
            for i in range(ma.shape[1]):
                acc += ma[:, i] * mb[:, i]
            cos = acc / (
                pdf["na"].to_numpy(dtype=np.float64)
                * pdf["nb"].to_numpy(dtype=np.float64)
            )
            keep = cos >= threshold
            yield pd.DataFrame(
                {
                    "a": pdf["a"].to_numpy()[keep],
                    "b": pdf["b"].to_numpy()[keep],
                    "cosine": cos[keep],
                }
            )

    types = dict(cand.dtypes)
    return joined.select("a", "b", "va", "vb", "na", "nb").mapInPandas(
        kernel, f"a {types['a']}, b {types['b']}, cosine double"
    )


def cosine_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k by cosine against one query vector. The query is a
    plan-time literal array; ranking is a single orderBy-limit (Spark
    executes it as a per-partition top-k + merge — no full sort)."""
    qnorm = math.sqrt(sum(float(x) * float(x) for x in query_vec))
    dim = len(query_vec)
    v = with_norm(df, id_col, vec_col, dim)
    # the query rides along as a literal array; sequential fold keeps
    # the sum order of the oracle with a constant-size expression tree
    qlit = F.array(*[F.lit(float(x)) for x in query_vec])
    dot = dot_fold("vec", qlit)
    return (
        v.withColumn("cosine", dot / (F.col("norm") * F.lit(qnorm)))
        .select("doc", "cosine")
        .orderBy(F.desc("cosine"), F.asc("doc"))
        .limit(k)
    )


def cluster_assign(
    df: DataFrame,
    k: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Deterministic k-center cosine assignment — the semantic
    clustering pass of SemDeDup-style curation (Abbas et al. 2023):
    partition the embedding space around k exemplars so near-duplicate
    *meanings* can be pruned per cluster downstream.

    Centers are the k rows with the smallest md5(id) (a deterministic
    hash-reservoir draw — both engines recompute the identical set, so
    the assignment is hash-oracled end to end; a trained k-means
    centroid table drops in the same way via ivf_index's lloyd_kmeans
    when replayability across engines isn't required). Every vector
    goes to its max-cosine center, ties to the lowest center rank.

    Scale shape: centers are a k-row driver collect (the same gated
    scalar-probe class as the topk query vector); the corpus side is
    one scan with a per-row transform over a k-element literal array
    — argmax via array_max over (cosine, -rank) structs, zero shuffle,
    zero Python, fully inside codegen. At 100 TB this is scan-speed;
    k only widens the per-row expression."""
    keyed = with_norm(df, id_col, vec_col).withColumn(
        "_k", F.md5(F.col("doc").cast("string"))
    )
    seeds = keyed.orderBy("_k", "doc").limit(k).collect()
    seed_lit = F.array(
        *[
            F.struct(
                F.lit(i + 1).alias("rank"),
                F.lit(row["doc"]).alias("cluster"),
                F.lit(float(row["norm"])).alias("snorm"),
                F.array(*[F.lit(float(x)) for x in row["vec"]]).alias("sv"),
            )
            for i, row in enumerate(seeds)
        ]
    )
    sims = F.transform(
        seed_lit,
        lambda s: F.struct(
            (dot_fold("vec", s["sv"]) / (F.col("norm") * s["snorm"])).alias(
                "cosine"
            ),
            (-s["rank"]).alias("neg_rank"),
            s["cluster"].alias("cluster"),
        ),
    )
    best = F.array_max(sims)
    return keyed.select(
        F.col("doc").alias(id_col),
        best["cluster"].alias("cluster"),
        (-best["neg_rank"]).alias("cluster_rank"),
        best["cosine"].alias("cosine"),
    )


def semantic_dedup_pairs(
    df: DataFrame,
    k: int = 8,
    threshold: float = 0.3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): semantic near-dup pairs found by
    clustering first and comparing WITHIN clusters only — the
    embedding-dedup strategy whose candidate count is Σ_c (n_c choose
    2) instead of (n choose 2). Cluster assignment is the
    deterministic k-center draw of ``cluster_assign``, so the whole
    pipeline (assignment → same-cluster candidates → exact cosine
    verify) replays bit-for-bit in the SQL oracle; pairs that straddle
    a cluster boundary are missed BY DESIGN (the method's documented
    recall trade-off — the hyperplane-LSH path is the
    boundary-insensitive alternative).

    Scale shape: one map-only assignment pass, one self-equi-join on
    the cluster id (candidates shuffle by cluster; k is chosen ∝
    corpus/target-cluster-size at scale, keeping clusters bounded and
    the join skew-free), then the shared ``verify_pairs_cosine``
    Arrow kernel — size-gated corpus broadcast with the equi-join
    fallback, dots accumulated dimension-at-a-time so every double is
    bit-identical to the oracle's sequential fold (a zip_with column
    fold here ran interpreted at ~10 µs/pair — 2.5-2.8 s warm at
    sf0.1 on ~250k candidates; the kernel reads 1.7-2.0 s). No
    all-pairs at any stage."""
    # cache the assignment: it feeds BOTH sides of the candidate
    # self-join and the final cluster-label join (un-cached, each
    # consumer re-runs the argmax pass AND the k-row seed-draw job)
    assign = (
        cluster_assign(df, k=k, id_col=id_col, vec_col=vec_col)
        .select(id_col, "cluster")
        .cache()
        # session-pinned cache (registry clearCache() releases it;
        # library sessions clear between corpora themselves)
    )
    a = assign.select(F.col(id_col).alias("a"), "cluster")
    b = assign.select(F.col(id_col).alias("b"), "cluster")
    cand = (
        a.join(b, "cluster")
        .filter(F.col("a") < F.col("b"))
        .select("a", "b")
    )
    dim = vec_dim(df, vec_col)
    from raft_c_spark.functions.metabound import rows_upper_bound

    # the count only gates the verify kernel's broadcast cap — the
    # free footer bound proves it for scan-shaped corpora
    n_rows = rows_upper_bound(df)
    if n_rows is None or n_rows * dim * 8 > _VERIFY_BROADCAST_BYTES:
        n_rows = df.count()
    pairs = verify_pairs_cosine(
        cand, df, id_col, vec_col, threshold, dim, n_rows
    )
    return pairs.join(a, "a").select("a", "b", "cluster", "cosine")


def knn_join(
    queries_df: DataFrame,
    corpus_df: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact batch k-NN join: the ``k`` nearest corpus vectors (by
    cosine) for EVERY query vector — the primitive behind semantic
    dedup and retrieval-based filtering, where a whole batch of
    queries runs against the corpus at once rather than one
    ``cosine_topk`` per query. A corpus row with the query's own id is
    never one of its neighbours.

    Physical shape for the typical regime (queries ≪ corpus): the
    packed query matrix broadcasts (cap-enforced), the corpus streams
    through ONE Arrow kernel that scores each batch against all
    queries and keeps only each query's per-batch top-k — so at most
    partitions × k × n_queries rows leave the scan stage — and a
    single window merge picks the global top-k. The corpus never
    shuffles; ties break (cosine desc, id asc) in both the kernel
    prune and the merge, so the result is a total-order exact top-k.
    Cosines use the same dimension-ordered accumulation as every
    verify kernel — bit-identical to the SQL fold, so the operator is
    exactly oracle-checkable. For corpus-scale query batches, run
    this per query-shard: each shard's broadcast stays under the cap
    and the scans pipeline."""
    import numpy as np
    import pandas as pd

    dim = vec_dim(corpus_df, vec_col)
    for side, frame in (("queries", queries_df), ("corpus", corpus_df)):
        t = frame.schema[id_col].dataType.simpleString()
        if t not in ("bigint", "int"):
            # the numpy pack/searchsorted kernels require integral ids
            # (a string id once surfaced as an
            # opaque ValueError deep inside pandas, executor-side)
            raise TypeError(
                f"knn_join requires integral ids; {side} {id_col!r} "
                f"is {t} — add a surrogate key (e.g. "
                "monotonically_increasing_id) or hash the id to long"
            )
    from raft_c_spark.functions.metabound import rows_within_cap

    cap_rows = _VERIFY_BROADCAST_BYTES // (dim * 8)
    if not rows_within_cap(queries_df, cap_rows):
        raise ValueError(
            f"query batch too large to broadcast (> {cap_rows} rows at "
            f"dim={dim}); shard the queries and run knn_join per shard"
        )
    qids, qm, qn = _corpus_pack(queries_df, id_col, vec_col)
    bc = queries_df.sparkSession.sparkContext.broadcast((qids, qm, qn))

    def kernel(batches):
        ids_q, m_q, n_q_ = bc.value
        nq = len(ids_q)
        for pdf in batches:
            if not len(pdf):
                continue
            cids = pdf["doc"].to_numpy(dtype=np.int64)
            cm = np.stack(
                [np.asarray(v, dtype=np.float64) for v in pdf["vec"]]
            )
            cn = pdf["norm"].to_numpy(dtype=np.float64)
            acc = np.zeros((len(cids), nq))
            for i in range(dim):
                acc += np.outer(cm[:, i], m_q[:, i])
            cos = acc / np.outer(cn, n_q_)
            cos[cids[:, None] == ids_q[None, :]] = -np.inf
            keep = min(k, len(cids))
            # per-query top-k within the batch under the final total
            # order (cosine desc, corpus id asc)
            order = np.lexsort((cids[:, None].repeat(nq, 1), -cos), axis=0)
            rows = order[:keep, :]
            qi = np.tile(np.arange(nq), keep)
            ci = rows.ravel()
            mask = np.isfinite(cos[ci, qi])
            yield pd.DataFrame(
                {
                    "q": ids_q[qi[mask]],
                    "doc": cids[ci[mask]],
                    "cosine": cos[ci[mask], qi[mask]],
                }
            )

    v = with_norm(corpus_df, id_col, vec_col, dim)
    pruned = _widen(v).mapInPandas(kernel, "q long, doc long, cosine double")
    w = Window.partitionBy("q").orderBy(F.desc("cosine"), F.asc("doc"))
    return (
        pruned.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= k)
        .drop("_rk")
    )


def knn_join_lsh(
    queries_df: DataFrame,
    corpus_df: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bits: int = 8,
    tables: int = 16,
    cache_key: str | None = None,
) -> DataFrame:
    """Approximate batch k-NN join — the 100 TB batch-retrieval
    shape: the query batch's signatures bucket-equi-join the
    multi-table LSH index (persisted when ``cache_key`` is given —
    the corpus side is a stored column, only the batch computes
    signatures), candidates get an exact-cosine rerank, and one
    window merge picks per-query top-k. As in :func:`knn_join`, a
    query never matches its own id.

    Unlike the exact :func:`knn_join` (corpus scan × all queries),
    cost here tracks bucket collisions: candidates ≈ batch ×
    tables × bucket-size — independent of corpus size at fixed
    density. Per-true-neighbor recall follows the standard
    1-(1-(1-θ/π)^bits)^tables curve (≈1.0 for near-duplicates at the
    defaults); the rerank is the same fold-ordered cosine as the
    exact path, so whatever candidates surface rank identically."""
    dim = vec_dim(corpus_df, vec_col)
    idx = lsh_index(corpus_df, id_col, vec_col, bits, tables, cache_key, dim=dim)
    qsig = pair_signatures(
        queries_df, id_col, vec_col, bits, tables, dim=dim
    ).select(F.col("doc").alias("q"), "table", "sig")
    cand = (
        F.broadcast(qsig)
        .join(idx, ["table", "sig"])
        .select("q", "doc")
        .distinct()
        .filter(F.col("q") != F.col("doc"))
    )
    # rerank: fetch raw candidate vectors FIRST, compute the cast +
    # norm fold on matches only (the previous shape
    # projected with_norm over the WHOLE corpus below the join, so
    # every corpus row paid the 2·dim-op fold to feed a candidate set
    # that is |Q|·tables·bucket-sized — at 100 TB that is a full-corpus
    # compute pass for a sample-sized rerank). _vec_norm_exprs keeps
    # the per-row arithmetic bit-identical to with_norm's.
    # NOTE: this narrows with_norm's fail-fast
    # contract — corpus rows that never surface as candidates are no
    # longer length-validated on this path, and a ragged row now
    # first hits the numpy signature kernel's shape error (an opaque
    # message) rather than the per-doc raise_error. Every row that
    # CAN reach a result (a candidate) still passes the exact guard.
    craw = corpus_df.select(
        F.col(id_col).alias("doc"), F.col(vec_col).alias("_craw")
    )
    cvec, cnorm = _vec_norm_exprs("_craw", "doc", dim)
    qv = with_norm(queries_df, id_col, vec_col, dim).select(
        F.col("doc").alias("q"),
        F.col("vec").alias("qvec"),
        F.col("norm").alias("qnorm"),
    )
    scored = (
        cand.join(craw, "doc")
        .withColumn("cvec", cvec)
        .withColumn("cnorm", cnorm)
        .join(F.broadcast(qv), "q")
        .withColumn(
            "cosine", dot_fold("cvec", "qvec") / (F.col("cnorm") * F.col("qnorm"))
        )
    )
    w = Window.partitionBy("q").orderBy(F.desc("cosine"), F.asc("doc"))
    return (
        scored.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= k)
        .select("q", "doc", "cosine")
    )


def _hyperplane(dim: int, bit: int, seed: int = 42) -> list[float]:
    """Deterministic pseudo-random hyperplane: md5 of "seed,bit,j"
    per component, first 60 bits mapped to [-1, 1). No RNG state —
    reproducible across runs/engines, and the DuckDB oracle replays
    the identical string key (plane_weight_sql is the single source
    of the SQL form).

    md5 replaced the original multiplicative-hash formula
    ((bit·1000003 + j·7919 + seed)·K mod 2⁶³): that lattice-structured
    sequence produced heavily CORRELATED plane components — measured
    8.2× bucket-occupancy skew (Σocc²·2^b/n²) at 10 bits on isotropic
    vectors, vs 1.36× for md5 and 1.38× for true gaussian planes — a
    ~6× inflation of LSH candidate volume that compounded with bits
    and broke the auto-sizer's linear-candidates contract."""
    import hashlib

    out = []
    for j in range(dim):
        h = int(
            hashlib.md5(f"{seed},{bit},{j}".encode()).hexdigest()[:15], 16
        )
        out.append(h / float(1 << 59) - 1.0)
    return out


def plane_weight_sql(t_expr: str, b_expr: str, j_expr: str) -> str:
    """DuckDB expression computing the SAME plane weight as
    ``_hyperplane`` (seed = 1000 + table): md5 of the identical
    "seed,bit,component" string, first 15 hex digits, scaled from
    [0, 2⁶⁰) to [-1, 1). Single source for every oracle replay."""
    key = f"(1000 + {t_expr}) || ',' || {b_expr} || ',' || {j_expr}"
    return (
        f"(CAST(CAST('0x' || substr(md5({key}), 1, 15) AS BIGINT) "
        f"AS DOUBLE) / 576460752303423488.0) - 1.0"
    )


def _plane_matrix(
    dim: int, bits: int, tables: int, table_offset: int = 0
) -> "np.ndarray":
    """(tables, bits, dim) hyperplanes. ``table_offset`` shifts the
    per-table seed so a mixed-bits allocation (two table groups of
    different signature widths) draws DISTINCT planes — without it
    the second group's first ``bits`` planes would duplicate the
    first group's and correlate the tables."""
    import numpy as np

    return np.array(
        [
            [
                _hyperplane(dim, i, seed=1000 + table_offset + t)
                for i in range(bits)
            ]
            for t in range(tables)
        ]
    )  # (tables, bits, dim)


def query_signature(query_vec: list[float], bits: int, seed: int) -> int:
    """Driver-side signature of a query vector (numpy dot, matching
    the numpy batch kernel in lsh_candidates)."""
    import numpy as np

    q = np.asarray(query_vec, dtype=np.float64)
    sig = 0
    for i in range(bits):
        plane = np.asarray(_hyperplane(len(query_vec), i, seed))
        if float(q @ plane) > 0:
            sig |= 1 << i
    return sig


def lsh_candidates(
    df: DataFrame,
    query_vec: list[float],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bits: int = 8,
    tables: int = 16,
) -> DataFrame:
    """Rows whose hyperplane signature matches the query's in ANY of
    ``tables`` independent tables. Signatures are computed in a
    vectorized numpy kernel (mapInPandas): one (batch × dim) @
    (dim × tables·bits) matrix multiply per Arrow batch — the
    Pandas-UDF-beats-per-row-expression case. At 100 TB signatures are
    precomputed stored columns and each table a bucketed layout: the
    probe reads ``tables`` buckets, never the corpus."""
    import numpy as np
    import pandas as pd

    dim = len(query_vec)
    planes = _plane_matrix(dim, bits, tables)  # (T, B, dim)
    flat = planes.reshape(tables * bits, dim).T  # (dim, T*B)
    weights = (1 << np.arange(bits)).astype(np.int64)
    qsigs = np.array(
        [query_signature(query_vec, bits, seed=1000 + t) for t in range(tables)]
    )
    out_schema = df.schema

    def kernel(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            m = np.array([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
            bits_m = (m @ flat > 0).astype(np.int64)  # (n, T*B)
            sigs = bits_m.reshape(len(pdf), tables, bits) @ weights  # (n, T)
            hit = (sigs == qsigs).any(axis=1)
            yield pdf[hit]

    return df.mapInPandas(kernel, out_schema)


def nearest_list(mat: "np.ndarray", centroids: "np.ndarray") -> "np.ndarray":
    """Index of the nearest centroid (squared euclidean) per row,
    chunked so memory stays O(chunk × k). Row-wise independent —
    results are identical for any chunking/partitioning, which is what
    lets the oracle-side replay reproduce the distributed assignment
    bit-for-bit."""
    import numpy as np

    out = np.empty(len(mat), dtype=np.int64)
    for s in range(0, len(mat), 4096):
        block = mat[s : s + 4096]
        d2 = ((block[:, None, :] - centroids[None, :, :]) ** 2).sum(axis=2)
        out[s : s + 4096] = np.argmin(d2, axis=1)
    return out


def lloyd_kmeans(
    mat: "np.ndarray", k: int, seed: int = 42, n_iter: int = 20
) -> "np.ndarray":
    """Deterministic seeded k-means (k-means++ init, Lloyd
    iterations), pure numpy — no MLlib. Shared by the distributed fit
    and the DuckDB-oracle ground-truth replay, so the centroids (and
    therefore the probe choice and candidate lists) are bit-identical
    on both sides. Empty lists reseed to the worst-served point."""
    import numpy as np

    rng = np.random.default_rng(seed)
    n = len(mat)
    centers = [mat[int(rng.integers(n))]]
    for _ in range(1, k):
        d2 = np.min(
            np.stack([((mat - c) ** 2).sum(axis=1) for c in centers]), axis=0
        )
        tot = float(d2.sum())
        if tot <= 0.0:
            centers.append(mat[int(rng.integers(n))])
            continue
        cut = float(rng.random()) * tot
        centers.append(mat[min(int(np.searchsorted(np.cumsum(d2), cut)), n - 1)])
    cent = np.stack(centers)
    for _ in range(n_iter):
        assign = nearest_list(mat, cent)
        new = cent.copy()
        for j in range(k):
            members = mat[assign == j]
            if len(members):
                new[j] = members.mean(axis=0)
            else:
                far = int(
                    np.argmax(((mat - cent[assign]) ** 2).sum(axis=1))
                )
                new[j] = mat[far]
        if np.array_equal(new, cent):
            break
        cent = new
    return cent


#: driver-side k-means fit set cap (~32 MB at dim=64); above it the
#: fit runs on a deterministic hash-mod sample — standard IVF practice
#: (the quantizer needs a distribution sketch, not every vector)
IVF_FIT_SAMPLE_CAP = 65536


def ivf_index(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_lists: int = 16,
    seed: int = 42,
    cache_key: str | None = None,
):
    """IVF coarse quantizer: k-means centroids over the corpus; each
    vector is assigned to its nearest centroid's inverted list.

    Returns (assigned_df with ``_list`` column, centroids ndarray).
    The fit is the deterministic seeded ``lloyd_kmeans`` on an
    id-ordered (capped) sample; the assignment is one shuffle-free
    Arrow kernel over the full corpus (``nearest_list`` per batch).
    Both halves are partitioning-independent, so the index — and any
    probe over it — is exactly replayable by the oracle. At 100 TB
    the assignment is a stored/bucketed column (repartition by
    ``_list``)."""
    import numpy as np

    if cache_key is not None:
        # an IVF index is built once and probed many times — persist
        # the assignment + centroids like a real vector store would
        # (at scale: a bucketed table + a centroid sidecar); atomic
        # directory publish under the repo-local cache
        import os

        from raft_c_spark.functions import diskcache

        def write(staging: str) -> None:
            assigned, centroids = ivf_index(df, id_col, vec_col, n_lists, seed)
            assigned.write.parquet(os.path.join(staging, "assigned"))
            np.save(os.path.join(staging, "centroids.npy"), centroids)

        final = diskcache.materialize(
            f"ivf_{cache_key}_l{n_lists}_s{seed}_v2", write
        )
        return (
            read_parquet(df.sparkSession, os.path.join(final, "assigned")),
            np.load(os.path.join(final, "centroids.npy")),
        )

    import pandas as pd
    import pyspark.sql.types as Ty

    fit = df.select(id_col, vec_col)
    n = fit.count()
    if n > IVF_FIT_SAMPLE_CAP:
        # deterministic hash-mod sample — stable under repartitioning
        denom = (n + IVF_FIT_SAMPLE_CAP - 1) // IVF_FIT_SAMPLE_CAP
        fit = fit.filter(
            F.pmod(F.xxhash64(F.col(id_col)), F.lit(denom)) == 0
        )
    rows = fit.orderBy(id_col).collect()
    mat = np.stack(
        [np.asarray(r[vec_col], dtype=np.float64) for r in rows]
    )
    centroids = lloyd_kmeans(mat, n_lists, seed)

    bc = df.sparkSession.sparkContext.broadcast(centroids)
    out_schema = Ty.StructType(
        list(df.schema.fields) + [Ty.StructField("_list", Ty.IntegerType(), False)]
    )

    def kernel(batches):
        cent = bc.value
        for pdf in batches:
            if not len(pdf):
                continue
            m = np.stack(
                [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
            )
            yield pdf.assign(_list=nearest_list(m, cent).astype(np.int32))

    return df.mapInPandas(kernel, out_schema), centroids


def ivf_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_lists: int = 16,
    n_probe: int = 4,
    seed: int = 42,
    cache_key: str | None = None,
) -> DataFrame:
    """Approximate top-k via IVF: probe the ``n_probe`` inverted lists
    whose centroids are nearest the query, exact cosine ranking inside
    them. Complementary to hyperplane LSH: IVF adapts to the data
    distribution (clustered corpora), LSH is distribution-free."""
    import numpy as np

    assigned, centroids = ivf_index(df, id_col, vec_col, n_lists, seed, cache_key)
    q = np.asarray(query_vec, dtype=np.float64)
    d2 = ((centroids - q) ** 2).sum(axis=1)
    probe = [int(i) for i in np.argsort(d2)[:n_probe]]
    cand = assigned.filter(F.col("_list").isin(probe)).drop("_list")
    return cosine_topk(cand, query_vec, k, id_col, vec_col)


def pair_signatures(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    bits: int = 10,
    tables: int = 8,
    table_offset: int = 0,
    dim: int | None = None,
) -> DataFrame:
    """(doc, table, sig) rows — one hyperplane signature per table per
    vector, computed in the same vectorized numpy kernel shape as
    lsh_candidates (one matrix multiply per Arrow batch). Output is the
    tiny banded frame that feeds the bucket self-join; the vectors
    themselves never leave the scan. At 100 TB these are precomputed
    stored columns bucketed by (table, sig). Callers that already know
    the dimension pass ``dim`` so the probe job is paid once per
    corpus, not once per signature frame (guide §1.2)."""
    import numpy as np
    import pandas as pd

    if dim is None:
        dim = vec_dim(df, vec_col)
    planes = _plane_matrix(dim, bits, tables, table_offset)  # (T, B, dim)
    flat = planes.reshape(tables * bits, dim).T  # (dim, T*B)
    weights = (1 << np.arange(bits)).astype(np.int64)

    def kernel(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            m = np.array([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
            bits_m = (m @ flat > 0).astype(np.int64)  # (n, T*B)
            sigs = bits_m.reshape(len(pdf), tables, bits) @ weights  # (n, T)
            yield pd.DataFrame(
                {
                    "doc": pdf[id_col].to_numpy().repeat(tables),
                    "table": np.tile(
                        table_offset + np.arange(tables), len(pdf)
                    ),
                    "sig": sigs.reshape(-1),
                }
            )

    return _widen(df.select(F.col(id_col), F.col(vec_col))).mapInPandas(
        kernel, "doc long, table int, sig long"
    )


def auto_lsh_params(
    n: int,
    threshold: float,
    bucket_target: int = 16,
    target_recall: float = 0.95,
) -> tuple[int, int]:
    """Corpus-size-aware hyperplane-LSH parameters. ``bits`` grows
    with log(n) so the expected bucket stays ~``bucket_target`` rows
    (candidates per table ≈ n·bucket_target/2 — linear in n instead
    of n²/2^bits with fixed bits); ``tables`` then compensates the
    longer signatures to hold per-true-pair recall at
    ``target_recall`` via 1-(1-p^bits)^tables with p = 1 - θ/π."""
    import math

    bits = max(4, math.ceil(math.log2(max(n, 2) / bucket_target)))
    p = 1.0 - math.acos(max(-1.0, min(1.0, threshold))) / math.pi
    per_table = p**bits
    if per_table >= 1.0:
        tables = 1
    else:
        tables = min(
            64,
            max(2, math.ceil(math.log(1.0 - target_recall) / math.log(1.0 - per_table))),
        )
    return bits, tables


def auto_lsh_allocation(
    n: int,
    threshold: float,
    bucket_target: int = 16,
    target_recall: float = 0.95,
) -> list[tuple[int, int, int]]:
    """Mixed-bits table allocation — smooths the power-of-two
    occupancy sawtooth of single-bits auto sizing. The continuous
    ideal b = log2(n / bucket_target) sits between integer widths
    b_lo and b_hi = b_lo+1; allocating fraction f = 2/r − 1
    (r = 2^(b − b_lo) ∈ [1, 2)) of the tables at b_lo holds the
    EXPECTED per-table candidate volume at the continuous ideal
    n·bucket_target for EVERY corpus size, not just powers of two —
    measured: single-bits auto showed a locally super-linear 5.2× at
    3× data purely from the occupancy step (SCALING.md). Tables grow
    until the mixed recall product 1−(1−p^b_lo)^T_lo·(1−p^b_hi)^T_hi
    reaches ``target_recall``.

    ``bucket_target`` trades candidate volume (≈ n·target/2 per
    table) against table count (smaller buckets → longer signatures →
    more tables for the same recall): verify work dominates signature
    work ~15:1, so smaller is faster until tables inflate. Measured
    at the 500k soak (200k 64-dim vectors, threshold 0.9): target 32
    → 101.9M candidates / 31.1s; target 16 → 18.7s with the same 0.95
    recall product — and the 150k→500k soak ratio drops from
    4.2× to 2.9× (sub-linear) per 3.33× data.

    Returns [(bits, tables, table_offset), ...] (1 or 2 groups;
    offsets keep the two groups' hyperplanes distinct)."""
    import math

    b = math.log2(max(n, 2) / bucket_target)
    b_lo = max(4, math.floor(b))
    b_hi = b_lo + 1
    r = 2.0 ** max(b - b_lo, 0.0)  # clamped when the floor-4 kicks in
    f = min(1.0, max(0.0, 2.0 / r - 1.0))
    p = 1.0 - math.acos(max(-1.0, min(1.0, threshold))) / math.pi
    p_lo, p_hi = p**b_lo, p**b_hi
    if p_lo >= 1.0:
        return [(b_lo, 1, 0)]
    total = None
    for t in range(1, 65):
        t_lo = round(f * t)
        t_hi = t - t_lo
        miss = (1.0 - p_lo) ** t_lo * (1.0 - p_hi) ** t_hi
        if 1.0 - miss >= target_recall:
            total = (t_lo, t_hi)
            break
    if total is None:
        total = (round(f * 64), 64 - round(f * 64))
    t_lo, t_hi = total
    groups = []
    if t_lo:
        groups.append((b_lo, t_lo, 0))
    if t_hi:
        groups.append((b_hi, t_hi, t_lo))
    return groups


def lsh_bucketed_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.9,
    bits: int | None = 10,
    tables: int | None = 8,
) -> DataFrame:
    """Embedding near-duplicate *pairs* via multi-table hyperplane LSH
    — the 100 TB path for pair-dedup (mirrors the MinHash shape):

    1. signature kernel → (doc, table, sig), docs·tables tiny rows;
    2. candidates = bucket equi-join on (table, sig), a < b — shuffle
       keyed by bucket, never all-pairs;
    3. exact-cosine verify on candidates only → no false positives;
       recall per true pair at angle θ is 1-(1-(1-θ/π)^bits)^tables
       (≈0.97 at cosine 0.95 with the defaults).

    Candidate count tracks bucket density (n²/2^bits per table for
    random data), so ``bits`` is the scale knob; pass ``bits=None``
    (and/or ``tables=None``) to size both from the corpus via
    :func:`auto_lsh_params` — fixed bits at 10× the data means 100×
    the candidates, auto bits keeps candidates linear. The verify
    joins are plain equi-joins on doc id and shuffle at corpus
    size."""
    dim = vec_dim(df, vec_col)
    n_tables = tables
    if bits is None and tables is None:
        # fully-auto: mixed-bits allocation (see auto_lsh_allocation)
        groups = auto_lsh_allocation(df.count(), threshold)
        sigs = None
        for g_bits, g_tables, g_off in groups:
            part = pair_signatures(
                df, id_col, vec_col, g_bits, g_tables, table_offset=g_off
            )
            sigs = part if sigs is None else sigs.unionByName(part)
        n_tables = sum(g[1] for g in groups)
        sigs = sigs.cache()
        # session-pinned cache (registry clearCache() releases it;
        # library sessions clear between corpora themselves)
    else:
        if bits is None or tables is None:
            a_bits, a_tables = auto_lsh_params(df.count(), threshold)
            bits = a_bits if bits is None else bits
            tables = a_tables if tables is None else tables
        n_tables = tables
        sigs = pair_signatures(df, id_col, vec_col, bits, tables).cache()
        # session-pinned cache (registry clearCache() releases it;
        # library sessions clear between corpora themselves)
    n_rows = sigs.count()  # forces cache + prices the broadcast hint
    y_side = sigs.alias("y")
    if n_rows <= 4_000_000:
        y_side = F.broadcast(y_side)
    cand = (
        sigs.alias("x")
        .join(
            y_side,
            (F.col("x.table") == F.col("y.table"))
            & (F.col("x.sig") == F.col("y.sig"))
            & (F.col("x.doc") < F.col("y.doc")),
        )
        .select(F.col("x.doc").alias("a"), F.col("y.doc").alias("b"))
    )
    # dedup AFTER the cosine verify, not before: random bucket
    # collisions are almost all unique (measured 0.6% duplicate
    # candidate rows at the 500k soak: 101.9M raw vs 101.3M distinct)
    # so a pre-verify distinct shuffles ~all candidate rows for
    # nothing — it was the dominant cost of the whole operator (22.2s
    # of 43.2s at 200k vecs). Only true near-dups repeat across
    # tables (≤ tables× on a tiny output), and re-verifying them is
    # a few thousand extra kernel rows. The post-filter distinct
    # collapses exactly: duplicate rows run the same
    # dimension-at-a-time fold on the same vectors, so the cosine
    # doubles are bit-identical.
    return verify_pairs_cosine(
        cand, df, id_col, vec_col, threshold, dim, n_rows // n_tables
    ).distinct()


def lsh_index(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bits: int = 8,
    tables: int = 16,
    cache_key: str | None = None,
    dim: int | None = None,
) -> DataFrame:
    """Precomputed multi-table signature index: (doc, table, sig),
    persisted when ``cache_key`` is given — the stored/bucketed layout
    the 100 TB path needs; signatures are computed once at index-build
    time, not per query.

    Two-level bucket layout: directories partition on the signature's
    high bits (≤16 dirs — a probe matches one sig per table, so every
    table's dirs are touched but sig_hi prunes to ≤ ``tables`` of
    them), and files are sorted by (sig, table) inside, so parquet
    row-group min/max stats prune the rest. One directory per exact
    sig would prune no better while multiplying directory count by
    2^bits/16, making the build write-bound (measured 8x slower)."""
    if cache_key is None:
        return pair_signatures(df, id_col, vec_col, bits, tables, dim=dim)
    from raft_c_spark.functions import diskcache

    hi_div = max(1, (1 << bits) // 16)

    def write(staging: str) -> None:
        # the signature frame (and its dim probe job) is only built on
        # an index MISS — the warm probe path previously paid a
        # vec_dim first() job for a frame it then discarded
        sigs = pair_signatures(df, id_col, vec_col, bits, tables, dim=dim)
        (
            sigs.withColumn("sig_hi", F.expr(f"sig div {hi_div}"))
            .repartition("sig_hi")
            .sortWithinPartitions("sig", "table")
            .write.partitionBy("sig_hi")
            .parquet(staging)
        )

    # v2: md5-derived hyperplanes (the v1 affine-hash planes had 8x
    # bucket skew) — old indexes must not be reused
    final = diskcache.materialize(
        f"lshidx_{cache_key}_b{bits}_t{tables}_v2", write
    )
    return read_parquet(df.sparkSession, final)


def lsh_bucketed_topk(
    df: DataFrame,
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bits: int = 8,
    tables: int = 16,
    cache_key: str | None = None,
) -> DataFrame:
    """Approximate top-k via multi-table hyperplane LSH: candidates
    share a signature with the query in ≥1 table (recall for a pair at
    angle θ is 1-(1-(1-θ/π)^bits)^tables — ≈1.0 for near-duplicates at
    these defaults), exact cosine ranking on the candidate set only.

    With ``cache_key``: probes the persisted bucket-partitioned
    lsh_index — partition-pruned read of the query's ``tables``
    buckets, then a doc-id join fetches vectors for candidates only
    (the at-scale shape). Without: signatures are computed inline in
    one kernel pass over the corpus (index-less fallback)."""
    if cache_key is not None:
        idx = lsh_index(
            df, id_col, vec_col, bits, tables, cache_key, dim=len(query_vec)
        )
        hi_div = max(1, (1 << bits) // 16)
        qsigs = [
            (t, query_signature(query_vec, bits, seed=1000 + t))
            for t in range(tables)
        ]
        cond = F.lit(False)
        for t, s in qsigs:
            # sig_hi literal → partition-directory pruning; sig → row-
            # group pruning (files are sig-sorted)
            cond = cond | (
                (F.col("sig_hi") == s // hi_div)
                & (F.col("table") == t)
                & (F.col("sig") == s)
            )
        cand_ids = (
            idx.filter(cond)
            .select(F.col("doc").alias(id_col))
            .distinct()
        )
        cand = df.join(cand_ids, id_col)
        return cosine_topk(cand, query_vec, k, id_col, vec_col)
    cand = lsh_candidates(df, query_vec, id_col, vec_col, bits, tables)
    return cosine_topk(cand, query_vec, k, id_col, vec_col)


# ---------------------------------------------------------------------------
# ANN recall certification with parameter auto-tuning
# ---------------------------------------------------------------------------

#: deterministic (bits, tables) ladder, cheap-to-expensive: recall and
#: candidate volume both rise down the ladder (fewer bits → hotter
#: buckets; more tables → more chances); the tuner takes the FIRST
#: rung that clears the recall target inside the candidate budget
LSH_TUNE_LADDER: tuple[tuple[int, int], ...] = (
    (12, 4),
    (10, 8),
    (8, 16),
    (6, 32),
)


def planted_noise_expr(q_col, j_idx, amp: float):
    """Deterministic per-(query, component) noise in [-amp, amp): the
    md5 convention ``_hyperplane`` uses, under a distinct "plant" key,
    computed entirely in codegen (conv/md5) so the Spark and DuckDB
    sides produce bit-identical doubles (same IEEE ops, same order).
    SQL twin: :func:`planted_noise_sql`."""
    h = F.conv(
        F.substring(
            F.md5(
                F.concat_ws(
                    ",",
                    F.lit("plant"),
                    q_col.cast("string"),
                    j_idx.cast("string"),
                )
            ),
            1,
            15,
        ),
        16,
        10,
    ).cast("long")
    return (h / F.lit(float(1 << 59)) - F.lit(1.0)) * F.lit(amp)


def planted_noise_sql(q_expr: str, j_expr: str, amp: float) -> str:
    """DuckDB expression computing the SAME planted noise as
    :func:`planted_noise_expr` — single source for the oracle."""
    key = f"'plant' || ',' || {q_expr} || ',' || {j_expr}"
    return (
        f"((CAST(CAST('0x' || substr(md5({key}), 1, 15) AS BIGINT) "
        f"AS DOUBLE) / 576460752303423488.0) - 1.0) * {amp!r}"
    )


def planted_queries(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_queries: int = 20,
    amp: float = 0.15,
) -> DataFrame:
    """Planted near-duplicate query batch: the first ``n_queries``
    corpus vectors perturbed component-wise by deterministic md5 noise
    of amplitude ``amp`` — each query's unique true nearest neighbor
    is its unperturbed source (same id), at a KNOWN moderate angle
    (unit vectors, dim d: tan θ ≈ amp·sqrt(d/3)), so measured
    recall@1 sweeps the 1-(1-(1-θ/π)^bits)^tables curve instead of
    sitting at the near-random corpus's ~90° floor. Pure codegen —
    both engines replay the same doubles."""
    vec = F.transform(
        F.col(vec_col),
        lambda x, i: x.cast("double")
        + planted_noise_expr(F.col(id_col), i, amp),
    )
    return df.filter(F.col(id_col) < n_queries).select(
        F.col(id_col), vec.alias(vec_col)
    )


def certify_lsh_recall(
    corpus_df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    ladder: tuple[tuple[int, int], ...] = LSH_TUNE_LADDER,
    n_queries: int = 20,
    amp: float = 0.15,
    target: float = 0.9,
    budget_frac: float = 0.25,
    cache_key: str | None = None,
) -> DataFrame:
    """ANN parameter auto-tuning: walk the (bits, tables) ladder,
    measuring planted-near-dup recall@1 and the candidate volume at
    each rung, and CHOOSE the first rung whose measured recall clears
    ``target`` while its distinct candidate count stays within
    ``budget_frac`` of the exhaustive q×n cost — the tune-before-trust
    loop ``sim_knn_recall`` (the measurement alone) tells a deployment
    to run. One result row per TRIED rung (the walk stops at the first
    acceptable one), every column an exact integer or one double
    division — deterministic cross-engine.

    Scale shape: each rung reuses the persisted multi-table LSH index
    (``cache_key`` — signatures are stored columns at 100 TB, built
    once per (corpus, params)); the planted batch's signatures
    broadcast onto it, candidates stay (q, doc) id pairs until the
    ≤|cand| rerank join, and the per-rung metrics are two scalar
    aggregates. The tuning cost curve is the ladder prefix sum —
    SCALING.md quantifies it; at 100 TB the certification runs on a
    query SAMPLE against the production index, exactly as here.
    """
    spark = corpus_df.sparkSession
    dim = vec_dim(corpus_df, vec_col)
    n_corpus = corpus_df.count()
    budget = int(n_queries * n_corpus * budget_frac)

    # Driver-side planted-query pack: ONE bounded collect of the
    # n_queries base vectors (the same gated scalar-probe class as the
    # topk query vector), noise and norms replayed with the identical
    # IEEE op sequence as the codegen/kernel path. Each rung's query
    # signatures and rerank vectors then enter the plan as
    # LocalRelations — an earlier shape paid a Python mapInPandas stage
    # plus a second broadcast-exchange subtree PER RUNG to recompute
    # 20 rows it could carry as literals (guide §4: the Python
    # boundary is for volume, not for 20 rows; §5: tiny driver
    # transfers are fine — unbounded ones are not).
    qids, qm, qnorms = _planted_pack(
        corpus_df, id_col, vec_col, n_queries, amp
    )
    qv = spark.createDataFrame(
        [
            (int(q), [float(x) for x in qm[a]], float(qnorms[a]))
            for a, q in enumerate(qids)
        ],
        "q long, qvec array<double>, qnorm double",
    )
    # raw corpus projection for the rerank fetch: the cast + norm fold
    # is applied AFTER the candidate join (matches only), not over the
    # whole corpus per rung (same reorder as knn_join_lsh; the
    # arithmetic is _vec_norm_exprs, bit-identical to with_norm)
    craw = corpus_df.select(
        F.col(id_col).alias("doc"), F.col(vec_col).alias("_craw")
    )

    rows = []
    _certify_walk(
        rows, ladder, corpus_df, qids, qm, craw, qv,
        id_col, vec_col, cache_key, dim,
        n_queries, budget, target,
    )

    return spark.createDataFrame(
        rows,
        "rung int, bits int, tables int, n_queries long, n_hits long, "
        "recall double, n_candidates long, within_budget boolean, "
        "meets_target boolean, chosen boolean",
    )


def _planted_pack(
    corpus_df: DataFrame,
    id_col: str,
    vec_col: str,
    n_queries: int,
    amp: float,
):
    """Driver-side replay of :func:`planted_queries`: collect the
    ``n_queries`` base vectors (bounded — same scalar-probe class as
    the topk query vector) and apply the md5 noise with the IDENTICAL
    IEEE op sequence as :func:`planted_noise_expr` (hex→long, /2^59,
    −1.0, ×amp, one add onto the double-cast component), then the same
    sequential-fold norms as ``with_norm``. Returns (ids, matrix,
    norms) — bit-identical to what the codegen path computed, so every
    downstream signature and cosine is unchanged (pinned by the hash
    oracle)."""
    import hashlib

    import numpy as np

    rows = (
        corpus_df.filter(F.col(id_col) < n_queries)
        .select(F.col(id_col).alias("i"), F.col(vec_col).alias("v"))
        .collect()
    )
    rows.sort(key=lambda r: r["i"])
    qids = np.array([r["i"] for r in rows], dtype=np.int64)
    qm = np.array(
        [[float(x) for x in r["v"]] for r in rows], dtype=np.float64
    )
    denom = float(1 << 59)
    for a in range(len(qids)):
        qid = int(qids[a])
        for j in range(qm.shape[1]):
            h = int(
                hashlib.md5(f"plant,{qid},{j}".encode()).hexdigest()[:15], 16
            )
            qm[a, j] = qm[a, j] + ((h / denom) - 1.0) * amp
    return qids, qm, _seq_norms(qm)


def _local_signatures(
    qids, qm, bits: int, tables: int, table_offset: int = 0
) -> list[tuple[int, int, int]]:
    """(q, table, sig) rows for a small driver-side query matrix — the
    same numpy ops as the :func:`pair_signatures` kernel (one matmul
    against the shared plane matrix), so signatures are bit-identical
    to the distributed path's."""
    import numpy as np

    planes = _plane_matrix(qm.shape[1], bits, tables, table_offset)
    flat = planes.reshape(tables * bits, qm.shape[1]).T
    weights = (1 << np.arange(bits)).astype(np.int64)
    bits_m = (qm @ flat > 0).astype(np.int64)
    sigs = bits_m.reshape(len(qids), tables, bits) @ weights
    return [
        (int(q), int(table_offset + t), int(sigs[a, t]))
        for a, q in enumerate(qids)
        for t in range(tables)
    ]


def _certify_walk(
    rows: list,
    ladder,
    corpus_df: DataFrame,
    qids,
    qm,
    craw: DataFrame,
    qv: DataFrame,
    id_col: str,
    vec_col: str,
    cache_key: str | None,
    dim: int,
    n_queries: int,
    budget: int,
    target: float,
) -> None:
    """The ladder walk of :func:`certify_lsh_recall` — appends one
    metrics tuple per tried rung to ``rows`` and stops at the first
    acceptable rung. Per rung the plan is ONE job chain: index scan
    (sig_hi partition-pruned) ⋈ local query-signature relation →
    distinct → candidate-join vector fetch → rerank ⋈ local
    query-vector relation → two-column aggregate → ≤n_queries-row
    collect.

    A depth-1 speculative lookahead (rung r+1's probe launched in a
    sibling thread while rung r is measured, canceled via its job
    group on acceptance, gated on the rung's index being already
    persisted) was built and MEASURED this round and REJECTED:
    interleaved same-session A/B at sf0.1 read min wall 4.38 → 4.06 s
    (inside this box's noise band) at +16-18 process-tree CPU seconds
    per run — the canceled successor probe (the ladder's most
    expensive rung) ran near-to-completion before the accept decision
    landed. A latency/throughput trade that loses CPU at every scale
    and wins nothing measurable on wall, so the walk stays
    sequential."""
    spark = corpus_df.sparkSession
    for rung, (bits, tables) in enumerate(ladder):
        idx = lsh_index(
            corpus_df, id_col, vec_col, bits, tables, cache_key, dim=dim
        )
        sig_rows = _local_signatures(qids, qm, bits, tables)
        qsig = spark.createDataFrame(
            sig_rows, "q long, table int, sig long"
        )
        probe = idx
        if "sig_hi" in idx.columns:
            # redundant with the equi-join (sig equality implies
            # sig_hi equality) but prunes the persisted index's
            # partition directories at the scan
            hi_div = max(1, (1 << bits) // 16)
            his = sorted({s // hi_div for _, _, s in sig_rows})
            probe = idx.filter(F.col("sig_hi").isin(his))
        cand = (
            probe.select("doc", "table", "sig")
            .join(F.broadcast(qsig), ["table", "sig"])
            .select("q", "doc")
            .distinct()
        )
        # BOTH per-rung metrics from ONE job: per query, the candidate
        # count and the top-1 winner via max(struct(cosine, -doc)) —
        # the same (cosine desc, doc asc) total order the window
        # formulation used, without a persist or a second action;
        # n_candidates = Σ per-q counts (every candidate pair has a q),
        # hit = winner.doc == q. The ≤n_queries-row collect is a
        # scalar probe. The cast + norm fold runs on FETCHED
        # candidates only (_vec_norm_exprs — bit-identical to
        # with_norm), not over the whole corpus per rung.
        cvec, cnorm = _vec_norm_exprs("_craw", "doc", dim)
        per_q = (
            cand.join(craw, "doc")
            .withColumn("cvec", cvec)
            .withColumn("cnorm", cnorm)
            .join(F.broadcast(qv), "q")
            .withColumn(
                "cosine",
                dot_fold("cvec", "qvec") / (F.col("cnorm") * F.col("qnorm")),
            )
            .groupBy("q")
            .agg(
                F.count(F.lit(1)).alias("n_cand"),
                F.max(
                    F.struct(
                        F.col("cosine"), (-F.col("doc")).alias("negdoc")
                    )
                ).alias("best"),
            )
            .select("q", "n_cand", (-F.col("best.negdoc")).alias("bestdoc"))
            .collect()
        )
        n_cand = sum(r["n_cand"] for r in per_q)
        n_hits = sum(1 for r in per_q if r["bestdoc"] == r["q"])
        recall = n_hits / float(n_queries)
        within = n_cand <= budget
        meets = recall >= target
        rows.append(
            (
                rung,
                bits,
                tables,
                n_queries,
                n_hits,
                recall,
                n_cand,
                within,
                meets,
                bool(within and meets),
            )
        )
        if within and meets:
            break
