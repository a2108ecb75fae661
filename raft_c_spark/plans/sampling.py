"""Driver-facing deterministic-sampling queries over ``documents`` —
the data-mixing step of a training-data recipe, oracle-checked
bit-for-bit because the sampling key is a content hash (md5) both
engines compute identically.
"""

from __future__ import annotations

from raft_c_spark.functions.diskcache import data_cache_key
from raft_c_spark.operators import sampling
from raft_c_spark.sources.testdata import load_table

#: mixture recipe: oversample the low-resource languages, downsample
#: English — the standard rebalancing shape of an LLM data mixture
MIX = {"en": 0.25, "zh": 0.8, "es": 0.6, "de": 0.6, "fr": 0.6}
PER_SOURCE_K = 12


def q_ds_mixture_sample(spark, sf_dir):
    """Per-language hash-Bernoulli mixture sample of the documents
    table: deterministic, repartition-stable, nested (raising a rate
    keeps previously selected rows) — pure filter, no shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    return sampling.hash_fraction_sample(
        docs, "doc_id", strata_col="lang", fractions=MIX
    ).select("doc_id", "lang", "source", "n_chars")


def q_ds_source_topk(spark, sf_dir):
    """Exactly k docs per source by hash order — deterministic
    per-stratum reservoir sampling (windowed top-k, one shuffle)."""
    docs = load_table(spark, sf_dir, "documents")
    return sampling.stratified_topk_sample(
        docs, "doc_id", "source", PER_SOURCE_K
    ).select("doc_id", "lang", "source", "n_chars")


PACK_BUDGET = 4096


def q_ds_pack_sequences(spark, sf_dir):
    """Concat-and-chunk packing of the documents stream (doc_id
    order, n_chars as the length) into 4096-char training bins —
    exact distributed prefix sums, partitioning-independent."""
    docs = load_table(spark, sf_dir, "documents")
    # pre-project: the pack's range shuffle + pinned checkpoint
    # materialize full rows (column pruning cannot cross a
    # checkpoint), and this query only returns the id/length columns
    return sampling.pack_sequences(
        docs.select("doc_id", "n_chars"), "doc_id", "n_chars", PACK_BUDGET
    ).select("doc_id", "n_chars", "seq_start", "bin", "bin_offset")


DECON_N = 4  # word-gram width (production runs 8-13; the synthetic
#              corpus is short-doc, so 4 keeps planted overlaps visible
#              — 8 docs flagged at sf0.01, 727 at sf0.1 — while 3 hits
#              the coincidental-overlap noise floor)
DECON_MOD = 97  # doc_id % 97 == 0 → the held-out "benchmark" set


def q_ds_decontaminate(spark, sf_dir):
    """Benchmark decontamination: flag training docs sharing any
    4-word-gram with the held-out set (doc_id % 97 == 0), with the
    distinct shared-gram count. Broadcast gram semi-join — see
    operators/text.decontaminate for the 100 TB shape."""
    from pyspark.sql import functions as F

    from raft_c_spark.operators import text

    docs = load_table(spark, sf_dir, "documents")
    ev = docs.filter(F.col("doc_id") % DECON_MOD == 0)
    tr = docs.filter(F.col("doc_id") % DECON_MOD != 0)
    return text.decontaminate(tr, ev, "doc_id", "text", n=DECON_N)


QUERIES = {
    "ds_mixture_sample": q_ds_mixture_sample,
    "ds_source_topk": q_ds_source_topk,
    "ds_pack_sequences": q_ds_pack_sequences,
    "ds_decontaminate": q_ds_decontaminate,
}

_KEY = "substring(md5(CAST(doc_id AS VARCHAR)), 1, 6)"


def _thr(frac: float) -> str:
    t = int(frac * 16**6)
    return "'g'" if t >= 16**6 else f"'{format(t, '06x')}'"


_CASE = "CASE " + " ".join(
    f"WHEN lang = '{v}' THEN {_thr(f)}" for v, f in sorted(MIX.items())
) + f" ELSE {_thr(0.0)} END"

ORACLES = {
    "ds_mixture_sample": f"""
        SELECT doc_id, lang, source, n_chars
        FROM documents
        WHERE {_KEY} < {_CASE}
    """,
    "ds_source_topk": f"""
        SELECT doc_id, lang, source, n_chars FROM (
            SELECT doc_id, lang, source, n_chars,
                   ROW_NUMBER() OVER (
                       PARTITION BY source ORDER BY {_KEY}, doc_id
                   ) AS rk
            FROM documents
        )
        WHERE rk <= {PER_SOURCE_K}
    """,
    "ds_pack_sequences": f"""
        SELECT doc_id, n_chars,
               CAST(SUM(n_chars) OVER (
                   ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) - n_chars AS BIGINT) AS seq_start,
               CAST((SUM(n_chars) OVER (
                   ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) - n_chars) // {PACK_BUDGET} AS BIGINT) AS bin,
               CAST((SUM(n_chars) OVER (
                   ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) - n_chars) % {PACK_BUDGET} AS BIGINT) AS bin_offset
        FROM documents
    """,
    "ds_decontaminate": f"""
        WITH t AS (
            SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
            FROM documents
        ),
        g AS (
            SELECT DISTINCT doc_id, unnest(list_transform(
                list_filter(
                    generate_series(1, greatest(len(toks) - {DECON_N - 1}, 1)),
                    i -> i + {DECON_N - 1} <= len(toks)),
                i -> array_to_string(list_slice(toks, i, i + {DECON_N - 1}), ' ')
            )) AS gram
            FROM t
        ),
        eg AS (
            SELECT DISTINCT gram FROM g WHERE doc_id % {DECON_MOD} = 0
        )
        SELECT g.doc_id, COUNT(*) AS overlap_grams
        FROM g JOIN eg USING (gram)
        WHERE g.doc_id % {DECON_MOD} <> 0
        GROUP BY g.doc_id
    """,
}


#: leakage-safe split recipe: eval sets small, train dominant — the
#: production shape; three names exercise the multi-threshold path
SPLITS = {"train": 0.9, "val": 0.05, "test": 0.05}


def q_ds_split_leakage_safe(spark, sf_dir):
    """Cluster-aware train/val/test split: near-dup clusters (MinHash
    LSH pair graph → connected components, the shared cached pair
    frame of the dedup_* queries) never straddle a split boundary —
    the leakage guard between training data and held-out evals.
    Deterministic md5 keying on the cluster rep, so the oracle
    replays pair generation + recursive-CTE reachability + the same
    hash thresholds in SQL."""
    from raft_c_spark.operators import dedup
    from raft_c_spark.plans.dedup import JACCARD_THRESHOLD

    docs = load_table(spark, sf_dir, "documents")
    pairs = dedup.minhash_lsh_pairs(
        docs, "doc_id", "text", n=3, num_perm=64, bands=8,
        threshold=JACCARD_THRESHOLD,
        cache_key=data_cache_key(sf_dir, "documents"),
    )
    return sampling.leakage_safe_split(
        docs, "doc_id", pairs, SPLITS
    ).select("doc_id", "dedup_group", "split")


QUERIES["ds_split_leakage_safe"] = q_ds_split_leakage_safe


def _split_oracle() -> str:
    # same cumulative-threshold accumulation as the operator (float
    # for float) so the hex bounds are bit-identical
    from raft_c_spark.plans.dedup import _components_oracle, _minhash_oracle

    key = "substring(md5(CAST(dedup_group AS VARCHAR)), 1, 6)"
    names, fracs = list(SPLITS), list(SPLITS.values())
    acc, whens = 0.0, []
    for name, frac in zip(names[:-1], fracs[:-1]):
        acc += frac
        whens.append(f"WHEN {key} < {_thr(acc)} THEN '{name}'")
    case = "CASE " + " ".join(whens) + f" ELSE '{names[-1]}' END"
    comp = _components_oracle(_minhash_oracle())
    return f"""
        SELECT doc_id, dedup_group, {case} AS split FROM (
            SELECT d.doc_id,
                   COALESCE(c.component, d.doc_id) AS dedup_group
            FROM documents d
            LEFT JOIN ({comp}) c ON c.doc = d.doc_id
        )
    """


ORACLES["ds_split_leakage_safe"] = _split_oracle()


TEMP_ALPHA = 0.5
TEMP_BUDGET_FRAC = 0.5


def q_ds_temperature_mixture(spark, sf_dir):
    """Temperature-weighted source rebalancing (rates ∝ count^0.5,
    derived from the data, budget 50% of the corpus) — see
    sampling.temperature_sample for the grid-snapped determinism
    contract and the broadcast-rate-table scale shape."""
    docs = load_table(spark, sf_dir, "documents")
    return sampling.temperature_sample(
        docs, "doc_id", "source", alpha=TEMP_ALPHA,
        budget_frac=TEMP_BUDGET_FRAC,
    ).select("doc_id", "source", "n_chars", "thr")


QUERIES["ds_temperature_mixture"] = q_ds_temperature_mixture

_TGRID = 16**3

ORACLES["ds_temperature_mixture"] = f"""
    WITH c AS (
        SELECT source AS s, COUNT(*) AS cnt FROM documents GROUP BY 1
    ),
    t AS (
        SELECT SUM(pow(CAST(cnt AS DOUBLE), {TEMP_ALPHA})) AS w,
               SUM(cnt) AS n
        FROM c
    ),
    r AS (
        SELECT s,
               GREATEST(CAST(floor(f * {_TGRID}) AS INTEGER),
                        CASE WHEN f * cnt >= 1 THEN 1 ELSE 0 END) AS thr
        FROM (
            SELECT s, cnt,
                   least(1.0,
                       {TEMP_BUDGET_FRAC} * n
                       * pow(CAST(cnt AS DOUBLE), {TEMP_ALPHA})
                       / (w * cnt)) AS f
            FROM c CROSS JOIN t
        )
    )
    SELECT d.doc_id, d.source, d.n_chars, r.thr
    FROM documents d JOIN r ON d.source = r.s
    WHERE substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 3)
          < CASE WHEN r.thr >= {_TGRID} THEN 'g'
                 ELSE printf('%03x', r.thr) END
"""


def q_ds_dataset_card(spark, sf_dir):
    """Dataset-card profile: doc counts and char volumes at every
    (source × lang) granularity in ONE pass via CUBE — per-cell,
    per-source, per-lang, and grand-total rows distinguished by
    grouping_id (Spark and the oracle agree on the bit convention:
    first cube column = most significant bit). Counts and sums are
    integers; the single Expand+HashAggregate pair is map-side
    combined, so the pass stays one scan + one shuffle at any scale
    (row amplification ×4 happens before the partial aggregate)."""
    from pyspark.sql import functions as F

    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.cube("source", "lang")
        .agg(
            F.grouping_id().alias("gid"),
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
        .select("source", "lang", "gid", "n_docs", "total_chars")
    )


QUERIES["ds_dataset_card"] = q_ds_dataset_card

ORACLES["ds_dataset_card"] = """
    SELECT source, lang,
           CAST(GROUPING(source, lang) AS BIGINT) AS gid,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM documents
    GROUP BY CUBE (source, lang)
"""


EPOCH_BUDGET = 1.5  # 1.5 average epochs: tail sources repeat >1x


def q_ds_epoch_upsample(spark, sf_dir):
    """Fractional-epoch mixture upsampling (count^0.5 weights, 1.5
    average epochs — tail sources repeat, head sources subsample);
    see sampling.epoch_repeats. Output carries per-doc n_repeats;
    training materializes them with one explode."""
    docs = load_table(spark, sf_dir, "documents")
    return sampling.epoch_repeats(
        docs, "doc_id", "source", alpha=TEMP_ALPHA,
        budget_epochs=EPOCH_BUDGET,
    ).select("doc_id", "source", "n_chars", "base_epochs", "frac_thr",
             "n_repeats")


QUERIES["ds_epoch_upsample"] = q_ds_epoch_upsample

ORACLES["ds_epoch_upsample"] = f"""
    WITH c AS (
        SELECT source AS s, COUNT(*) AS cnt FROM documents GROUP BY 1
    ),
    t AS (
        SELECT SUM(pow(CAST(cnt AS DOUBLE), {TEMP_ALPHA})) AS w,
               SUM(cnt) AS n
        FROM c
    ),
    r AS (
        SELECT s,
               CAST(floor(e) AS INTEGER) AS base_epochs,
               GREATEST(
                   CAST(floor((e - floor(e)) * {_TGRID}) AS INTEGER),
                   CASE WHEN floor(e) = 0 AND e * cnt >= 1
                        THEN 1 ELSE 0 END
               ) AS frac_thr
        FROM (
            SELECT s, cnt,
                   {EPOCH_BUDGET} * n * pow(CAST(cnt AS DOUBLE), {TEMP_ALPHA})
                       / (w * cnt) AS e
            FROM c CROSS JOIN t
        )
    )
    SELECT d.doc_id, d.source, d.n_chars, r.base_epochs, r.frac_thr,
           r.base_epochs
           + CASE WHEN substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 3)
                       < CASE WHEN r.frac_thr >= {_TGRID} THEN 'g'
                              ELSE printf('%03x', r.frac_thr) END
                  THEN 1 ELSE 0 END AS n_repeats
    FROM documents d JOIN r ON d.source = r.s
"""


#: DSIR target sources: two of the 20 synthetic sources stand in for
#: the small curated target corpus (Wikipedia-like) the method
#: upweights toward — ~10% of rows, enough hashed-feature mass for a
#: stable target distribution at every SF.
DSIR_TARGET_SOURCES = ("src0", "src1")


def q_ds_importance_dsir(spark, sf_dir):
    """DSIR importance weights (hashed n-gram importance resampling,
    Xie et al. NeurIPS'23): score every document by how target-like
    its hashed unigram+bigram distribution is, against a curated
    target subset (source ∈ src0/src1). See
    sampling.importance_weights for the one-aggregate-both-
    distributions scale shape and the DECIMAL determinism contract;
    downstream selects top-k by log_weight or Gumbel-resamples."""
    from pyspark.sql import functions as F

    docs = load_table(spark, sf_dir, "documents").withColumn(
        "is_tgt", F.col("source").isin(*DSIR_TARGET_SOURCES)
    )
    return sampling.importance_weights(
        docs, "doc_id", "text", "is_tgt",
        cache_key=data_cache_key(sf_dir, "documents"),
    )


QUERIES["ds_importance_dsir"] = q_ds_importance_dsir

ORACLES["ds_importance_dsir"] = f"""
    WITH t AS (
        SELECT doc_id, source,
               regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
        FROM documents
    ),
    o AS (
        SELECT doc_id,
               source IN ('src0', 'src1') AS is_tgt,
               CAST('0x' || substring(md5(g), 1, 8) AS BIGINT)
                   % {sampling.DSIR_BUCKETS} AS b
        FROM (
            SELECT doc_id, source,
                   unnest(list_concat(
                       toks,
                       list_transform(
                           list_filter(
                               generate_series(1, greatest(len(toks) - 1, 1)),
                               i -> i + 1 <= len(toks)),
                           i -> toks[i] || ' ' || toks[i + 1])
                   )) AS g
            FROM t
        )
    ),
    c AS (
        SELECT b, COUNT(*) AS c_raw,
               SUM(CASE WHEN is_tgt THEN 1 ELSE 0 END) AS c_tgt
        FROM o GROUP BY 1
    ),
    tot AS (SELECT SUM(c_raw) AS n_raw, SUM(c_tgt) AS n_tgt FROM c),
    r AS (
        SELECT b, CAST(round(
            ln(CAST(c_tgt + 1 AS DOUBLE)
               / CAST(n_tgt + {sampling.DSIR_BUCKETS} AS DOUBLE))
            - ln(CAST(c_raw + 1 AS DOUBLE)
               / CAST(n_raw + {sampling.DSIR_BUCKETS} AS DOUBLE)),
            8) AS DECIMAL(18,8)) AS lr
        FROM c CROSS JOIN tot
    )
    SELECT o.doc_id, CAST(COUNT(*) AS BIGINT) AS n_feats,
           CAST(SUM(lr) AS DOUBLE) AS log_weight
    FROM o JOIN r USING (b)
    GROUP BY o.doc_id
    UNION ALL
    SELECT doc_id, CAST(0 AS BIGINT) AS n_feats,
           CAST(0 AS DOUBLE) AS log_weight
    FROM t WHERE len(toks) = 0
"""


DSIR_K = 100


def q_ds_dsir_resample(spark, sf_dir):
    """The selection half of DSIR: Gumbel-top-k resampling over the
    importance weights — exactly 100 docs drawn without replacement
    with inclusion odds ∝ softmax(log_weight), noise keyed on
    md5(doc_id) so the draw replays bit-for-bit in the oracle. See
    sampling.gumbel_topk for the rounding/tiebreak contract and the
    TakeOrderedAndProject (no global sort) plan shape."""
    from pyspark.sql import functions as F

    docs = load_table(spark, sf_dir, "documents").withColumn(
        "is_tgt", F.col("source").isin(*DSIR_TARGET_SOURCES)
    )
    w = sampling.importance_weights(
        docs, "doc_id", "text", "is_tgt",
        cache_key=data_cache_key(sf_dir, "documents"),
    )
    return sampling.gumbel_topk(w, "doc_id", "log_weight", DSIR_K).select(
        "doc_id", "n_feats", "log_weight", "gumbel_key"
    )


QUERIES["ds_dsir_resample"] = q_ds_dsir_resample

_DSIR_WEIGHTS_SQL = ORACLES["ds_importance_dsir"]

ORACLES["ds_dsir_resample"] = f"""
    WITH w AS ({_DSIR_WEIGHTS_SQL}),
    g AS (
        SELECT doc_id, n_feats, log_weight,
               CAST(round(
                   log_weight
                   - ln(-ln((CAST('0x' || substring(
                         md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) + 1)
                       / CAST({2**32 + 2} AS DOUBLE))),
                   8) AS DECIMAL(18,8)) AS gk
        FROM w
        ORDER BY gk DESC, doc_id
        LIMIT {DSIR_K}
    )
    SELECT doc_id, n_feats, log_weight, CAST(gk AS DOUBLE) AS gumbel_key
    FROM g
    ORDER BY gk DESC, doc_id
"""


TRAIN_SHARD_ROWS = 64


def q_ds_training_order(spark, sf_dir):
    """Reproducible pre-training corpus shuffle: md5-keyed permutation
    cut into size-balanced shards without a global sort — see
    sampling.training_order."""
    docs = load_table(spark, sf_dir, "documents")
    return sampling.training_order(docs, "doc_id", TRAIN_SHARD_ROWS)


QUERIES["ds_training_order"] = q_ds_training_order

ORACLES["ds_training_order"] = f"""
    SELECT doc_id, shuffle_key,
           CAST((rn - 1) // {TRAIN_SHARD_ROWS} AS BIGINT) AS shard
    FROM (
        SELECT doc_id,
               md5(CAST(doc_id AS VARCHAR)) AS shuffle_key,
               ROW_NUMBER() OVER (
                   ORDER BY md5(CAST(doc_id AS VARCHAR))) AS rn
        FROM documents
    )
"""
