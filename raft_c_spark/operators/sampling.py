"""Deterministic sampling operators for training-data pipelines.

A 100 TB data-mixing pipeline needs splits that are *reproducible*
(same rows selected every run, on any cluster, after any repartition)
and *engine-independent* (an audit in another engine must reproduce
them). RNG-based sampling (``DataFrame.sample``) is neither — the
selections here key off a content hash of the row id instead:

- ``hash_fraction_sample``: keep a row iff the first hex digits of
  md5(id) fall under the fraction's threshold — per-stratum fractions
  supported (the "mixture weights" of a training-data recipe);
- ``stratified_topk_sample``: exactly k rows per stratum, chosen by
  hash order — the deterministic analog of per-stratum reservoir
  sampling.

Both are pure column expressions / window functions (JVM codegen, one
shuffle only for the windowed variant) and are bit-reproducible in any
engine with md5 — which is what makes them oracle-checkable.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from raft_c_spark.functions.diskcache import cached_parquet
from raft_c_spark.sources.parquet import read_parquet

#: hex digits of the md5 used as the sampling key: 6 digits → fraction
#: granularity 1/16^6 ≈ 6e-8, far below any practical mixture weight
HEX_DIGITS = 6


def hash_hex(id_col: str | Column, digits: int = HEX_DIGITS) -> Column:
    """Leading hex digits of md5(id as string) — the deterministic
    sampling key. Lexicographic order on fixed-length lowercase hex is
    numeric order, in Spark and in any SQL engine with md5."""
    c = F.col(id_col) if isinstance(id_col, str) else id_col
    return F.substring(F.md5(c.cast("string").cast("binary")), 1, digits)


def _threshold(fraction: float, digits: int) -> str:
    t = int(fraction * (16**digits))
    if t >= 16**digits:
        # all-inclusive: 'g' is lexicographically above every hex
        # digit, and a digits+1-wide hex number would break the
        # fixed-width string comparison
        return "g"
    return format(max(t, 0), f"0{digits}x")


def hash_fraction_sample(
    df: DataFrame,
    id_col: str,
    fraction: float | None = None,
    strata_col: str | None = None,
    fractions: dict[str, float] | None = None,
    digits: int = HEX_DIGITS,
) -> DataFrame:
    """Deterministic Bernoulli(fraction) sample keyed on md5(id).

    With ``strata_col`` + ``fractions`` each stratum gets its own
    rate (missing strata fall back to ``fraction``, default 0) — the
    mixture-sampling step of a training-data recipe, e.g.
    ``{"en": 0.3, "zh": 1.0}``. Selection is a pure filter: no
    shuffle, no RNG state, stable under any partitioning, and row r
    stays selected when its stratum's rate increases (nested samples
    — the property that makes scaling a mixture up reproducible)."""
    if fractions is not None:
        if strata_col is None:
            raise ValueError("fractions requires strata_col")
        thr: Column = F.lit(_threshold(fraction or 0.0, digits))
        for value, frac in sorted(fractions.items()):
            thr = F.when(
                F.col(strata_col) == value, F.lit(_threshold(frac, digits))
            ).otherwise(thr)
    elif fraction is not None:
        thr = F.lit(_threshold(fraction, digits))
    else:
        raise ValueError("need fraction or fractions")
    return df.filter(hash_hex(id_col, digits) < thr)


#: analyzed-plan nodes whose presence means the frame is EXPENSIVE to
#: execute twice (joins, aggregates, Python kernels, explodes...) —
#: the gate for pack_sequences' input pre-materialization. Bare
#: scans/filters/projections are cheap to re-run and skip it.
_EXPENSIVE_NODES = (
    "Join",
    "Aggregate",
    "Window",
    "Generate",
    "Expand",
    "Deduplicate",
    "MapInPandas",
    "MapInArrow",
    "FlatMap",
    "CoGroup",
)


def _expensive_lineage(df: DataFrame) -> bool:
    # line-leading node-name match, not bare substring (a column literally named "myJoinKey" must not trigger a full
    # localCheckpoint materialization — this gate's false positive is
    # a real cost, not merely a skipped shortcut)
    from raft_c_spark.functions.planshape import plan_has_node

    try:
        plan = df._jdf.queryExecution().analyzed().toString()
    except Exception:
        return False
    return plan_has_node(plan, _EXPENSIVE_NODES)


def pack_sequences(
    df: DataFrame,
    id_col: str,
    len_col: str,
    budget: int,
    order_col: str | None = None,
) -> DataFrame:
    """Concat-and-chunk sequence packing — the LLM-preprocessing step
    that lays documents end-to-end in a deterministic order and cuts
    the stream every ``budget`` tokens. Adds three columns:
    ``seq_start`` (global token offset of the doc), ``bin``
    (= seq_start div budget — the training sequence the doc *starts*
    in) and ``bin_offset`` (seq_start mod budget). A doc crossing a
    cut belongs to the bin where it starts; real packers then split
    its tail — the assignment here is the deterministic part both
    engines can agree on.

    The global running sum is computed with the two-phase distributed
    prefix-sum: per-partition window cumsum + a driver-side prefix
    over the P per-partition totals (P rows — trivial) joined back as
    offsets. No single-partition global window at any scale, and the
    result is independent of partitioning (the offsets correct for
    whatever range boundaries were drawn), so it is oracle-checkable
    against a plain windowed cumsum."""
    key = order_col or id_col
    n_part = df.sparkSession.sparkContext.defaultParallelism
    # repartitionByRange SAMPLES its child to draw the range bounds,
    # so the input lineage executes TWICE (sampling pass + the real
    # shuffle). For a bare scan that is cheap; for a join/aggregate/
    # Python-kernel upstream (ds_pipeline_e2e's 4-stage pipeline,
    # ds_pack_bpe's tokenizer) it doubles the most expensive part of
    # the query — so such inputs are materialized ONCE to executor-
    # local blocks first and both passes read the blocks (don't
    # compute things twice; localCheckpoint as the cheap lineage
    # cut). Output is identical either way: the blocks
    # hold exactly df's rows, and the prefix-sum result is
    # partitioning-independent.
    # Block lifetime: both localCheckpoints' blocks are
    # freed by the ContextCleaner, not an explicit unpersist —
    # localCheckpoint registers its RDD for reference-tracked cleanup,
    # and once the caller drops the returned frame (bench: after the
    # noop sink) the py4j ref chain releases the JVM Datasets, the
    # checkpoint RDDs become unreachable, and their blocks are
    # dropped. Dataset.unpersist() would be a no-op here (it consults
    # the CacheManager, which never sees checkpoint blocks) and there
    # is no public API to unpersist a checkpoint eagerly. Measured:
    # a whole-registry profile sweep's storage stayed flat (the
    # rdd_storage column of ``PROFILE_BUILD_EXEC.json``, in git at
    # commit 6b4c93f); a bench run's ``queries_trace`` storage columns
    # record the same now. Fault-tolerance caveat: localCheckpoint is
    # lineage-truncating — on a real cluster, executor loss makes the
    # blocks unrecomputable; acceptable for this engine's local-mode
    # charter, and at cluster scale the deployer should swap in
    # reliable checkpoints (spark.checkpoint.dir) if packs run on
    # preemptible executors.
    src = df.localCheckpoint(eager=True) if _expensive_lineage(df) else df
    # range-partition by the order key, then PIN the partitioning
    # (localCheckpoint): spark_partition_id() must refer to one
    # materialized layout across the totals job and the final job
    parted = (
        src.repartitionByRange(n_part, F.col(key))
        .withColumn("_pid", F.spark_partition_id())
        .localCheckpoint(eager=True)
    )
    totals = {
        r["_pid"]: r["t"]
        for r in parted.groupBy("_pid")
        .agg(F.sum(F.col(len_col).cast("long")).alias("t"))
        .collect()
    }
    offsets, acc = {}, 0
    for pid in sorted(totals):
        offsets[pid] = acc
        acc += totals[pid]
    off = df.sparkSession.createDataFrame(
        [(p, o) for p, o in offsets.items()], "_pid int, _off long"
    )
    w = Window.partitionBy("_pid").orderBy(key)
    start = (
        F.sum(F.col(len_col).cast("long")).over(w)
        - F.col(len_col).cast("long")
        + F.col("_off")
    )
    return (
        parted.join(F.broadcast(off), "_pid")
        .withColumn("seq_start", start)
        .withColumn("bin", F.expr(f"seq_start div {budget}L"))
        .withColumn("bin_offset", F.col("seq_start") % budget)
        .drop("_pid", "_off")
    )


def stratified_topk_sample(
    df: DataFrame,
    id_col: str,
    strata_col: str,
    k: int,
    digits: int = HEX_DIGITS,
) -> DataFrame:
    """Exactly min(k, |stratum|) rows per stratum, picked by hash
    order (ties broken by id) — deterministic per-stratum reservoir
    sampling. One shuffle keyed by the stratum; per-partition top-k
    via row_number, no global sort. Skewed strata are bounded by k
    rows of output each; at 100 TB a hot stratum's window sort is the
    only heavy stage and is itself O(|stratum| log k) with Spark's
    windowed top-k."""
    w = Window.partitionBy(strata_col).orderBy(
        hash_hex(id_col, digits), F.col(id_col)
    )
    return (
        df.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= k)
        .drop("_rk")
    )


def shard_assignments(
    df: DataFrame, id_col: str, rows_per_shard: int
) -> DataFrame:
    """Deterministic size-balanced shard ids: shard = global row rank
    (ordered by ``id_col``) div ``rows_per_shard`` — the layout step
    before writing a training corpus as fixed-size shards. Reuses the
    pack_sequences two-phase prefix sum with unit lengths, so there is
    no global single-partition window at any scale and the assignment
    is partitioning-independent (oracle-checkable against a plain
    ROW_NUMBER)."""
    out = pack_sequences(
        df.withColumn("_one", F.lit(1)), id_col, "_one", rows_per_shard
    )
    return (
        out.withColumnRenamed("bin", "shard")
        .drop("seq_start", "bin_offset", "_one")
    )


def write_shards(
    df: DataFrame, id_col: str, path: str, rows_per_shard: int
) -> DataFrame:
    """Materialize the corpus as size-balanced parquet shards
    (``shard=NNN/`` directories, one writer task per shard) and return
    the shard manifest (shard, n_rows, min/max id). At 100 TB this is
    the standard output stage: shard boundaries are deterministic in
    id order, each shard is one partition's sequential write, and
    re-runs produce identical layouts."""
    sharded = shard_assignments(df, id_col, rows_per_shard)
    sharded.repartition(F.col("shard")).write.mode("overwrite").partitionBy(
        "shard"
    ).parquet(path)
    return (
        read_parquet(df.sparkSession, path)
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min(id_col).alias("min_id"),
            F.max(id_col).alias("max_id"),
        )
    )


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    id_col: str = "doc_id",
    fp_col: str = "fp",
) -> DataFrame:
    """Corpus snapshot diff by content fingerprint: classify every id
    as added (new only), removed (old only), changed (both, different
    fingerprint) or unchanged — the incremental-pipeline primitive
    that bounds recomputation to the delta between two corpus
    versions (re-dedup, re-index and re-shard only the changed set).

    One full-outer equi-join on the id. At 100 TB both snapshots are
    written id-bucketed (write_shards' layout), so the join is
    co-located — no shuffle of either snapshot; here it is the plain
    two-sided hash join. Fingerprints are md5 content hashes
    (text.fingerprint), so the classification is exact and
    cross-engine verifiable."""
    o = old.select(F.col(id_col).alias("id"), F.col(fp_col).alias("old_fp"))
    nw = new.select(F.col(id_col).alias("id"), F.col(fp_col).alias("new_fp"))
    status = (
        F.when(F.col("old_fp").isNull(), F.lit("added"))
        .when(F.col("new_fp").isNull(), F.lit("removed"))
        .when(F.col("old_fp") != F.col("new_fp"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    return o.join(nw, "id", "full_outer").select(
        F.col("id").alias(id_col), status.alias("status")
    )


def leakage_safe_split(
    df: DataFrame,
    id_col: str,
    pairs: DataFrame,
    splits: dict[str, float],
    a_col: str = "a",
    b_col: str = "b",
    digits: int = HEX_DIGITS,
) -> DataFrame:
    """Train/val(/test) split that near-duplicates can never straddle
    — the leakage guard of a training-data pipeline. A plain
    hash-split assigns each *document* independently, so the two
    halves of a near-dup pair routinely land on opposite sides of the
    train/eval boundary and the eval set leaks into training. Here
    the split key is the document's near-dup *cluster* (connected
    component over ``pairs``, e.g. the MinHash-LSH pair graph;
    singletons key on their own id), so every member of a cluster
    shares one deterministic assignment by construction.

    ``splits`` maps name → fraction in insertion order (fractions must
    sum to 1); assignment is md5(cluster-rep) against the cumulative
    thresholds, i.e. the same engine-independent keying as
    :func:`hash_fraction_sample` — bit-reproducible in any engine
    with md5, nested under fraction growth, and stable under any
    repartitioning.

    Scale shape: the component map covers only docs that appear in a
    pair — a small fraction of any deduplicated corpus — so the
    left join is an automatic broadcast under the session's
    autoBroadcastJoinThreshold (AQE falls back to a shuffled hash
    join on the doc id when it outgrows the cap); the assignment
    itself is a pure column expression, no added shuffle.

    Returns ``df`` plus ``dedup_group`` (the cluster rep = split key)
    and ``split``.
    """
    fracs = list(splits.values())
    if not fracs or any(f < 0 for f in fracs):
        raise ValueError("splits must be non-negative fractions")
    if abs(sum(fracs) - 1.0) > 1e-9:
        raise ValueError(f"split fractions must sum to 1, got {sum(fracs)}")
    from raft_c_spark.operators.dedup import connected_components

    comp = connected_components(pairs, a_col, b_col).withColumnRenamed(
        "doc", "_cc_doc"
    )
    keyed = df.join(
        comp, df[id_col] == comp["_cc_doc"], "left"
    ).withColumn(
        "dedup_group", F.coalesce(F.col("component"), F.col(id_col))
    ).drop("_cc_doc", "component")
    key = hash_hex("dedup_group", digits)
    names = list(splits)
    assign = F.lit(names[-1])  # last interval absorbs hex rounding
    acc = 0.0
    bounds = []
    for name, frac in zip(names[:-1], fracs[:-1]):
        acc += frac
        bounds.append((name, _threshold(acc, digits)))
    for name, bound in reversed(bounds):
        assign = F.when(key < F.lit(bound), F.lit(name)).otherwise(assign)
    return keyed.withColumn("split", assign)


#: hex digits of the temperature-sampling threshold grid: 3 digits →
#: rate resolution 1/4096 ≈ 0.024% — coarse on purpose: the rate is a
#: computed double (pow/sum/divide), and snapping it to a 12-bit grid
#: makes the engines' last-ulp libm differences unobservable unless a
#: rate lands within ~1e-12 of a grid boundary
TEMP_DIGITS = 3


def temperature_sample(
    df: DataFrame,
    id_col: str,
    strata_col: str,
    alpha: float = 0.5,
    budget_frac: float = 0.5,
    digits: int = TEMP_DIGITS,
) -> DataFrame:
    """Temperature-weighted mixture sampling — the standard
    multilingual/multi-source rebalancing rule (sample source s with
    probability ∝ count_s^α, α<1 upweights the tail): expected draws
    per stratum n_s = budget · count_s^α / Σ count^α with
    budget = budget_frac · N, realized as a deterministic
    hash-Bernoulli keep-rate f_s = min(1, n_s / count_s) on md5(id)
    (same nested/repartition-stable selection as
    hash_fraction_sample, but the rates are *derived from the data*
    instead of hand-specified).

    Fully declarative: one map-side-combined count aggregate (S rows),
    a driver-free total via cross join, and a broadcast join of the
    S-row rate table back onto the scan — at 100 TB this is
    scan-speed with one tiny aggregate, no collect, no RNG.

    Determinism: counts are integers; pow/division run once per
    stratum and the resulting rate is floored onto a 16^digits grid
    before the hex-string compare (see TEMP_DIGITS note), so the
    selection is bit-reproducible in any engine with md5.

    Grid floor regime: a stratum whose rate floors
    below 1/16^digits would get thr = 0 and contribute ZERO rows —
    a silent total-drop when its exact expected draw count
    n_s = rate·count_s is still ≥ 1 (large strata under tight
    budgets). The threshold is therefore clamped to the minimum
    representable grid cell whenever n_s ≥ 1; the resulting
    overshoot is bounded by count_s/16^digits expected rows — raise
    ``digits`` when stratum counts approach 16^digits."""
    counts = df.groupBy(F.col(strata_col).alias("_s")).agg(
        F.count(F.lit(1)).alias("_cnt")
    )
    tot = counts.agg(
        F.sum(F.pow(F.col("_cnt").cast("double"), F.lit(alpha))).alias("_w"),
        F.sum("_cnt").alias("_n"),
    )
    grid = 16**digits
    rate = F.least(
        F.lit(1.0),
        F.lit(budget_frac)
        * F.col("_n")
        * F.pow(F.col("_cnt").cast("double"), F.lit(alpha))
        / (F.col("_w") * F.col("_cnt")),
    )
    thr_int = F.greatest(
        F.floor(rate * F.lit(grid)).cast("int"),
        F.when(rate * F.col("_cnt") >= 1, F.lit(1)).otherwise(F.lit(0)),
    )
    rates = counts.crossJoin(F.broadcast(tot)).select(
        "_s",
        thr_int.alias("thr"),
        F.when(thr_int >= grid, F.lit("g"))
        .otherwise(F.format_string(f"%0{digits}x", thr_int))
        .alias("_thr_hex"),
    )
    return (
        df.join(
            F.broadcast(rates), df[strata_col] == rates["_s"], "inner"
        )
        .filter(hash_hex(id_col, digits) < F.col("_thr_hex"))
        .drop("_s", "_thr_hex")
    )


def epoch_repeats(
    df: DataFrame,
    id_col: str,
    strata_col: str,
    alpha: float = 0.5,
    budget_epochs: float = 1.0,
    digits: int = TEMP_DIGITS,
) -> DataFrame:
    """Fractional-epoch mixture upsampling — the data-recipe rule that
    REPEATS high-value sources (Llama-style "source s runs for e_s
    epochs"): target draws per stratum n_s = budget · count_s^α /
    Σ count^α with budget = budget_epochs · N, realized per row as
    ``n_repeats`` = ⌊e_s⌋ (+1 for the deterministic md5-chosen
    fraction of rows that carries the fractional epoch), where
    e_s = n_s / count_s may exceed 1 — the upsampling dual of
    ``temperature_sample`` (which is exactly the capped e_s ≤ 1
    keep/drop special case: same hash key, same grid, identical
    selection — pinned by test). Downstream materializes repeats with
    one explode(sequence(1, n_repeats)).

    Same scale shape and determinism contract as temperature_sample:
    one S-row count aggregate, broadcast rate table, map-only
    column expressions; the fractional part snaps to the 16^digits
    grid before the hex compare."""
    counts = df.groupBy(F.col(strata_col).alias("_s")).agg(
        F.count(F.lit(1)).alias("_cnt")
    )
    tot = counts.agg(
        F.sum(F.pow(F.col("_cnt").cast("double"), F.lit(alpha))).alias("_w"),
        F.sum("_cnt").alias("_n"),
    )
    grid = 16**digits
    epochs = (
        F.lit(budget_epochs)
        * F.col("_n")
        * F.pow(F.col("_cnt").cast("double"), F.lit(alpha))
        / (F.col("_w") * F.col("_cnt"))
    )
    base = F.floor(epochs).cast("int")
    # same grid-floor clamp as temperature_sample: a
    # sub-epoch stratum (base = 0) whose fraction floors to 0 would
    # vanish entirely even with n_s = e_s·count_s ≥ 1 expected draws
    frac_thr = F.greatest(
        F.floor((epochs - F.floor(epochs)) * F.lit(grid)).cast("int"),
        F.when(
            (base == 0) & (epochs * F.col("_cnt") >= 1), F.lit(1)
        ).otherwise(F.lit(0)),
    )
    rates = counts.crossJoin(F.broadcast(tot)).select(
        "_s",
        base.alias("base_epochs"),
        frac_thr.alias("frac_thr"),
        F.when(frac_thr >= grid, F.lit("g"))
        .otherwise(F.format_string(f"%0{digits}x", frac_thr))
        .alias("_thr_hex"),
    )
    extra = (
        (hash_hex(id_col, digits) < F.col("_thr_hex")).cast("int")
    )
    return (
        df.join(F.broadcast(rates), df[strata_col] == rates["_s"], "inner")
        .withColumn("n_repeats", F.col("base_epochs") + extra)
        .drop("_s", "_thr_hex")
    )


#: DSIR hashed-feature space: 4096 buckets keeps the per-bucket count
#: table broadcastable at ANY corpus size (the table is B rows no
#: matter how many documents flow through) while leaving hash
#: collisions at the level the method tolerates by design (DSIR's
#: hashed n-grams ARE a collision-accepting sketch).
DSIR_BUCKETS = 4096


def importance_weights(
    df: DataFrame,
    id_col: str,
    text_col: str,
    target_col: str,
    num_buckets: int = DSIR_BUCKETS,
    cache_key: str | None = None,
) -> DataFrame:
    """Hashed n-gram importance weights for data selection — DSIR
    (Xie et al., "Data Selection for Language Models via Importance
    Resampling", NeurIPS 2023, public): score every raw document by
    how much its hashed unigram+bigram feature distribution looks
    like a small high-quality TARGET subset, log w(x) =
    Σ_f [log p̂_target(f) − log p̂_raw(f)], with add-one–smoothed
    bucket probabilities. Downstream selects top-k by weight or
    Gumbel-resamples — both deterministic given these weights.

    ``target_col`` is a boolean column marking the target docs (they
    are scored too — harmless, and keeping one stream avoids a second
    pass over the text).

    Determinism contract (same rule as ``text.ngram_lm_score``):
    bucket ids come from md5 (the one hash Spark and DuckDB share —
    first 8 hex digits → int, mod B), counts are integers, each
    bucket's log-ratio is rounded to 8 decimals and cast to
    DECIMAL(18,8) BEFORE the per-doc sum (exact and
    order-independent), and the final cast to double is one IEEE op.

    Scale shape: tokenize → map-side unigram+bigram transform →
    explode to one (doc, bucket) stream, cached (two consumers, one
    text parse). ONE map-side-combined aggregate computes BOTH
    distributions (count(*) + conditional sum — the target counts
    ride the same shuffle), totals REDUCE the B-row count frame via a
    broadcast cross join, and the B-row (≤4096) log-ratio table
    broadcast-joins back onto the stream for the per-doc sum. The
    corpus stream shuffles exactly twice (bucket aggregate, doc
    aggregate); nothing grows with corpus size except those two
    linear passes. The cached occurrence stream stays pinned for the
    session (same contract as ``text.ngram_lm_score``): the
    registry's per-query ``clearCache()`` hygiene releases it between
    driver queries, and long-lived library sessions should
    ``spark.catalog.clearCache()`` between corpora.

    ``cache_key`` persists the scored frame per corpus (the same
    stored-column layout as the minhash signatures/pair frames): the
    weights are derived state every downstream consumer — selection,
    resampling, mixture design — reads repeatedly, so scoring is paid
    once per corpus, not per query."""
    key = None
    if cache_key is not None:
        key = (
            f"dsirweights_{cache_key}_{id_col}_{text_col}_{target_col}"
            f"_b{num_buckets}_v1"
        )

    def build():
        toks = F.regexp_extract_all(
            F.lower(F.col(text_col)), F.lit("[a-z0-9]+"), F.lit(0)
        )
        base = df.select(
            F.col(id_col).alias("doc"),
            F.col(target_col).cast("boolean").alias("is_tgt"),
            toks.alias("toks"),
        )
        idxs = F.filter(
            F.sequence(F.lit(1), F.greatest(F.size("toks") - 1, F.lit(1))),
            lambda i: (i + 1) <= F.size("toks"),
        )
        bigrams = F.transform(
            idxs,
            lambda i: F.concat_ws(
                " ", F.element_at("toks", i), F.element_at("toks", i + 1)
            ),
        )
        occ = (
            base.select(
                "doc",
                "is_tgt",
                F.explode(F.concat(F.col("toks"), bigrams)).alias("g"),
            )
            .select(
                "doc",
                "is_tgt",
                F.pmod(
                    F.conv(
                        F.substring(F.md5(F.col("g").cast("binary")), 1, 8),
                        16,
                        10,
                    ).cast("long"),
                    F.lit(num_buckets),
                ).alias("b"),
            )
            .cache()
        )
        cnt = occ.groupBy("b").agg(
            F.count(F.lit(1)).alias("c_raw"),
            F.sum(F.col("is_tgt").cast("long")).alias("c_tgt"),
        )
        tot = cnt.agg(
            F.sum("c_raw").alias("n_raw"), F.sum("c_tgt").alias("n_tgt")
        )
        lr = F.log(
            (F.col("c_tgt") + 1).cast("double")
            / (F.col("n_tgt") + num_buckets).cast("double")
        ) - F.log(
            (F.col("c_raw") + 1).cast("double")
            / (F.col("n_raw") + num_buckets).cast("double")
        )
        rates = cnt.crossJoin(F.broadcast(tot)).select(
            "b", F.round(lr, 8).cast("decimal(18,8)").alias("lr")
        )
        scored = (
            occ.join(F.broadcast(rates), ["b"])
            .groupBy("doc")
            .agg(
                F.count(F.lit(1)).alias("n_feats"),
                F.sum("lr").cast("double").alias("log_weight"),
            )
            .select(F.col("doc").alias(id_col), "n_feats", "log_weight")
        )
        # docs with no [a-z0-9] tokens produce zero feature rows and would
        # otherwise vanish from the output entirely; "score EVERY raw
        # document" means they carry the neutral weight (empty product →
        # log w = 0) so downstream selection still sees them. Map-only
        # union — no join back onto the corpus.
        empty = base.filter(F.size("toks") == 0).select(
            F.col("doc").alias(id_col),
            F.lit(0).cast("long").alias("n_feats"),
            F.lit(0.0).alias("log_weight"),
        )
        return scored.unionByName(empty)

    return cached_parquet(df.sparkSession, key, build)


def gumbel_topk(
    df: DataFrame,
    id_col: str,
    weight_col: str,
    k: int,
) -> DataFrame:
    """Deterministic weighted sampling WITHOUT replacement: draw
    exactly ``k`` rows with inclusion odds ∝ softmax(weight) via the
    Gumbel-top-k trick (Kool et al., "Stochastic Beams and Where to
    Find Them", ICML 2019 — public): key = weight + Gumbel noise,
    keep the k largest keys. The noise is derived from md5(id)
    instead of an RNG — u = (h + 1)/(2^32 + 2) ∈ (0,1) from the
    first 8 md5 hex digits, g = −ln(−ln u) — so the draw is
    reproducible on any engine, repartition-stable, and
    oracle-checkable (the same recipe as every sampler in this
    module). Completes DSIR: ``importance_weights`` scores, this
    RESAMPLES.

    Determinism contract: u is an exact rational of exact integers;
    the two ln calls may differ from another engine's libm in the
    last ulp, so the key is rounded to 8 decimals and cast to
    DECIMAL(18,8) *for the ordering*, with the id as the total-order
    tiebreak. The *emitted* column is that decimal cast back to
    DOUBLE: decimal(18,8) → double is correctly rounded on every
    engine, so the values stay bit-identical cross-engine, while the
    serialized form avoids Decimal canonicalization differences
    (trailing-zero/exponent forms) that trip serialized-value
    hashing even when the decimals compare equal.

    Scale shape: the key is a map-only column expression and the
    top-k is an ``orderBy(...).limit(k)`` — Catalyst plans
    TakeOrderedAndProject (per-partition heaps + one k-row driver
    merge), never a global sort. One pass, zero shuffles."""
    h = F.conv(
        F.substring(F.md5(F.col(id_col).cast("string").cast("binary")), 1, 8),
        16,
        10,
    ).cast("long")
    u = (h + F.lit(1)).cast("double") / F.lit(float(2**32 + 2))
    g = -F.log(-F.log(u))
    key = (
        F.round(F.col(weight_col).cast("double") + g, 8)
        .cast("decimal(18,8)")
        .alias("gumbel_key")
    )
    return (
        df.withColumn("gumbel_key", key)
        .orderBy(F.col("gumbel_key").desc(), F.col(id_col))
        .limit(k)
        .withColumn("gumbel_key", F.col("gumbel_key").cast("double"))
    )


def training_order(
    df: DataFrame, id_col: str, rows_per_shard: int
) -> DataFrame:
    """Deterministic global shuffle for training order: rank every row
    by md5(id) — a reproducible uniform permutation, the standard
    "shuffle the corpus once before sharding" step — and cut the
    permutation into size-balanced shards. Readers then stream shards
    in order and sort each shard in memory by ``shuffle_key`` (shards
    are bounded), giving the exact md5 permutation with NO global
    sort: the rank comes from the pack_sequences two-phase prefix sum
    over the key-ordered partitions, so no single-partition window
    exists at any scale and the layout replays bit-identically
    (oracle: plain ROW_NUMBER over the same md5 key)."""
    key = F.md5(F.col(id_col).cast("string").cast("binary"))
    # project to the id before the pack: the prefix-sum machinery
    # materializes its input twice (range shuffle + pinned checkpoint),
    # and this operator only ever returns (id, shuffle_key, shard) —
    # carrying the corpus's payload columns through both
    # materializations was pure waste (guide §2.3: project before the
    # exchange)
    out = shard_assignments(
        df.select(F.col(id_col)).withColumn("shuffle_key", key),
        "shuffle_key",
        rows_per_shard,
    )
    return out.select(
        F.col(id_col),
        "shuffle_key",
        F.col("shard").cast("long").alias("shard"),
    )


def token_budget_mix(
    df: DataFrame,
    id_col: str,
    source_col: str,
    tokens_col: str,
    weight_col: str,
    budget_frac: float = 0.5,
) -> DataFrame:
    """Token-budget mixture planning + deterministic selection — the
    step a pre-training data recipe runs once per corpus version:
    given per-document token counts, per-source raw mixture weights,
    and a global token budget (``budget_frac`` of the corpus), derive
    each source's sampling rate

        rate_s = min(1, (budget · weight_s / Σweights) / tokens_s)

    (a source owed more tokens than it has is taken whole — the
    standard up-to-capacity allocation) and select documents by the
    md5-fraction rule, so the same rows are chosen on any engine, any
    partitioning, any rerun. Output: one row per document with its
    source's rate and the selection flag.

    Scale shape: ONE map-side-combined per-source aggregate (S rows),
    a 1-row total, rate arithmetic on the S-row frame, broadcast back
    onto the scan — the corpus is touched once and never pre-shuffles;
    selection is a map-only md5 expression. Every arithmetic step is
    aliased into a fixed evaluation order so the DuckDB oracle
    replays rates bit-identically.
    """
    per_src = df.groupBy(source_col).agg(
        F.sum(F.col(tokens_col).cast("long")).alias("_src_tokens"),
        F.min(F.col(weight_col).cast("long")).alias("_w"),
    )
    totals = per_src.agg(
        F.sum("_src_tokens").alias("_total_tokens"),
        F.sum("_w").alias("_sum_w"),
    )
    rates = (
        per_src.crossJoin(F.broadcast(totals))
        .withColumn(
            "_budget",
            F.lit(float(budget_frac)) * F.col("_total_tokens").cast("double"),
        )
        .withColumn(
            "_share", F.col("_w").cast("double") / F.col("_sum_w").cast("double")
        )
        .withColumn(
            "rate",
            # a zero-token source is trivially within any budget →
            # taken whole (rate 1.0); without the guard Spark's Divide
            # returns NULL on the 0 divisor and every row of the
            # source gets NULL rate/selected
            F.when(F.col("_src_tokens") == 0, F.lit(1.0)).otherwise(
                F.least(
                    F.lit(1.0),
                    (F.col("_budget") * F.col("_share"))
                    / F.col("_src_tokens").cast("double"),
                )
            ),
        )
        .select(source_col, "rate")
    )
    frac = (
        F.conv(
            F.substring(F.md5(F.col(id_col).cast("string")), 1, HEX_DIGITS),
            16,
            10,
        ).cast("long")
        / F.lit(float(16**HEX_DIGITS))
    )
    return (
        df.join(F.broadcast(rates), source_col)
        .withColumn("selected", frac < F.col("rate"))
        .select(
            F.col(id_col),
            F.col(source_col),
            F.col(tokens_col).cast("long").alias(tokens_col),
            "rate",
            "selected",
        )
    )
