"""Plan-quality assertions: these lock in the 100 TB design choices —
predicate pushdown to the parquet scan, broadcast joins for
dimensions, partial aggregation — by inspecting the physical plan.
A regression here is a performance bug even when results stay correct."""

from __future__ import annotations

import io
import os
import re
from contextlib import redirect_stdout

import pytest
from pyspark.sql import functions as F

from raft_c_spark.engine import Engine
from raft_c_spark.plans import tpch, tpch2, tpch3, tpch4
from raft_c_spark.sources import tsstore
from raft_c_spark.sources.testdata import TABLES, load_table
from tests.harness import jobs_in


def plan_of(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


@pytest.fixture(scope="module")
def wide_sf_dir(spark, sf_dir, tmp_path_factory) -> str:
    """``sf_dir`` with ``documents`` rewritten as at least 64 parquet
    files (and at least one per task thread), the other tables linked.
    Such a scan already runs at the session's parallelism, so
    ``metabound._widen`` leaves it as it is and the plan is the one a
    cluster-scale corpus gets."""
    import pyarrow.parquet as pq

    out = tmp_path_factory.mktemp("wide_sf")
    for t in TABLES:
        if t != "documents":
            os.symlink(os.path.join(sf_dir, f"{t}.parquet"), out / f"{t}.parquet")
    docs = pq.read_table(os.path.join(sf_dir, "documents.parquet"))
    n = max(64, spark.sparkContext.defaultParallelism)
    assert docs.num_rows >= n
    (out / "documents.parquet").mkdir()
    for i in range(n):
        lo, hi = i * docs.num_rows // n, (i + 1) * docs.num_rows // n
        pq.write_table(docs.slice(lo, hi - lo), out / "documents.parquet" / f"part-{i:05d}.parquet")
    return str(out)


def test_store_range_scan_pushes_down(spark, tmp_path, monkeypatch):
    """Within the one-task bounds a series is answered on the driver:
    used as a DataFrame, each statement's answer is a ``LocalTableScan``
    with no parquet scan, and it collects with no job. Past them
    (``ONE_TASK_MAX_FILES`` forced to 1, below the range's 2 files),
    range predicates on the materialized store reach the parquet scan
    (PushedFilters) AND prune day partitions (PartitionFilters on both
    ends of ``day``) — the sparse-index + partition-pruning parity of
    the reference (src/index.c:65-109, src/timeseries.c:882-891).
    SAMPLE BY scans its normalized range the same way, and a WHERE
    predicate reaches the scan."""
    eng = Engine(spark, warehouse=str(tmp_path / "wh"))
    eng.execute("CREATEDB d")
    eng.execute("USE d")
    eng.execute("CREATE s")
    base = 1_700_000_000_000_000_000
    day = 86_400_000_000_000
    rows = ",".join(
        f"({base + i * day}, {float(i)})" for i in range(5)
    )
    eng.execute(f"INSERT INTO s VALUES {rows}")
    stmts = (
        f"SELECT value FROM s BETWEEN {base + day} AND {base + 2 * day}",
        f"SELECT avg(value) FROM s BETWEEN {base + day} AND {base + 2 * day}"
        " SAMPLE BY 1h",
        f"SELECT value FROM s BETWEEN {base + day} AND {base + 2 * day}"
        " WHERE value > 1.5",
    )
    for stmt in stmts:
        df = eng.execute(stmt)
        plan = plan_of(df)
        tree = plan.split("\n\n")[0]
        assert "Scan parquet" not in plan, plan
        assert "LocalTableScan" in tree, plan
        assert jobs_in(spark, df.collect)[0] == 0, stmt
    monkeypatch.setattr(tsstore, "ONE_TASK_MAX_FILES", 1)
    for stmt in stmts:
        plan = plan_of(eng.execute(stmt))
        assert "PushedFilters: [" in plan
        assert "GreaterThanOrEqual(timestamp" in plan, plan
        assert "LessThanOrEqual(timestamp" in plan, plan
        # day is a physical partition column → partition pruning applies
        partition_filters = "".join(
            line for line in plan.splitlines() if "PartitionFilters:" in line
        )
        assert re.search(r"\(day#\d+L >= ", partition_filters), plan
        assert re.search(r"\(day#\d+L <= ", partition_filters), plan
        if "WHERE" in stmt:
            pushed = "".join(
                line for line in plan.splitlines() if "PushedFilters:" in line
            )
            assert "GreaterThan(value,1.5)" in pushed, plan


def test_events_scan_prunes_columns(spark, sf_dir):
    """Column pruning: a 2-column projection must not read all 6
    event columns (ReadSchema check)."""
    ev = load_table(spark, sf_dir, "events")
    df = ev.select("event_type", "value")
    plan = plan_of(df)
    read_schema = [
        line for line in plan.splitlines() if "ReadSchema" in line
    ][0]
    assert "event_type" in read_schema and "value" in read_schema
    assert "props" not in read_schema and "user_id" not in read_schema


def test_tpch_q3_broadcasts_dimensions(spark, sf_dir):
    plan = plan_of(tpch.q_shipping_priority(spark, sf_dir))
    assert "BroadcastHashJoin" in plan


def _tree_string(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _broadcast_subtrees(tree: str) -> list[str]:
    """Extract each BroadcastExchange node's subtree from Spark's
    indented tree string (markers '+-'/':-'; descendants sit at a
    strictly greater marker column)."""

    def marker_col(line: str) -> int:
        p, q = line.find("+-"), line.find(":-")
        cands = [c for c in (p, q) if c >= 0]
        return min(cands) if cands else -1

    lines = tree.splitlines()
    out = []
    for i, line in enumerate(lines):
        if "BroadcastExchange" not in line:
            continue
        col = marker_col(line)
        sub = [line]
        for nxt in lines[i + 1 :]:
            c = marker_col(nxt)
            if c >= 0 and c <= col:
                break
            sub.append(nxt)
        out.append("\n".join(sub))
    return out


_ALL_TPCH = {}
_ALL_TPCH.update(tpch.QUERIES)
_ALL_TPCH.update(tpch2.QUERIES)
_ALL_TPCH.update(tpch3.QUERIES)
_ALL_TPCH.update(tpch4.QUERIES)


@pytest.mark.parametrize("name", sorted(_ALL_TPCH))
def test_no_fact_table_under_broadcast(spark, sf_dir, name):
    """100 TB guard: orders/lineitem are fact tables (grow with SF) —
    they must never sit under a hinted BroadcastExchange. A fact scan
    inside a broadcast subtree is allowed only when a groupless
    aggregate (keys=[], ≤1 row) bounds it first (e.g. a scalar max)."""
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = _ALL_TPCH[name](spark, sf_dir)
        for sub in _broadcast_subtrees(_tree_string(df)):
            fact_scan = any(
                "FileScan" in l
                and ("orders.parquet" in l or "lineitem.parquet" in l)
                for l in sub.splitlines()
            )
            if fact_scan:
                assert "HashAggregate(keys=[]" in sub, (
                    f"{name}: unbounded fact table under BroadcastExchange:\n"
                    + sub
                )
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")


def test_tpch_q1_partial_aggregation(spark, sf_dir):
    plan = plan_of(tpch.q_pricing_summary(spark, sf_dir))
    # partial+final split (map-side combine before the shuffle)
    assert plan.count("HashAggregate") >= 2
    assert "Functions: [partial_" in plan or "partial_sum" in plan


def test_tpch_q6_filter_pushdown(spark, sf_dir):
    plan = plan_of(tpch.q_forecast_revenue(spark, sf_dir))
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l][0]
    assert "l_shipdate" in pushed and "l_discount" in pushed, pushed


def test_whole_stage_codegen_covers_text_analysis(spark, wide_sf_dir):
    """Text analysis must stay inside whole-stage codegen (no Python
    UDF stages in the plan). Pinned on a many-file corpus, where the
    metabound._widen parallelism guard adds nothing; its round-robin exchange
    on a single small file is pinned separately by
    test_scan_wide_exchange_is_round_robin_only."""
    from raft_c_spark.operators import text

    docs = load_table(spark, wide_sf_dir, "documents")
    plan = plan_of(text.analyze(docs))
    # formatted mode marks codegen'd operators with a '*' prefix
    assert "* Project" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_scan_wide_exchange_is_round_robin_only(spark, sf_dir):
    """The ONLY Exchange the widened map-only text operators gain from
    the ``metabound._widen`` guard is its round-robin
    repartition — never a hash/range shuffle (values and results are
    placement-independent; the guard is a no-op on many-file scans)."""
    import re

    from raft_c_spark.operators import text

    docs = load_table(spark, sf_dir, "documents")
    for frame in (text.analyze(docs), text.gopher_rules(docs, min_words=10)):
        plan = plan_of(frame)
        exchanges = re.findall(r"Arguments: (\w+)partitioning", plan)
        assert all(kind == "roundrobin" for kind in exchanges), plan


def test_widen_skips_rdd_probe_on_non_scan_frames(spark, sf_dir):
    """_effective_splits must short-circuit on frames that are not
    bare scan projections: touching df.rdd on an AQE plan finalizes
    it, executing every upstream shuffle stage as real jobs at
    plan-construction time (a build/execute profile caught ds_pipeline_e2e
    paying 5 extra build jobs for exactly this)."""
    from raft_c_spark.functions.metabound import _effective_splits, _widen

    docs = load_table(spark, sf_dir, "documents")
    agg = docs.groupBy("lang").count()
    assert _effective_splits(agg) >= (1 << 30)
    # and _widen leaves such frames untouched (no Repartition node)
    assert _widen(agg) is agg

def test_events_adapter_range_pushdown(spark, sf_dir):
    """Range-bounded adapter loads push the window to the raw physical
    ts column (a filter on the derived truncated column cannot)."""
    from raft_c_spark.plans.parity import q_range_scan

    plan = plan_of(q_range_scan(spark, sf_dir))
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l][0]
    assert "GreaterThanOrEqual(ts" in pushed and "LessThanOrEqual(ts" in pushed


def test_mixture_sample_is_shuffle_free(spark, sf_dir):
    """hash_fraction_sample is a pure filter: selection must reach the
    scan with zero Exchange operators — the property that lets it run
    as a map-only stage over 100 TB."""
    from raft_c_spark.operators import sampling

    docs = load_table(spark, sf_dir, "documents")
    plan = plan_of(
        sampling.hash_fraction_sample(
            docs, "doc_id", strata_col="lang", fractions={"en": 0.3}
        )
    )
    assert "Exchange" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_stratified_topk_single_shuffle(spark, sf_dir):
    """stratified_topk_sample costs exactly one shuffle (hash by the
    stratum for the window) — no global sort, no extra exchanges."""
    from raft_c_spark.operators import sampling

    import re

    docs = load_table(spark, sf_dir, "documents")
    plan = plan_of(sampling.stratified_topk_sample(docs, "doc_id", "source", 5))
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1, plan
    assert "rangepartitioning" not in plan  # no global sort
    # bonus: Spark inserts a partial top-k (WindowGroupLimit) BEFORE
    # the shuffle — the map-side-combine of windowed top-k
    assert plan.index("WindowGroupLimit") < plan.index("Exchange")


def test_lsh_index_probe_partition_prunes(spark, sf_dir, tmp_path):
    """The persisted LSH index probe must carry sig_hi partition
    filters (directory pruning) — the probe reads buckets, not the
    index, let alone the corpus."""
    import uuid

    from raft_c_spark.operators import similarity

    emb = load_table(spark, sf_dir, "embeddings")
    q = [float(x) for x in emb.limit(1).collect()[0]["embedding"]]
    df = similarity.lsh_bucketed_topk(
        emb, q, k=5, bits=8, tables=4, cache_key=f"plan_{uuid.uuid4().hex[:8]}"
    )
    plan = plan_of(df)
    pf = [l for l in plan.splitlines() if "PartitionFilters: [(" in l]
    assert pf and "sig_hi" in pf[0], plan


def test_chunking_is_shuffle_free(spark, sf_dir):
    """Token chunking is a pure per-row transform: no Exchange anywhere
    in the plan, and the scan reads only (doc_id, text)."""
    from raft_c_spark.plans.text import q_text_chunks

    plan = plan_of(q_text_chunks(spark, sf_dir))
    assert "Exchange" not in plan, plan
    assert "doc_id" in plan and "text" in plan


def test_heavy_hitters_takeordered_topk(spark, sf_dir):
    """Corpus top-k uses TakeOrdered (per-partition heap + driver
    merge of k rows), never a global Sort over the gram counts."""
    from raft_c_spark.plans.text import q_text_heavy_hitters

    plan = plan_of(q_text_heavy_hitters(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan, plan
    assert "partial" in plan  # map-side combine on the gram aggregate


def test_stream_state_partitions_ignore_session_conf(spark, sf_dir):
    """State-store sizing must not inherit the *driver's* session
    shuffle default (the verification harness builds its own session
    with arbitrary confs): the count is a pure function of input
    volume and core parallelism."""
    from raft_c_spark.plans.streaming import STATE_FLOOR, _state_partitions

    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    try:
        spark.conf.set(key, "200")
        n200 = _state_partitions(spark, sf_dir)
        spark.conf.set(key, "3")
        n3 = _state_partitions(spark, sf_dir)
    finally:
        spark.conf.set(key, prev)
    assert n200 == n3, "state partitions must not depend on session conf"
    assert n200 == STATE_FLOOR  # tiny test file → floor
    cores = spark.sparkContext.defaultParallelism
    assert n200 <= max(STATE_FLOOR, cores)


def test_stream_query_restores_shuffle_conf(spark, sf_dir):
    """The scoped shuffle-partition override used for the streaming
    state stores must restore the session value afterwards — the
    driver runs ~50 more queries in the same session."""
    from raft_c_spark.plans.streaming import q_stream_tumbling_avg

    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    out = q_stream_tumbling_avg(spark, sf_dir)
    assert out.count() > 0
    assert spark.conf.get(key) == prev


def test_decontaminate_broadcast_filter_no_train_preshuffle(spark, wide_sf_dir):
    """The training gram stream must reach the eval-gram join WITHOUT
    a shuffle of its own (the join is a broadcast map-side filter;
    only hit rows shuffle into the count). A distinct/exchange on the
    train side before the join would shuffle the whole corpus's grams
    at scale. On a many-file corpus: the metabound._widen round-robin
    exchange a single small file gets is a local scan-parallelism fix,
    not a gram shuffle (pinned round-robin-only elsewhere)."""
    from raft_c_spark.plans.sampling import q_ds_decontaminate

    plan = plan_of(q_ds_decontaminate(spark, wide_sf_dir))
    assert "BroadcastHashJoin" in plan, plan
    # In the formatted tree, the join's stream side is the ":-" branch
    # printed between the BroadcastHashJoin line and its build-side
    # "+- BroadcastExchange" sibling — no Exchange may appear there.
    lines = plan.splitlines()
    join_i = next(i for i, l in enumerate(lines) if "BroadcastHashJoin" in l)
    stream_branch = []
    for line in lines[join_i + 1 :]:
        if "BroadcastExchange" in line:
            break
        stream_branch.append(line)
    assert stream_branch, plan
    assert not any("Exchange" in l for l in stream_branch), plan


def test_repetition_metrics_shuffle_free(spark, wide_sf_dir):
    """Repetition fractions are pure per-row expressions: no Exchange
    anywhere in the plan (many-file corpus: the guard's round-robin
    exchange on a single small file is pinned round-robin-only
    elsewhere)."""
    from raft_c_spark.plans.text import q_text_repetition

    plan = plan_of(q_text_repetition(spark, wide_sf_dir))
    assert "Exchange" not in plan, plan


def test_no_cartesian_in_any_window_query(spark, sf_dir):
    """Sweep every registered batch query (window and beyond): no
    CartesianProduct anywhere (a BroadcastNestedLoopJoin over a
    1-row scalar frame is fine — the scalar-attach pattern — but a
    true cartesian is always a scale bug)."""
    from raft_c_spark.plans.registry import all_queries

    qs = list(all_queries().items())
    offenders = []
    for name, fn in qs:
        if name.startswith(("stream_", "mm_")):
            continue  # eager streaming execution / generated media
        plan = plan_of(fn(spark, sf_dir))
        if "CartesianProduct" in plan:
            offenders.append(name)
    assert not offenders, offenders


def test_shard_manifest_no_global_window(spark, sf_dir):
    """The shard layout must never collapse to a single-partition
    global window — the two-phase prefix rank keeps every exchange
    partitioned."""
    from raft_c_spark.plans.extras import q_ds_shard_manifest

    plan = plan_of(q_ds_shard_manifest(spark, sf_dir))
    assert "SinglePartition" not in plan, plan


def test_minhash_incr_banded_join_broadcasts_small_side(spark, sf_dir):
    """Incremental dedup's cross-corpus band join should broadcast a
    banded side at this corpus size (above the cap it shuffles on
    (band, bucket) — the scale shape). Calls the builder without a
    pair_cache_key: the registry query returns the eagerly-published
    pair-cache scan, whose plan no longer contains the build join."""
    from raft_c_spark.operators import dedup
    from raft_c_spark.plans.dedup import JACCARD_THRESHOLD
    from raft_c_spark.sources.testdata import load_table

    docs = load_table(spark, sf_dir, "documents")
    new = docs.filter(F.col("doc_id") % 2 == 1)
    corpus = docs.filter(F.col("doc_id") % 2 == 0)
    plan = plan_of(
        dedup.minhash_lsh_pairs_between(
            new, corpus, "doc_id", "text", n=3, num_perm=64, bands=8,
            threshold=JACCARD_THRESHOLD,
        )
    )
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_bloom_decontaminate_no_join_no_train_preshuffle(spark, wide_sf_dir):
    """The bloom path must contain NO join at all (the filter is a
    broadcast variable probed in a kernel), and the only Exchange is
    the final per-doc aggregation of surviving hits — the training
    gram stream itself never shuffles. Many-file corpus (see
    test_scan_wide_exchange_is_round_robin_only)."""
    from raft_c_spark.plans.extras import q_ds_bloom_decontaminate

    plan = plan_of(q_ds_bloom_decontaminate(spark, wide_sf_dir))
    assert "Join" not in plan, plan
    # the kernel (MapInPandas) runs at scan parallelism: no Exchange
    # may precede it; the only shuffles are the two-phase distinct
    # count of the SURVIVING hits
    import re

    ops = re.findall(r"^\((\d+)\) (\w+)", plan, re.M)
    kernel_idx = next(int(i) for i, op in ops if op == "MapInPandas")
    exchange_idxs = [int(i) for i, op in ops if op == "Exchange"]
    assert all(e > kernel_idx for e in exchange_idxs), plan
    assert len(exchange_idxs) <= 2, plan


def test_quality_model_single_shuffle_no_python(spark, wide_sf_dir):
    """The scorer is tokenize→explode→hash-weight→aggregate: one
    shuffle (the doc aggregation), partial aggregation before it, and
    zero Python evaluation nodes. Many-file corpus (see
    test_scan_wide_exchange_is_round_robin_only)."""
    from raft_c_spark.plans.extras import q_text_quality_model

    plan = plan_of(q_text_quality_model(spark, wide_sf_dir))
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan, plan
    assert "partial" in plan.lower(), plan
    import re

    n_exchanges = len(re.findall(r"^\(\d+\) Exchange", plan, re.M))
    assert n_exchanges == 1, plan


def test_snapshot_diff_no_cartesian(spark, sf_dir):
    """The diff is one equi-join on the id — never a cartesian or
    nested loop."""
    from raft_c_spark.plans.extras import q_ds_snapshot_diff

    plan = plan_of(q_ds_snapshot_diff(spark, sf_dir))
    assert "CartesianProduct" not in plan, plan
    assert "Join" in plan, plan

def test_touched_partition_prune_plan_constant_in_touched_count(
    spark, tmp_path
):
    """DP_IGNORE/DP_UPDATE's touched-partition restriction must not
    grow a Catalyst predicate tree with the touched-pair count (a
    review flagged the per-pair OR-chain: thousands of touched
    partitions built a thousands-deep boolean tree). The shipped form
    is one InSet per partition column + a broadcast left-semi join on
    the exact pairs — Or-node count in the plan stays ZERO no matter
    how many partitions a batch touches, and the partition filters
    still prune directories statically."""
    from raft_c_spark.sources.tsstore import DAY_NS, TimeSeriesStore

    store = TimeSeriesStore(spark, str(tmp_path / "wh"))
    base = 1_700_000_000_000_000_000
    store.insert_df(
        "d",
        spark.createDataFrame(
            [(f"s{i % 4}", base + i * DAY_NS, float(i)) for i in range(80)],
            "series string, timestamp long, value double",
        ),
    )
    existing = store._read_raw("d")

    def or_nodes(n_touched: int) -> tuple[int, str]:
        batch = spark.createDataFrame(
            [(f"s{i % 4}", base + i * DAY_NS, 0.0) for i in range(n_touched)],
            "series string, timestamp long, value double",
        ).withColumn("day", F.expr(f"timestamp div {DAY_NS}L"))
        plan = plan_of(store._touched_existing(existing, batch))
        return plan.count(" OR "), plan

    small, plan_small = or_nodes(4)
    large, plan_large = or_nodes(80)
    assert small == large == 0, (small, large, plan_large)
    assert "PartitionFilters" in plan_large
    assert "BroadcastHashJoin" in plan_large and "LeftSemi" in plan_large, (
        plan_large
    )


def test_leakage_split_join_shape(spark, sf_dir):
    """The split's component-map join must broadcast the (small) map
    and never cartesian; the assignment itself is a pure projection
    so the only joins in the plan are the component lookup."""
    from raft_c_spark.plans.sampling import q_ds_split_leakage_safe

    plan = plan_of(q_ds_split_leakage_safe(spark, sf_dir))
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_cluster_assign_is_shuffle_free(spark, sf_dir):
    """cluster_assign's corpus pass is a map-only stage: the k centers
    ride as a literal array and argmax is a per-row array_max — zero
    Exchange, zero Python nodes (the at-100-TB property; only the
    k-row seed draw runs as a separate tiny job)."""
    from raft_c_spark.operators import similarity

    emb = load_table(spark, sf_dir, "embeddings")
    plan = plan_of(similarity.cluster_assign(emb, k=8))
    assert "Exchange" not in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_temperature_sample_broadcasts_rates(spark, sf_dir):
    """temperature_sample joins the S-row rate table onto the scan via
    broadcast — the corpus side must not sort-merge or pre-shuffle
    (its only Exchanges live under the broadcast/aggregate subtree
    that builds the rates)."""
    from raft_c_spark.operators import sampling

    docs = load_table(spark, sf_dir, "documents")
    plan = plan_of(sampling.temperature_sample(docs, "doc_id", "source"))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_lm_score_partial_aggregation(spark, sf_dir):
    """ngram_lm_score's count aggregates must map-side combine
    (HashAggregate partial/final pairs) and the per-doc mean must stay
    JVM-side — no Python nodes anywhere."""
    from raft_c_spark.operators import text

    docs = load_table(spark, sf_dir, "documents")
    plan = plan_of(text.ngram_lm_score(docs))
    assert "partial_count" in plan, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_dataset_card_single_expand_aggregate(spark, sf_dir):
    """The CUBE data card must compile to ONE Expand feeding a
    partial+final HashAggregate pair — a single scan + single shuffle
    for every granularity."""
    from raft_c_spark.plans.sampling import q_ds_dataset_card

    plan = plan_of(q_ds_dataset_card(spark, sf_dir))
    assert plan.count("Expand") >= 1, plan
    assert "partial_count" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_ahash_pairs_equi_join_no_cartesian(spark):
    """The multimodal dedup pair join must stay an equi-join on the
    pigeonhole chunk key (the mm_* family is excluded from the
    registry-wide cartesian sweep, so pin it here)."""
    from raft_c_spark.operators import multimodal as mm
    from raft_c_spark.plans.multimodal import image_dedup_corpus_path

    media = spark.read.parquet(image_dedup_corpus_path())
    plan = plan_of(mm.ahash_pairs(mm.image_ahash(media), max_hamming=4))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_repeated_spans_skew_immune_gram_count(spark, sf_dir):
    """The corpus-wide gram count must be the map-side-combined
    aggregate on the 128-bit gram hash, never a
    window partitioned by gram: a hot boilerplate gram under
    Window.partitionBy(gram) lands in ONE partition — the skew shape
    this pin forbids. The repeated-key set must be persisted (the
    measured-cap count must not recompute the aggregate) and
    broadcast under the cap so the gram probe stream never shuffles
    for the join."""
    from raft_c_spark.operators import dedup
    from raft_c_spark.sources.testdata import load_table

    docs = load_table(spark, sf_dir, "documents")
    df = dedup.repeated_substring_spans(docs, "doc_id", "text", min_len=40)
    plan = plan_of(df)
    # the only windows left are the per-doc gaps-and-islands passes
    assert "partial_count" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    assert "InMemoryTableScan" in plan, plan  # persisted key set
    # no window function reads the gram/hash columns; window specs in
    # the plan must all be the per-doc position passes
    import re

    for spec in re.findall(r"windowspecdefinition\(([^)]*)\)", plan):
        assert "gram" not in spec and "h1" not in spec, spec


def test_dsir_importance_broadcast_rates_two_shuffles(spark, sf_dir):
    """The DSIR weight pass must broadcast the B-row log-ratio table
    back onto the feature stream (never shuffle the corpus for it)
    and keep partial aggregation on both grouped passes. Calls the
    operator WITHOUT cache_key (the registry query returns the
    persisted-weights scan on a warm cache, whose plan no longer
    contains the scoring joins — same pattern as the minhash pin)."""
    from raft_c_spark.operators import sampling as s
    from raft_c_spark.plans.sampling import DSIR_TARGET_SOURCES

    docs = load_table(spark, sf_dir, "documents").withColumn(
        "is_tgt", F.col("source").isin(*DSIR_TARGET_SOURCES)
    )
    plan = plan_of(s.importance_weights(docs, "doc_id", "text", "is_tgt"))
    assert "BroadcastHashJoin" in plan, plan
    assert "partial_count" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_gumbel_resample_takeordered_no_global_sort(spark, sf_dir):
    """The Gumbel-top-k draw must plan TakeOrderedAndProject
    (per-partition heaps + k-row driver merge), never a global Sort
    exchange over the scored corpus."""
    from raft_c_spark.plans.sampling import q_ds_dsir_resample

    plan = plan_of(q_ds_dsir_resample(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_segment_dedup_aggregate_no_hot_key_window(spark, sf_dir):
    """Segment dedup must find first occurrences with a map-side-
    combined min(struct) aggregate — a Window.partitionBy(segment/
    hash) would put every occurrence of a hot boilerplate segment
    into one partition (the Zipfian 100 TB hazard). The segment
    STRINGS must hash on the map side and never join: the only join
    in the plan is the final unique-key corpus join on doc (a
    500k-doc soak measured the earlier keep-test join super-linear —
    8.4 M seg strings through an SMJ)."""
    from raft_c_spark.operators.dedup import segment_dedup

    docs = load_table(spark, sf_dir, "documents")
    plan = plan_of(segment_dedup(docs, "doc_id", "text", seg_tokens=3))
    assert "partial_min" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "Window" not in plan, plan
    # exactly one join NODE (the doc-keyed reassembly join) — the
    # keep-test join on the segment hash must not exist
    import re

    join_nodes = re.findall(r"\(\d+\) \w*Join", plan)
    assert len(join_nodes) == 1, (join_nodes, plan)


def test_gopher_rules_map_only(spark, wide_sf_dir):
    """The Gopher gate is pure codegen column arithmetic: one scan,
    zero Exchange, zero Python nodes. Many-file corpus (see
    test_scan_wide_exchange_is_round_robin_only)."""
    from raft_c_spark.operators.text import gopher_rules

    docs = load_table(spark, wide_sf_dir, "documents")
    plan = plan_of(gopher_rules(docs, min_words=10))
    assert "Exchange" not in plan, plan
    assert "Python" not in plan, plan
    assert "codegen id" in plan, plan  # projection fused by codegen


def test_contamination_overlap_broadcast_keyset(spark, sf_dir):
    """Overlap decontamination must probe a broadcast eval key set
    (train grams never shuffle for the membership test) and keep both
    distinct passes map-side combined."""
    from raft_c_spark.plans.text import q_ds_contamination_overlap

    plan = plan_of(q_ds_contamination_overlap(spark, sf_dir))
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "Window" not in plan, plan


def test_ccnet_buckets_broadcast_cuts(spark, sf_dir):
    """The per-lang percentile cut table (L rows) must broadcast back
    onto the scored stream — the corpus never re-shuffles for the
    bucket assignment."""
    from raft_c_spark.plans.text import q_ds_ccnet_buckets

    plan = plan_of(q_ds_ccnet_buckets(spark, sf_dir))
    assert "BroadcastHashJoin" in plan, plan
    assert "percentile" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_ccnet_buckets_approx_plan(spark, sf_dir):
    """The rank-certified percentile_approx path:
    the cuts must come from the GK sketch aggregate — never an exact
    percentile over the score distribution, never a global sort of it
    (the only range partitioning allowed is the final L-row
    orderBy(lang)) — and the L-row cut table must broadcast back for
    the certification counts."""
    from raft_c_spark.plans.text import q_ds_ccnet_buckets_approx

    plan = plan_of(q_ds_ccnet_buckets_approx(spark, sf_dir))
    assert "approx_percentile" in plan or "percentile_approx" in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan
    import re

    sorts = re.findall(r"rangepartitioning\(([^,)]+)", plan)
    assert all(s.startswith("lang") for s in sorts), sorts


def test_dedup_exact_no_text_window(spark, sf_dir):
    """dedup_exact must pick survivors with a map-side-combined min
    aggregate on the content hash + broadcast join-back — never a
    Window partitioned by the (unbounded-cardinality, full-text)
    content key, and the probe side must not shuffle under the cap."""
    from raft_c_spark.operators.dedup import dedup_exact

    docs = load_table(spark, sf_dir, "documents")
    plan = plan_of(dedup_exact(docs, "doc_id", "text"))
    assert "Window" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    assert "partial_min" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_best_survivor_no_component_window(spark, sf_dir):
    """dedup_best_survivor must pick per-component survivors with a
    map-side-combined min(struct) aggregate — never a Window
    partitioned by component (one giant dup cluster = one hot window
    partition at 100 TB). Only the pair-graph machinery upstream may
    shuffle; the survivor stage itself is aggregate-only."""
    from raft_c_spark.plans.extras import q_dedup_best_survivor

    plan = plan_of(q_dedup_best_survivor(spark, sf_dir))
    assert "partial_min" in plan, plan
    assert "row_number" not in plan, plan


def test_bm25_topk_take_ordered(spark, sf_dir):
    """BM25 retrieval must end in TakeOrderedAndProject (never a
    corpus-wide sort for a top-k), broadcast the ≤|terms| df table and
    the 1-row corpus stats, and keep the matched-token stream as the
    only shuffled data (no SortMergeJoin, no Window)."""
    from raft_c_spark.operators.text import bm25_topk

    docs = load_table(spark, sf_dir, "documents")
    plan = plan_of(bm25_topk(docs, ["vector", "stream"], k=10))
    assert "TakeOrderedAndProject" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "Window" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "Python" not in plan, plan


def test_char_entropy_aggregate_only(spark, sf_dir):
    """Char entropy is two map-side-combined aggregates over the char
    explode — no join, no window, no Python anywhere in the plan."""
    from raft_c_spark.operators.text import char_entropy

    docs = load_table(spark, sf_dir, "documents")
    plan = plan_of(char_entropy(docs))
    assert "Join" not in plan, plan
    assert "Window" not in plan, plan
    assert "Python" not in plan, plan
    assert "partial_count" in plan, plan  # map-side combine


def test_bpe_compression_single_join(spark, sf_dir):
    """The compression audit joins the cached counts parquet to the
    documents projection exactly once (unique-key equi-join) and
    aggregates to L rows — no cartesian, no window."""
    import re

    from raft_c_spark.plans.text_bpe import q_text_bpe_compression

    plan = plan_of(q_text_bpe_compression(spark, sf_dir))
    join_nodes = re.findall(r"\(\d+\) \w*Join", plan)
    assert len(join_nodes) == 1, (join_nodes, plan)
    assert "CartesianProduct" not in plan, plan
    assert "Window" not in plan, plan


def test_cluster_impact_shrinking_aggregates(spark, sf_dir):
    """The impact report on top of the components frame adds one
    unique-key equi-join and two aggregates whose cardinality only
    shrinks — no window, no cartesian, no Python."""
    from raft_c_spark.operators.dedup import cluster_impact

    comps = spark.sql(
        "SELECT CAST(doc AS BIGINT) doc, CAST(component AS BIGINT) component "
        "FROM VALUES (1, 1), (2, 1), (7, 7), (9, 7) AS t(doc, component)"
    )
    docs = load_table(spark, sf_dir, "documents")
    plan = plan_of(cluster_impact(comps, docs))
    assert "Window" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "Python" not in plan, plan
    assert "partial_count" in plan, plan


def test_collocations_take_ordered_vocab_joins(spark, sf_dir):
    """PMI collocations must end in TakeOrderedAndProject (never a
    vocab-wide sort for a top-k); the min_count-filtered pair frame
    joins the unigram aggregate as vocab-shaped equi-joins (no
    cartesian beyond the 1-row stats crossJoin, no window, no
    Python); both count aggregates map-side combine."""
    from raft_c_spark.operators.text import collocations

    docs = load_table(spark, sf_dir, "documents")
    plan = plan_of(collocations(docs, min_count=3, k=20))
    assert "TakeOrderedAndProject" in plan, plan
    assert "Window" not in plan, plan
    assert "Python" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "partial_count" in plan, plan


def test_transition_matrix_one_window_broadcast_totals(spark, sf_dir):
    """The transition matrix shuffles events exactly once (the
    per-user lag window); the pair counts collapse map-side and the
    row-total join is a broadcast of the ≤|states| aggregate — the
    event stream itself never joins."""
    from raft_c_spark.plans.events_analytics import (
        q_ev_transition_matrix,
    )

    plan = plan_of(q_ev_transition_matrix(spark, sf_dir))
    assert plan.count("Window") >= 1, plan
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "Python" not in plan, plan


def test_delta_rate_single_aggregate_no_window(spark, sf_dir):
    """delta/rate is ONE map-side-combined hash aggregate keyed
    (series, bucket) — no window function (first/last come from
    struct min/max), no join, no Python; shuffle volume is buckets,
    not points."""
    from raft_c_spark.plans.parity import q_delta_rate

    plan = plan_of(q_delta_rate(spark, sf_dir))
    assert "Window" not in plan, plan
    assert "Join" not in plan, plan
    assert "Python" not in plan, plan
    assert "partial_min" in plan, plan
    assert "partial_max" in plan, plan


def test_lang_kl_single_consumer_aggregates(spark, sf_dir):
    """The staged lang-KL divergence never fans an exploded aggregate
    out to multiple consumers (the collocations A/B measured Spark
    re-executing such lineage per consumer): totals come from cheap
    no-explode length aggregates, the L-row totals broadcast, and the
    only non-broadcast join is the vocab-shaped word equi-join — no
    window, no cartesian, no Python."""
    from raft_c_spark.plans.text import q_ds_lang_kl

    plan = plan_of(q_ds_lang_kl(spark, sf_dir))
    assert "BroadcastHashJoin" in plan, plan
    assert "Window" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "Python" not in plan, plan
    assert "partial_count" in plan, plan


def test_vec_dim_memo_and_invalidation(spark, tmp_path):
    from raft_c_spark.operators import similarity as S

    p = str(tmp_path / "emb.parquet")
    spark.createDataFrame(
        [(1, [1.0, 2.0, 3.0]), (2, [4.0, 5.0, 6.0])],
        "vec_id long, embedding array<double>",
    ).coalesce(1).write.mode("overwrite").parquet(p)
    df = spark.read.parquet(p)
    assert S.vec_dim(df, "embedding") == 3
    # memo hit returns the same value for a fresh frame over the files
    assert S.vec_dim(spark.read.parquet(p), "embedding") == 3
    # rewrite the path with a different dim: the (size, mtime) in the
    # memo key must invalidate the entry
    spark.createDataFrame(
        [(1, [1.0, 2.0, 3.0, 4.0, 5.0])],
        "vec_id long, embedding array<double>",
    ).coalesce(1).write.mode("overwrite").parquet(p)
    assert S.vec_dim(spark.read.parquet(p), "embedding") == 5
    # frames with no input files (local relations) still probe
    loc = spark.createDataFrame(
        [(1, [1.0, 2.0])], "vec_id long, embedding array<double>"
    )
    assert S.vec_dim(loc, "embedding") == 2


def test_vec_dim_plan_fingerprint_separates_derivations(spark, tmp_path):
    from raft_c_spark.operators import similarity as S

    p = str(tmp_path / "emb_fp.parquet")
    spark.createDataFrame(
        [(1, [1.0, 2.0, 3.0]), (2, [4.0, 5.0, 6.0])],
        "vec_id long, embedding array<double>",
    ).coalesce(1).write.mode("overwrite").parquet(p)
    df = spark.read.parquet(p)
    assert S.vec_dim(df, "embedding") == 3
    # same files, same column NAME, different derivation → must probe,
    # not hit the raw scan's memo entry
    sliced = df.withColumn("embedding", F.slice("embedding", 1, 2))
    assert S.vec_dim(sliced, "embedding") == 2
    # and the raw scan's entry is not poisoned by the sliced probe
    assert S.vec_dim(spark.read.parquet(p), "embedding") == 3


def test_plan_gates_ignore_column_named_joinsample(spark, tmp_path):
    from raft_c_spark.functions.metabound import rows_upper_bound
    from raft_c_spark.operators.sampling import _expensive_lineage

    p = str(tmp_path / "joinsample.parquet")
    spark.createDataFrame(
        [(1, 10), (2, 20)], "`JoinSample` long, `myJoinKey` long"
    ).coalesce(1).write.mode("overwrite").parquet(p)
    df = spark.read.parquet(p).where(F.col("JoinSample") > 0).select(
        "JoinSample", F.col("myJoinKey").alias("GenerateUnionWindow")
    )
    # bare scan+filter+projection: not expensive, bound derivable
    assert not _expensive_lineage(df)
    assert rows_upper_bound(df) == 2
    # a REAL join over the same columns still trips both gates
    other = spark.read.parquet(p).select(F.col("JoinSample").alias("j2"))
    joined = df.join(other, df.GenerateUnionWindow == other.j2, "inner")
    assert _expensive_lineage(joined)
    assert rows_upper_bound(joined) is None


def test_plan_has_node_matches_node_families():
    from raft_c_spark.functions.planshape import plan_has_node

    plan = (
        "Project [myJoinKey#3L, JoinSample#4]\n"
        "+- Filter (JoinSample#4 > 0)\n"
        "   +- Relation [myJoinKey#3L] parquet\n"
    )
    assert not plan_has_node(plan, ("Join", "Sample", "Generate"))
    plan2 = (
        "Join Inner, (k#1L = k#7L)\n"
        ":- RepartitionByExpression [k#1L]\n"
        ":  +- FlatMapGroupsInPandas [k#1L], f()\n"
        "+- Sample 0.0, 0.5, false, 42\n"
    )
    assert plan_has_node(plan2, ("Join",))
    assert plan_has_node(plan2, ("Repartition",))
    assert plan_has_node(plan2, ("FlatMap",))
    assert plan_has_node(plan2, ("Sample",))
    assert not plan_has_node(plan2, ("Window",))


def test_effective_splits_ignores_column_named_sortjoin(spark, tmp_path):
    """A bare scan whose columns are named after plan nodes must still
    take the footer row-group path (return a small split count), not
    short-circuit to 'wide enough'."""
    from raft_c_spark.functions.metabound import _effective_splits

    p = str(tmp_path / "sortjoin.parquet")
    spark.createDataFrame(
        [(i, i * 2) for i in range(100)],
        "`SortKey` long, `JoinRange` long",
    ).coalesce(1).write.mode("overwrite").parquet(p)
    df = spark.read.parquet(p)
    # single file, single row group → 1 effective split, NOT 1<<30
    assert _effective_splits(df) == 1
