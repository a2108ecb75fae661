#!/usr/bin/env python
"""Regenerate PLANS.md: physical plans of flagship queries with the
scale-relevant evidence highlighted (pushdown, broadcast, partial
aggregation, codegen coverage). Run from the repo root:

    python scripts/dump_plans.py
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF_DIR = "/root/testdata/sf0.01"

FLAGSHIPS = [
    (
        "ts_range_scan",
        "TSDB range scan over the events adapter (filters reach the scan)",
    ),
    (
        "ts_sample_1h",
        "SAMPLE BY: one hash aggregate keyed (series, bucket), integer bucket math",
    ),
    (
        "tpch_pricing_summary",
        "TPC-H Q1: partial+final aggregation, decimal-exact sums",
    ),
    (
        "tpch_shipping_priority",
        "TPC-H Q3: broadcast dimension joins (no SortMergeJoin)",
    ),
    ("sim_topk_exact", "Cosine top-k: TakeOrderedAndProject, no full sort"),
    ("dedup_exact_groups", "Exact dedup: single map-side-combine aggregate"),
    ("ev_asof_purchase_click", "As-of join: union-and-carry, one shuffle"),
    (
        "ds_mixture_sample",
        "Deterministic mixture sampling: pure filter, zero Exchange — "
        "map-only at any scale",
    ),
    (
        "ds_source_topk",
        "Per-stratum reservoir: map-side WindowGroupLimit BEFORE the one "
        "hash exchange",
    ),
    (
        "sim_topk_lsh",
        "Persisted LSH index probe: sig_hi PartitionFilters (bucket "
        "directory pruning), vectors joined for candidates only",
    ),
    (
        "text_clean_corpus",
        "Corpus cleaning: scan-time filters + one hash aggregate, all "
        "whole-stage codegen",
    ),
    (
        "ts_sample_sliding",
        "Hopping-window SAMPLE BY: map-side explode of the window list, "
        "then ONE hash aggregate (partials combine before the shuffle)",
    ),
    (
        "ev_trailing_window",
        "RANGE-frame trailing window: one hash exchange + in-partition "
        "sort, linear two-pointer frame evaluation",
    ),
    (
        "text_tfidf_terms",
        "tf-idf: doc-frequency aggregate reused from the tf frame, "
        "vocabulary join NOT broadcast (grows with corpus)",
    ),
    (
        "tpch_waiting_supplier",
        "Q21 shape via one per-order aggregate instead of two correlated "
        "fact self-joins; no fact-sized broadcast",
    ),
    (
        "ds_bloom_decontaminate",
        "Bloom decontamination: NO join — broadcast-variable bit probe "
        "(MapInPandas) at scan parallelism; only surviving hits shuffle",
    ),
    (
        "text_quality_model",
        "Hashed-feature linear scorer: tokenize→explode→one map-side-"
        "combined aggregate, zero Python nodes",
    ),
    (
        "ds_snapshot_diff",
        "Snapshot diff: one full-outer equi-join on the id, no cartesian",
    ),
    (
        "sim_cluster_assign",
        "k-center cosine assignment: centers as a literal array, per-row "
        "array_max argmax — zero Exchange, map-only at any scale",
    ),
    (
        "ds_temperature_mixture",
        "Temperature mixture: S-row rate table broadcast onto the scan; "
        "corpus side never pre-shuffles",
    ),
    (
        "text_lm_score",
        "Bigram-LM scoring: map-side bigram transform, two map-side-"
        "combined count aggregates, natural-key joins back (AQE may "
        "broadcast measured-small count sides)",
    ),
    (
        "dedup_containment",
        "Containment pairs: prefix probes on the contained side ⋈ full "
        "index, exact array_intersect verify — equi-joins only",
    ),
    (
        "dedup_semantic",
        "SemDeDup: map-only cluster assignment, candidates from a "
        "same-cluster self-equi-join — never global all-pairs",
    ),
    (
        "ds_dataset_card",
        "CUBE data card: one Expand + one map-side-combined aggregate "
        "(single scan + single shuffle for all granularities)",
    ),
    (
        "mm_audio_dedup",
        "Audio near-dup: decode + energy hash in narrow mapInPandas, "
        "pigeonhole 5-chunk equi-join — payload bytes never shuffle",
    ),
    (
        "mm_video_dedup",
        "Video near-dup: y4m decode + temporal-mean frame aHash, same "
        "pigeonhole equi-join as images — never all-pairs",
    ),
    (
        "ds_epoch_upsample",
        "Fractional-epoch upsampling: S-row rate table broadcast onto "
        "the scan, map-only md5 fraction — zero corpus pre-shuffle",
    ),
    (
        "dedup_repeated_spans",
        "ExactSubstr spans (r8 skew-immune plan): gram counts via "
        "map-side-combined aggregate on a 128-bit hash + measured-cap "
        "broadcast join-back — no Window.partitionBy(gram) hot-key "
        "partition; only per-doc gaps-and-islands windows remain",
    ),
    (
        "stream_enrich_join",
        "Stream-static enrich: the streaming execution happens inside "
        "the query (watermarked micro-batch + broadcast static side); "
        "this is the finished memory-sink frame the driver consumes",
    ),
    (
        "lang_retention",
        "Retention DDL read path: the 7d cutoff filter reaches the "
        "partitioned store scan (day PartitionFilters + timestamp "
        "PushedFilters), dup-ignored duplicates absent by construction",
    ),
    (
        "ds_importance_dsir",
        "DSIR importance weights (Xie NeurIPS'23): ONE aggregate emits "
        "both hashed-n-gram distributions, 4096-row log-ratio table "
        "broadcast back onto the feature stream — corpus never "
        "re-shuffles for the rates, partial_count on both passes",
    ),
    (
        "dedup_segments",
        "Segment-level exact dedup (C4/CCNet line dedup): first "
        "occurrences via ONE map-side-combined min(struct) aggregate "
        "on a 128-bit segment hash; the winner rows ARE the kept "
        "occurrences, so reassembly is a narrow int aggregate + ONE "
        "unique-key corpus join — no hot-key window, no keep-test "
        "join (the r9 500k soak killed that shape)",
    ),
    (
        "text_gopher_rules",
        "Gopher quality gate: five rule booleans as codegen column "
        "arithmetic over one scan — zero Exchange, zero Python",
    ),
    (
        "dedup_cut_spans",
        "ExactSubstr removal: the skew-immune spans pipeline + one "
        "aggregate keyed by doc + a map-side fold over the bounded "
        "span list — no unbounded-key window anywhere",
    ),
    (
        "ds_contamination_overlap",
        "GPT-3 overlap-ratio decontamination: distinct 128-bit gram "
        "keys both sides, eval set broadcast under the measured cap — "
        "train grams never shuffle for the membership probe",
    ),
    (
        "ds_ccnet_buckets",
        "CCNet perplexity bucketing: lm_score plan + per-lang exact-"
        "percentile cuts (bounded-cardinality groups) broadcast back "
        "— the corpus never re-shuffles for bucket assignment",
    ),
    (
        "ds_dsir_resample",
        "Gumbel-top-k resampling (Kool ICML'19): md5-keyed noise is a "
        "map-only expression, top-k plans TakeOrderedAndProject "
        "(per-partition heaps + k-row driver merge) — zero shuffles, "
        "no global Sort; gumbel_key emitted as DOUBLE (decimal only "
        "inside the ordering) so the driver hash is engine-canonical",
    ),
    (
        "text_bpe_tokens",
        "BPE token counts: corpus touched twice map-side (tokenize+"
        "explode), Arrow encode kernel over the DISTINCT-word frame "
        "only, word→n_tokens joined back broadcast under the measured "
        "cap, per-doc aggregate partial-combines — per-word Python is "
        "vocabulary-sized, never corpus-sized",
    ),
    (
        "ds_pack_bpe",
        "BPE-budget sequence packing: the two-phase distributed "
        "prefix sum over the cached per-doc counts — per-partition "
        "window cumsum + P-row driver prefix joined back; no global "
        "sort, no single-partition window",
    ),
    (
        "ds_token_budget_mix",
        "Token-budget mixture planning: one map-side-combined S-row "
        "per-source aggregate + 1-row total, rate arithmetic on the "
        "S-row frame broadcast back onto the scan, map-only md5 "
        "selection — the corpus never pre-shuffles",
    ),
    (
        "text_bm25_topk",
        "BM25 retrieval: tokenize + filter-to-query-terms map-side "
        "(only matching tokens shuffle), one (doc,term) partial-"
        "combined count, ≤|terms|-row df table + 1-row corpus stats "
        "broadcast, decimal-exact per-doc sum, top-k via "
        "TakeOrderedAndProject — never a corpus-wide sort",
    ),
    (
        "text_char_entropy",
        "Char-level Shannon entropy: map-side char explode into one "
        "partial-combined (doc,char) count + one per-doc aggregate — "
        "no join, no window, quantized-log decimal sum keeps the "
        "value engine-exact",
    ),
    (
        "dedup_impact_report",
        "Dedup planning report: shared banded pair graph + "
        "components, then one unique-key equi-join and two "
        "cardinality-shrinking aggregates (per-cluster, per-size) — "
        "integer-only output, no float surface",
    ),
    (
        "text_collocations",
        "PMI collocations: two map-side-combined count aggregates "
        "(unigram + adjacent-pair), min_count filter BEFORE the "
        "vocab-shaped unigram joins, 1-row stats broadcast, top-k "
        "via TakeOrderedAndProject — never a vocab-wide sort",
    ),
    (
        "ev_transition_matrix",
        "Markov transitions: one per-user lag window ((ts, event_id) "
        "total order), pair counts collapse map-side to ≤ states² "
        "rows, totals broadcast back — the event stream never joins",
    ),
    (
        "ts_delta_rate",
        "TSDB delta/rate: ONE map-side-combined (series, bucket) "
        "struct min/max aggregate — shuffle volume is buckets, not "
        "points; no window function, no join",
    ),
    (
        "ds_lang_kl",
        "Per-language unigram KL divergence: one (lang, word) + one "
        "word aggregate (each single-consumer), no-explode length "
        "totals, vocab-shaped equi-join, L-row broadcast totals",
    ),
    (
        "ds_ccnet_buckets_approx",
        "GK-sketch percentile cuts + rank-contract certification: "
        "bounded sketch memory per language, no sort of the score "
        "distribution, L-row cut table broadcast for the counts",
    ),
    (
        "text_novelty",
        "Per-doc first-seen-gram fraction: map-side array_distinct, "
        "one min(doc) aggregate on 16 B gram hashes, HINTED "
        "shuffle-hash join-back (the vocab frame must never "
        "broadcast), per-doc combine — no window, no Python",
    ),
    (
        "ts_lttb",
        "LTTB downsampling: the only Window runs over the "
        "bucket-sized boundary frame; the anchor join-back is a "
        "MEASURED-cap decision (point-count upper bound, then exact "
        "anchor count; broadcast under the cap, shuffle_hash above); "
        "the point stream sees two map-side-combined aggregates and "
        "never a window",
    ),
    (
        "text_compression",
        "zlib compressibility gate (r12 registration): one narrow "
        "Arrow kernel over the scan — C-speed DEFLATE per batch, "
        "text dies inside the kernel, no shuffle/join/state",
    ),
    (
        "tpch_bucketed_order_revenue",
        "Bucketed fact-pair join (r12): both scans carry the "
        "write-time bucket distribution, so the merge join, the "
        "(orderkey, totalprice) aggregate, and the "
        "TakeOrderedAndProject top-100 all run with ZERO Exchange — "
        "the pay-the-shuffle-once 100 TB layout, externally "
        "hash-verified",
    ),
]


def main() -> None:
    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "8g")
    from raft_c_spark.plans.registry import all_queries
    from raft_c_spark.session import get_spark

    spark = get_spark("dump_plans")
    queries = all_queries()
    out = [
        "# PLANS — physical plans of flagship queries",
        "",
        "Generated by `scripts/dump_plans.py` at sf0.01; the Catalyst",
        "evidence the scale design rests on. Regenerate after plan-affecting",
        "changes (test_plan_quality.py asserts the key properties in CI).",
        "",
    ]
    # also show the partitioned store's pruned scan
    from raft_c_spark.engine import Engine
    import tempfile

    eng = Engine(spark, warehouse=tempfile.mkdtemp(prefix="plans_wh_"))
    eng.execute("CREATEDB d")
    eng.execute("USE d")
    eng.execute("CREATE s")
    base, day = 1_700_000_000_000_000_000, 86_400_000_000_000
    eng.execute(
        "INSERT INTO s VALUES "
        + ",".join(f"({base + i * day}, {float(i)})" for i in range(5))
    )
    # a series this small is answered on the driver; a file cap of 0
    # takes the Spark scan whose pruning the dump shows
    from raft_c_spark.sources import tsstore

    max_files, tsstore.ONE_TASK_MAX_FILES = tsstore.ONE_TASK_MAX_FILES, 0
    try:
        store_df = eng.execute(
            f"SELECT value FROM s BETWEEN {base + day} AND {base + 2 * day}"
        )
    finally:
        tsstore.ONE_TASK_MAX_FILES = max_files
    items = [
        (
            "store_range_scan (query language over the partitioned store)",
            "PartitionFilters on day + PushedFilters on timestamp — the "
            "sparse-index/partition-pruning parity",
            store_df,
        )
    ] + [
        (name, why, queries[name](spark, SF_DIR)) for name, why in FLAGSHIPS
    ]
    for name, why, df in items:
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        out += [f"## {name}", "", f"*{why}*", "", "```", buf.getvalue().rstrip(), "```", ""]
    with open(os.path.join(REPO, "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print("wrote PLANS.md")
    spark.stop()


if __name__ == "__main__":
    main()
