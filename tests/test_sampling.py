"""Deterministic sampling + dedup clustering (training-pipeline ops):
hash-Bernoulli mixtures, per-stratum top-k, sequence packing,
importance weights, training order, connected components — including
hypothesis properties (nesting over arbitrary rate pairs, packing vs
the sequential fold over arbitrary length lists, pure-python replays
on random small inputs), and temperature mixture sampling and epoch
upsampling pinned against hand fixtures."""

from __future__ import annotations

import hashlib
import math
from collections import Counter

import pytest
from hypothesis import given
from hypothesis import strategies as st
from pyspark.sql import Row
from pyspark.sql import functions as F

from raft_c_spark.operators import dedup, sampling
from raft_c_spark.sources.testdata import load_table
from tests.harness import spark_property

SF_DIR = "/root/testdata/sf0.001"

WORDS = ["alpha", "beta", "gamma", "delta", "omega", "zz9"]


@pytest.fixture(scope="module")
def docs(spark):
    return load_table(spark, SF_DIR, "documents").cache()


def test_hash_sample_deterministic_and_partition_stable(spark, docs):
    a = {r["doc_id"] for r in sampling.hash_fraction_sample(docs, "doc_id", 0.3).collect()}
    b = {
        r["doc_id"]
        for r in sampling.hash_fraction_sample(
            docs.repartition(7), "doc_id", 0.3
        ).collect()
    }
    assert a == b and a, "selection must not depend on partitioning"


def test_hash_sample_rate_is_approximate(docs):
    n = docs.count()
    k = sampling.hash_fraction_sample(docs, "doc_id", 0.5).count()
    assert abs(k / n - 0.5) < 0.15  # md5 uniformity at small n


def test_hash_sample_nested(docs):
    """Raising the rate must keep every previously selected row — the
    property that makes scaling a mixture up reproducible."""
    small = {r["doc_id"] for r in sampling.hash_fraction_sample(docs, "doc_id", 0.2).collect()}
    big = {r["doc_id"] for r in sampling.hash_fraction_sample(docs, "doc_id", 0.6).collect()}
    assert small <= big


def test_stratified_fractions(docs):
    out = sampling.hash_fraction_sample(
        docs, "doc_id", strata_col="lang", fractions={"en": 1.0}
    )
    got = dict(
        out.groupBy("lang").count().collect()
    )
    n_en = docs.filter(F.col("lang") == "en").count()
    assert got == {"en": n_en}  # en kept fully, everything else dropped


def test_stratified_topk_exact_counts(docs):
    out = sampling.stratified_topk_sample(docs, "doc_id", "source", 3)
    sizes = {r["source"]: r["count"] for r in out.groupBy("source").count().collect()}
    expect = {
        r["source"]: min(r["count"], 3)
        for r in docs.groupBy("source").count().collect()
    }
    assert sizes == expect
    again = sampling.stratified_topk_sample(docs.repartition(5), "doc_id", "source", 3)
    assert {r["doc_id"] for r in out.collect()} == {
        r["doc_id"] for r in again.collect()
    }


def test_pack_sequences_matches_python_fold(spark):
    """Two-phase distributed prefix sum must equal the sequential
    python fold, on any input partitioning."""
    rows = [(i, (i * 37) % 900 + 10) for i in range(500)]
    expect = {}
    acc = 0
    for i, ln in rows:
        expect[i] = (acc, acc // 1000, acc % 1000)
        acc += ln
    for parts in (1, 7):
        df = spark.createDataFrame(rows, "doc long, toks long").repartition(parts)
        out = sampling.pack_sequences(df, "doc", "toks", 1000)
        got = {
            r["doc"]: (r["seq_start"], r["bin"], r["bin_offset"])
            for r in out.collect()
        }
        assert got == expect


def test_pack_sequences_bins_are_contiguous(docs):
    out = sampling.pack_sequences(docs, "doc_id", "n_chars", 4096)
    bins = sorted(r["bin"] for r in out.select("bin").distinct().collect())
    assert bins == list(range(bins[-1] + 1))  # no gaps
    total = docs.agg(F.sum("n_chars")).first()[0]
    assert bins[-1] <= total // 4096


@spark_property()
@given(
    f1=st.floats(min_value=0.0, max_value=1.0),
    f2=st.floats(min_value=0.0, max_value=1.0),
)
def test_hash_sample_nested_property(spark, docs, f1, f2):
    """For ANY pair of rates, the lower-rate selection is a subset of
    the higher-rate one (hash thresholding is monotone)."""
    lo, hi = sorted([f1, f2])
    a = {r["doc_id"] for r in sampling.hash_fraction_sample(docs, "doc_id", lo).collect()}
    b = {r["doc_id"] for r in sampling.hash_fraction_sample(docs, "doc_id", hi).collect()}
    assert a <= b


@spark_property(10)
@given(
    lens=st.lists(st.integers(min_value=1, max_value=500), min_size=1, max_size=60),
    budget=st.integers(min_value=1, max_value=700),
)
def test_pack_sequences_property(spark, lens, budget):
    """Distributed packing equals the sequential fold for arbitrary
    length lists and budgets."""
    rows = list(enumerate(lens))
    acc, expect = 0, {}
    for i, ln in rows:
        expect[i] = (acc, acc // budget, acc % budget)
        acc += ln
    df = spark.createDataFrame(rows, "doc long, toks long").repartition(3)
    got = {
        r["doc"]: (r["seq_start"], r["bin"], r["bin_offset"])
        for r in sampling.pack_sequences(df, "doc", "toks", budget).collect()
    }
    assert got == expect


def test_pack_sequences_expensive_lineage_identical(spark):
    """pack_sequences must produce the identical assignment whether
    its input is a bare local frame (no pre-checkpoint) or an
    aggregate (expensive lineage → pre-materialized once): the pack
    result is a pure function of (id, length)."""
    from raft_c_spark.operators.sampling import (
        _expensive_lineage,
        pack_sequences,
    )

    rows = [(i, 100 + (i * 37) % 400) for i in range(200)]
    base = spark.createDataFrame(rows, "doc_id long, n_chars long")
    # an aggregate wrapper that is a row-for-row identity
    agg = base.groupBy("doc_id").agg(F.max("n_chars").alias("n_chars"))
    assert not _expensive_lineage(base)
    assert _expensive_lineage(agg)

    def packed(frame):
        return sorted(
            (r["doc_id"], r["seq_start"], r["bin"], r["bin_offset"])
            for r in pack_sequences(frame, "doc_id", "n_chars", 512).collect()
        )

    got_plain, got_agg = packed(base), packed(agg)
    assert got_plain == got_agg
    # ground truth: windowed cumsum in id order
    acc, want = 0, []
    for i, n in rows:
        want.append((i, acc, acc // 512, acc % 512))
        acc += n
    assert got_plain == want


@pytest.mark.parametrize("shape", ["join", "mapInPandas"])
def test_expensive_lineage_detects_kernels(spark, shape):
    from raft_c_spark.operators.sampling import _expensive_lineage

    a = spark.createDataFrame([(1, 2)], "k long, v long")
    if shape == "join":
        frame = a.join(a.withColumnRenamed("v", "w"), "k")
    else:
        frame = a.mapInPandas(lambda it: it, "k long, v long")
    assert _expensive_lineage(frame)


def test_connected_components_vs_union_find(spark):
    """Label propagation must match a driver-side union-find on the
    same pair list (random-ish graph incl. a chain, a triangle and
    isolated pairs)."""
    pairs = [
        (1, 2), (2, 3), (3, 4),          # chain
        (10, 11), (11, 12), (10, 12),    # triangle
        (20, 21),                        # isolated pair
        (30, 31), (31, 32), (30, 33),    # star
    ]
    df = spark.createDataFrame(pairs, "a long, b long")
    got = {
        (r["doc"], r["component"])
        for r in dedup.connected_components(df).collect()
    }
    # the distributed label-propagation path must agree with the
    # driver-side union-find shortcut
    got_dist = {
        (r["doc"], r["component"])
        for r in dedup.connected_components(df, driver_max_edges=0).collect()
    }
    assert got_dist == got

    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(x, y):
        parent[find(x)] = find(y)

    for a, b in pairs:
        union(a, b)
    roots = {n: find(n) for n in parent}
    comp_min: dict[int, int] = {}
    for n, r in roots.items():
        comp_min[r] = min(comp_min.get(r, n), n)
    want = {(n, comp_min[roots[n]]) for n in roots}
    assert got == want


def test_components_over_exact_pairs_ground_truth(spark, duck):
    """The registered ``dedup_components`` query rides the LSH pair
    graph (the scale path — the exact input measured 15.2x per 10x
    data in the 10× scaling soak); this test keeps the exact-all-pairs
    composition as the ground truth, pinned against recursive-CTE
    reachability, so the swap can never hide a clustering regression."""
    from raft_c_spark.plans.dedup import (
        COSINE_THRESHOLD,
        ORACLES,
        _components_oracle,
    )
    from tests.harness import assert_matches_oracle

    emb = load_table(spark, SF_DIR, "embeddings")
    pairs = dedup.embedding_neardup_pairs(
        emb, "vec_id", "embedding", threshold=COSINE_THRESHOLD
    )
    out = dedup.connected_components(pairs)
    assert_matches_oracle(
        out,
        duck,
        _components_oracle(ORACLES["dedup_embedding"]),
        "components_exact_pairs",
    )


def test_connected_components_chain_needs_iterations(spark):
    """A long chain exercises the multi-round convergence path (each
    round propagates the min one hop... doubling via the carried
    label, so rounds ≈ diameter)."""
    n = 17
    df = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], "a long, b long"
    )
    out = dedup.connected_components(df, driver_max_edges=0).collect()
    assert {r["component"] for r in out} == {0}
    assert len(out) == n + 1


def test_connected_components_reliable_checkpoint(spark, tmp_path):
    """The distributed loop with ``checkpoint_dir`` uses RELIABLE
    checkpoints (survive executor loss — the cluster-scale setting)
    instead of localCheckpoint; forced past the driver union-find cap
    it must produce the same clustering and leave checkpoint data in
    the given directory."""
    import os

    pairs = [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (22, 23)]
    df = spark.createDataFrame(pairs, "a long, b long")
    want = {
        (r["doc"], r["component"])
        for r in dedup.connected_components(df).collect()
    }
    ckpt = str(tmp_path / "cc_ckpt")
    got = {
        (r["doc"], r["component"])
        for r in dedup.connected_components(
            df, driver_max_edges=0, checkpoint_dir=ckpt
        ).collect()
    }
    assert got == want
    assert any(os.scandir(ckpt)), "reliable checkpoint dir must be used"


def test_write_shards_roundtrip(spark, sf_dir, tmp_path):
    """write_shards lays the corpus out as size-balanced shard
    directories whose manifest matches the id-ordered row ranks, and
    the shards together hold exactly the input rows."""
    from raft_c_spark.operators.sampling import write_shards
    from raft_c_spark.sources.testdata import load_table

    docs = load_table(spark, sf_dir, "documents")
    n = docs.count()
    path = str(tmp_path / "shards")
    manifest = {
        r["shard"]: r for r in write_shards(docs, "doc_id", path, 40).collect()
    }
    assert sum(r["n_rows"] for r in manifest.values()) == n
    full = [manifest[s] for s in sorted(manifest)[:-1]]
    assert all(r["n_rows"] == 40 for r in full), "only the tail may be short"
    # shard boundaries follow id order: max of shard k < min of k+1
    ss = sorted(manifest)
    for a, b in zip(ss, ss[1:]):
        assert manifest[a]["max_id"] < manifest[b]["min_id"]
    back = spark.read.parquet(path)
    assert back.count() == n
    assert {r["doc_id"] for r in back.select("doc_id").collect()} == {
        r["doc_id"] for r in docs.select("doc_id").collect()
    }


@pytest.fixture(scope="module")
def doc_pairs(spark, docs):
    from raft_c_spark.plans.dedup import JACCARD_THRESHOLD

    return dedup.minhash_lsh_pairs(
        docs, "doc_id", "text", n=3, num_perm=64, bands=8,
        threshold=JACCARD_THRESHOLD,
    ).cache()


def test_leakage_safe_split_no_straddle(docs, doc_pairs):
    """The defining invariant: no near-dup pair (and no cluster) ever
    straddles a split boundary."""
    out = sampling.leakage_safe_split(
        docs, "doc_id", doc_pairs, {"train": 0.9, "val": 0.1}
    ).select("doc_id", "dedup_group", "split").cache()
    assert doc_pairs.count() > 0, "vacuous: corpus has no near-dup pairs"
    a = out.select(F.col("doc_id").alias("a"), F.col("split").alias("sa"))
    b = out.select(F.col("doc_id").alias("b"), F.col("split").alias("sb"))
    straddle = (
        doc_pairs.join(a, "a").join(b, "b")
        .filter(F.col("sa") != F.col("sb"))
        .count()
    )
    assert straddle == 0
    multi = (
        out.groupBy("dedup_group")
        .agg(F.countDistinct("split").alias("k"))
        .filter(F.col("k") > 1)
        .count()
    )
    assert multi == 0
    # partition: every doc exactly once, both splits non-empty
    assert out.count() == docs.count()
    counts = dict(
        (r["split"], r["count"]) for r in out.groupBy("split").count().collect()
    )
    assert set(counts) == {"train", "val"} and min(counts.values()) > 0


def test_leakage_safe_split_partition_stable_and_nested(docs, doc_pairs):
    base = {
        (r["doc_id"], r["split"])
        for r in sampling.leakage_safe_split(
            docs, "doc_id", doc_pairs, {"train": 0.8, "val": 0.2}
        ).collect()
    }
    rep = {
        (r["doc_id"], r["split"])
        for r in sampling.leakage_safe_split(
            docs.repartition(7), "doc_id", doc_pairs.repartition(3),
            {"train": 0.8, "val": 0.2},
        ).collect()
    }
    assert base == rep
    # nested: growing the first split keeps its members
    train_small = {d for d, s in base if s == "train"}
    train_big = {
        r["doc_id"]
        for r in sampling.leakage_safe_split(
            docs, "doc_id", doc_pairs, {"train": 0.95, "val": 0.05}
        ).filter(F.col("split") == "train").collect()
    }
    assert train_small <= train_big


def test_leakage_safe_split_validates_fractions(docs, doc_pairs):
    with pytest.raises(ValueError):
        sampling.leakage_safe_split(
            docs, "doc_id", doc_pairs, {"train": 0.5, "val": 0.2}
        )
    with pytest.raises(ValueError):
        sampling.leakage_safe_split(
            docs, "doc_id", doc_pairs, {"train": 1.5, "val": -0.5}
        )


def test_dsir_importance_ranks_target_like_docs(spark):
    """Raw docs written in the target's vocabulary must out-score raw
    docs written in a disjoint vocabulary, and every doc gets scored
    (targets included)."""
    from pyspark.sql import functions as F

    from raft_c_spark.operators import sampling as s

    rows = []
    for i in range(40):  # target: 'alpha beta gamma' style
        rows.append((i, "alpha beta gamma delta alpha beta", True))
    for i in range(40, 60):  # raw, target-like
        rows.append((i, "beta gamma alpha delta beta gamma", False))
    for i in range(60, 80):  # raw, disjoint vocabulary
        rows.append((i, "omega sigma tau rho omega sigma", False))
    df = spark.createDataFrame(rows, "doc_id long, text string, t boolean")
    out = s.importance_weights(df, "doc_id", "text", "t").collect()
    got = {r["doc_id"]: r["log_weight"] for r in out}
    assert len(got) == 80
    like = [got[i] for i in range(40, 60)]
    unlike = [got[i] for i in range(60, 80)]
    assert min(like) > max(unlike)


def test_dsir_importance_partition_stable(spark):
    from raft_c_spark.operators import sampling as s

    rows = [
        (i, f"w{i % 7} w{(i + 1) % 7} w{(i + 2) % 5}", i % 5 == 0)
        for i in range(60)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, t boolean")
    a = sorted(
        (r["doc_id"], r["n_feats"], r["log_weight"])
        for r in s.importance_weights(df, "doc_id", "text", "t").collect()
    )
    b = sorted(
        (r["doc_id"], r["n_feats"], r["log_weight"])
        for r in s.importance_weights(
            df.repartition(7), "doc_id", "text", "t"
        ).collect()
    )
    assert a == b and a


def test_gumbel_topk_exact_k_partition_stable_and_weight_sensitive(spark):
    """Exactly k rows; the draw is identical after repartitioning;
    and with extreme weight separation every selected row comes from
    the heavy group (softmax odds e^20 : 1)."""
    from raft_c_spark.operators import sampling as s

    rows = [(i, 10.0 if i < 50 else -10.0) for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, w double")
    a = s.gumbel_topk(df, "doc_id", "w", 20).collect()
    b = s.gumbel_topk(df.repartition(7), "doc_id", "w", 20).collect()
    assert len(a) == 20
    assert sorted(r["doc_id"] for r in a) == sorted(r["doc_id"] for r in b)
    assert all(r["doc_id"] < 50 for r in a)
    # flat weights: the draw is a uniform k-subset keyed on md5 —
    # nested determinism means it differs from the weighted draw
    flat = s.gumbel_topk(
        df.withColumn("w", df.w * 0), "doc_id", "w", 20
    ).collect()
    assert len(flat) == 20 and any(r["doc_id"] >= 50 for r in flat)


def test_dsir_importance_scores_tokenless_docs_neutral(spark):
    """Docs with no [a-z0-9] tokens must appear with the neutral
    weight (empty product -> log w = 0), not vanish from the output."""
    from raft_c_spark.operators import sampling as s

    rows = [(1, "alpha beta", True), (2, "alpha gamma", False),
            (3, "!!! ???", False), (4, "", False)]
    df = spark.createDataFrame(rows, "doc_id long, text string, t boolean")
    got = {r["doc_id"]: (r["n_feats"], r["log_weight"])
           for r in s.importance_weights(df, "doc_id", "text", "t").collect()}
    assert set(got) == {1, 2, 3, 4}
    assert got[3] == (0, 0.0) and got[4] == (0, 0.0)


def _brute_dsir(rows, B=4096):
    occ = []
    for doc, text, tgt in rows:
        toks = []
        w = ""
        for ch in text.lower():
            if ch.isalnum() and ord(ch) < 128:
                w += ch
            else:
                if w:
                    toks.append(w)
                w = ""
        if w:
            toks.append(w)
        grams = toks + [
            f"{a} {b}" for a, b in zip(toks, toks[1:])
        ]
        for g in grams:
            h = int(hashlib.md5(g.encode()).hexdigest()[:8], 16) % B
            occ.append((doc, tgt, h))
    c_raw: Counter = Counter(b for _, _, b in occ)
    c_tgt: Counter = Counter(b for _, t, b in occ if t)
    n_raw, n_tgt = sum(c_raw.values()), sum(c_tgt.values())
    lr = {
        b: round(
            math.log((c_tgt.get(b, 0) + 1) / (n_tgt + B))
            - math.log((c_raw[b] + 1) / (n_raw + B)),
            8,
        )
        for b in c_raw
    }
    out = {}
    for doc, _, b in occ:
        n, s = out.get(doc, (0, 0.0))
        out[doc] = (n + 1, round(s + lr[b], 10))
    for doc, text, _ in rows:
        if doc not in out:
            out[doc] = (0, 0.0)
    return out


@spark_property()
@given(
    st.lists(
        st.tuples(
            st.lists(st.sampled_from(WORDS), min_size=0, max_size=6),
            st.booleans(),
        ),
        min_size=2,
        max_size=10,
    )
)
def test_dsir_weights_match_bruteforce(spark, docs):
    """importance_weights == a pure-python replay (md5 buckets,
    add-one smoothing, 8-decimal rounding) on random tiny corpora —
    including docs with zero tokens (neutral weight)."""
    rows = [(i, " ".join(ws), t) for i, (ws, t) in enumerate(docs)]
    df = spark.createDataFrame(rows, "doc_id long, text string, t boolean")
    got = {
        r["doc_id"]: (r["n_feats"], round(r["log_weight"], 6))
        for r in sampling.importance_weights(df, "doc_id", "text", "t").collect()
    }
    want = {
        d: (n, round(v, 6)) for d, (n, v) in _brute_dsir(rows).items()
    }
    assert got == want


@spark_property()
@given(
    st.lists(
        st.floats(min_value=-5, max_value=5, allow_nan=False),
        min_size=5,
        max_size=30,
    ),
    st.floats(min_value=-100, max_value=100, allow_nan=False),
)
def test_gumbel_topk_shift_invariant(spark, weights, shift):
    """Softmax is shift-invariant, so adding any constant to every
    weight must select the SAME rows (keys all move by the constant;
    order and ties preserved up to the 1e-8 rounding grid)."""
    rows = [(i, float(w)) for i, w in enumerate(weights)]
    df = spark.createDataFrame(rows, "doc_id long, w double")
    k = max(1, len(rows) // 3)
    a = [r["doc_id"] for r in sampling.gumbel_topk(df, "doc_id", "w", k).collect()]
    b = [
        r["doc_id"]
        for r in sampling.gumbel_topk(
            df.withColumn("w", F.col("w") + float(shift)), "doc_id", "w", k
        ).collect()
    ]
    assert a == b


@given(
    ids=st.lists(
        st.integers(min_value=0, max_value=10_000),
        min_size=1,
        max_size=40,
        unique=True,
    ),
    rows=st.integers(1, 7),
)
@spark_property()
def test_training_order_matches_brute_force(spark, ids, rows):
    """The md5 permutation + shard cut must equal the pure-python
    replay: sort ids by md5(str(id)), shard = rank // rows_per_shard —
    and be independent of input partitioning."""
    df = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    got = {
        r["doc_id"]: (r["shuffle_key"], r["shard"])
        for r in sampling.training_order(df.repartition(5), "doc_id", rows).collect()
    }
    order = sorted(ids, key=lambda i: hashlib.md5(str(i).encode()).hexdigest())
    want = {
        i: (hashlib.md5(str(i).encode()).hexdigest(), rank // rows)
        for rank, i in enumerate(order)
    }
    assert got == want


# -------- temperature mixture sampling and epoch upsampling


def test_temperature_partition_stable_and_deterministic(spark, docs):
    a = {
        r["doc_id"]
        for r in sampling.temperature_sample(docs, "doc_id", "source").collect()
    }
    b = {
        r["doc_id"]
        for r in sampling.temperature_sample(
            docs.repartition(7), "doc_id", "source"
        ).collect()
    }
    assert a == b and a


def test_temperature_alpha1_is_flat_budget(spark, docs):
    """α=1 ⇒ every stratum keeps the same rate = budget_frac: the
    per-stratum thresholds must all equal floor(budget_frac·4096)."""
    out = sampling.temperature_sample(
        docs, "doc_id", "source", alpha=1.0, budget_frac=0.5
    )
    thrs = {r["thr"] for r in out.select("thr").distinct().collect()}
    assert thrs == {2048}


def test_temperature_upweights_tail(spark):
    """α=0.5 keep-rates must be monotone DECREASING in stratum size
    (that is the point of temperature sampling); a 10-row stratum next
    to a 1000-row one should keep rate 1 vs ~budgeted."""
    rows = [Row(id=i, s="big") for i in range(1000)] + [
        Row(id=1000 + i, s="small") for i in range(10)
    ]
    df = spark.createDataFrame(rows)
    out = sampling.temperature_sample(
        df, "id", "s", alpha=0.5, budget_frac=0.5
    )
    thr = {
        r["s"]: r["thr"]
        for r in out.select("s", "thr").distinct().collect()
    }
    # expected: w_big=sqrt(1000), w_small=sqrt(10); budget=505
    w_big, w_small = math.sqrt(1000.0), math.sqrt(10.0)
    tot = w_big + w_small
    f_big = min(1.0, 505.0 * w_big / (tot * 1000.0))
    f_small = min(1.0, 505.0 * w_small / (tot * 10.0))
    assert f_small == 1.0 and thr["small"] == 4096
    assert thr["big"] == math.floor(f_big * 4096)


def test_temperature_budget_roughly_met(spark, docs):
    n = docs.count()
    k = sampling.temperature_sample(
        docs, "doc_id", "source", budget_frac=0.5
    ).count()
    assert abs(k / n - 0.5) < 0.15


def test_temperature_nested_in_budget(spark, docs):
    """Raising the budget keeps previously selected rows (hash-
    Bernoulli nesting — reproducible mixture scale-ups)."""
    lo = {
        r["doc_id"]
        for r in sampling.temperature_sample(
            docs, "doc_id", "source", budget_frac=0.3
        ).collect()
    }
    hi = {
        r["doc_id"]
        for r in sampling.temperature_sample(
            docs, "doc_id", "source", budget_frac=0.7
        ).collect()
    }
    assert lo <= hi


def test_temperature_tiny_rate_clamps_not_drops(spark):
    """A stratum whose keep-rate floors below the 1/4096
    grid must NOT silently contribute zero rows when its exact
    expected draw count n_s >= 1 — the threshold clamps to the
    minimum grid cell instead (thr = 1 > 0)."""
    # 20k-row stratum, tiny budget: rate ≈ 0.0001 < 1/4096 but
    # n_s = rate·20000 ≈ 2 ≥ 1
    rows = [Row(id=i, s="big") for i in range(20_000)]
    out = sampling.temperature_sample(
        spark.createDataFrame(rows), "id", "s",
        alpha=1.0, budget_frac=0.0001,
    )
    thr = out.select("thr").distinct().collect()
    # clamped to 1, and the selection is non-empty with high
    # probability (expected ≈ 20000/4096 ≈ 5 rows at thr=1)
    assert [r["thr"] for r in thr] == [1]
    assert out.count() > 0


def test_epoch_repeats_sub_epoch_stratum_not_dropped(spark):
    """Same clamp on epoch_repeats' fractional part: a base=0 stratum
    whose fraction floors to 0 keeps frac_thr = 1 when it still owes
    n_s >= 1 expected draws."""
    rows = [Row(id=i, s="big") for i in range(20_000)] + [
        Row(id=100_000 + i, s="tiny") for i in range(4)
    ]
    rep = sampling.epoch_repeats(
        spark.createDataFrame(rows), "id", "s",
        alpha=0.0, budget_epochs=0.0001,
    )
    big = rep.filter("s = 'big'").select("base_epochs", "frac_thr").distinct().collect()
    assert [(r["base_epochs"], r["frac_thr"]) for r in big] == [(0, 1)]


def test_epoch_upsample_matches_temperature_when_sub_epoch(spark, docs):
    """budget_epochs < 1 degenerates to temperature_sample exactly:
    base 0 everywhere, and the +1 fraction is the SAME md5 selection
    (same key, same grid) as the keep set."""
    kept = {
        r["doc_id"]
        for r in sampling.temperature_sample(
            docs, "doc_id", "source", budget_frac=0.5
        ).collect()
    }
    rep = sampling.epoch_repeats(
        docs, "doc_id", "source", budget_epochs=0.5
    ).collect()
    assert all(r["base_epochs"] == 0 for r in rep)
    assert {r["doc_id"] for r in rep if r["n_repeats"] == 1} == kept


def test_epoch_upsample_total_near_budget(spark, docs):
    n = docs.count()
    rep = sampling.epoch_repeats(
        docs, "doc_id", "source", budget_epochs=1.5
    )
    total = rep.agg(F.sum("n_repeats")).first()[0]
    assert abs(total / (1.5 * n) - 1.0) < 0.1


def test_epoch_upsample_tail_gets_more_epochs(spark):
    """α=0.5: the small stratum's epoch target must exceed the big
    stratum's (that is the upsampling direction)."""
    rows = [Row(id=i, s="big") for i in range(1000)] + [
        Row(id=1000 + i, s="small") for i in range(10)
    ]
    df = spark.createDataFrame(rows)
    out = sampling.epoch_repeats(df, "id", "s", alpha=0.5, budget_epochs=1.0)
    eff = {
        r["s"]: r["base_epochs"] + r["frac_thr"] / 4096.0
        for r in out.select("s", "base_epochs", "frac_thr")
        .distinct()
        .collect()
    }
    assert eff["small"] > 1.0 > eff["big"]


@spark_property(10)
@given(
    b1=st.floats(min_value=0.05, max_value=3.0),
    b2=st.floats(min_value=0.05, max_value=3.0),
)
def test_epoch_repeats_monotone_in_budget(spark, docs, b1, b2):
    """For ANY budget pair, every row's n_repeats is monotone
    non-decreasing in the budget (floor + nested hash carry are both
    monotone) — raising a mixture's epoch budget never drops data."""
    lo, hi = sorted([b1, b2])
    a = {
        r["doc_id"]: r["n_repeats"]
        for r in sampling.epoch_repeats(
            docs, "doc_id", "source", budget_epochs=lo
        ).collect()
    }
    b = {
        r["doc_id"]: r["n_repeats"]
        for r in sampling.epoch_repeats(
            docs, "doc_id", "source", budget_epochs=hi
        ).collect()
    }
    assert all(b[k] >= v for k, v in a.items())
