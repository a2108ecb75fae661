"""BPE tokenizer (operators/bpe.py + plans/text_bpe.py): training
determinism, encode semantics, the Spark-vs-pure-Python merge-table
equality the ground-truth oracle relies on, and the plan shape."""

from __future__ import annotations

from raft_c_spark.operators import bpe


def test_learn_merges_classic_example():
    # Sennrich-style toy corpus: 'es' is the most frequent pair
    # (newest x6 + widest x3 = 9), then 'es t', then 'est </w>'
    wc = [("low", 5), ("lower", 2), ("newest", 6), ("widest", 3)]
    m = bpe.learn_merges(wc, 3)
    assert m == [("e", "s"), ("es", "t"), ("est", "</w>")]


def test_learn_merges_deterministic_tiebreak():
    # both pairs occur twice; lexicographic smallest wins
    m = bpe.learn_merges([("ab", 2), ("cd", 2)], 1)
    assert m == [("a", "b")]
    # input order must not matter
    m2 = bpe.learn_merges([("cd", 2), ("ab", 2)], 1)
    assert m2 == m


def test_learn_merges_stops_below_two():
    # every pair occurs once -> nothing merges
    assert bpe.learn_merges([("ab", 1), ("cd", 1)], 10) == []


def test_encode_word_roundtrip_and_fallback():
    m = bpe.learn_merges([("low", 5), ("lower", 2), ("newest", 6)], 10)
    r = bpe.merge_ranks(m)
    # trained word encodes compactly; unseen word falls back to chars
    assert len(bpe.encode_word("newest", r)) <= 3
    assert bpe.encode_word("xyz", r) == ["x", "y", "z", "</w>"]
    # concatenating an encoding (minus the end marker) restores the word
    toks = bpe.encode_word("lowest", r)
    assert "".join(toks).removesuffix(bpe.END) == "lowest"


def test_encode_applies_merges_in_rank_order():
    # rank order matters: ('a','b') before ('b','c') means 'abc'
    # becomes [ab, c], never [a, bc]
    r = bpe.merge_ranks([("a", "b"), ("b", "c")])
    assert bpe.encode_word("abc", r) == ["ab", "c", "</w>"]


def test_spark_training_matches_pure_python(spark):
    """The oracle contract: Spark word counts + learn_merges must
    equal the pure-Python replay's merges (same corpus, same params) —
    pinned via merges_md5 at sf0.001."""
    from collections import Counter

    import pyarrow.parquet as pq

    from raft_c_spark.plans.text_bpe import MAX_WORDS, NUM_MERGES

    sf_dir = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    spark_merges = bpe.train_bpe(
        docs, "text", num_merges=NUM_MERGES, max_words=MAX_WORDS
    )

    t = pq.read_table(f"{sf_dir}/documents.parquet", columns=["text"])
    wc: Counter = Counter()
    for s in t["text"].to_pylist():
        wc.update(bpe.tokenize_py(s))
    table = sorted(wc.items(), key=lambda kv: (-kv[1], kv[0]))[:MAX_WORDS]
    py_merges = bpe.learn_merges(table, NUM_MERGES)

    assert bpe.merges_md5(spark_merges) == bpe.merges_md5(py_merges)
    # sf0.001 saturates (no pair left with count >= 2) before the
    # merge budget; the early stop is part of the determinism contract
    assert 50 < len(spark_merges) <= NUM_MERGES


def test_token_counts_brute_force(spark):
    rows = [
        (1, "the cat sat on the mat"),
        (2, ""),  # zero words -> 0/0 row still present
        (3, "cat cat cat"),
        (4, "!!! ???"),  # no [a-z0-9] tokens
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    merges = bpe.learn_merges(
        [("the", 4), ("cat", 5), ("sat", 1), ("on", 1), ("mat", 1)], 8
    )
    out = {
        r["doc_id"]: (r["n_words"], r["n_bpe_tokens"])
        for r in bpe.bpe_token_counts(df, "doc_id", "text", merges).collect()
    }
    ranks = bpe.merge_ranks(merges)
    for doc_id, text in rows:
        toks = bpe.tokenize_py(text)
        want = (
            len(toks),
            sum(len(bpe.encode_word(w, ranks)) for w in toks),
        )
        assert out[doc_id] == want, (doc_id, out[doc_id], want)
    assert out[2] == (0, 0) and out[4] == (0, 0)


def test_token_counts_partitioning_invariant(spark):
    """Result must not depend on input partitioning (the per-word
    encode is per-distinct-word; the per-doc aggregate is exact)."""
    sf_dir = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    merges = bpe.train_bpe(docs, "text", num_merges=50, max_words=5000)
    a = bpe.bpe_token_counts(docs, "doc_id", "text", merges)
    b = bpe.bpe_token_counts(
        docs.repartition(13), "doc_id", "text", merges
    )
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_plan_shape_no_cartesian_no_python_row_udf(spark):
    """Scale pins: the encode kernel is Arrow mapInPandas over the
    DISTINCT-word frame only, the join-back + zero-word left join are
    the only joins, and nothing falls back to a cartesian product or a
    row-at-a-time Python UDF."""
    sf_dir = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    merges = bpe.train_bpe(docs, "text", num_merges=50, max_words=5000)
    plan = (
        bpe.bpe_token_counts(docs, "doc_id", "text", merges)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan  # row-at-a-time Python
    # exactly one Arrow kernel — the persisted encode subtree prints
    # under both InMemoryRelation and its scan, so the NODE may appear
    # twice in the string; what matters is it's there and nothing else
    # introduced more Python
    assert 1 <= plan.count("MapInPandas") <= 2
    n_joins = sum(plan.count(j) for j in (
        "BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin",
        "BroadcastNestedLoopJoin",
    ))
    assert n_joins == 2, plan  # word-count join-back + zero-word left join


def test_pack_bpe_bins_respect_budget(spark):
    """Every doc's bin is its seq_start div budget and offsets stay in
    [0, budget) — the packing contract over BPE lengths."""
    from raft_c_spark.plans.text_bpe import BPE_PACK_BUDGET, q_ds_pack_bpe

    out = q_ds_pack_bpe(spark, "/root/testdata/sf0.001").collect()
    assert out
    total = 0
    for r in sorted(out, key=lambda r: r["seq_start"]):
        assert r["seq_start"] == total
        assert r["bin"] == r["seq_start"] // BPE_PACK_BUDGET
        assert 0 <= r["bin_offset"] < BPE_PACK_BUDGET
        total += r["n_bpe_tokens"]


def test_token_budget_mix_semantics(spark):
    """Rates cap at 1.0, over-weighted small sources are taken whole,
    and the selected token mass lands near the budget (md5 fractions
    are uniform; the corpus is big enough for +/-20%)."""
    from raft_c_spark.plans.text_bpe import (
        MIX_BUDGET_FRAC,
        q_ds_token_budget_mix,
    )

    out = q_ds_token_budget_mix(spark, "/root/testdata/sf0.01").collect()
    assert out
    total = sum(r["n_bpe_tokens"] for r in out)
    picked = sum(r["n_bpe_tokens"] for r in out if r["selected"])
    assert all(0.0 < r["rate"] <= 1.0 for r in out)
    # src19 (weight 20) is owed ~2x its tokens under equal source
    # sizes -> rate 1.0, taken whole; src0 (weight 1) is scaled down
    by_src = {}
    for r in out:
        by_src.setdefault(r["source"], r["rate"])
    assert by_src["src19"] == 1.0
    assert by_src["src0"] < 0.2
    # expected selected mass = sum(min(1, rate) * src_tokens) -> the
    # realized mass should track it (not the raw budget, since capped
    # sources can't donate their surplus)
    exp = {}
    for r in out:
        exp.setdefault(r["source"], [0, r["rate"]])
        exp[r["source"]][0] += r["n_bpe_tokens"]
    expected = sum(t * rate for t, rate in exp.values())
    assert abs(picked - expected) / expected < 0.2
    assert picked < total  # a real mixture, not take-everything
    assert MIX_BUDGET_FRAC == 0.5


def test_token_budget_mix_zero_token_source_and_digitless_names(spark):
    """A source whose docs all have zero tokens gets rate 1.0 (taken
    whole — trivially within any budget), never NULL; digitless
    source names get raw weight 1 on both engines (reviewer r10)."""
    from raft_c_spark.operators.sampling import token_budget_mix

    rows = [
        (1, "misc", 0, 1),   # digitless source, zero tokens
        (2, "misc", 0, 1),
        (3, "src3", 10, 4),
        (4, "src3", 30, 4),
        (5, "src1", 100, 2),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, source string, n_bpe_tokens long, w long"
    )
    out = token_budget_mix(
        df, "doc_id", "source", "n_bpe_tokens", "w", budget_frac=0.5
    ).collect()
    assert len(out) == len(rows)
    by_src = {r["source"]: r for r in out}
    assert by_src["misc"]["rate"] == 1.0
    assert by_src["misc"]["selected"] is not None
    for r in out:
        assert r["rate"] is not None and 0.0 < r["rate"] <= 1.0
        assert r["selected"] is not None
