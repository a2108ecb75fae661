"""Scale-path operator tests: IVF similarity, salted aggregation,
approximate aggregates — correctness/recall/error-bound checks."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from raft_c_spark.operators import similarity
from raft_c_spark.operators.skew import salted_agg
from raft_c_spark.sources.testdata import load_table


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return load_table(spark, sf_dir, "embeddings").cache()


@pytest.fixture(scope="module")
def events(spark, sf_dir):
    return load_table(spark, sf_dir, "events").cache()


def test_ivf_topk_recall_on_planted(spark, emb):
    import random

    q = emb.filter(F.col("vec_id") == 5).collect()[0]["embedding"]
    rng = random.Random(3)
    planted = spark.createDataFrame(
        [(70000 + i, [v + rng.uniform(-0.02, 0.02) for v in q], 0) for i in range(4)],
        "vec_id long, embedding array<float>, label int",
    )
    allv = emb.unionByName(planted)
    got = {r["doc"] for r in similarity.ivf_topk(allv, q, k=5).collect()}
    # near-clones land in the query's own probe lists
    assert {70000 + i for i in range(4)} <= got
    assert 5 in got


def test_ivf_deterministic(emb):
    q = emb.filter(F.col("vec_id") == 0).collect()[0]["embedding"]
    a = [(r["doc"], round(r["cosine"], 9)) for r in similarity.ivf_topk(emb, q, k=8).collect()]
    b = [(r["doc"], round(r["cosine"], 9)) for r in similarity.ivf_topk(emb, q, k=8).collect()]
    assert a == b


def test_ivf_prunes(emb):
    q = emb.filter(F.col("vec_id") == 0).collect()[0]["embedding"]
    assigned, _ = similarity.ivf_index(emb)
    n = emb.count()
    # probing 4 of 16 lists reads a strict subset of the corpus
    sizes = {r["_list"]: r["n"] for r in assigned.groupBy("_list").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert len(sizes) > 4
    assert sum(sizes.values()) == n


def test_salted_agg_matches_direct(events):
    direct = {
        r["event_type"]: (r["n"], round(r["s"], 6), r["mx"], round(r["av"], 6))
        for r in events.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("value").alias("s"),
            F.max("value").alias("mx"),
            F.avg("value").alias("av"),
        )
        .collect()
    }
    salted = {
        r["event_type"]: (
            r["n"],
            round(r["s"], 6),
            r["mx"],
            round(r["av"], 6),
        )
        for r in salted_agg(
            events,
            ["event_type"],
            {
                "n": ("count", "*"),
                "s": ("sum", "value"),
                "mx": ("max", "value"),
                "av": ("avg", "value"),
            },
        ).collect()
    }
    assert salted == direct


def test_salted_agg_rejects_non_decomposable(events):
    with pytest.raises(ValueError):
        salted_agg(events, ["event_type"], {"m": ("median", "value")})


def test_approx_count_distinct_error_bound(events):
    exact = {
        r["event_type"]: r["n"]
        for r in events.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    approx = {
        r["event_type"]: r["n"]
        for r in events.groupBy("event_type")
        .agg(F.approx_count_distinct("user_id", rsd=0.02).alias("n"))
        .collect()
    }
    for k, n in exact.items():
        assert abs(approx[k] - n) <= max(2, 0.1 * n), (k, n, approx[k])


def test_percentile_approx_brackets_exact(events):
    exact = events.agg(
        F.expr("percentile(value, 0.5)").alias("p50")
    ).collect()[0]["p50"]
    approx = events.agg(
        F.percentile_approx("value", 0.5, 10000).alias("p50")
    ).collect()[0]["p50"]
    assert approx == pytest.approx(exact, rel=0.05)


def test_interval_join_semantics(spark):
    from raft_c_spark.operators.rangejoin import interval_join

    pts = spark.createDataFrame(
        [("k1", 100, "p1"), ("k1", 250, "p2"), ("k1", 999, "p3"), ("k2", 150, "p4")],
        "key string, timestamp long, pid string",
    )
    ivs = spark.createDataFrame(
        [
            ("k1", 50, 150, "A"),    # contains p1
            ("k1", 90, 260, "B"),    # contains p1 AND p2 (overlap)
            ("k2", 200, 300, "C"),   # contains nothing (p4 at 150)
        ],
        "key string, start long, end long, iv string",
    )
    inner = interval_join(pts, ivs, key="key", bucket_ns=100)
    got = {(r["pid"], r["iv"]) for r in inner.collect()}
    assert got == {("p1", "A"), ("p1", "B"), ("p2", "B")}


def test_interval_join_inclusive_bounds_and_bucket_edges(spark):
    from raft_c_spark.operators.rangejoin import interval_join

    # bounds exactly on bucket boundaries and interval endpoints
    pts = spark.createDataFrame(
        [("k", 100, "lo"), ("k", 200, "hi"), ("k", 99, "below"), ("k", 201, "above")],
        "key string, timestamp long, pid string",
    )
    ivs = spark.createDataFrame(
        [("k", 100, 200, "I")], "key string, start long, end long, iv string"
    )
    got = {r["pid"] for r in interval_join(pts, ivs, key="key", bucket_ns=100).collect()}
    assert got == {"lo", "hi"}  # inclusive both ends, neighbors excluded


def test_funnel_strict_ordering(spark):
    """A later-step event BEFORE the previous step must not count;
    one after it must. Users: 1 completes in order, 2 purchases
    before clicking (stops at click... which also precedes signup),
    3 signs up only."""
    from raft_c_spark.operators.window import funnel_steps

    rows = [
        # user 1: signup@10, click@20, purchase@30 -> full funnel
        (1, 10, 1, "signup"), (2, 20, 1, "click"), (3, 30, 1, "purchase"),
        # user 2: click@5 BEFORE signup@10, purchase@8 -> signup only
        (4, 5, 2, "click"), (5, 10, 2, "signup"), (6, 8, 2, "purchase"),
        # user 3: signup@10, click@20, purchase@15 (before click) -> 2 steps
        (7, 10, 3, "signup"), (8, 20, 3, "click"), (9, 15, 3, "purchase"),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, timestamp long, user_id long, event_type string"
    )
    got = {
        r["user_id"]: (r["t1"], r["t2"], r["t3"])
        for r in funnel_steps(df, ["signup", "click", "purchase"]).collect()
    }
    assert got == {1: (10, 20, 30), 2: (10, None, None), 3: (10, 20, None)}


def test_cohort_retention_hand_case(spark):
    from raft_c_spark.operators.window import cohort_retention

    wk = 100
    rows = [
        (1, 10), (1, 110), (1, 350),   # cohort 0, offsets 0,1,3
        (2, 120), (2, 130), (2, 250),  # cohort 1, offsets 0,0,1
    ]
    df = spark.createDataFrame(rows, "user_id long, timestamp long")
    got = {
        (r["cohort_period"], r["period_offset"]): r["n_users"]
        for r in cohort_retention(df, period_ns=wk).collect()
    }
    assert got == {(0, 0): 1, (0, 1): 1, (0, 3): 1, (1, 0): 1, (1, 1): 1}


def test_salted_join_matches_plain(spark):
    from raft_c_spark.operators.skew import salted_join

    left = spark.createDataFrame(
        [("a", i) for i in range(50)] + [("b", i) for i in range(5)] + [("c", 99)],
        "k string, v int",
    )
    right = spark.createDataFrame(
        [("a", 1.0), ("b", 2.0), ("d", 4.0)], "k string, w double"
    )
    got = sorted(
        (r["k"], r["v"], r["w"])
        for r in salted_join(left, right, "k", n_salts=4).collect()
    )
    want = sorted(
        (r["k"], r["v"], r["w"]) for r in left.join(right, "k").collect()
    )
    assert got == want


def test_certify_lsh_recall_tunes_to_target(spark):
    """The auto-tuner must (a) REJECT rungs whose measured planted
    recall misses 0.9 — demonstrating the walk does real work, (b)
    stop at the first acceptable rung, and (c) certify that rung with
    recall >= 0.9 inside the candidate budget."""
    from raft_c_spark.operators.similarity import (
        LSH_TUNE_LADDER,
        certify_lsh_recall,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    rows = certify_lsh_recall(emb).collect()
    assert 1 <= len(rows) <= len(LSH_TUNE_LADDER)
    chosen = [r for r in rows if r["chosen"]]
    assert len(chosen) == 1, rows
    c = chosen[0]
    assert c["recall"] >= 0.9 and c["within_budget"] and c["meets_target"]
    # the walk stops AT the chosen rung and every earlier rung failed
    assert rows[-1]["rung"] == c["rung"]
    for r in rows[:-1]:
        assert not (r["meets_target"] and r["within_budget"])
    # the synthetic corpus needs tuning: the cheapest rung must fail
    # (if it ever passes, the ladder no longer demonstrates a walk)
    assert not rows[0]["meets_target"]


def test_planted_queries_angle_regime(spark):
    """Planted noise lands queries at a moderate angle to their
    source (cos > 0.5 — clearly nearest in a ~90-degree corpus) but
    NOT at near-zero angle (cos < 0.99 — exact copies would make any
    config trivially pass and void the tuning demo)."""
    from pyspark.sql import functions as F

    from raft_c_spark.operators.similarity import (
        dot_fold,
        planted_queries,
        with_norm,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = with_norm(
        planted_queries(emb), "vec_id", "embedding"
    ).select(F.col("doc").alias("q"), F.col("vec").alias("qv"),
             F.col("norm").alias("qn"))
    c = with_norm(emb, "vec_id", "embedding").select(
        "doc", F.col("vec").alias("cv"), F.col("norm").alias("cn")
    )
    cos = (
        q.join(c, q["q"] == c["doc"])
        .select((dot_fold("qv", "cv") / (F.col("qn") * F.col("cn"))).alias("cos"))
        .collect()
    )
    assert cos
    for r in cos:
        assert 0.5 < r["cos"] < 0.99, r
