"""Text-analysis and similarity-search operator tests."""

from __future__ import annotations

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from raft_c_spark.operators import dedup, similarity, text
from raft_c_spark.sources.testdata import load_table


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return load_table(spark, sf_dir, "embeddings").cache()


def test_token_counts_edge_cases(spark):
    rows = [(1, ""), (2, "   "), (3, "one"), (4, "a b  c"), (5, "x, y!")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: (r["n_tokens"], r["n_bpe_tokens"]) for r in
           text.analyze(df).collect()}
    assert out[1] == (0, 0)
    assert out[2] == (0, 0)
    assert out[3] == (1, 1)
    assert out[4] == (3, 3)
    assert out[5] == (2, 4)  # x , y !


def test_lang_id_on_clear_samples(spark):
    rows = [
        (1, "the cat and the dog went to the house in the garden"),
        (2, "der Hund und die Katze sind nicht ein Problem"),
        (3, "el perro y la casa de los gatos que viven"),
        (4, "le chien et les chats sont une famille est belle"),
        (5, "你好世界这是一个测试文档没有空格"),
        (6, "zzz qqq xxx"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r["pred_lang"] for r in text.analyze(df).collect()}
    assert out == {1: "en", 2: "de", 3: "es", 4: "fr", 5: "zh", 6: "unknown"}


def test_quality_score_bounds(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    stats = text.analyze(docs).agg(
        F.min("quality"), F.max("quality")
    ).collect()[0]
    assert 0.0 <= stats[0] <= stats[1] <= 1.0


def test_fingerprint_normalization(spark):
    rows = [(1, "Hello   World"), (2, "hello world"), (3, "hello world!")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    fp = {r["doc_id"]: r["fingerprint"] for r in text.analyze(df).collect()}
    assert fp[1] == fp[2]
    assert fp[1] != fp[3]


def test_cosine_topk_self_first(emb):
    q = emb.filter(F.col("vec_id") == 3).collect()[0]["embedding"]
    rows = similarity.cosine_topk(emb, q, k=5).collect()
    assert rows[0]["doc"] == 3
    assert rows[0]["cosine"] == pytest.approx(1.0)
    sims = [r["cosine"] for r in rows]
    assert sims == sorted(sims, reverse=True)


def test_lsh_topk_recall_on_near_dups(spark, emb):
    """Planted near-duplicates must be recovered by the multi-table
    LSH probe (collision prob ≈ 1 at cosine ≥ 0.99)."""
    import random

    q = emb.filter(F.col("vec_id") == 0).collect()[0]["embedding"]
    rng = random.Random(11)
    planted = spark.createDataFrame(
        [
            (80000 + i, [v + rng.uniform(-0.02, 0.02) for v in q], 0)
            for i in range(5)
        ],
        "vec_id long, embedding array<float>, label int",
    )
    allv = emb.unionByName(planted)
    got = {r["doc"] for r in similarity.lsh_bucketed_topk(allv, q, k=6).collect()}
    assert {80000 + i for i in range(5)} <= got
    assert 0 in got


def test_lsh_prunes_candidates(emb):
    q = emb.filter(F.col("vec_id") == 0).collect()[0]["embedding"]
    n_cand = similarity.lsh_candidates(emb, q).count()
    n = emb.count()
    assert 0 < n_cand < n, "LSH probe must prune the corpus"


def test_redact_pii_planted(spark):
    df = spark.createDataFrame(
        [
            (1, "mail me at jo.doe+x@sub.example.org or call +1 (555) 123-4567"),
            (2, "see https://example.com/a?b=c#frag and http://x.io"),
            (3, "no pii here"),
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in text.redact_pii(df).collect()}
    assert rows[1]["n_emails"] == 1 and rows[1]["n_phones"] == 1
    assert rows[1]["clean_text"] == "mail me at <EMAIL> or call <PHONE>"
    assert rows[2]["n_urls"] == 2
    assert rows[2]["clean_text"] == "see <URL> and <URL>"
    assert rows[3]["clean_text"] == "no pii here"
    assert (rows[3]["n_emails"], rows[3]["n_urls"], rows[3]["n_phones"]) == (0, 0, 0)


def test_lsh_bucketed_pairs_recall_on_planted(spark, emb):
    """The 100 TB embedding pair-dedup path: hyperplane-LSH candidates
    + exact-cosine verify must (a) recover ≥90% of planted near-dup
    pairs at cosine ≥ 0.95, and (b) return a subset of the exact
    all-pairs result (the verify stage admits no false positives)."""
    import random

    rng = random.Random(23)
    base = {r["vec_id"]: r["embedding"] for r in emb.limit(12).collect()}
    planted = spark.createDataFrame(
        [
            (70000 + i, [v * (1 + rng.uniform(-0.01, 0.01)) for v in vec], 0)
            for i, vec in enumerate(base.values())
        ],
        "vec_id long, embedding array<float>, label int",
    )
    allv = emb.unionByName(planted)
    truth = {
        (r["a"], r["b"])
        for r in dedup.embedding_neardup_pairs(
            allv, "vec_id", "embedding", threshold=0.95
        ).collect()
    }
    assert truth, "planting should create ≥0.95-cosine pairs"
    found = {
        (r["a"], r["b"])
        for r in similarity.lsh_bucketed_pairs(
            allv, "vec_id", "embedding", threshold=0.95, bits=10, tables=8
        ).collect()
    }
    assert found <= truth, "verify stage must not admit false positives"
    recall = len(found & truth) / len(truth)
    assert recall >= 0.9, f"lsh pair recall {recall:.2f} over {len(truth)}"


def test_lsh_index_probe_matches_inline(spark, emb, tmp_path):
    """The persisted bucket-partitioned index must yield exactly the
    candidates (hence exactly the top-k) of the inline signature
    kernel — same hyperplanes, same packing."""
    import uuid

    q = [float(x) for x in emb.limit(1).collect()[0]["embedding"]]
    key = f"test_{uuid.uuid4().hex[:8]}"
    inline = similarity.lsh_bucketed_topk(emb, q, k=15, bits=6, tables=8)
    indexed = similarity.lsh_bucketed_topk(
        emb, q, k=15, bits=6, tables=8, cache_key=key
    )
    rows = lambda df: [(r["doc"], r["cosine"]) for r in df.collect()]
    assert rows(indexed) == rows(inline)
    # second probe hits the persisted index (no rebuild) — same result
    again = similarity.lsh_bucketed_topk(
        emb, q, k=15, bits=6, tables=8, cache_key=key
    )
    assert rows(again) == rows(inline)


def test_pair_signatures_shape(emb):
    sigs = similarity.pair_signatures(emb, "vec_id", "embedding", bits=6, tables=4)
    n = emb.count()
    assert sigs.count() == n * 4
    r = sigs.limit(1).collect()[0]
    assert 0 <= r["sig"] < 64


def test_heavy_hitter_ngrams_hand_case(spark):
    rows = [
        (1, "the cat sat on the cat"),   # "the cat" x2
        (2, "the cat ran"),
        (3, "solo"),                      # shorter than n → no grams
        (4, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = text.heavy_hitter_ngrams(df, n=2, k=3).collect()
    assert [(r["ngram"], r["n_total"], r["n_docs"]) for r in out] == [
        ("the cat", 3, 2),
        ("cat ran", 1, 1),
        ("cat sat", 1, 1),  # tie with others broken by ngram asc
    ]


def test_heavy_hitter_trigram_counts(spark):
    df = spark.createDataFrame([(1, "a b c d")], "doc_id long, text string")
    out = text.heavy_hitter_ngrams(df, n=3, k=10).collect()
    assert sorted(r["ngram"] for r in out) == ["a b c", "b c d"]


def test_chunk_documents_overlap_and_tail(spark):
    # 10 tokens, chunk=4, stride=3 → starts 0,3,6 (start 6 reaches the
    # end; no start 9 because 9+4 window would be a strict subset tail)
    toks = [f"t{i}" for i in range(10)]
    df = spark.createDataFrame([(1, " ".join(toks))], "doc_id long, text string")
    out = text.chunk_documents(df, chunk=4, stride=3).orderBy("chunk_idx").collect()
    assert [(r["chunk_idx"], r["start_tok"], r["n_chunk_tokens"]) for r in out] == [
        (0, 0, 4),
        (1, 3, 4),
        (2, 6, 4),
    ]


def test_chunk_documents_short_and_empty(spark):
    rows = [(1, "just three tokens"), (2, ""), (3, "   ")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = text.chunk_documents(df, chunk=32, stride=24).collect()
    assert [(r["doc_id"], r["chunk_idx"], r["n_chunk_tokens"]) for r in out] == [
        (1, 0, 3)
    ]


def test_chunk_documents_exact_multiple(spark):
    # exactly one chunk when len == chunk
    df = spark.createDataFrame(
        [(1, " ".join(str(i) for i in range(8)))], "doc_id long, text string"
    )
    out = text.chunk_documents(df, chunk=8, stride=4).collect()
    assert len(out) == 1 and out[0]["n_chunk_tokens"] == 8


def test_chunk_documents_rejects_bad_stride(spark):
    df = spark.createDataFrame([(1, "a b")], "doc_id long, text string")
    with pytest.raises(ValueError):
        text.chunk_documents(df, chunk=4, stride=5)
    with pytest.raises(ValueError):
        text.chunk_documents(df, chunk=4, stride=0)


def test_quantize_int8_hand_case(spark):
    rows = [
        (1, [1.0, -0.5, 0.25, 0.0]),   # scale 127; q = [127, -64, 32, 0]
        (2, [0.0, 0.0, 0.0, 0.0]),     # zero vector → scale 0, all zeros
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {r["vec_id"]: r for r in similarity.quantize_int8(df).collect()}
    assert out[1]["scale"] == 127.0
    assert (out[1]["q_sum"], out[1]["q_min"], out[1]["q_max"]) == (95, -64, 127)
    assert out[2]["scale"] == 0.0
    assert (out[2]["q_sum"], out[2]["q_min"], out[2]["q_max"]) == (0, 0, 0)
    assert out[1]["dim"] == out[2]["dim"] == 4


def test_quantize_int8_range_bound(spark, emb):
    """Every quantized component must land in [-127, 127]."""
    out = similarity.quantize_int8(emb).agg(
        F.min("q_min").alias("lo"), F.max("q_max").alias("hi")
    ).collect()[0]
    assert -127 <= out["lo"] <= out["hi"] <= 127


def test_knn_join_matches_per_query_topk(spark, sf_dir):
    """The batch k-NN join must return, for every query, exactly what
    a per-query cosine_topk over the self-excluded corpus returns —
    including tie order (cosine desc, id asc)."""
    from pyspark.sql import functions as F

    from raft_c_spark.operators import similarity
    from raft_c_spark.sources.testdata import load_table

    emb = load_table(spark, sf_dir, "embeddings").cache()
    queries = emb.filter(F.col("vec_id") < 6)
    got = {}
    for r in similarity.knn_join(queries, emb, k=4).collect():
        got.setdefault(r["q"], []).append((r["doc"], r["cosine"]))
    for q in [r["vec_id"] for r in queries.select("vec_id").collect()]:
        qv = emb.filter(F.col("vec_id") == q).collect()[0]["embedding"]
        want = [
            (r["doc"], r["cosine"])
            for r in similarity.cosine_topk(
                emb.filter(F.col("vec_id") != q), [float(x) for x in qv], k=4
            ).collect()
        ]
        assert sorted(got[q], key=lambda t: (-t[1], t[0])) == want, q


def test_knn_join_lsh_finds_planted_neighbors(spark):
    """Batch LSH k-NN: every cloned query's nearest neighbor (its
    base vector) must surface as the top-1 candidate, and surfaced
    candidates must carry the same fold-ordered cosines as the exact
    join."""
    import numpy as np

    from raft_c_spark.operators import similarity

    rng = np.random.default_rng(7)
    base = rng.normal(size=(60, 32)).astype(np.float32)
    rows = [(i, [float(v) for v in base[i]]) for i in range(60)]
    # clones 1000+i of base i — the queries
    rows += [
        (1000 + i, [float(v) * 1.001 for v in base[i]]) for i in range(20)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    queries = df.filter("vec_id >= 1000")
    got = similarity.knn_join_lsh(queries, df, k=3, bits=8, tables=16)
    top1 = {}
    for r in got.collect():
        if r["q"] not in top1 or r["cosine"] > top1[r["q"]][1]:
            top1[r["q"]] = (r["doc"], r["cosine"])
    hits = sum(1 for q, (d, _) in top1.items() if d == q - 1000)
    assert hits >= 19, top1  # recall ≈1.0 for near-duplicates
    # rerank parity vs the exact batch join on one query
    exact = {
        (r["q"], r["doc"]): r["cosine"]
        for r in similarity.knn_join(queries, df, k=3).collect()
    }
    for r in got.collect():
        if (r["q"], r["doc"]) in exact:
            assert r["cosine"] == exact[(r["q"], r["doc"])]


def test_lsh_bucketed_pairs_auto_mixed_recall(spark, emb):
    """The fully-auto (mixed-bits allocation) path must hold the same
    recall contract as fixed params: >=90% of planted near-dup pairs
    at cosine >= 0.95, and no false positives. Exercises both table
    groups of auto_lsh_allocation (the corpus size is not a power of
    two times the bucket target)."""
    import random

    from raft_c_spark.operators import dedup
    from raft_c_spark.operators.similarity import auto_lsh_allocation

    rng = random.Random(29)
    base = {r["vec_id"]: r["embedding"] for r in emb.limit(12).collect()}
    planted = spark.createDataFrame(
        [
            (80000 + i, [v * (1 + rng.uniform(-0.01, 0.01)) for v in vec], 0)
            for i, vec in enumerate(base.values())
        ],
        "vec_id long, embedding array<float>, label int",
    )
    allv = emb.unionByName(planted)
    n = allv.count()
    groups = auto_lsh_allocation(n, 0.95)
    truth = {
        (r["a"], r["b"])
        for r in dedup.embedding_neardup_pairs(
            allv, "vec_id", "embedding", threshold=0.95
        ).collect()
    }
    assert truth
    found = {
        (r["a"], r["b"])
        for r in similarity.lsh_bucketed_pairs(
            allv, "vec_id", "embedding", threshold=0.95,
            bits=None, tables=None,
        ).collect()
    }
    assert found <= truth
    recall = len(found & truth) / len(truth)
    assert recall >= 0.9, f"auto-mixed recall {recall:.2f} ({groups})"


class TestPlaneQualityAndAllocation:
    def test_hyperplane_bucket_skew_bounded(self):
        """Regression pin for the plane-lattice fix: md5-derived
        hyperplanes must keep bucket-occupancy skew (sum occ^2 * 2^b
        / n^2, gaussian ideal ~1.4) under 2.0 at 10 bits on isotropic
        vectors. The original multiplicative-hash planes measured 8.2
        here - a ~6x LSH candidate inflation."""
        import numpy as np

        from raft_c_spark.operators.similarity import _plane_matrix

        rng = np.random.default_rng(7)
        m = rng.normal(size=(20000, 64))
        planes = _plane_matrix(64, 10, 4)
        for t in range(4):
            bits = (m @ planes[t].T > 0).astype(np.int64)
            sig = bits @ (1 << np.arange(10))
            _, cnt = np.unique(sig, return_counts=True)
            skew = float((cnt.astype(np.float64) ** 2).sum() / (len(m) ** 2 / 1024))
            assert skew < 2.0, f"table {t}: bucket skew {skew:.2f}"

    def test_auto_allocation_holds_expected_volume(self):
        """The mixed-bits allocation must hold expected per-table
        candidate volume within 10% of the continuous ideal
        n * bucket_target for corpus sizes on AND off powers of two
        (the integer table split quantizes the mix fraction to 1/T,
        so exact equality is unreachable; the single-bits scheme it
        replaced swung a full 2x), and its recall product must reach
        the target."""
        import math

        from raft_c_spark.operators.similarity import auto_lsh_allocation

        p = 1.0 - math.acos(0.9) / math.pi
        for n in (4096 * 32, 5000, 20000, 60000, 123457, 10**6):
            groups = auto_lsh_allocation(n, 0.9, bucket_target=32)
            t_total = sum(t for _, t, _ in groups)
            vol = sum(t * n * (n / 2**b) for b, t, _ in groups) / t_total
            ideal = n * 32.0
            if n >= 32 * 16:  # above the floor-4 clamp region
                assert abs(vol - ideal) / ideal < 0.10, (n, groups, vol)
            miss = 1.0
            for b, t, _ in groups:
                miss *= (1.0 - p**b) ** t
            assert 1.0 - miss >= 0.95 or t_total == 64, (n, groups)
            offs = [o for _, _, o in groups]
            assert offs == sorted(offs) and len(set(offs)) == len(offs)


class TestXxhashReplay:
    """The pure-Python xxhash64 replica (functions/xxh.py) backs the
    IVF fit-sample replay above IVF_FIT_SAMPLE_CAP — it must stay
    bit-identical to Spark's F.xxhash64 on longs or the ground truth
    silently diverges on large corpora."""

    def test_xxhash64_long_matches_spark(self, spark):
        from raft_c_spark.functions.xxh import (
            pmod_xxhash64_long,
            xxhash64_long,
        )

        vals = [
            0, 1, -1, 2, -2, 42, 63, 64, 65, 1000, -1000,
            2**31 - 1, -(2**31), 2**32, 2**62, -(2**62),
            2**63 - 1, -(2**63), 123456789123456789,
        ] + [h * 2654435761 % (2**63) for h in range(50)]
        df = spark.createDataFrame([(v,) for v in vals], "v long").select(
            "v",
            F.xxhash64("v").alias("h"),
            F.pmod(F.xxhash64("v"), F.lit(97)).alias("pm"),
        )
        for r in df.collect():
            assert xxhash64_long(r["v"]) == r["h"], r["v"]
            assert pmod_xxhash64_long(r["v"], 97) == r["pm"], r["v"]

    def test_ivf_fit_sample_replay_matches_operator(self, spark):
        """Force a tiny fit-sample cap and check the replay's keep set
        equals the ids ivf_index's hash-mod filter selects."""
        import numpy as np

        from raft_c_spark.functions.xxh import pmod_xxhash64_long

        ids = np.arange(0, 500, dtype=np.int64)
        cap = 100
        denom = (len(ids) + cap - 1) // cap
        keep_replay = {
            int(i) for i in ids if pmod_xxhash64_long(int(i), denom) == 0
        }
        df = spark.createDataFrame([(int(v),) for v in ids], "vec_id long")
        keep_spark = {
            r["vec_id"]
            for r in df.filter(
                F.pmod(F.xxhash64(F.col("vec_id")), F.lit(denom)) == 0
            ).collect()
        }
        assert keep_replay == keep_spark and keep_replay


def test_knn_join_rejects_string_ids(spark):
    import pytest
    from pyspark.sql import functions as F

    from raft_c_spark.operators import similarity as sim

    df = spark.createDataFrame(
        [(f"u{i}", [float(i), 1.0]) for i in range(8)],
        "uid string, embedding array<float>",
    )
    with pytest.raises(TypeError, match="integral ids"):
        sim.knn_join(df, df, id_col="uid", vec_col="embedding", k=2)


def test_with_norm_validates_dim(spark):
    import pytest

    from raft_c_spark.operators import similarity as sim

    df = spark.createDataFrame(
        [(1, [1.0, 2.0]), (2, [1.0, 2.0, 3.0])],
        "vec_id long, embedding array<float>",
    )
    with pytest.raises(Exception, match="vector length"):
        sim.with_norm(df, "vec_id", "embedding", dim=2).collect()


def test_knn_recall_bounds_and_planted_neardup(spark, sf_dir):
    """sim_knn_recall must emit one row per query with recall =
    n_hits/k ∈ [0,1]; and on a PLANTED near-duplicate (θ≈0) the LSH
    side must surface the true neighbor — the regime the index is
    built for (random-vector recall is legitimately low, see the
    query docstring)."""
    from pyspark.sql import functions as F

    from raft_c_spark.operators.similarity import knn_join, knn_join_lsh
    from raft_c_spark.plans.extras import KNN_QUERIES, q_sim_knn_recall

    rows = q_sim_knn_recall(spark, sf_dir).collect()
    assert len(rows) == KNN_QUERIES
    for r in rows:
        assert 0 <= r["n_hits"] <= r["k"]
        assert abs(r["recall"] - r["n_hits"] / r["k"]) < 1e-12

    # planted pair: vec 1000 is vec 0 scaled (cosine exactly 1)
    from raft_c_spark.sources.testdata import load_table

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )
    clone = emb.filter(F.col("vec_id") == 0).select(
        F.lit(1000).alias("vec_id"),
        F.transform("embedding", lambda x: x * F.lit(0.5)).alias(
            "embedding"
        ),
    )
    corpus = emb.unionByName(clone)
    q = corpus.filter(F.col("vec_id") == 1000)
    exact = {r["doc"] for r in knn_join(q, corpus, k=1).collect()}
    approx = {
        r["doc"]
        for r in knn_join_lsh(q, corpus, k=1, bits=8, tables=16).collect()
    }
    assert exact == {0} and approx == {0}


def test_vec_norm_exprs_matches_with_norm(spark):
    """The factored-out (vec, norm) expressions must produce doubles
    bit-identical to with_norm's projection — the rerank paths apply
    them AFTER a candidate join and any drift would be a driver hash
    mismatch."""
    from raft_c_spark.operators.similarity import (
        _vec_norm_exprs,
        with_norm,
    )

    df = spark.createDataFrame(
        [
            (1, [0.1, -0.25, 3.5]),
            (2, [1e-12, 2e9, -0.0]),
            (3, [7.25, 0.125, -2.5]),
        ],
        "vec_id long, embedding array<double>",
    )
    want = {
        r["doc"]: (r["vec"], r["norm"])
        for r in with_norm(df, "vec_id", "embedding", dim=3).collect()
    }
    vec, norm = _vec_norm_exprs("embedding", "vec_id", 3)
    got = {
        r["doc"]: (r["vec"], r["norm"])
        for r in df.select(
            F.col("vec_id").alias("doc"), vec.alias("vec"), norm.alias("norm")
        ).collect()
    }
    assert got == want  # exact equality, not approx


# -------- k-center cosine cluster assignment and semantic dedup


def test_cluster_assign_total_and_k(spark, emb):
    out = similarity.cluster_assign(emb, k=8).cache()
    assert out.count() == emb.count()
    clusters = {r["cluster"] for r in out.select("cluster").distinct().collect()}
    assert 1 <= len(clusters) <= 8


def test_cluster_assign_seed_maps_to_itself(spark, emb):
    """Every chosen center has cosine 1.0 with itself — it must be
    assigned to its own cluster (no other center can beat 1.0; a tie
    falls to the lower rank only among exact duplicates)."""
    out = similarity.cluster_assign(emb, k=8)
    seeds = {r["cluster"] for r in out.select("cluster").distinct().collect()}
    own = out.filter(F.col("vec_id").isin(*seeds) & (F.col("cosine") < 1.0 - 1e-12))
    assert own.count() == 0


def test_cluster_assign_partition_stable(spark, emb):
    a = sorted(
        (r["vec_id"], r["cluster"]) for r in similarity.cluster_assign(emb, k=8).collect()
    )
    b = sorted(
        (r["vec_id"], r["cluster"])
        for r in similarity.cluster_assign(emb.repartition(7), k=8).collect()
    )
    assert a == b


def test_cluster_assign_matches_numpy_argmax(spark, emb):
    import hashlib

    import numpy as np

    rows = emb.collect()
    ids = np.array([r["vec_id"] for r in rows])
    mat = np.array([r["embedding"] for r in rows], dtype=np.float64)
    order = sorted(range(len(ids)), key=lambda i: (hashlib.md5(str(ids[i]).encode()).hexdigest(), ids[i]))
    seed_idx = order[:8]
    norms = np.linalg.norm(mat, axis=1)
    sims = (mat @ mat[seed_idx].T) / np.outer(norms, norms[seed_idx])
    best = sims.argmax(axis=1)  # ties: first (lowest rank) — same rule
    expected = {int(ids[i]): int(ids[seed_idx[best[i]]]) for i in range(len(ids))}
    got = {r["vec_id"]: r["cluster"] for r in similarity.cluster_assign(emb, k=8).collect()}
    assert got == expected


def test_semantic_dedup_subset_of_global_pairs(spark, emb):
    """Every within-cluster pair must appear in the global exact pair
    set at the same threshold (SemDeDup only *misses* pairs — across
    cluster boundaries — it never invents them), and both members must
    share the reported cluster."""
    from raft_c_spark.operators import dedup as dd

    got = similarity.semantic_dedup_pairs(emb, k=8, threshold=0.3).collect()
    assert got, "expected some within-cluster pairs"
    global_pairs = {
        (r["a"], r["b"])
        for r in dd.embedding_neardup_pairs(
            emb, "vec_id", "embedding", threshold=0.3
        ).collect()
    }
    assign = {
        r["vec_id"]: r["cluster"]
        for r in similarity.cluster_assign(emb, k=8).collect()
    }
    for r in got:
        assert (r["a"], r["b"]) in global_pairs
        assert assign[r["a"]] == assign[r["b"]] == r["cluster"]
        assert r["cosine"] >= 0.3
